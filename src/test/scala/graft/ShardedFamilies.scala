package graft

import graft.operators.Similarity
import graft.sources.{Sink, Source}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The sharded index families that share one persisted layout
  * (`graft.sources.ShardedLayout`) and one append / delete / compact
  * envelope, as a table: a spec that covers that envelope runs over
  * every row instead of keeping a copy per family. Corpora are
  * `(id: bigint, emb: array<double>)` frames of any dimension divisible
  * by 4.
  */
object ShardedFamilies {

  final case class Family(
      name: String,
      hasRot: Boolean,
      write: (DataFrame, String) => Unit,
      append: (DataFrame, String, String, Boolean) => Unit,
      delete: (DataFrame, String, String) => Unit,
      compact: (String, String) => Unit,
      /** (stored ids in shard order, tombstoned ids) */
      read: String => (Seq[Long], Seq[Long]))

  def all(spark: SparkSession): Seq[Family] = Seq(
    Family("BQ", hasRot = false,
      (df, p) => Sink.writeBqShardedIndex(spark,
        Similarity.buildBqShardedWithLayout(df, "id", "emb", 3), p, overwrite = false),
      (df, i, o, ow) => Sink.appendBqShardedIndex(spark, df, "id", "emb", i, o, ow),
      (df, i, o) => Sink.deleteFromBqShardedIndex(spark, df, "id", i, o),
      (i, o) => Sink.compactBqShardedIndex(spark, i, o),
      p => {
        val (sh, ts) = Source.readBqShardedIndexWithTombstones(spark, p)
        (sh.flatMap(_.ids.toSeq), ts.toSeq)
      }),
    Family("IVF-BQ", hasRot = false,
      (df, p) => Sink.writeIvfBqShardedIndex(spark,
        Similarity.buildIvfBqShardedWithLayout(df, "id", "emb", 3, nCells = 2), p),
      (df, i, o, ow) => Sink.appendIvfBqShardedIndex(spark, df, "id", "emb", i, o, ow),
      (df, i, o) => Sink.deleteFromIvfBqShardedIndex(spark, df, "id", i, o),
      (i, o) => Sink.compactIvfBqShardedIndex(spark, i, o),
      p => {
        val (sh, ts) = Source.readIvfBqShardedIndexWithTombstones(spark, p)
        (sh.flatMap(_.ids.toSeq), ts.toSeq)
      }),
    Family("IVF-PQ", hasRot = false,
      (df, p) => Sink.writeIvfPqShardedIndex(spark,
        Similarity.buildIvfPqShardedWithLayout(df, "id", "emb", 3, nCells = 2, m = 4,
          trainSample = 256), p, overwrite = false),
      (df, i, o, ow) => Sink.appendIvfPqShardedIndex(spark, df, "id", "emb", i, o, ow),
      (df, i, o) => Sink.deleteFromIvfPqShardedIndex(spark, df, "id", i, o),
      (i, o) => Sink.compactIvfPqShardedIndex(spark, i, o),
      p => {
        val (sh, ts) = Source.readIvfPqShardedIndexWithTombstones(spark, p)
        (sh.flatMap(_.ids.toSeq), ts.toSeq)
      }),
    Family("IVF-OPQ", hasRot = true,
      (df, p) => Sink.writeIvfOpqShardedIndex(spark,
        Similarity.buildIvfOpqShardedWithLayout(df, "id", "emb", 3, nCells = 2, m = 4,
          trainSample = 256, opqIters = 2), p),
      (df, i, o, ow) => Sink.appendIvfPqShardedIndex(spark, df, "id", "emb", i, o, ow),
      (df, i, o) => Sink.deleteFromIvfPqShardedIndex(spark, df, "id", i, o),
      (i, o) => Sink.compactIvfPqShardedIndex(spark, i, o),
      p => {
        val (_, sh, ts) = Source.readIvfOpqShardedIndexWithTombstones(spark, p)
        (sh.flatMap(_.ids.toSeq), ts.toSeq)
      }))

  /** Every regular file under `root`, relative path → bytes. */
  def snapshot(root: String): Map[String, Seq[Byte]] = {
    val r = Paths.get(root)
    val it = Files.walk(r)
    try {
      val b = Map.newBuilder[String, Seq[Byte]]
      it.forEach { p =>
        if (Files.isRegularFile(p))
          b += r.relativize(p).toString -> Files.readAllBytes(p).toSeq
      }
      b.result()
    } finally it.close()
  }

  /** The messages of `t` and its causes, joined. */
  def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")
}
