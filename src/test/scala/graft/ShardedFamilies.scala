package graft

import graft.operators.{Metric, Similarity}
import graft.sources.{Sink, Source}
import graft.streaming.EventStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

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
      read: String => (Seq[Long], Seq[Long]),
      /** the public sharded serves over the index at a path */
      serves: String => Serves)

  /** One family's public sharded serves over a persisted index, read
    * once (shards, tombstones and, for IVF-OPQ, the rotation). Every
    * serve answers `(qid: bigint, emb: array<double>)` queries with
    * k = 5, probing every cell, with `(qid, rank, index, score)`
    * among its columns; `shortlist` below k is a refused argument.
    */
  abstract class Serves(val path: String) {
    def tombstones: Array[Long]
    def unmasked(q: DataFrame, shortlist: Int): DataFrame
    /** The resident masked forms; None where the family has none
      * (IVF-OPQ serves masks through its wave form only).
      */
    def filtered(q: DataFrame, allowed: Array[Long], shortlist: Int): Option[DataFrame]
    def filteredDf(q: DataFrame, allowed: DataFrame, shortlist: Int): Option[DataFrame]
    def tombstoned(q: DataFrame, shortlist: Int): Option[DataFrame]
    /** The wave form at waveSize 1 with the default scratch. */
    def waves(q: DataFrame, allowed: Array[Long], denied: Array[Long]): DataFrame
    /** The family's wave core at waveSize 1 (in-memory partials), each
      * shard paged through a provider that calls `paged()` first.
      */
    def wavesCore(q: DataFrame, paged: () => Unit, shortlist: Int): DataFrame
    /** The streaming wave serve over `path`. */
    def stream(q: DataFrame, allowed: Array[Long], residentShards: Int, shortlist: Int)(
        onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row]
  }

  val K = 5
  val NProbe = 2
  val Shortlist = 20

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
      },
      p => new Serves(p) {
        val (sh, tombstones) = Source.readBqShardedIndexWithTombstones(spark, p)
        def unmasked(q: DataFrame, sl: Int) =
          Similarity.topkBqSharded(q, "qid", "emb", sh, K, Metric.Cosine, sl)
        def filtered(q: DataFrame, a: Array[Long], sl: Int) =
          Some(Similarity.topkBqShardedFiltered(q, "qid", "emb", sh, a, K, Metric.Cosine, sl))
        def filteredDf(q: DataFrame, a: DataFrame, sl: Int) =
          Some(Similarity.topkBqShardedFiltered(q, "qid", "emb", sh, a, "id", K, Metric.Cosine, sl))
        def tombstoned(q: DataFrame, sl: Int) = Some(Similarity.topkBqShardedTombstoned(
          q, "qid", "emb", sh, tombstones, K, Metric.Cosine, sl))
        def waves(q: DataFrame, a: Array[Long], d: Array[Long]) =
          Similarity.topkBqShardedWaves(q, "qid", "emb", sh, K, Metric.Cosine, Shortlist,
            waveSize = 1, allowedIds = a, deniedIds = d)
        def wavesCore(q: DataFrame, paged: () => Unit, sl: Int) =
          Similarity.topkBqWavesCore(q, "qid", "emb", sh.map(x => () => { paged(); x }), K,
            Metric.Cosine, sl, 1, "", new Similarity.ShardedServeMeter, memoryPartials = true)
        def stream(q: DataFrame, a: Array[Long], r: Int, sl: Int)(
            onBatch: (DataFrame, Long) => Unit) =
          EventStream.topkServeBqShardedWaves(q, "qid", "emb", p, K, Metric.Cosine, sl,
            residentShards = r, allowedIds = a)(onBatch)
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
      },
      p => new Serves(p) {
        val (sh, tombstones) = Source.readIvfBqShardedIndexWithTombstones(spark, p)
        def unmasked(q: DataFrame, sl: Int) =
          Similarity.topkIvfBqSharded(q, "qid", "emb", sh, K, NProbe, sl)
        def filtered(q: DataFrame, a: Array[Long], sl: Int) =
          Some(Similarity.topkIvfBqShardedFiltered(q, "qid", "emb", sh, a, K, NProbe, sl))
        def filteredDf(q: DataFrame, a: DataFrame, sl: Int) =
          Some(Similarity.topkIvfBqShardedFiltered(q, "qid", "emb", sh, a, "id", K, NProbe, sl))
        def tombstoned(q: DataFrame, sl: Int) = Some(Similarity.topkIvfBqShardedTombstoned(
          q, "qid", "emb", sh, tombstones, K, NProbe, sl))
        def waves(q: DataFrame, a: Array[Long], d: Array[Long]) =
          Similarity.topkIvfBqShardedWaves(q, "qid", "emb", sh, K, NProbe, Shortlist,
            waveSize = 1, allowedIds = a, deniedIds = d)
        def wavesCore(q: DataFrame, paged: () => Unit, sl: Int) =
          Similarity.topkIvfBqWavesCore(q, "qid", "emb", sh.map(x => () => { paged(); x }), K,
            NProbe, sl, 1, "", new Similarity.ShardedServeMeter, memoryPartials = true)
        def stream(q: DataFrame, a: Array[Long], r: Int, sl: Int)(
            onBatch: (DataFrame, Long) => Unit) =
          EventStream.topkServeIvfBqShardedWaves(q, "qid", "emb", p, K, NProbe, sl,
            residentShards = r, allowedIds = a)(onBatch)
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
      },
      p => new Serves(p) {
        val (sh, tombstones) = Source.readIvfPqShardedIndexWithTombstones(spark, p)
        def unmasked(q: DataFrame, sl: Int) =
          Similarity.topkIvfPqSharded(q, "emb", "qid", sh, K, NProbe, sl)
        def filtered(q: DataFrame, a: Array[Long], sl: Int) =
          Some(Similarity.topkIvfPqShardedFiltered(q, "emb", "qid", sh, a, K, NProbe, sl))
        def filteredDf(q: DataFrame, a: DataFrame, sl: Int) = Some(
          Similarity.topkIvfPqShardedFiltered(q, "emb", "qid", sh, a, "id", K, NProbe, sl))
        def tombstoned(q: DataFrame, sl: Int) = Some(Similarity.topkIvfPqShardedTombstoned(
          q, "emb", "qid", sh, tombstones, K, NProbe, sl))
        def waves(q: DataFrame, a: Array[Long], d: Array[Long]) =
          Similarity.topkIvfPqShardedWaves(q, "emb", "qid", sh, K, NProbe, Shortlist,
            waveSize = 1, allowedIds = a, deniedIds = d)
        def wavesCore(q: DataFrame, paged: () => Unit, sl: Int) =
          Similarity.topkIvfPqWavesCore(q, "emb", "qid", sh.map(x => () => { paged(); x }), K,
            NProbe, sl, 1, "", new Similarity.ShardedServeMeter, memoryPartials = true)
        def stream(q: DataFrame, a: Array[Long], r: Int, sl: Int)(
            onBatch: (DataFrame, Long) => Unit) =
          EventStream.topkServeIvfPqShardedWaves(q, "emb", "qid", p, K, NProbe, sl,
            residentShards = r, allowedIds = a)(onBatch)
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
      },
      p => new Serves(p) {
        val (rot, sh, tombstones) = Source.readIvfOpqShardedIndexWithTombstones(spark, p)
        def unmasked(q: DataFrame, sl: Int) =
          Similarity.topkIvfOpqSharded(q, "emb", "qid", rot, sh, K, NProbe, sl)
        def filtered(q: DataFrame, a: Array[Long], sl: Int) = None
        def filteredDf(q: DataFrame, a: DataFrame, sl: Int) = None
        def tombstoned(q: DataFrame, sl: Int) = None
        def waves(q: DataFrame, a: Array[Long], d: Array[Long]) =
          Similarity.topkIvfOpqShardedWaves(q, "emb", "qid", rot, sh, K, NProbe, Shortlist,
            waveSize = 1, allowedIds = a, deniedIds = d)
        // minted with the serves, so a refused call's broadcasts are its own
        val rotBc = spark.sparkContext.broadcast(rot)
        def wavesCore(q: DataFrame, paged: () => Unit, sl: Int) =
          Similarity.topkIvfPqWavesCore(q, "emb", "qid", sh.map(x => () => { paged(); x }), K,
            NProbe, sl, 1, "", new Similarity.ShardedServeMeter, memoryPartials = true,
            rotBc = rotBc)
        def stream(q: DataFrame, a: Array[Long], r: Int, sl: Int)(
            onBatch: (DataFrame, Long) => Unit) =
          EventStream.topkServeIvfPqShardedWaves(q, "emb", "qid", p, K, NProbe, sl,
            residentShards = r, allowedIds = a)(onBatch)
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
