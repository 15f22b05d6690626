package graft

import graft.operators.{Metric, Similarity}
import graft.sources.{Sink, Source}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Output parity of the public sharded serves: builds a sharded BQ,
  * IVF-BQ, IVF-PQ and IVF-OPQ index, deletes some rows, then runs
  * every public sharded serve form (resident unmasked / filtered by id
  * array / filtered by DataFrame / tombstoned, the flat filtered forms,
  * the wave forms with each mask and both partial stores, and the
  * streaming wave serve with each mask and residency), plus
  * `topkBlocked` and a compacted IVF-BQ index, and records each
  * result's schema, row count and the sha256 of its rows rendered
  * canonically and sorted. On top of `plans/sharded_serve/`'s forms
  * (which it runs unchanged, first) it serves an APPENDED sharded
  * IVF-BQ index (evens built, odds appended) and `Ann.rerankFullDim`
  * over its shards' SQ8 envelopes, and records the restored in-memory
  * IVF-BQ shards after write, delete, compact and append, field by
  * field (`restore_*`), plus each appended shard's rows keyed by id
  * (`restore_append_by_id`). Not part of the build: to compare two
  * commits, copy this file into `src/test/scala/graft/` of each
  * checkout and run
  *
  *   sbt "Test/runMain graft.ServeParity <workDir> <out.json>"
  *
  * then compare the two JSON files form by form.
  */
object ServeParity {
  def main(args: Array[String]): Unit = {
    val work = args(0); val out = args(1)
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(2025)
    val dim = 32
    val centers = Array.fill(6, dim)(rnd.nextGaussian() * 3.0)
    def gen(from: Long, until: Long) = (from until until).map { i =>
      i -> centers((i % 6).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.4)
    }
    val corpus = gen(0L, 600L).toDF("id", "emb")
    val queryRows = gen(5000L, 5040L)
    val queries = queryRows.toDF("qid", "emb")
    val allowed = (0L until 600L).filter(_ % 3 != 0).toArray
    val allowedDf = allowed.toSeq.toDF("id")
    val deleted = corpus.filter(col("id") % 7 === 0).select("id")
    val k = 10; val nProbe = 2; val shortlist = 40

    def canon(v: Any): String = v match {
      case null => "null"
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case d: Double => java.lang.Double.toString(d)
      case x => x.toString
    }
    def sha(s: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      s.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def entry(family: String, form: String, schema: String, rows: Seq[String]): Unit = {
      entries += s"""{"family":"$family","form":"$form","schema":"$schema","rows":${rows.size},"sha256":"${sha(rows)}"}"""
      println(s"[parity] $family/$form: ${rows.size} rows")
    }
    def record(family: String, form: String, df: DataFrame): Unit =
      entry(family, form, df.schema.simpleString, df.collect().map(canon).sorted.toSeq)
    /** One micro-batch of every query through a streaming serve. */
    def recordStream(family: String, form: String)(
        wire: (DataFrame, (DataFrame, Long) => Unit) =>
          org.apache.spark.sql.streaming.DataStreamWriter[Row]): Unit = {
      val mem = MemoryStream[(Long, Seq[Double])]
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var schema = ""
      val q = wire(mem.toDF().toDF("qid", "emb"), (df, _) => got.synchronized {
        schema = df.schema.simpleString; got ++= df.collect().map(canon); ()
      }).start()
      try { mem.addData(queryRows); q.processAllAvailable() } finally q.stop()
      entry(family, form, schema, got.sorted.toSeq)
    }

    // BQ
    Sink.writeBqShardedIndex(spark, Similarity.buildBqShardedWithLayout(corpus, "id", "emb", 3),
      s"$work/bq", false)
    Sink.deleteFromBqShardedIndex(spark, deleted, "id", s"$work/bq", s"$work/bq_del")
    val bq = Source.readBqShardedIndex(spark, s"$work/bq")
    val (bqDel, bqTs) = Source.readBqShardedIndexWithTombstones(spark, s"$work/bq_del")
    Seq(Metric.Cosine, Metric.Euclidean).foreach { m =>
      val f = s"bq_${m.toString.toLowerCase}"
      record(f, "sharded", Similarity.topkBqSharded(queries, "qid", "emb", bq, k, m, shortlist))
      record(f, "sharded_filtered", Similarity.topkBqShardedFiltered(queries, "qid", "emb", bq,
        allowed, k, m, shortlist))
      record(f, "sharded_filtered_df", Similarity.topkBqShardedFiltered(queries, "qid", "emb",
        bq, allowedDf, "id", k, m, shortlist))
      record(f, "sharded_tombstoned", Similarity.topkBqShardedTombstoned(queries, "qid", "emb",
        bqDel, bqTs, k, m, shortlist))
      record(f, "filtered_flat", Similarity.topkBqFilteredFlat(queries, "emb", bq.head,
        allowed, k, m, shortlist))
      record(f, "filtered_flat_df", Similarity.topkBqFilteredFlat(queries, "emb", bq.head,
        allowedDf, "id", k, m, shortlist))
      Seq(("waves", null, null), ("waves_allowed", allowed, null), ("waves_denied", null, bqTs),
          ("waves_allowed_denied", allowed, bqTs)).foreach { case (form, a, d) =>
        record(f, form, Similarity.topkBqShardedWaves(queries, "qid", "emb", bqDel, k, m,
          shortlist, waveSize = 2, allowedIds = a, deniedIds = d))
      }
      record(f, "waves_scratch_denied", Similarity.topkBqShardedWaves(queries, "qid", "emb",
        bqDel, k, m, shortlist, waveSize = 1, scratchDir = s"$work/scratch_$f",
        deniedIds = bqTs))
      recordStream(f, "stream_tombstoned")((q, cb) => EventStream.topkServeBqShardedWaves(
        q, "qid", "emb", s"$work/bq_del", k, m, shortlist, residentShards = 1)(cb))
      recordStream(f, "stream_allowed_tombstoned")((q, cb) => EventStream.topkServeBqShardedWaves(
        q, "qid", "emb", s"$work/bq_del", k, m, shortlist, allowedIds = allowed)(cb))
    }

    // IVF-BQ
    Sink.writeIvfBqShardedIndex(spark,
      Similarity.buildIvfBqShardedWithLayout(corpus, "id", "emb", 3, 4), s"$work/ivfbq")
    Sink.deleteFromIvfBqShardedIndex(spark, deleted, "id", s"$work/ivfbq", s"$work/ivfbq_del")
    Sink.compactIvfBqShardedIndex(spark, s"$work/ivfbq_del", s"$work/ivfbq_comp")
    val ivfbq = Source.readIvfBqShardedIndex(spark, s"$work/ivfbq")
    val (ivfbqDel, ivfbqTs) = Source.readIvfBqShardedIndexWithTombstones(spark, s"$work/ivfbq_del")
    val ivfbqComp = Source.readIvfBqShardedIndex(spark, s"$work/ivfbq_comp")
    record("ivfbq", "sharded", Similarity.topkIvfBqSharded(queries, "qid", "emb", ivfbq, k,
      nProbe, shortlist))
    record("ivfbq", "sharded_filtered", Similarity.topkIvfBqShardedFiltered(queries, "qid",
      "emb", ivfbq, allowed, k, nProbe, shortlist))
    record("ivfbq", "sharded_filtered_df", Similarity.topkIvfBqShardedFiltered(queries, "qid",
      "emb", ivfbq, allowedDf, "id", k, nProbe, shortlist))
    record("ivfbq", "sharded_tombstoned", Similarity.topkIvfBqShardedTombstoned(queries, "qid",
      "emb", ivfbqDel, ivfbqTs, k, nProbe, shortlist))
    record("ivfbq", "filtered_flat", Similarity.topkIvfBqFilteredFlat(queries, "emb",
      ivfbq.head, allowed, k, nProbe, shortlist))
    record("ivfbq", "compacted_sharded", Similarity.topkIvfBqSharded(queries, "qid", "emb",
      ivfbqComp, k, nProbe, shortlist))
    record("ivfbq", "compacted_ids", ivfbqComp.flatMap(_.ids.toSeq).toDF("id"))
    Seq(("waves", null, null), ("waves_allowed", allowed, null), ("waves_denied", null, ivfbqTs),
        ("waves_allowed_denied", allowed, ivfbqTs)).foreach { case (form, a, d) =>
      record("ivfbq", form, Similarity.topkIvfBqShardedWaves(queries, "qid", "emb", ivfbqDel,
        k, nProbe, shortlist, waveSize = 2, allowedIds = a, deniedIds = d))
    }
    record("ivfbq", "waves_scratch_denied", Similarity.topkIvfBqShardedWaves(queries, "qid",
      "emb", ivfbqDel, k, nProbe, shortlist, waveSize = 1, scratchDir = s"$work/scratch_ivfbq",
      deniedIds = ivfbqTs))
    recordStream("ivfbq", "stream_tombstoned")((q, cb) => EventStream.topkServeIvfBqShardedWaves(
      q, "qid", "emb", s"$work/ivfbq_del", k, nProbe, shortlist, residentShards = 1)(cb))
    recordStream("ivfbq", "stream_allowed_tombstoned")((q, cb) =>
      EventStream.topkServeIvfBqShardedWaves(q, "qid", "emb", s"$work/ivfbq_del", k, nProbe,
        shortlist, allowedIds = allowed)(cb))

    // IVF-PQ
    Sink.writeIvfPqShardedIndex(spark, Similarity.buildIvfPqShardedWithLayout(corpus, "id",
      "emb", 3, 4, 8, trainSample = 256), s"$work/ivfpq", false)
    Sink.deleteFromIvfPqShardedIndex(spark, deleted, "id", s"$work/ivfpq", s"$work/ivfpq_del")
    val ivfpq = Source.readIvfPqShardedIndex(spark, s"$work/ivfpq")
    val (ivfpqDel, ivfpqTs) = Source.readIvfPqShardedIndexWithTombstones(spark, s"$work/ivfpq_del")
    Seq(0, shortlist).foreach { sl =>
      val f = s"ivfpq_sl$sl"
      record(f, "sharded", Similarity.topkIvfPqSharded(queries, "emb", "qid", ivfpq, k, nProbe, sl))
      record(f, "sharded_filtered", Similarity.topkIvfPqShardedFiltered(queries, "emb", "qid",
        ivfpq, allowed, k, nProbe, sl))
      record(f, "sharded_filtered_df", Similarity.topkIvfPqShardedFiltered(queries, "emb", "qid",
        ivfpq, allowedDf, "id", k, nProbe, sl))
      record(f, "sharded_tombstoned", Similarity.topkIvfPqShardedTombstoned(queries, "emb",
        "qid", ivfpqDel, ivfpqTs, k, nProbe, sl))
      record(f, "filtered_flat", Similarity.topkIvfPqFilteredFlat(queries, "emb", ivfpq.head,
        allowed, k, nProbe, sl))
      record(f, "filtered_flat_df", Similarity.topkIvfPqFilteredFlat(queries, "emb",
        ivfpq.head, allowedDf, "id", k, nProbe, sl))
      Seq(("waves", null, null), ("waves_allowed", allowed, null),
          ("waves_denied", null, ivfpqTs), ("waves_allowed_denied", allowed, ivfpqTs))
        .foreach { case (form, a, d) =>
          record(f, form, Similarity.topkIvfPqShardedWaves(queries, "emb", "qid", ivfpqDel, k,
            nProbe, sl, waveSize = 2, allowedIds = a, deniedIds = d))
        }
      record(f, "waves_scratch_denied", Similarity.topkIvfPqShardedWaves(queries, "emb", "qid",
        ivfpqDel, k, nProbe, sl, waveSize = 1, scratchDir = s"$work/scratch_$f",
        deniedIds = ivfpqTs))
      recordStream(f, "stream_tombstoned")((q, cb) => EventStream.topkServeIvfPqShardedWaves(
        q, "emb", "qid", s"$work/ivfpq_del", k, nProbe, sl, residentShards = 1)(cb))
      recordStream(f, "stream_allowed_tombstoned")((q, cb) =>
        EventStream.topkServeIvfPqShardedWaves(q, "emb", "qid", s"$work/ivfpq_del", k, nProbe,
          sl, allowedIds = allowed)(cb))
    }

    // IVF-OPQ
    Sink.writeIvfOpqShardedIndex(spark, Similarity.buildIvfOpqShardedWithLayout(corpus, "id",
      "emb", 3, 4, 8, trainSample = 256, opqIters = 2), s"$work/ivfopq")
    Sink.deleteFromIvfPqShardedIndex(spark, deleted, "id", s"$work/ivfopq", s"$work/ivfopq_del")
    val (rot, opq) = Source.readIvfOpqShardedIndex(spark, s"$work/ivfopq")
    val (_, opqDel, opqTs) = Source.readIvfOpqShardedIndexWithTombstones(spark, s"$work/ivfopq_del")
    record("ivfopq", "sharded", Similarity.topkIvfOpqSharded(queries, "emb", "qid", rot, opq, k,
      nProbe, shortlist))
    Seq(("waves", null, null), ("waves_allowed", allowed, null), ("waves_denied", null, opqTs),
        ("waves_allowed_denied", allowed, opqTs)).foreach { case (form, a, d) =>
      record("ivfopq", form, Similarity.topkIvfOpqShardedWaves(queries, "emb", "qid", rot,
        opqDel, k, nProbe, shortlist, waveSize = 2, allowedIds = a, deniedIds = d))
    }
    recordStream("ivfopq", "stream_tombstoned")((q, cb) => EventStream.topkServeIvfPqShardedWaves(
      q, "emb", "qid", s"$work/ivfopq_del", k, nProbe, shortlist, residentShards = 1)(cb))
    recordStream("ivfopq", "stream_allowed_tombstoned")((q, cb) =>
      EventStream.topkServeIvfPqShardedWaves(q, "emb", "qid", s"$work/ivfopq_del", k, nProbe,
        shortlist, allowedIds = allowed)(cb))

    // topkBlocked ends in the same merge
    Seq(false, true).foreach { quantized =>
      record("blocked", s"quantized_$quantized", Similarity.topkBlocked(queries, "emb", "qid",
        corpus, "id", "emb", k, Metric.Cosine, numBlocks = 3, quantized = quantized))
    }

    // IVF-BQ restores, field by field, per shard
    def restore(form: String, shards: Seq[Similarity.CorpusIndexIvfBq]): Unit = {
      def f(name: String, v: Similarity.CorpusIndexIvfBq => Any): Unit =
        entry("ivfbq", s"restore_${form}_$name", "shard,value",
          shards.zipWithIndex.map { case (x, i) => s"$i:" + canon(v(x) match {
            case a: Array[Byte] => a.toSeq.map(_ & 0xff)
            case a: Array[_] => a.toSeq
            case o => o
          }) })
      f("n", x => Seq(x.n, x.dim, x.nCells, x.nWords))
      f("ids", _.ids); f("words", _.words); f("cellOf", _.cellOf)
      f("cellStart", _.cellStart); f("cellMembers", _.cellMembers)
      f("centroids", _.centroids); f("thresholds", _.thresholds); f("bitCut", _.bitCut)
      f("sq8_ids", _.sq8.ids); f("sq8_codes", _.sq8.codes); f("sq8_norms", _.sq8.norms)
      f("sq8_sqNorms", _.sq8.sqNorms); f("sq8_dimMin", _.sq8.dimMin)
      f("sq8_dimScale", _.sq8.dimScale)
    }
    restore("write", ivfbq)
    restore("delete", ivfbqDel)
    restore("compact", ivfbqComp)

    // an appended IVF-BQ index: evens built, odds appended
    Sink.writeIvfBqShardedIndex(spark, Similarity.buildIvfBqShardedWithLayout(
      corpus.filter(col("id") % 2 === 0), "id", "emb", 3, 4), s"$work/ivfbq_even")
    Sink.appendIvfBqShardedIndex(spark, corpus.filter(col("id") % 2 === 1), "id", "emb",
      s"$work/ivfbq_even", s"$work/ivfbq_app")
    val ivfbqApp = Source.readIvfBqShardedIndex(spark, s"$work/ivfbq_app")
    restore("append", ivfbqApp)
    // each shard's rows keyed by id: (id, cell, bits, codes, norm, square norm)
    entry("ivfbq", "restore_append_by_id", "shard,id,cell,words,code,norm,sq_norm",
      ivfbqApp.zipWithIndex.flatMap { case (x, i) =>
        val slotOf = new Array[Int](x.n)
        x.cellMembers.indices.foreach(p => slotOf(x.cellMembers(p)) = p)
        (0 until x.n).map { g =>
          canon(Seq(i, x.ids(g), x.cellOf(g),
            x.words.slice(slotOf(g) * x.nWords, (slotOf(g) + 1) * x.nWords).toSeq,
            x.sq8.codes.slice(g * x.dim, (g + 1) * x.dim).toSeq.map(_ & 0xff),
            x.sq8.norms(g), x.sq8.sqNorms(g)))
        }
      }.sorted)
    record("ivfbq", "appended_sharded", Similarity.topkIvfBqSharded(queries, "qid", "emb",
      ivfbqApp, k, nProbe, shortlist))
    record("ivfbq", "appended_sharded_all_cells", Similarity.topkIvfBqSharded(queries, "qid",
      "emb", ivfbqApp, k, 4, 600))
    // rerank every (query, stored id) pair against the appended shards' envelopes
    val everyPair = queries.select("qid").crossJoin(corpus.select(col("id").as("index")))
    record("ivfbq", "appended_rerank_full_dim", graft.operators.Ann.rerankFullDim(everyPair,
      queries, "qid", "emb", ivfbqApp.map(_.sq8), k))

    val pw = new java.io.PrintWriter(out)
    pw.println(entries.mkString("[\n", ",\n", "\n]"))
    pw.close()
    spark.stop()
  }
}
