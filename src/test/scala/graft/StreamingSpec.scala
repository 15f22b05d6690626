package graft

import graft.operators.{Dedup, Relational}
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create("local[4]", 4)

  val dir = "/root/testdata/sf0.001"

  test("streaming hourly windows equal the batch aggregation") {
    val q = EventStream.hourlyCounts(EventStream.read(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Relational.eventsWindow(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming topk serving equals the batch kernel on the replayed stream") {
    import spark.implicits._
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val cx = graft.operators.Similarity.collectCorpus(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      "vec_id", "embedding")
    val stream = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
    val q = EventStream.topkServe(stream, "vec_id", "embedding", cx, 5,
        graft.operators.Metric.Cosine)
      .writeStream.outputMode("append").format("memory").queryName("serve_out").start()
    try q.processAllAvailable() finally q.stop()
    val served = spark.table("serve_out")
      .select($"qid", $"rank", $"index", round($"score", 9))
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Similarity.topkFlat(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
        "embedding", cx, 5, graft.operators.Metric.Cosine)
      .select(col("vec_id").as("qid"), col("rank").cast("int"), col("index"),
        round(col("score"), 9))
      .collect().map(_.toSeq).toSet
    assert(served == batch)
    assert(served.nonEmpty)
  }

  test("streaming topk serving over f64 queries equals topkFlat on raw scores, and a 1-row micro-batch serves the same rows as a 512-row one") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val dim = 37
    // an f32 corpus, which the f64 kernel widens as it reads it
    val corpus = (0L until 1000L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val cx = Similarity.collectCorpus(corpus.toDF("id", "emb"), "id", "emb")
    val queries = (0L until 512L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
    val qdf = queries.toDF("qid", "emb").coalesce(1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("qid", "rank", "index", "score")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    for (metric <- Seq(Metric.Cosine, Metric.Dot, Metric.Euclidean)) {
      // one 512-row batch, raw scores compared exactly
      val served = rows(EventStream.topkServe(qdf, "qid", "emb", cx, 10, metric))
      assert(served == rows(Similarity.topkFlat(qdf, "emb", cx, 10, metric)), s"$metric")
      assert(served.size == 5120)
      // four of its rows again, each alone in its own micro-batch
      val picked = Seq(0, 1, 300, 511)
      val mem = MemoryStream[(Long, Seq[Double])]
      val name = s"serve_single_$metric"
      val q = EventStream.topkServe(mem.toDF.toDF("qid", "emb"), "qid", "emb", cx, 10, metric)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try picked.foreach { i => mem.addData(queries(i)); q.processAllAvailable() }
      finally q.stop()
      assert(rows(spark.table(name)) == served.filter(r => picked.contains(r._1.toInt)), s"$metric")
    }
  }

  test("streaming dedup keeps exactly the batch-exact distinct set") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val raw = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val q = EventStream.dedupDocs(raw, "ts", "text")
      .select("content_hash")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out").collect().map(_.getString(0)).toSet
    val batch = Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
      .collect().map(_.getString(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming simhash near-dup dedup keeps one doc per fingerprint") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val raw = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val q = EventStream.dedupDocsSimhash(raw, "ts", "text")
      .select("simhash")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_sh_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_sh_out").collect().map(_.getLong(0)).toSeq
    // one survivor per distinct fingerprint, fingerprints match batch
    assert(streamed.distinct.length == streamed.length)
    val batch = Dedup.simhashSignatures(Tables.documents(spark, dir), "doc_id", "text")
      .select("simhash").collect().map(_.getLong(0)).toSet
    assert(streamed.toSet == batch)
  }

  test("streaming interval enrichment equals the batch intervalJoin on file replay") {
    val evSchema = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet(dir).schema
    val iv = Tables.events(spark, dir).filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("istart"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("iend"))
    val width = 10L * 60 * 1000000
    val streamed = {
      val raw = spark.readStream.schema(evSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val q = EventStream.intervalEnrich(raw, "click_ts", iv, "istart", "iend", width)
        .select("click_id", "error_id")
        .writeStream.outputMode("append")
        .format("memory").queryName("interval_out").start()
      try q.processAllAvailable() finally q.stop()
      spark.table("interval_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val batch = {
      val clicks = Tables.events(spark, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      graft.operators.Relational.intervalJoin(
          clicks, "click_ts", iv, "istart", "iend", width)
        .select("click_id", "error_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming trending tokens (windowed Misra-Gries) equals the batch sketch") {
    val evSchema = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet(dir).schema
    def fmt(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getTimestamp(0) -> ((r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getLong(1))), r.getLong(2)))
    }.toMap
    val streamed = {
      val raw = spark.readStream.schema(evSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val q = EventStream.trendingTokens(raw, "ts", "event_type",
          windowMinutes = 360, k = 5, capacity = 64)
        .writeStream.outputMode("complete")
        .format("memory").queryName("trending_out").start()
      try q.processAllAvailable() finally q.stop()
      fmt(spark.table("trending_out"))
    }
    val batch = fmt(EventStream.trendingTokens(
      Tables.events(spark, dir), "ts", "event_type",
      windowMinutes = 360, k = 5, capacity = 64))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // capacity 64 >> 5 event types: the sketch is exact, err 0
    assert(streamed.values.forall(_._2 == 0L))
  }

  test("streaming as-of enrichment equals the batch asofJoin on file replay") {
    // clicks enriched with the latest purchase value — same pairing
    // the batch q_asof_join gate computes
    val raw = EventStream.read(spark, dir)
    val lS = raw.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("ts"), col("event_id").as("left_id"))
    val rS = raw.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("ts"), col("value"))
    val q = EventStream.asofEnrich(lS, rS)
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("asof_out").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val ev = Tables.events(spark, dir)
    val batch = graft.operators.Relational.asofJoin(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.values.exists(_.isDefined))
  }

  test("topk kernel serves a query stream via foreachBatch") {
    import graft.operators.{Metric, Similarity}
    val emb = Tables.embeddings(spark, dir)
    val cx = Similarity.collectCorpus(emb, "vec_id", "embedding")
    val expected = Similarity.topkFlat(emb.select("vec_id", "embedding"), "embedding", cx, 5, Metric.Cosine)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val q = spark.readStream
      .schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the kernel needs a batch plan (InternalRow RDD); foreachBatch
        // provides exactly that per micro-batch of arriving queries
        val out = Similarity.topkFlat(batch.select("vec_id", "embedding"), "embedding", cx, 5, Metric.Cosine)
          .select("vec_id", "rank", "index").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        results.synchronized { results ++= out }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty)
  }

  test("a PERSISTED SQ8 index serves a query stream: train once, load, serve") {
    import graft.operators.{Metric, Similarity}
    val emb = Tables.embeddings(spark, dir)
    val built = Similarity.collectCorpusSq8(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      "vec_id", "embedding")
    val ixDir = java.nio.file.Files.createTempDirectory("serve-sq8").toString + "/ix"
    graft.sources.Sink.writeSq8Index(spark, built, ixDir)
    // a serving session loads the index — no raw-embedding collect,
    // no re-quantization — and answers the stream from it
    val loaded = graft.sources.Source.readSq8Index(spark, ixDir)
    val expected = Similarity.topkSq8Flat(
        emb.select(col("vec_id"), col("embedding")), "embedding", loaded, 5, Metric.Cosine)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val q = spark.readStream
      .schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = Similarity.topkSq8Flat(
            batch.select("vec_id", "embedding"), "embedding", loaded, 5, Metric.Cosine)
          .select("vec_id", "rank", "index").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        results.synchronized { results ++= out }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty)
  }

  test("a PERSISTED SHARDED IVF+PQ index serves a query stream: build once, load shards, serve") {
    import graft.operators.Similarity
    // the past-the-broadcast-envelope serving shape (20n extended to
    // the sharded family, round-10 item 2): train the shards once,
    // publish atomically, and answer the stream from the RESTORED
    // shards — per micro-batch the foreachBatch plan fans the batch
    // out to every shard and merges distributed, exactly the batch
    // operator
    val emb = Tables.embeddings(spark, dir)
    val corpusDf = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val built = Similarity.buildIvfPqSharded(corpusDf, "vec_id", "embedding",
      numShards = 2, nCells = 4, m = 8)
    val ixDir = java.nio.file.Files.createTempDirectory("serve-ivfpq-sh").toString + "/ix"
    graft.sources.Sink.writeIvfPqShardedIndex(spark, built, ixDir)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, ixDir)
    val expected = Similarity.topkIvfPqSharded(
        emb.select("vec_id", "embedding"), "embedding", "vec_id", loaded,
        k = 5, nProbe = 4, shortlist = 20)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val q = spark.readStream
      .schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = Similarity.topkIvfPqSharded(
            batch.select("vec_id", "embedding"), "embedding", "vec_id", loaded,
            k = 5, nProbe = 4, shortlist = 20)
          .select("vec_id", "rank", "index").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        results.synchronized { results ++= out }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty)
  }

  test("BOUNDED streaming sharded serve: wave-paged per micro-batch, peak = one wave DURING the stream") {
    import graft.operators.Similarity
    // round-11 verdict #1: the all-resident streaming shape re-pins
    // every shard's broadcast per micro-batch (per-executor memory =
    // the whole compressed index). The bounded serve pages the
    // PERSISTED shards through waves per batch: rows identical to the
    // batch sharded search, peak live broadcast measured ACROSS the
    // stream = one wave (the largest shard at waveSize=1), never Σ.
    val emb = Tables.embeddings(spark, dir)
    val corpusDf = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val built = Similarity.buildIvfPqShardedWithLayout(
      corpusDf, "vec_id", "embedding", numShards = 4, nCells = 4, m = 8)
    val ixDir = java.nio.file.Files.createTempDirectory("serve-ivfpq-waves").toString + "/ix"
    graft.sources.Sink.writeIvfPqShardedIndex(spark, built, ixDir, overwrite = false)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, ixDir)
    val expected = Similarity.topkIvfPqSharded(
        emb.select("vec_id", "embedding"), "embedding", "vec_id", loaded,
        k = 5, nProbe = 4, shortlist = 20)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val meter = new Similarity.ShardedServeMeter
    val writer = EventStream.topkServeIvfPqShardedWaves(
      spark.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir),
      "embedding", "vec_id", ixDir,
      k = 5, nProbe = 4, shortlist = 20, waveSize = 1, residentShards = 2,
      meter = meter) { (out, _) =>
      val batchRows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= batchRows }
      ()
    }
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty)
    // the bound, measured while the stream ran: the serve's own meter
    // peaked at exactly one shard's broadcast and drained to zero
    val per = loaded.map(ix => org.apache.spark.util.SizeEstimator.estimate(ix))
    assert(meter.peakLiveBroadcastBytes == per.max,
      s"peak ${meter.peakLiveBroadcastBytes} != largest shard ${per.max}")
    assert(meter.peakLiveBroadcastBytes < per.sum,
      s"peak ${meter.peakLiveBroadcastBytes} not below Σ-shards ${per.sum}")
    assert(meter.liveBroadcastBytes == 0L, "wave broadcasts not all destroyed")
  }

  test("FILTERED streaming sharded serve: allowed-id mask rides the waves, rows match the batch filtered search") {
    import graft.operators.Similarity
    // the ID-selector mask wired at serve time (tenant/collection
    // filter): per-shard masks are built at each shard's wave and
    // destroyed with it, so rows must equal the batch
    // topkIvfPqShardedFiltered and never contain a disallowed id
    val emb = Tables.embeddings(spark, dir)
    val corpusDf = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val built = Similarity.buildIvfPqShardedWithLayout(
      corpusDf, "vec_id", "embedding", numShards = 4, nCells = 4, m = 8)
    val ixDir = java.nio.file.Files
      .createTempDirectory("serve-ivfpq-filt").toString + "/ix"
    graft.sources.Sink.writeIvfPqShardedIndex(spark, built, ixDir, overwrite = false)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, ixDir)
    val allowed = emb.select("vec_id").collect().map(_.getLong(0)).filter(_ % 2 == 0)
    val expected = Similarity.topkIvfPqShardedFiltered(
        emb.select("vec_id", "embedding"), "embedding", "vec_id", loaded,
        allowed, 5, nProbe = 4, shortlist = 20)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val writer = EventStream.topkServeIvfPqShardedWaves(
      spark.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir),
      "embedding", "vec_id", ixDir,
      k = 5, nProbe = 4, shortlist = 20, waveSize = 2,
      allowedIds = allowed) { (out, _) =>
      val batchRows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= batchRows }
      ()
    }
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty && results.forall(_._3 % 2 == 0),
      "filtered streaming serve leaked a disallowed id")
  }

  test("TOMBSTONED streaming sharded serve: deleted ids never serve, rows match the batch tombstoned search") {
    import graft.operators.Similarity
    // this serve reads shard dirs directly (bypassing the plain
    // reader's tombstone refusal), so it must auto-apply the
    // persisted tombstone set as an always-on deny mask
    val emb = Tables.embeddings(spark, dir)
    val corpusDf = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val built = Similarity.buildIvfPqShardedWithLayout(
      corpusDf, "vec_id", "embedding", numShards = 4, nCells = 4, m = 8)
    val base = java.nio.file.Files
      .createTempDirectory("serve-ivfpq-ts").toString
    graft.sources.Sink.writeIvfPqShardedIndex(spark, built, s"$base/ix",
      overwrite = false)
    graft.sources.Sink.deleteFromIvfPqShardedIndex(spark,
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"), "vec_id",
      s"$base/ix", s"$base/del")
    val (loaded, ts) = graft.sources.Source
      .readIvfPqShardedIndexWithTombstones(spark, s"$base/del")
    val expected = Similarity.topkIvfPqShardedTombstoned(
        emb.select("vec_id", "embedding"), "embedding", "vec_id", loaded,
        ts, 5, nProbe = 4, shortlist = 20)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val writer = EventStream.topkServeIvfPqShardedWaves(
      spark.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir),
      "embedding", "vec_id", s"$base/del",
      k = 5, nProbe = 4, shortlist = 20, waveSize = 2) { (out, _) =>
      val batchRows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= batchRows }
      ()
    }
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty && results.forall(_._3 % 3 != 0),
      "tombstoned streaming serve returned a deleted id")
  }

  test("bounded streaming serve across MULTIPLE micro-batches: pinned shards stay correct, per-batch scratch is deleted") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two micro-batches through a FULLY PINNED residency
    // (residentShards = numShards): batch 2 is served by indexes
    // loaded during batch 1 — a stale or mis-keyed pin would corrupt
    // exactly these rows; and each batch's scratch dir must be gone
    // after its callback returns (the caller-owned lifetime contract)
    val rnd = new scala.util.Random(31)
    val corpus = (0L until 400L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val build = Similarity.buildIvfPqShardedWithLayout(
      corpusDf, "vec_id", "embedding", numShards = 3, nCells = 4, m = 8)
    val ixDir = java.nio.file.Files.createTempDirectory("serve-waves-mb").toString + "/ix"
    graft.sources.Sink.writeIvfPqShardedIndex(spark, build, ixDir, overwrite = false)
    val queries = (1000L until 1040L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
    val expected = Similarity.topkIvfPqSharded(
        queries.toDF("vec_id", "embedding"), "embedding", "vec_id",
        build.shards, k = 5, nProbe = 3, shortlist = 20)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val scratchRoot = java.nio.file.Files.createTempDirectory("serve-waves-mb-scr").toString
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[(Long, Seq[Double])]
    val writer = EventStream.topkServeIvfPqShardedWaves(
      mem.toDF.toDF("vec_id", "embedding"),
      "embedding", "vec_id", ixDir,
      k = 5, nProbe = 3, shortlist = 20, waveSize = 2,
      residentShards = 3, scratchDir = scratchRoot) { (out, bid) =>
      val rows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= rows; batchIds += bid }
      ()
    }
    val q = writer.start()
    try {
      mem.addData(queries.take(20))
      q.processAllAvailable()
      mem.addData(queries.drop(20))
      q.processAllAvailable()
    } finally q.stop()
    assert(batchIds.size >= 2, s"expected >=2 micro-batches, got $batchIds")
    assert(results.toSet == expected)
    // the serve namespaces its scratch (serve_<uuid8> under the root,
    // round-12 advisor) and every batch_<id> dir under it was deleted
    // after its callback
    val serveDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(scratchRoot)).toArray.toSeq
    assert(serveDirs.size == 1 &&
      serveDirs.head.toString.split("/").last.startsWith("serve_"),
      s"expected one namespaced serve dir, got $serveDirs")
    val leftovers = java.nio.file.Files.list(
      serveDirs.head.asInstanceOf[java.nio.file.Path]).toArray.toSeq
      .filter(_.toString.contains("batch_"))
    assert(leftovers.isEmpty, s"scratch not cleaned: $leftovers")
  }

  test("two serves sharing one scratch root do not collide: namespaced batch dirs, both streams exact") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // round-12 advisor (medium): both serves start at batch_0, so an
    // un-namespaced shared scratch root has stream A overwriting (and
    // then deleting) stream B's batch_0 wave partials mid-read —
    // silent wrong or missing top-k rows. Run two serves against the
    // SAME explicit root, interleaved, and require exact results from
    // both.
    val rnd = new scala.util.Random(47)
    val corpus = (0L until 300L).map(i => i -> Seq.fill(12)(rnd.nextGaussian()))
    val build = Similarity.buildIvfPqShardedWithLayout(
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
      numShards = 2, nCells = 4, m = 6)
    val ixDir = java.nio.file.Files.createTempDirectory("serve-collide").toString + "/ix"
    graft.sources.Sink.writeIvfPqShardedIndex(spark, build, ixDir, overwrite = false)
    val queries = (1000L until 1030L).map(i => i -> Seq.fill(12)(rnd.nextGaussian()))
    val expected = Similarity.topkIvfPqSharded(
        queries.toDF("vec_id", "embedding"), "embedding", "vec_id",
        build.shards, k = 3, nProbe = 2, shortlist = 10)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val sharedRoot = java.nio.file.Files.createTempDirectory("serve-collide-scr").toString
    def wire(mem: MemoryStream[(Long, Seq[Double])],
             sink: scala.collection.mutable.Set[(Long, Int, Long)]) =
      EventStream.topkServeIvfPqShardedWaves(
        mem.toDF.toDF("vec_id", "embedding"), "embedding", "vec_id", ixDir,
        k = 3, nProbe = 2, shortlist = 10, waveSize = 1,
        scratchDir = sharedRoot) { (out, _) =>
        val rows = out.select("vec_id", "rank", "index").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        sink.synchronized { sink ++= rows }
        ()
      }
    val memA = MemoryStream[(Long, Seq[Double])]
    val memB = MemoryStream[(Long, Seq[Double])]
    val resA = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val resB = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val qA = wire(memA, resA).start()
    val qB = wire(memB, resB).start()
    try {
      // interleave so both streams have in-flight batch ids 0 and 1
      memA.addData(queries.take(15)); memB.addData(queries.take(15))
      qA.processAllAvailable(); qB.processAllAvailable()
      memA.addData(queries.drop(15)); memB.addData(queries.drop(15))
      qA.processAllAvailable(); qB.processAllAvailable()
    } finally { qA.stop(); qB.stop() }
    assert(resA.toSet == expected, "stream A corrupted by shared scratch")
    assert(resB.toSet == expected, "stream B corrupted by shared scratch")
    // and the namespace is visible: two distinct serve_* dirs
    val serveDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(sharedRoot)).toArray.toSeq.map(_.toString)
    assert(serveDirs.size == 2 && serveDirs.forall(_.split("/").last.startsWith("serve_")),
      s"expected two namespaced serve dirs, got $serveDirs")
  }

  test("auto residency: pinned prefix is budget-priced, observable, and rows stay exact") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // round-12 verdict #4: residency should come from a driver-byte
    // budget, not a caller-counted shard number. Wire with a budget
    // sized to fit SOME but not ALL shards and require: pinned
    // prefix > 0, pinned bytes <= budget, pinned < numShards, and
    // exact row parity with the batch operator.
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 600L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
    val build = Similarity.buildIvfPqShardedWithLayout(
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
      numShards = 4, nCells = 4, m = 8)
    val ixDir = java.nio.file.Files.createTempDirectory("serve-autores").toString + "/ix"
    graft.sources.Sink.writeIvfPqShardedIndex(spark, build, ixDir, overwrite = false)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, ixDir)
    val sizes = loaded.map(ix => org.apache.spark.util.SizeEstimator.estimate(ix))
    // a budget that fits the first two shards but not three
    val budget = sizes(0) + sizes(1) + (sizes(2) / 2)
    val queries = (1000L until 1040L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
    val expected = Similarity.topkIvfPqSharded(
        queries.toDF("vec_id", "embedding"), "embedding", "vec_id",
        loaded, k = 5, nProbe = 3, shortlist = 20)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val meter = new Similarity.ShardedServeMeter
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val mem = MemoryStream[(Long, Seq[Double])]
    val writer = EventStream.topkServeIvfPqShardedWaves(
      mem.toDF.toDF("vec_id", "embedding"), "embedding", "vec_id", ixDir,
      k = 5, nProbe = 3, shortlist = 20, waveSize = 2,
      residentBudgetBytes = budget, meter = meter) { (out, _) =>
      val rows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= rows }
      ()
    }
    // the residency decision happens at wiring time, before start()
    assert(meter.pinnedShards == 2,
      s"budget fits exactly 2 shards, auto pinned ${meter.pinnedShards}")
    assert(meter.pinnedShardBytes <= budget,
      s"pinned ${meter.pinnedShardBytes} bytes over budget $budget")
    val q = writer.start()
    try { mem.addData(queries); q.processAllAvailable() } finally q.stop()
    assert(results.toSet == expected)
  }

  test("BOUNDED streaming sharded BQ serve: wave-paged, one-wave peak, tombstones auto-applied") {
    import graft.operators.{Metric, Similarity}
    // the bit rung's long-running serving session: shards page off
    // the persisted layout per micro-batch (rows == the batch
    // all-resident sharded serve), the meter pins the one-wave bound,
    // and a takedown-carrying index auto-applies its tombstones (this
    // serve bypasses the plain reader's refusal, so the deny mask
    // must be wired in, not opted into)
    val emb = Tables.embeddings(spark, dir)
    val corpusDf = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val build = Similarity.buildBqShardedWithLayout(corpusDf, "vec_id",
      "embedding", numShards = 4)
    val base = java.nio.file.Files
      .createTempDirectory("serve-bq-waves").toString
    graft.sources.Sink.writeBqShardedIndex(spark, build, s"$base/ix",
      overwrite = false)
    // tombstone a third so the serve must deny-mask from wiring
    graft.sources.Sink.deleteFromBqShardedIndex(spark,
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"), "vec_id",
      s"$base/ix", s"$base/del")
    val (dShards, ts) = graft.sources.Source
      .readBqShardedIndexWithTombstones(spark, s"$base/del")
    val expected = Similarity.topkBqShardedTombstoned(
        emb.select("vec_id", "embedding"), "vec_id", "embedding", dShards,
        ts, 5, Metric.Cosine, shortlist = 100)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val meter = new Similarity.ShardedServeMeter
    val writer = EventStream.topkServeBqShardedWaves(
      spark.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir),
      "vec_id", "embedding", s"$base/del",
      k = 5, metric = Metric.Cosine, shortlist = 100, waveSize = 1,
      residentShards = 2, meter = meter) { (out, _) =>
      val batchRows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= batchRows }
      ()
    }
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty)
    assert(results.forall(_._3 % 3 != 0),
      "tombstoned streaming BQ serve returned a deleted id")
    val per = dShards.map(ix => org.apache.spark.util.SizeEstimator.estimate(ix))
    assert(meter.peakLiveBroadcastBytes == per.max &&
      meter.peakLiveBroadcastBytes < per.sum,
      s"peak ${meter.peakLiveBroadcastBytes} vs per-shard $per")
    assert(meter.liveBroadcastBytes == 0L)
    assert(meter.pinnedShards == 2)
  }

  test("BOUNDED streaming sharded IVF+BQ serve: wave-paged, one-wave peak, tombstones auto-applied") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val corpusDf = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val build = Similarity.buildIvfBqShardedWithLayout(corpusDf, "vec_id",
      "embedding", numShards = 4, nCells = 4)
    val base = java.nio.file.Files
      .createTempDirectory("serve-ivfbq-waves").toString
    graft.sources.Sink.writeIvfBqShardedIndex(spark, build, s"$base/ix")
    graft.sources.Sink.deleteFromIvfBqShardedIndex(spark,
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"), "vec_id",
      s"$base/ix", s"$base/del")
    val (dShards, ts) = graft.sources.Source
      .readIvfBqShardedIndexWithTombstones(spark, s"$base/del")
    val expected = Similarity.topkIvfBqShardedTombstoned(
        emb.select("vec_id", "embedding"), "vec_id", "embedding", dShards,
        ts, 5, nProbe = 4, shortlist = 100)
      .select("vec_id", "rank", "index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val results = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    val meter = new Similarity.ShardedServeMeter
    val writer = EventStream.topkServeIvfBqShardedWaves(
      spark.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir),
      "vec_id", "embedding", s"$base/del",
      k = 5, nProbe = 4, shortlist = 100, waveSize = 1,
      residentShards = 2, meter = meter) { (out, _) =>
      val batchRows = out.select("vec_id", "rank", "index").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      results.synchronized { results ++= batchRows }
      ()
    }
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    assert(results.toSet == expected)
    assert(results.nonEmpty)
    assert(results.forall(_._3 % 3 != 0),
      "tombstoned streaming IVF+BQ serve returned a deleted id")
    val per = dShards.map(ix => org.apache.spark.util.SizeEstimator.estimate(ix))
    assert(meter.peakLiveBroadcastBytes == per.max &&
      meter.peakLiveBroadcastBytes < per.sum)
    assert(meter.liveBroadcastBytes == 0L)
  }

  test("watermark drops too-late events; in-watermark late arrivals still count") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val out = EventStream.hourlyCounts(mem.toDF.toDF("ts", "event_type", "value"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: two events in hour 10, watermark advances to 11:00-1h=10:00
      mem.addData((ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0), (ts(11, 0), "view", 1.0))
      q.processAllAvailable()
      // batch 2: a LATE hour-10 event still inside the watermark
      // (wm = 10:00, window [10:00,11:00) not yet closed) → counts
      mem.addData((ts(10, 50), "click", 4.0))
      q.processAllAvailable()
      // batch 3: advance event time far ahead — watermark passes 11:00,
      // the hour-10 window finalizes and EMITS
      mem.addData((ts(14, 0), "view", 1.0))
      q.processAllAvailable()
      // batch 4: a TOO-LATE hour-10 event (wm = 13:00 > window end) —
      // must be dropped, no correction row, no state resurrection
      mem.addData((ts(10, 55), "click", 100.0))
      q.processAllAvailable()
      mem.addData((ts(20, 0), "view", 1.0))
      q.processAllAvailable()
      val hour10 = spark.table("late_out")
        .filter(col("event_type") === "click").collect()
        .map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
      assert(hour10.toSeq == Seq((ts(10, 0), 3L, 7.0)),
        s"hour-10 click window must contain exactly the 3 in-watermark events: ${hour10.toSeq}")
    } finally q.stop()
  }

  test("stateful streaming sessionization equals the batch gaps-and-islands result") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val out = EventStream.sessionize(mem.toDF.toDF("user_id", "ts"), gapMinutes = 30)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      val evs = Tables.events(spark, dir)
        .select("user_id", "ts").filter(col("user_id") <= 3)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
        .sortBy(_._2.getTime)
      val users = evs.map(_._1).distinct
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // two sentinel rounds: the first advances the watermark past
      // every real session's (end + gap); the second triggers the
      // event-time timeouts that flush still-open sessions
      val maxMs = evs.map(_._2.getTime).max
      for (h <- Seq(1000L, 2000L)) {
        mem.addData(users.map(u => (u, new java.sql.Timestamp(maxMs + h * 3600 * 1000))).toIndexedSeq)
        q.processAllAvailable()
      }
      // maxMs is millis-truncated; +1s of slack keeps the session at
      // exactly max event time while excluding the hours-later sentinels
      val streamed = spark.table("sess_out")
        .filter(col("session_start") <= new java.sql.Timestamp(maxMs + 1000))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      val batch = Relational.sessionize(spark, dir)
        .filter(col("user_id") <= 3)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming curation: gates + redaction + dedup equal the batch curate set") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val raw = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val q = EventStream.curateDocs(raw, "ts", "text")
      .select("content_hash", "text", "text_redacted")
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_stream_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("curate_stream_out").collect()
    // survivors = one row per content hash of the batch gate-passers
    val batchHashes = graft.operators.Curate
      .gateDocs(Tables.documents(spark, dir).withColumn("h", md5(col("text"))), "h")
      .select("h").collect().map(_.getString(0)).toSet
    assert(streamed.map(_.getString(0)).toSet == batchHashes)
    assert(streamed.map(_.getString(0)).distinct.length == streamed.length)
    // the corpus has no PII, so redaction must be the identity here
    assert(streamed.forall(r => r.getString(1) == r.getString(2)))
    assert(streamed.nonEmpty)
  }

  test("streaming line cleanup equals the batch boilerplate + within-doc pipeline") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def salt(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(col("text"), lit("\nshared footer"),
        lit("\nu"), col("doc_id").cast("string"),
        lit("\nu"), col("doc_id").cast("string"),
        lit("\nshared footer")).as("text"))
    val batchDocs = salt(Tables.documents(spark, dir))
    // boilerplate set trained once on the landed corpus
    val set = graft.operators.TextAnalysis.trainBoilerplateSet(batchDocs, "text", 20)
    val streamed = {
      val raw = salt(spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir))
      val q = EventStream.cleanLines(raw, "text", set)
        .select("doc_id", "text_clean")
        .writeStream.outputMode("append")
        .format("memory").queryName("clean_lines_out")
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table("clean_lines_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val batch = {
      val noBoiler = graft.operators.TextAnalysis
        .removeBoilerplateLines(batchDocs, "doc_id", "text", maxDocFreq = 20)
      graft.operators.TextAnalysis
        .dedupLinesWithinDoc(noBoiler, "id", "text_clean")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the planted footer is gone and the duplicated unique line collapsed
    assert(streamed.values.forall(t => !t.contains("shared footer")))
  }

  test("streaming text hygiene (mojibake+NFC+C4) equals the batch pipeline") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val mangled = new String(
      "café — naïve suffix sentence here.".getBytes("UTF-8"), "windows-1252")
    def salt(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(col("text"), lit("\n"), lit(mangled),
        lit("\ncafe"), lit("\u0301 composed line stays here."),
        lit("\nbad { brace } line.")).as("text"))
    val streamed = {
      val raw = salt(spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir))
      val q = EventStream.hygiene(raw, "text")
        .select("doc_id", "text_clean", "n_kept", "keep_doc")
        .writeStream.outputMode("append")
        .format("memory").queryName("hygiene_out")
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table("hygiene_out").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    }
    val batch = {
      val fixed = salt(Tables.documents(spark, dir)).select(col("doc_id"),
        graft.operators.TextAnalysis.normalizeUnicode(
          graft.operators.TextAnalysis.fixMojibake(col("text")), "NFC").as("t"))
      graft.operators.TextAnalysis.c4LineFilter(fixed, "doc_id", "t")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(3), r.getBoolean(4)))).toMap
    }
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the mangled suffix was repaired then kept; the brace line is gone
    assert(streamed.values.forall(_._1.contains("café — naïve suffix sentence here.")))
    assert(streamed.values.forall(!_._1.contains("{")))
  }

  test("boilerplate broadcast lifecycle: retrain-and-destroy cycle a streaming driver runs") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def salt(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(col("text"), lit("\nshared footer")).as("text"))
    val batchDocs = salt(Tables.documents(spark, dir))
    def runScrub(set: org.apache.spark.broadcast.Broadcast[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]],
        name: String): Map[Long, String] = {
      val raw = salt(spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir))
      val q = EventStream.cleanLines(raw, "text", set)
        .select("doc_id", "text_clean")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    // epoch 1: train, scrub a stream
    val set1 = graft.operators.TextAnalysis.trainBoilerplateSet(batchDocs, "text", 20)
    val out1 = runScrub(set1, "bp_epoch1")
    assert(out1.nonEmpty && out1.values.forall(t => !t.contains("shared footer")))
    // epoch 2 (the periodic-retrain tick): train the replacement FIRST,
    // then destroy the old handle — the contract trainBoilerplateSet's
    // scaladoc places on a long-running driver (round-6 verdict #8).
    val set2 = graft.operators.TextAnalysis.trainBoilerplateSet(batchDocs, "text", 20)
    set1.destroy()
    // the destroyed epoch-1 handle is actually gone, not just dropped
    intercept[org.apache.spark.SparkException](set1.value)
    // the epoch-2 handle scrubs a fresh stream identically
    val out2 = runScrub(set2, "bp_epoch2")
    assert(out2 == out1)
    set2.destroy()
  }

  test("streaming decontamination via foreachBatch equals the batch operator") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Tables.documents(spark, dir)
    val isTrain = graft.operators.Curate.hashBucket(col("doc_id")) < 80
    val evalDf = docs.filter(!isTrain).select("doc_id", "text").cache()
    evalDf.count()
    val got = scala.collection.mutable.Set[Long]()
    val raw = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(isTrain)
    val q = raw.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // static eval side + batch semantics per microbatch: exactly
        // the batch operator, applied to whatever arrived
        got ++= graft.operators.Dedup.decontaminate(batch, evalDf, "doc_id", "text", n = 5)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val want = graft.operators.Dedup
      .decontaminate(docs.filter(isTrain), evalDf, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    evalDf.unpersist()
    assert(got.toSet == want)
    assert(want.nonEmpty)
  }

  test("streaming incremental dedup via foreachBatch equals the batch operator") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Tables.documents(spark, dir)
    val isOld = graft.operators.Curate.hashBucket(col("doc_id")) < 80
    // the landed corpus contributes only its hash set — static, cached
    // once, reused across every microbatch (in production: the
    // bucketed hash table, appended to as batches land)
    val landed = graft.operators.Dedup
      .contentHashes(docs.filter(isOld), "text").cache()
    landed.count()
    val got = scala.collection.mutable.Set[Long]()
    val raw = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(!isOld)
    val q = raw.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.operators.Dedup
          .exactIncremental(batch, landed, "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val want = graft.operators.Dedup
      .exactIncremental(docs.filter(!isOld), landed, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    landed.unpersist()
    assert(got.toSet == want)
    assert(want.nonEmpty)
  }

  test("streaming URL dedup keeps one doc per canonical key (batch-parity key set)") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def withUrl(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(lit("HTTP://WWW.Ex"), (col("doc_id") % 20).cast("string"),
          lit(".COM:80/p?utm_x=1&a=1#f")))
        .otherwise(concat(lit("http://ex"), (col("doc_id") % 20).cast("string"),
          lit(".com/p?a=1"))).as("url"))
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val raw = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val q = EventStream.dedupDocsByUrl(withUrl(raw), "ts", "url")
      .select("canon_url")
      .writeStream.outputMode("append")
      .format("memory").queryName("url_dedup_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("url_dedup_out").collect().map(_.getString(0))
    // exactly one survivor per canonical key; both surface forms of
    // the same page fold to ONE key (20 keys total)
    assert(streamed.length == streamed.distinct.length)
    val batchKeys = withUrl(Tables.documents(spark, dir))
      .select(graft.operators.TextAnalysis.canonicalUrl(col("url")).as("k"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(streamed.toSet == batchKeys && batchKeys.size == 20)
  }

  test("streaming span scrub equals the batch decontaminateSpans rebuild") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val plant = "alpha beta gamma delta epsilon zeta"
    def salt(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" " + plant)).otherwise(lit(""))).as("text"))
    val evalDf = { import spark.implicits._; Seq(plant).toDF("text") }
    val wins = graft.operators.Dedup.spanWindowSet(evalDf, "text", l = 4)
    try {
      val raw = spark.readStream
        .schema(docSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val q = EventStream.scrubSpans(salt(raw), "text", 4, wins)
        .select("doc_id", "text_clean", "n_dropped")
        .writeStream.outputMode("append")
        .format("memory").queryName("scrub_spans_out")
        .start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table("scrub_spans_out").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = graft.operators.Dedup.decontaminateSpans(
          salt(Tables.documents(spark, dir)), evalDf, "doc_id", "text", l = 4)
        .select("id", "text_clean", "n_dropped").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(streamed == want)
      assert(want.values.exists(_._2 > 0), "planted spans must be dropped somewhere")
    } finally wins.destroy()
  }
}
