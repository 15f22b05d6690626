package graft

import graft.sources.Sink
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinkSpec extends AnyFunSuite {
  lazy val spark = GraftSession.create("local[4]", 4)

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/out"

  /** Pack position of `id` in an id-ascending restore. */
  private def posOf(ids: Array[Long], id: Long): Int = {
    val p = java.util.Arrays.binarySearch(ids, id)
    assert(p >= 0, s"id $id not found")
    p
  }

  test("writePartitioned: partition dirs, lossless read-back, bounded file size") {
    val out = tmpDir("sink-part")
    val df = operators.Curate.split(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", 80)
    Sink.writePartitioned(df, out, Seq("split"), sortCols = Seq("doc_id"),
      maxRecordsPerFile = 100L)
    // hive-style partition layout -> partition pruning for readers
    assert(Files.exists(Paths.get(out, "split=train")))
    assert(Files.exists(Paths.get(out, "split=eval")))
    // read-back is lossless (multiset equality via anti-joins both ways)
    val back = spark.read.parquet(out)
    assert(back.count() == df.count())
    assert(back.join(df, back.columns.toSeq.map(c => back(c) <=> df(c))
      .reduce(_ && _), "left_anti").isEmpty)
    // maxRecordsPerFile respected
    val files = Files.walk(Paths.get(out)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS"))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f).count() <= 100L, s"file over cap: $f")
    }
    // a reader filtering on the partition col scans one directory only
    val pruned = back.filter(col("split") === "train")
    val scanned = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }.sum
    assert(scanned == 1, s"expected 1 pruned partition, scanned $scanned")
  }

  test("writeBucketed: recurring join on the bucket key plans with zero shuffles") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_chars")
    Sink.writeBucketed(docs, "sink_spec_a", "doc_id", 4, overwrite = true)
    Sink.writeBucketed(docs.withColumn("n2", col("n_chars") * 2),
      "sink_spec_b", "doc_id", 4, overwrite = true)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("sink_spec_a")
        .join(spark.table("sink_spec_b"), "doc_id")
      // string-count the exchanges: collect() on the plan tree does
      // not traverse into the AdaptiveSparkPlan wrapper, so a node
      // match would pass vacuously
      val p = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 0, s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS sink_spec_a")
      spark.sql("DROP TABLE IF EXISTS sink_spec_b")
    }
  }

  test("bucketed content-hash table: exactIncremental adds no corpus-side shuffle") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val isOld = graft.operators.Curate.hashBucket(col("doc_id")) < 80
    Sink.writeBucketed(
      graft.operators.Dedup.contentHashes(docs.filter(isOld), "text"),
      "sink_spec_hashes", "content_hash", 4, overwrite = true)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = graft.operators.Dedup.exactIncremental(
        docs.filter(!isOld), spark.table("sink_spec_hashes"), "doc_id", "text")
      // exactly ONE exchange: the batch's content-hash window shuffle,
      // which the anti-join then reuses on both sides — the landed
      // corpus contributes bucketed (hash, no text) rows with no
      // exchange at any batch size (string-count: collect() does not
      // traverse into the AdaptiveSparkPlan wrapper)
      val p = out.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$p")
      assert(p.contains("Bucketed: true"), s"corpus hash scan not bucketed:\n$p")
      assert(out.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS sink_spec_hashes")
    }
  }

  test("compact: many tiny files become few full files, losslessly") {
    val out = tmpDir("sink-compact")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // fragment: ~1 file per 10 rows
    docs.repartition(4).write.option("maxRecordsPerFile", 10L).parquet(out)
    def countFiles() = Files.walk(Paths.get(out)).toArray.map(_.toString)
      .count(f => f.endsWith(".parquet") &&
        !f.contains(".compact-tmp") && !f.contains(".compact-bak"))
    val before = countFiles()
    assert(before > 5, s"fragmentation setup produced only $before files")
    val (rows, files) = Sink.compact(spark, out, targetRecordsPerFile = 1000000L,
      sortCols = Seq("doc_id"))
    assert(rows == docs.count())
    assert(files == 1 && countFiles() == 1, s"expected 1 file, saw ${countFiles()}")
    val back = spark.read.parquet(out)
    assert(back.count() == rows)
    // set equality both ways + equal counts; doc_id is unique here, so
    // this is full multiset equality (a drop+duplicate corruption
    // would surface as a missing doc_id in one of the anti-joins)
    assert(back.join(docs, back.columns.toSeq.map(c => back(c) <=> docs(c))
      .reduce(_ && _), "left_anti").isEmpty)
    assert(docs.join(back, back.columns.toSeq.map(c => docs(c) <=> back(c))
      .reduce(_ && _), "left_anti").isEmpty)
    // temp/backup dirs cleaned up
    assert(!Files.exists(Paths.get(out + ".compact-tmp")))
    assert(!Files.exists(Paths.get(out + ".compact-bak")))
    // within-file sort restored by sortCols: min/max stats discriminate
    val ids = back.select("doc_id").collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted), "compacted file lost its sort order")
  }

  test("compact refuses a hive-partitioned root") {
    val out = tmpDir("sink-compact-part")
    val df = operators.Curate.split(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", 80)
    Sink.writePartitioned(df, out, Seq("split"))
    val e = intercept[IllegalArgumentException] {
      Sink.compact(spark, out)
    }
    assert(e.getMessage.contains("partition"))
  }

  test("writeJsonl: lossless for the text columns") {
    val out = tmpDir("sink-jsonl")
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang")
    Sink.writeJsonl(df, out, numFiles = 2)
    val back = spark.read.json(out).select("doc_id", "text", "lang")
    assert(back.count() == df.count())
    assert(back.join(df, Seq("doc_id", "text", "lang"), "left_anti").isEmpty)
  }

  test("PCA model round-trip: byte-identical restore, identical projection") {
    import spark.implicits._
    import graft.operators.Ann
    val rnd = new scala.util.Random(37)
    val df = (0L until 200L).map(i => i -> Seq.fill(12)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val m = Ann.pcaTrain(df, "emb", 5)
    val out = tmpDir("sink-pca")
    Sink.writePcaModel(spark, m, out)
    val loaded = graft.sources.Source.readPcaModel(spark, out)
    assert(loaded.dim == m.dim && loaded.k == m.k && loaded.n == m.n)
    assert(loaded.mean.sameElements(m.mean))
    assert(loaded.basis.sameElements(m.basis))
    assert(loaded.eigenvalues.sameElements(m.eigenvalues))
    assert(loaded.totalVariance == m.totalVariance)
    assert(loaded.varianceCaptured == m.varianceCaptured)
    // projection through the restored model is bit-identical
    val a = Ann.pcaProject(df, "emb", m).select("pca").collect()
      .map(_.getSeq[Double](0))
    val b = Ann.pcaProject(df, "emb", loaded).select("pca").collect()
      .map(_.getSeq[Double](0))
    assert(a.zip(b).forall(p => p._1 == p._2))
    // overwrite contract: refuse by default on an existing path
    intercept[Exception] { Sink.writePcaModel(spark, m, out) }
    Sink.writePcaModel(spark, m.truncate(2), out, overwrite = true)
    assert(graft.sources.Source.readPcaModel(spark, out).k == 2)
  }

  test("SQ8 index round-trip: byte-identical restore, identical search results") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(31)
    val corpus = (0L until 300L).map(i => i -> Seq.fill(24)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val queries = (0L until 20L).map(i => i -> Seq.fill(24)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.collectCorpusSq8(corpus, "id", "emb")
    val out = tmpDir("sink-sq8")
    Sink.writeSq8Index(spark, built, out)
    val loaded = graft.sources.Source.readSq8Index(spark, out)
    assert(loaded.n == built.n && loaded.dim == built.dim)
    assert(loaded.ids.sameElements(built.ids))
    assert(loaded.codes.sameElements(built.codes))
    assert(loaded.dimMin.sameElements(built.dimMin))
    assert(loaded.dimScale.sameElements(built.dimScale))
    assert(loaded.norms.sameElements(built.norms))
    assert(loaded.sqNorms.sameElements(built.sqNorms))
    def res(cx: Similarity.CorpusIndexSq8) =
      Similarity.topkSq8(queries, "emb", cx, k = 5, Metric.Cosine)
        .selectExpr("qid", "inline(matches)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(loaded) == res(built))
    // second write without overwrite refuses BEFORE touching disk —
    // the publish is write-temp-then-rename, so a refused (or failed)
    // write can never leave a partial index blocking the retry; the
    // original stays fully readable and no temp sibling survives
    intercept[Exception] { Sink.writeSq8Index(spark, built, out) }
    assert(graft.sources.Source.readSq8Index(spark, out).codes.sameElements(built.codes))
    Sink.writeSq8Index(spark, built, out, overwrite = true)
    assert(graft.sources.Source.readSq8Index(spark, out).codes.sameElements(built.codes))
    val parent = new java.io.File(out).getParentFile
    assert(!parent.listFiles().exists(f =>
        f.getName.contains("__tmp__") || f.getName.contains("__old__")),
      s"publish staging dirs must not survive: ${parent.listFiles().map(_.getName).mkString(",")}")
  }

  test("BQ index round-trip: byte-identical restore, identical search results") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(37)
    val corpus = (0L until 300L).map(i => i -> Seq.fill(70)(rnd.nextGaussian()))
      .toDF("id", "emb") // 70 dims → 2 bit words/row
    val queries = (0L until 20L).map(i => i -> Seq.fill(70)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.collectCorpusBq(corpus, "id", "emb")
    val out = tmpDir("sink-bq")
    Sink.writeBqIndex(spark, built, out)
    val loaded = graft.sources.Source.readBqIndex(spark, out)
    assert(loaded.n == built.n && loaded.dim == built.dim && loaded.nWords == built.nWords)
    assert(loaded.ids.sameElements(built.ids))
    assert(loaded.words.sameElements(built.words))
    assert(loaded.thresholds.sameElements(built.thresholds))
    assert(loaded.sq8.codes.sameElements(built.sq8.codes))
    assert(loaded.sq8.dimMin.sameElements(built.sq8.dimMin))
    assert(loaded.sq8.dimScale.sameElements(built.sq8.dimScale))
    assert(loaded.sq8.norms.sameElements(built.sq8.norms))
    assert(loaded.sq8.sqNorms.sameElements(built.sq8.sqNorms))
    def res(cx: Similarity.CorpusIndexBq) =
      Similarity.topkBq(queries, "emb", cx, k = 5, Metric.Cosine, shortlist = 50)
        .selectExpr("qid", "inline(matches)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(loaded) == res(built))
    // overwrite contract matches the other index sinks
    intercept[Exception] { Sink.writeBqIndex(spark, built, out) }
    assert(graft.sources.Source.readBqIndex(spark, out).words.sameElements(built.words))
    Sink.writeBqIndex(spark, built, out, overwrite = true)
    assert(graft.sources.Source.readBqIndex(spark, out).words.sameElements(built.words))
    // bit_cut survives the round-trip (the append path's frozen cut)
    assert(graft.sources.Source.readBqIndex(spark, out).bitCut
      .sameElements(built.bitCut))
  }

  test("BQ append: encode-only ingest on the frozen grid, old bytes untouched, refusals") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(57)
    val all = (0L until 300L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0)
    val odds = all.filter(_._1 % 2 != 0)
    val base = Files.createTempDirectory("sink-bq-append").toString
    val built = Similarity.collectCorpusBq(evens.toDF("id", "emb"), "id", "emb")
    Sink.writeBqIndex(spark, built, s"$base/ix")
    Sink.appendBqIndex(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/ix", s"$base/grown")
    val grown = graft.sources.Source.readBqIndex(spark, s"$base/grown")
    assert(grown.n == built.n + odds.size)
    // frozen threshold/grid identity — an append must never move the cut
    assert(grown.thresholds.sameElements(built.thresholds))
    assert(grown.bitCut.sameElements(built.bitCut))
    assert(grown.sq8.dimMin.sameElements(built.sq8.dimMin))
    assert(grown.sq8.dimScale.sameElements(built.sq8.dimScale))
    // the grown index restores id-ascending; old rows byte-identical,
    // found by id
    assert(grown.ids.toSeq == all.map(_._1).sorted)
    for (j <- 0 until built.n) {
      val g = posOf(grown.ids, built.ids(j))
      for (w <- 0 until built.nWords)
        assert(grown.words(g * grown.nWords + w) == built.words(j * built.nWords + w))
      for (d <- 0 until built.dim)
        assert(grown.sq8.codes(g * grown.dim + d) == built.sq8.codes(j * built.dim + d))
      assert(grown.sq8.norms(g) == built.sq8.norms(j))
    }
    // new rows: codes = direct encode against the FROZEN grid
    // (clamped), bits = code >= cut
    val oddVecs = odds.toMap
    for (id <- odds.map(_._1); j = posOf(grown.ids, id)) {
      val v = oddVecs(id).toArray
      val expect = new Array[Byte](grown.dim)
      val sq = Similarity.sq8EncodeRow(v, 0, grown.dim,
        grown.sq8.dimMin, grown.sq8.dimScale, expect, 0)
      for (d <- 0 until grown.dim) {
        assert(grown.sq8.codes(j * grown.dim + d) == expect(d), s"row $j dim $d")
        val bit = (grown.words(j * grown.nWords + (d >>> 6)) >>> (d & 63)) & 1L
        val expBit = if ((expect(d) & 0xFF) >= grown.bitCut(d)) 1L else 0L
        assert(bit == expBit, s"row $j dim $d bit")
      }
      assert(grown.sq8.sqNorms(j) == sq)
    }
    // the grown index serves the whole corpus: recall vs the exact
    // kernel over ALL rows (grid trained on half — clamping degrades
    // gracefully, it must not crater)
    val q = all.toDF("qid", "emb")
    val cxAll = Similarity.collectCorpus(all.toDF("id", "emb"), "id", "emb")
    val exact = Similarity.topkFlat(q, "emb", cxAll, 5, Metric.Cosine)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val got = Similarity.topkBqFlat(q, "emb", grown, 5, Metric.Cosine,
        shortlist = 150)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"grown-index recall@5 = $recall%.4f")
    assert(recall >= 0.7, s"recall $recall")
    // refusals: dup within batch, clash with stored, dim mismatch,
    // pre-bit_cut layout
    val dup = Seq(1000L -> Seq.fill(40)(0.1), 1000L -> Seq.fill(40)(0.2))
      .toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendBqIndex(spark, dup, "id", "emb", s"$base/grown", s"$base/x1")
    }.getMessage.contains("duplicate id"))
    val clash = Seq(1L -> Seq.fill(40)(0.1)).toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendBqIndex(spark, clash, "id", "emb", s"$base/grown", s"$base/x2")
    }.getMessage.contains("already exists"))
    val ragged = Seq(2000L -> Seq.fill(8)(0.1)).toDF("id", "emb")
    val e = intercept[Exception] {
      Sink.appendBqIndex(spark, ragged, "id", "emb", s"$base/grown", s"$base/x3")
    }
    assert((e.getMessage != null && e.getMessage.contains("Dimension mismatch")) ||
      (e.getCause != null && e.getCause.getMessage.contains("Dimension mismatch")))
    // a legacy layout without bit_cut refuses by name
    val legacyMeta = spark.read.parquet(s"$base/ix/meta").drop("bit_cut")
    val legacy = s"$base/legacy"
    spark.read.parquet(s"$base/ix/vectors")
      .write.parquet(s"$legacy/vectors")
    legacyMeta.write.parquet(s"$legacy/meta")
    val fresh = Seq(3000L -> Seq.fill(40)(0.1)).toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendBqIndex(spark, fresh, "id", "emb", legacy, s"$base/x4")
    }.getMessage.contains("bit_cut"))
    // ...but the READER is not circular about it: the legacy index
    // still loads, deriving the build's integer cut bit-for-bit from
    // the stored codes (⌊Σcode/n⌋+1 over exactly the build corpus) —
    // so the prescribed upgrade (read + re-persist once) works
    val upgraded = graft.sources.Source.readBqIndex(spark, legacy)
    assert(upgraded.bitCut.sameElements(built.bitCut))
    assert(upgraded.words.sameElements(built.words))
    Sink.writeBqIndex(spark, upgraded, s"$base/upgraded")
    assert(graft.sources.Source.readBqIndex(spark, s"$base/upgraded")
      .bitCut.sameElements(built.bitCut))
  }

  test("distributed sharded BQ build: byte-identical to the collect build") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(87)
    val cDf = (0L until 400L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val base = Files.createTempDirectory("sink-bq-dist").toString
    val build = Similarity.buildBqShardedWithLayout(cDf, "id", "emb",
      numShards = 3)
    Sink.writeBqShardedIndexDistributed(spark, cDf, "id", "emb",
      numShards = 3, path = s"$base/dist")
    val loaded = graft.sources.Source.readBqShardedIndex(spark, s"$base/dist")
    assert(loaded.size == build.shards.size)
    loaded.zip(build.shards).foreach { case (l, b) =>
      assert(l.n == b.n && l.dim == b.dim && l.nWords == b.nWords)
      assert(l.ids.sameElements(b.ids))
      assert(l.words.sameElements(b.words))
      assert(l.thresholds.sameElements(b.thresholds))
      assert(l.bitCut.sameElements(b.bitCut))
      assert(l.sq8.codes.sameElements(b.sq8.codes))
      assert(l.sq8.dimMin.sameElements(b.sq8.dimMin))
      assert(l.sq8.dimScale.sameElements(b.sq8.dimScale))
      assert(l.sq8.norms.sameElements(b.sq8.norms))
      assert(l.sq8.sqNorms.sameElements(b.sq8.sqNorms))
    }
    // routing-identity manifest matches the collect build's layout
    val man = spark.read.parquet(s"$base/dist/manifest").head()
    assert(man.getInt(man.fieldIndex("hash_modulus")) == build.hashModulus)
    assert(man.getSeq[Long](man.fieldIndex("shard_hash_vals")) ==
      build.shardHashVals)
    // EMPTY hash shards compact away exactly like the collect build
    // (5 ids over 8 hash values): surviving dirs + recorded hash vals
    // must agree, and the appended-later routing therefore agrees too
    val sparse = Seq(1L, 2L, 3L, 4L, 5L)
      .map(i => i -> Seq.fill(40)(rnd.nextGaussian())).toDF("id", "emb")
    val b2 = Similarity.buildBqShardedWithLayout(sparse, "id", "emb",
      numShards = 8)
    assert(b2.shards.size < 8, "fixture should leave empty hash shards")
    Sink.writeBqShardedIndexDistributed(spark, sparse, "id", "emb",
      numShards = 8, path = s"$base/dist2")
    val man2 = spark.read.parquet(s"$base/dist2/manifest").head()
    assert(man2.getInt(man2.fieldIndex("num_shards")) == b2.shards.size)
    assert(man2.getSeq[Long](man2.fieldIndex("shard_hash_vals")) ==
      b2.shardHashVals)
    val loaded2 = graft.sources.Source.readBqShardedIndex(spark, s"$base/dist2")
    loaded2.zip(b2.shards).foreach { case (l, b) =>
      assert(l.ids.sameElements(b.ids) && l.words.sameElements(b.words) &&
        l.sq8.codes.sameElements(b.sq8.codes))
    }
    // the encode-only append composes on the distributed layout
    Sink.appendBqShardedIndex(spark,
      Seq(100L -> Seq.fill(40)(0.1)).toDF("id", "emb"), "id", "emb",
      s"$base/dist2", s"$base/dist2-grown")
    assert(graft.sources.Source
      .readBqShardedIndex(spark, s"$base/dist2-grown")
      .map(_.n.toLong).sum == 6L)
    // duplicate ids refuse by name (they key the pack order)
    assert(intercept[IllegalArgumentException] {
      Sink.writeBqShardedIndexDistributed(spark, cDf.unionAll(cDf.limit(1)),
        "id", "emb", numShards = 3, path = s"$base/dup")
    }.getMessage.contains("duplicate id"))
  }

  test("sharded BQ legacy layout (no bit_cut): reader derives the GLOBAL cut exactly") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(97)
    val cDf = (0L until 300L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val build = Similarity.buildBqShardedWithLayout(cDf, "id", "emb",
      numShards = 3)
    val base = Files.createTempDirectory("sink-bq-legacy-sharded").toString
    Sink.writeBqShardedIndex(spark, build, s"$base/ix", overwrite = false)
    // strip bit_cut from every shard meta — the pre-round-15 layout
    val legacy = s"$base/legacy"
    spark.read.parquet(s"$base/ix/manifest").write.parquet(s"$legacy/manifest")
    build.shards.indices.foreach { i =>
      spark.read.parquet(f"$base/ix/shard_$i%04d/vectors")
        .write.parquet(f"$legacy/shard_$i%04d/vectors")
      spark.read.parquet(f"$base/ix/shard_$i%04d/meta").drop("bit_cut")
        .write.parquet(f"$legacy/shard_$i%04d/meta")
    }
    val loaded = graft.sources.Source.readBqShardedIndex(spark, legacy)
    // every shard must carry the corpus-GLOBAL cut (a per-shard
    // derivation would differ shard to shard), equal to the build's
    loaded.zip(build.shards).foreach { case (l, r) =>
      assert(l.bitCut.sameElements(r.bitCut))
      assert(l.words.sameElements(r.words))
      assert(l.ids.sameElements(r.ids))
    }
  }

  test("legacy sharded BQ and IVF-BQ layouts upgrade as their refusals say, keeping a dropped-shard routing") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.sources.{ShardedLayout, Source}
    val rnd = new scala.util.Random(131)
    // hash shard 2 of 4 holds no row, so the build drops it and the
    // routing identity is not directory i ↔ hash value i
    val ids = (0L until 600L).toDF("id").filter(ShardedLayout.hashOf("id", 4) =!= 2L)
      .as[Long].collect().take(240)
    val cDf = ids.toSeq.map(i => i -> Seq.fill(40)(rnd.nextGaussian())).toDF("id", "emb")
    val fresh = (5000L until 5080L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val base = Files.createTempDirectory("sink-legacy-upgrade").toString
    /** (family, build + write → hash values, write restored shards with a
      * routing identity, append, each shard's ids)
      */
    Seq[(String, String => Seq[Long], (String, Int, IndexedSeq[Long], String) => Unit,
        (String, String) => Unit, String => Seq[Set[Long]])](
      ("Bq",
        p => {
          val b = Similarity.buildBqShardedWithLayout(cDf, "id", "emb", numShards = 4)
          Sink.writeBqShardedIndex(spark, b, p, overwrite = false); b.shardHashVals },
        (from, modulus, vals, p) => Sink.writeBqShardedIndex(spark, Similarity.ShardedBqBuild(
          Source.readBqShardedIndexWithTombstones(spark, from)._1, modulus, vals), p,
          overwrite = false),
        (in, out) => Sink.appendBqShardedIndex(spark, fresh, "id", "emb", in, out),
        p => Source.readBqShardedIndex(spark, p).map(_.ids.toSet)),
      ("IvfBq",
        p => {
          val b = Similarity.buildIvfBqShardedWithLayout(cDf, "id", "emb", 4, nCells = 2)
          Sink.writeIvfBqShardedIndex(spark, b, p); b.shardHashVals },
        (from, modulus, vals, p) => Sink.writeIvfBqShardedIndex(spark,
          Similarity.ShardedIvfBqBuild(
            Source.readIvfBqShardedIndexWithTombstones(spark, from)._1, modulus, vals), p),
        (in, out) => Sink.appendIvfBqShardedIndex(spark, fresh, "id", "emb", in, out),
        p => Source.readIvfBqShardedIndex(spark, p).map(_.ids.toSet)))
      .foreach { case (family, build, rewrite, append, shardIds) =>
        withClue(s"$family: ") {
          val ix = s"$base/$family/ix"
          assert(build(ix) == Seq(0L, 1L, 3L))
          // the pre-bit_cut layout
          val legacy = s"$base/$family/legacy"
          spark.read.parquet(s"$ix/manifest").write.parquet(s"$legacy/manifest")
          (0 until 3).foreach { i =>
            spark.read.parquet(f"$ix/shard_$i%04d/vectors")
              .write.parquet(f"$legacy/shard_$i%04d/vectors")
            spark.read.parquet(f"$ix/shard_$i%04d/meta").drop("bit_cut")
              .write.parquet(f"$legacy/shard_$i%04d/meta")
          }
          val msg = intercept[IllegalArgumentException](append(legacy, s"$base/$family/x"))
            .getMessage
          Seq("bit_cut", s"read${family}ShardedIndexWithTombstones", s"Sharded${family}Build",
              s"hash_modulus and shard_hash_vals columns of $legacy/manifest",
              s"write${family}ShardedIndex", s"deleteFrom${family}ShardedIndex")
            .foreach(w => assert(msg.contains(w), s"$w not in: $msg"))
          // follow it: the legacy index has no tombstones to re-apply
          assert(ShardedLayout.readTombstones(spark, legacy).isEmpty)
          val m = spark.read.parquet(s"$legacy/manifest").head()
          rewrite(legacy, m.getAs[Int]("hash_modulus"),
            m.getAs[Seq[Long]]("shard_hash_vals").toIndexedSeq, s"$base/$family/up")
          append(ix, s"$base/$family/ix-grown")
          append(s"$base/$family/up", s"$base/$family/up-grown")
          val want = shardIds(s"$base/$family/ix-grown")
          assert(shardIds(s"$base/$family/up-grown") == want)
          // the identity routing a bare shard list would record sends
          // some of the same rows elsewhere
          rewrite(legacy, 3, IndexedSeq(0L, 1L, 2L), s"$base/$family/naive")
          append(s"$base/$family/naive", s"$base/$family/naive-grown")
          assert(shardIds(s"$base/$family/naive-grown") != want)
        }
      }
  }

  test("sharded BQ persist + tombstone lifecycle: byte restore, masked == complement == compacted, refusals") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(67)
    val cDf = (0L until 400L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val qDf = (0L until 30L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val build = Similarity.buildBqShardedWithLayout(cDf, "id", "emb",
      numShards = 3)
    val shards = build.shards
    val base = Files.createTempDirectory("sink-bq-sharded").toString
    Sink.writeBqShardedIndex(spark, build, s"$base/ix", overwrite = false)
    val loaded = graft.sources.Source.readBqShardedIndex(spark, s"$base/ix")
    assert(loaded.size == shards.size)
    loaded.zip(shards).foreach { case (l, r) =>
      assert(l.ids.sameElements(r.ids))
      assert(l.words.sameElements(r.words))
      assert(l.thresholds.sameElements(r.thresholds))
      assert(l.bitCut.sameElements(r.bitCut))
      assert(l.sq8.codes.sameElements(r.sq8.codes))
      assert(l.sq8.norms.sameElements(r.sq8.norms))
    }
    // delete a third, metadata-only; plain reader refuses; masked
    // serve == complement allow == compacted plain serve
    Sink.deleteFromBqShardedIndex(spark,
      cDf.filter(col("id") % 3 === 0).select("id"), "id",
      s"$base/ix", s"$base/del")
    assert(intercept[IllegalArgumentException] {
      graft.sources.Source.readBqShardedIndex(spark, s"$base/del")
    }.getMessage.contains("tombstoned"))
    val (dShards, ts) =
      graft.sources.Source.readBqShardedIndexWithTombstones(spark, s"$base/del")
    assert(ts.nonEmpty && ts.forall(_ % 3 == 0))
    // shard bytes untouched by the delete
    dShards.zip(loaded).foreach { case (l, r) =>
      assert(l.words.sameElements(r.words) && l.ids.sameElements(r.ids))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "index", "score")
        .as[(Long, Int, Long, Double)].collect().toSet
    val masked = rows(Similarity.topkBqShardedTombstoned(qDf, "qid", "emb",
      dShards, ts, 5, Metric.Cosine, shortlist = 150))
    assert(masked.nonEmpty && masked.forall(_._3 % 3 != 0))
    val complement = dShards.flatMap(_.ids).filter(_ % 3 != 0).toArray
    assert(masked == rows(Similarity.topkBqShardedFiltered(qDf, "qid", "emb",
      dShards, complement, 5, Metric.Cosine, shortlist = 150)))
    Sink.compactBqShardedIndex(spark, s"$base/del", s"$base/comp")
    val cShards = graft.sources.Source.readBqShardedIndex(spark, s"$base/comp")
    assert(cShards.map(_.n.toLong).sum == loaded.map(_.n.toLong).sum - ts.length)
    assert(masked == rows(Similarity.topkBqSharded(qDf, "qid", "emb",
      cShards, 5, Metric.Cosine, shortlist = 150)))
    // frozen cut identity survives compaction
    cShards.zip(loaded).foreach { case (l, r) =>
      assert(l.thresholds.sameElements(r.thresholds) &&
        l.bitCut.sameElements(r.bitCut))
    }
    // double-delete and unknown-id refusals
    assert(intercept[IllegalArgumentException] {
      Sink.deleteFromBqShardedIndex(spark, Seq(0L).toDF("id"), "id",
        s"$base/del", s"$base/x1")
    }.getMessage.contains("already"))
    assert(intercept[IllegalArgumentException] {
      Sink.deleteFromBqShardedIndex(spark, Seq(99999L).toDF("id"), "id",
        s"$base/ix", s"$base/x2")
    }.getMessage.contains("not stored"))
  }

  test("sharded IVF+BQ persist + tombstone lifecycle: byte restore, masked == complement == compacted") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(87)
    // clustered so routing is meaningful
    val centers = Array.fill(8, 24)(rnd.nextGaussian() * 3.0)
    val cDf = (0L until 500L).map { i =>
      i -> centers((i % 8).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.3)
    }.toDF("id", "emb")
    val qDf = (0L until 40L).map { i =>
      i -> centers((i % 8).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.3)
    }.toDF("qid", "emb")
    val build = Similarity.buildIvfBqShardedWithLayout(cDf, "id", "emb",
      numShards = 3, nCells = 4)
    val base = Files.createTempDirectory("sink-ivfbq-sharded").toString
    Sink.writeIvfBqShardedIndex(spark, build, s"$base/ix")
    val loaded = graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/ix")
    assert(loaded.size == build.shards.size)
    loaded.zip(build.shards).foreach { case (l, r) =>
      assert(l.ids.sameElements(r.ids))
      assert(l.words.sameElements(r.words))
      assert(l.centroids.sameElements(r.centroids))
      assert(l.cellStart.sameElements(r.cellStart))
      assert(l.cellMembers.sameElements(r.cellMembers))
      assert(l.thresholds.sameElements(r.thresholds))
      assert(l.sq8.codes.sameElements(r.sq8.codes))
    }
    // delete a quarter; plain reader refuses; masked == complement ==
    // compacted
    Sink.deleteFromIvfBqShardedIndex(spark,
      cDf.filter(col("id") % 4 === 0).select("id"), "id",
      s"$base/ix", s"$base/del")
    assert(intercept[IllegalArgumentException] {
      graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/del")
    }.getMessage.contains("tombstoned"))
    val (dShards, ts) = graft.sources.Source
      .readIvfBqShardedIndexWithTombstones(spark, s"$base/del")
    assert(ts.nonEmpty && ts.forall(_ % 4 == 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "index", "score")
        .as[(Long, Int, Long, Double)].collect().toSet
    val masked = rows(Similarity.topkIvfBqShardedTombstoned(qDf, "qid",
      "emb", dShards, ts, 5, nProbe = 4, shortlist = 150))
    assert(masked.nonEmpty && masked.forall(_._3 % 4 != 0))
    val complement = dShards.flatMap(_.ids).filter(_ % 4 != 0).toArray
    assert(masked == rows(Similarity.topkIvfBqShardedFiltered(qDf, "qid",
      "emb", dShards, complement, 5, nProbe = 4, shortlist = 150)))
    Sink.compactIvfBqShardedIndex(spark, s"$base/del", s"$base/comp")
    val cShards = graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/comp")
    assert(cShards.map(_.n.toLong).sum ==
      loaded.map(_.n.toLong).sum - ts.length)
    assert(masked == rows(Similarity.topkIvfBqSharded(qDf, "qid", "emb",
      cShards, 5, nProbe = 4, shortlist = 150)))
    // frozen cut + geometry identity through compaction
    cShards.zip(loaded).foreach { case (l, r) =>
      assert(l.thresholds.sameElements(r.thresholds))
      assert(l.bitCut.sameElements(r.bitCut))
      assert(l.centroids.sameElements(r.centroids))
    }
  }

  test("sharded IVF+BQ append: routed encode-only ingest, frozen cells/grid/cut, CSR stays real") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(117)
    val all = (0L until 400L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0)
    val odds = all.filter(_._1 % 2 != 0)
    val base = Files.createTempDirectory("sink-ivfbq-append").toString
    val build = Similarity.buildIvfBqShardedWithLayout(evens.toDF("id", "emb"),
      "id", "emb", numShards = 3, nCells = 4)
    Sink.writeIvfBqShardedIndex(spark, build, s"$base/ix")
    Sink.appendIvfBqShardedIndex(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/ix", s"$base/grown")
    val grown = graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/grown")
    assert(grown.map(_.n).sum == 400)
    def slotOf(ix: Similarity.CorpusIndexIvfBq): Array[Int] = {
      val s = new Array[Int](ix.n)
      var p = 0
      while (p < ix.n) { s(ix.cellMembers(p)) = p; p += 1 }
      s
    }
    build.shards.zip(grown).foreach { case (old, g) =>
      // frozen artifacts: grid, cut, thresholds, centroids, nCells
      assert(g.thresholds.sameElements(old.thresholds))
      assert(g.bitCut.sameElements(old.bitCut))
      assert(g.centroids.sameElements(old.centroids))
      assert(g.nCells == old.nCells)
      assert(g.sq8.dimMin.sameElements(old.sq8.dimMin))
      assert(g.sq8.dimScale.sameElements(old.sq8.dimScale))
      // CSR is REAL after the append: brackets monotone, members
      // grouped, and within a cell members ascend in row (= id) order
      assert((1 until g.n).forall(j => g.ids(j - 1) < g.ids(j)), "ids not ascending")
      for (c <- 0 until g.nCells) {
        assert(g.cellStart(c) <= g.cellStart(c + 1))
        var prev = -1
        for (p <- g.cellStart(c) until g.cellStart(c + 1)) {
          assert(g.cellOf(g.cellMembers(p)) == c, s"slot $p not in cell $c")
          assert(g.cellMembers(p) > prev,
            s"cell $c members not g-ascending at slot $p")
          prev = g.cellMembers(p)
        }
      }
      // old rows, found by id: ids/codes/norms/cells byte-identical;
      // bits byte-identical through each index's own slot map
      val oldSlot = slotOf(old); val newSlot = slotOf(g)
      for (j <- 0 until old.n) {
        val p = posOf(g.ids, old.ids(j))
        assert(g.cellOf(p) == old.cellOf(j))
        for (d <- 0 until old.dim)
          assert(g.sq8.codes(p * g.dim + d) == old.sq8.codes(j * old.dim + d))
        assert(g.sq8.norms(p) == old.sq8.norms(j))
        for (w <- 0 until old.nWords)
          assert(g.words(newSlot(p) * g.nWords + w) ==
            old.words(oldSlot(j) * old.nWords + w), s"id ${old.ids(j)} word $w")
      }
      // new rows, found by id: codes = frozen-grid encode; bits =
      // code >= cut at their CSR slots; cell = the build's own
      // strict-max assignment over frozen centroids
      val oddVecs = odds.toMap
      val fresh = g.ids.filter(oddVecs.contains)
      assert(fresh.length == g.n - old.n)
      for (id <- fresh; j = posOf(g.ids, id)) {
        val v = oddVecs(id).toArray
        val expect = new Array[Byte](g.dim)
        val sq = Similarity.sq8EncodeRow(v, 0, g.dim, g.sq8.dimMin,
          g.sq8.dimScale, expect, 0)
        val nrm = math.sqrt(sq)
        for (d <- 0 until g.dim)
          assert(g.sq8.codes(j * g.dim + d) == expect(d), s"id $id dim $d")
        assert(g.sq8.sqNorms(j) == sq)
        val unit = new Array[Double](g.dim)
        if (nrm > 1e-10)
          for (d <- 0 until g.dim)
            unit(d) = (g.sq8.dimMin(d) + (expect(d) & 0xFF) *
              g.sq8.dimScale(d).toDouble) / nrm
        assert(g.cellOf(j) ==
          Similarity.assignCell(unit, 0, g.centroids, g.nCells, g.dim),
          s"id $id cell")
        for (d <- 0 until g.dim) {
          val bit = (g.words(newSlot(j) * g.nWords + (d >>> 6)) >>> (d & 63)) & 1L
          val expBit = if ((expect(d) & 0xFF) >= g.bitCut(d)) 1L else 0L
          assert(bit == expBit, s"id $id dim $d bit")
        }
      }
    }
    // appended rows hit themselves at rank 1 (all cells probed)
    val qOdds = odds.toDF("qid", "emb")
    val top1 = Similarity.topkIvfBqSharded(qOdds, "qid", "emb", grown,
        k = 1, nProbe = 4, shortlist = 50)
      .select("qid", "index").as[(Long, Long)].collect()
    assert(top1.length == odds.size && top1.forall { case (q, ix) => q == ix })
    // a second 1-row append leaves two shards on the untouched
    // file-copy path and still restores consistently
    Sink.appendIvfBqShardedIndex(spark,
      Seq(1000L -> Seq.fill(40)(0.2)).toDF("id", "emb"), "id", "emb",
      s"$base/grown", s"$base/grown2")
    assert(graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/grown2")
      .map(_.n).sum == 401)
    // refusals: dup in batch, clash with stored, pre-bit_cut layout
    val dup = Seq(2000L -> Seq.fill(40)(0.1), 2000L -> Seq.fill(40)(0.2))
      .toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendIvfBqShardedIndex(spark, dup, "id", "emb",
        s"$base/grown", s"$base/x1")
    }.getMessage.contains("duplicate id"))
    assert(intercept[IllegalArgumentException] {
      Sink.appendIvfBqShardedIndex(spark,
        Seq(1L -> Seq.fill(40)(0.1)).toDF("id", "emb"), "id", "emb",
        s"$base/grown", s"$base/x2")
    }.getMessage.contains("already exists"))
    val legacy = s"$base/legacy"
    spark.read.parquet(s"$base/ix/manifest").write.parquet(s"$legacy/manifest")
    build.shards.indices.foreach { i =>
      spark.read.parquet(f"$base/ix/shard_$i%04d/vectors")
        .write.parquet(f"$legacy/shard_$i%04d/vectors")
      spark.read.parquet(f"$base/ix/shard_$i%04d/meta").drop("bit_cut")
        .write.parquet(f"$legacy/shard_$i%04d/meta")
    }
    assert(intercept[IllegalArgumentException] {
      Sink.appendIvfBqShardedIndex(spark,
        Seq(3000L -> Seq.fill(40)(0.1)).toDF("id", "emb"), "id", "emb",
        legacy, s"$base/x3")
    }.getMessage.contains("bit_cut"))
    // ...and the legacy layout still READS, with the global cut
    // derived exactly — the upgrade path the refusal prescribes
    val upgraded = graft.sources.Source.readIvfBqShardedIndex(spark, legacy)
    upgraded.zip(build.shards).foreach { case (l, r) =>
      assert(l.bitCut.sameElements(r.bitCut))
      assert(l.words.sameElements(r.words))
    }
    // the slot-keyed layout: one row per CSR slot keyed (slot, row, id)
    // with that slot's bits, and cell_start in meta
    import org.apache.spark.sql.types._
    val slotted = s"$base/slotted"
    spark.read.parquet(s"$base/ix/manifest").write.parquet(s"$slotted/manifest")
    build.shards.zipWithIndex.foreach { case (x, i) =>
      val vecRows = (0 until x.n).map { p =>
        val g = x.cellMembers(p)
        org.apache.spark.sql.Row(p, g, x.ids(g),
          x.words.slice(p * x.nWords, (p + 1) * x.nWords).toSeq,
          x.sq8.codes.slice(g * x.dim, (g + 1) * x.dim), x.sq8.norms(g), x.sq8.sqNorms(g))
      }
      spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), StructType(Seq(
          StructField("slot", IntegerType, false), StructField("row", IntegerType, false),
          StructField("id", LongType, false), StructField("words", ArrayType(LongType, false)),
          StructField("code", BinaryType), StructField("norm", DoubleType, false),
          StructField("sq_norm", DoubleType, false))))
        .write.parquet(f"$slotted/shard_$i%04d/vectors")
      spark.createDataFrame(java.util.Arrays.asList(org.apache.spark.sql.Row(x.n, x.dim,
          x.nWords, x.nCells, x.centroids.toSeq, x.thresholds.toSeq, x.cellStart.toSeq,
          x.sq8.dimMin.toSeq, x.sq8.dimScale.toSeq, x.bitCut.toSeq)), StructType(Seq(
          StructField("n", IntegerType, false), StructField("dim", IntegerType, false),
          StructField("n_words", IntegerType, false), StructField("n_cells", IntegerType, false),
          StructField("centroids", ArrayType(DoubleType, false)),
          StructField("thresholds", ArrayType(DoubleType, false)),
          StructField("cell_start", ArrayType(IntegerType, false)),
          StructField("dim_min", ArrayType(FloatType, false)),
          StructField("dim_scale", ArrayType(FloatType, false)),
          StructField("bit_cut", ArrayType(IntegerType, false)))))
        .write.parquet(f"$slotted/shard_$i%04d/meta")
    }
    // it reads to the build's own in-memory index...
    graft.sources.Source.readIvfBqShardedIndex(spark, slotted).zip(build.shards).foreach {
      case (l, r) =>
        assert(l.n == r.n && l.dim == r.dim && l.nCells == r.nCells && l.nWords == r.nWords)
        assert(l.ids.sameElements(r.ids) && l.words.sameElements(r.words))
        assert(l.cellOf.sameElements(r.cellOf) && l.cellStart.sameElements(r.cellStart))
        assert(l.cellMembers.sameElements(r.cellMembers))
        assert(l.centroids.sameElements(r.centroids) && l.thresholds.sameElements(r.thresholds))
        assert(l.bitCut.sameElements(r.bitCut))
        assert(l.sq8.ids.sameElements(r.sq8.ids) && l.sq8.codes.sameElements(r.sq8.codes))
        assert(l.sq8.norms.sameElements(r.sq8.norms) &&
          l.sq8.sqNorms.sameElements(r.sq8.sqNorms))
        assert(l.sq8.dimMin.sameElements(r.sq8.dimMin) &&
          l.sq8.dimScale.sameElements(r.sq8.dimScale))
    }
    // ...and append and compact refuse it by name, naming the upgrade
    def upgradePath(e: IllegalArgumentException): Boolean = {
      val msg = e.getMessage
      msg.contains("CSR slot") && msg.contains("writeIvfBqShardedIndex") &&
        msg.contains("deleteFromIvfBqShardedIndex")
    }
    assert(upgradePath(intercept[IllegalArgumentException] {
      Sink.appendIvfBqShardedIndex(spark,
        Seq(3000L -> Seq.fill(40)(0.1)).toDF("id", "emb"), "id", "emb",
        slotted, s"$base/x4")
    }))
    Sink.deleteFromIvfBqShardedIndex(spark, Seq(0L).toDF("id"), "id", slotted,
      s"$base/slotted-del")
    assert(upgradePath(intercept[IllegalArgumentException] {
      Sink.compactIvfBqShardedIndex(spark, s"$base/slotted-del", s"$base/x5")
    }))
    // tombstones carry forward through the append
    Sink.deleteFromIvfBqShardedIndex(spark, Seq(1L).toDF("id"), "id",
      s"$base/grown", s"$base/del")
    Sink.appendIvfBqShardedIndex(spark,
      Seq(4000L -> Seq.fill(40)(0.3)).toDF("id", "emb"), "id", "emb",
      s"$base/del", s"$base/del-grown")
    assert(intercept[IllegalArgumentException] {
      graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/del-grown")
    }.getMessage.contains("tombstoned"))
  }

  test("sharded BQ append: routed encode-only ingest, frozen global cut, old shards untouched") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(77)
    val all = (0L until 400L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0)
    val odds = all.filter(_._1 % 2 != 0)
    val base = Files.createTempDirectory("sink-bq-shard-append").toString
    val build = Similarity.buildBqShardedWithLayout(evens.toDF("id", "emb"),
      "id", "emb", numShards = 3)
    Sink.writeBqShardedIndex(spark, build, s"$base/ix", overwrite = false)
    Sink.appendBqShardedIndex(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/ix", s"$base/grown")
    val grown = graft.sources.Source.readBqShardedIndex(spark, s"$base/grown")
    assert(grown.map(_.n).sum == 400)
    // frozen cut identity on every shard
    grown.foreach { sx =>
      assert(sx.thresholds.sameElements(build.shards.head.thresholds))
      assert(sx.bitCut.sameElements(build.shards.head.bitCut))
    }
    // old rows byte-identical per shard, found by id
    build.shards.zip(grown).foreach { case (old, g) =>
      for (j <- 0 until old.n) {
        val p = posOf(g.ids, old.ids(j))
        for (w <- 0 until old.nWords)
          assert(g.words(p * g.nWords + w) == old.words(j * old.nWords + w))
      }
    }
    // routing: each appended id landed on pmod(xxhash64(id), modulus)
    val dirOf = build.shardHashVals.zipWithIndex.toMap
    odds.map(_._1).foreach { id =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        id, org.apache.spark.sql.types.LongType, 42L)
      val hv = ((h % 3) + 3) % 3
      val expectShard = dirOf.getOrElse(hv, (hv % grown.size).toInt)
      assert(grown(expectShard).ids.contains(id), s"id $id not in shard $expectShard")
    }
    // new rows encode against the frozen grid: spot-check one shard's
    // appended rows
    val g0 = grown.head
    val oddVecs = odds.toMap
    for (id <- g0.ids.filter(oddVecs.contains); j = posOf(g0.ids, id)) {
      val v = oddVecs(id).toArray
      val expect = new Array[Byte](g0.dim)
      Similarity.sq8EncodeRow(v, 0, g0.dim, g0.sq8.dimMin, g0.sq8.dimScale,
        expect, 0)
      for (d <- 0 until g0.dim)
        assert(g0.sq8.codes(j * g0.dim + d) == expect(d), s"row $j dim $d")
    }
    // the grown index serves the whole corpus sanely
    val qDf = all.toDF("qid", "emb")
    val exact = Similarity.topkFlat(qDf, "emb",
        Similarity.collectCorpus(all.toDF("id", "emb"), "id", "emb"),
        5, Metric.Cosine)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val got = Similarity.topkBqSharded(qDf, "qid", "emb", grown, 5,
        Metric.Cosine, shortlist = 150)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"grown sharded recall@5 = $recall%.4f")
    assert(recall >= 0.7, s"recall $recall")
    // clash refusal against stored ids
    assert(intercept[IllegalArgumentException] {
      Sink.appendBqShardedIndex(spark, Seq(1L -> Seq.fill(40)(0.1)).toDF("id", "emb"),
        "id", "emb", s"$base/grown", s"$base/x1")
    }.getMessage.contains("already exists"))
  }

  test("IVF+BQ index round-trip: byte-identical restore, identical search results") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(47)
    val corpus = (0L until 300L).map(i => i -> Seq.fill(70)(rnd.nextGaussian()))
      .toDF("id", "emb") // 70 dims → 2 bit words/row
    val queries = (0L until 20L).map(i => i -> Seq.fill(70)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.quantizeIvfBq(
      Similarity.collectCorpus(corpus, "id", "emb"), nCells = 6)
    val out = tmpDir("sink-ivfbq")
    Sink.writeIvfBqIndex(spark, built, out)
    val loaded = graft.sources.Source.readIvfBqIndex(spark, out)
    assert(loaded.n == built.n && loaded.dim == built.dim &&
      loaded.nCells == built.nCells && loaded.nWords == built.nWords)
    assert(loaded.ids.sameElements(built.ids))
    assert(loaded.words.sameElements(built.words))
    assert(loaded.centroids.sameElements(built.centroids))
    assert(loaded.thresholds.sameElements(built.thresholds))
    assert(loaded.cellOf.sameElements(built.cellOf))
    assert(loaded.cellStart.sameElements(built.cellStart))
    assert(loaded.cellMembers.sameElements(built.cellMembers))
    assert(loaded.bitCut.sameElements(built.bitCut))
    assert(loaded.sq8.codes.sameElements(built.sq8.codes))
    assert(loaded.sq8.norms.sameElements(built.sq8.norms))
    def res(cx: Similarity.CorpusIndexIvfBq) =
      Similarity.topkIvfBq(queries, "emb", cx, k = 5, nProbe = 3, shortlist = 50)
        .selectExpr("qid", "inline(matches)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(loaded) == res(built))
    intercept[Exception] { Sink.writeIvfBqIndex(spark, built, out) }
    Sink.writeIvfBqIndex(spark, built, out, overwrite = true)
    assert(graft.sources.Source.readIvfBqIndex(spark, out).words.sameElements(built.words))
  }

  test("OPQ index round-trip: byte-identical restore, identical search results") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(43)
    val corpus = (0L until 300L).map(i => i -> Seq.fill(24)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val queries = (0L until 20L).map(i => i -> Seq.fill(24)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.collectCorpusOpq(corpus, "id", "emb", m = 6)
    val out = tmpDir("sink-opq")
    Sink.writeOpqIndex(spark, built, out)
    val loaded = graft.sources.Source.readOpqIndex(spark, out)
    assert(loaded.rot.sameElements(built.rot))
    assert(loaded.pq.ids.sameElements(built.pq.ids))
    assert(loaded.pq.codes.sameElements(built.pq.codes))
    assert(loaded.pq.codebooks.sameElements(built.pq.codebooks))
    assert(loaded.pq.sq8.map(_.codes.toSeq) == built.pq.sq8.map(_.codes.toSeq))
    def res(cx: Similarity.CorpusIndexOpq) =
      Similarity.topkOpq(queries, "emb", cx, k = 5, Metric.Cosine, shortlist = 50)
        .selectExpr("qid", "inline(matches)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(loaded) == res(built))
    // overwrite contract matches the other index sinks
    intercept[Exception] { Sink.writeOpqIndex(spark, built, out) }
    Sink.writeOpqIndex(spark, built, out, overwrite = true)
    assert(graft.sources.Source.readOpqIndex(spark, out).rot.sameElements(built.rot))
  }

  test("IVF+PQ index round-trip: byte-identical restore, identical search results") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 400L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val queries = (0L until 25L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.quantizeIvfPq(
      Similarity.collectCorpus(corpus, "id", "emb"), nCells = 8, m = 16)
    val out = tmpDir("sink-ivfpq")
    Sink.writeIvfPqIndex(spark, built, out)
    val loaded = graft.sources.Source.readIvfPqIndex(spark, out)
    assert(loaded.n == built.n && loaded.dim == built.dim
      && loaded.m == built.m && loaded.nCells == built.nCells)
    assert(loaded.ids.sameElements(built.ids))
    assert(loaded.codes.sameElements(built.codes))
    assert(loaded.centroids.sameElements(built.centroids))
    assert(loaded.codebooks.sameElements(built.codebooks))
    assert(loaded.cellOf.sameElements(built.cellOf))
    assert(loaded.cellStart.sameElements(built.cellStart))
    assert(loaded.cellMembers.sameElements(built.cellMembers))
    assert(loaded.sq8.get.codes.sameElements(built.sq8.get.codes))
    assert(loaded.sq8.get.dimMin.sameElements(built.sq8.get.dimMin))
    def res(ix: Similarity.CorpusIndexIvfPq) =
      Similarity.topkIvfPqFlat(queries, "emb", ix, k = 5, nProbe = 4, shortlist = 20)
        .select("qid", "rank", "index", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(res(loaded) == res(built))
  }

  test("sharded IVF+PQ index round-trip: every shard byte-identical, identical sharded search") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(47)
    val corpus = (0L until 600L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val queries = (0L until 25L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.buildIvfPqSharded(corpus, "id", "emb",
      numShards = 3, nCells = 4, m = 8)
    val out = tmpDir("sink-ivfpq-sharded")
    Sink.writeIvfPqShardedIndex(spark, built, out)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, out)
    assert(loaded.size == built.size)
    loaded.zip(built).foreach { case (l, b) =>
      assert(l.n == b.n && l.dim == b.dim && l.m == b.m && l.nCells == b.nCells)
      assert(l.ids.sameElements(b.ids) && l.codes.sameElements(b.codes))
      assert(l.centroids.sameElements(b.centroids))
      assert(l.codebooks.sameElements(b.codebooks))
      assert(l.cellOf.sameElements(b.cellOf))
      assert(l.cellStart.sameElements(b.cellStart))
      assert(l.cellMembers.sameElements(b.cellMembers))
      assert(l.sq8.get.codes.sameElements(b.sq8.get.codes))
    }
    def res(shards: Seq[Similarity.CorpusIndexIvfPq]) =
      Similarity.topkIvfPqSharded(queries, "emb", "qid", shards,
          k = 5, nProbe = 4, shortlist = 20)
        .select("qid", "rank", "index", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(res(loaded) == res(built))
    // all-or-nothing publish contract carries over: a second write
    // refuses without overwrite and the original stays fully readable
    intercept[Exception] { Sink.writeIvfPqShardedIndex(spark, built, out) }
    assert(graft.sources.Source.readIvfPqShardedIndex(spark, out).size == built.size)
    // a truncated copy (missing shard dir) fails with a named error,
    // not a silent partial corpus
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/shard_0002"), true)
    val e = intercept[Exception] {
      graft.sources.Source.readIvfPqShardedIndex(spark, out)
    }
    assert(e.getMessage != null)
  }

  test("DISTRIBUTED sharded IVF+PQ build: byte-identical to the collect-based build") {
    import spark.implicits._
    import graft.operators.Similarity
    // the 100 TB build path must produce EXACTLY the index the driver
    // build produces — same sample, same factored training loops, same
    // executor-side encode arithmetic — so the restored shards compare
    // byte for byte against buildIvfPqSharded's in-memory result
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 700L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val built = Similarity.buildIvfPqSharded(corpus, "id", "emb",
      numShards = 3, nCells = 4, m = 8)
    val out = tmpDir("sink-ivfpq-dist")
    Sink.writeIvfPqShardedIndexDistributed(spark, corpus, "id", "emb",
      numShards = 3, nCells = 4, m = 8, path = out)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, out)
    assert(loaded.size == built.size)
    loaded.zip(built).foreach { case (l, b) =>
      assert(l.n == b.n && l.dim == b.dim && l.m == b.m && l.nCells == b.nCells)
      assert(l.ids.sameElements(b.ids))
      assert(l.codes.sameElements(b.codes))
      assert(l.centroids.sameElements(b.centroids))
      assert(l.codebooks.sameElements(b.codebooks))
      assert(l.cellOf.sameElements(b.cellOf))
      assert(l.cellStart.sameElements(b.cellStart))
      assert(l.cellMembers.sameElements(b.cellMembers))
      assert(l.sq8.get.codes.sameElements(b.sq8.get.codes))
      assert(l.sq8.get.dimMin.sameElements(b.sq8.get.dimMin))
      assert(l.sq8.get.dimScale.sameElements(b.sq8.get.dimScale))
      assert(l.sq8.get.norms.sameElements(b.sq8.get.norms))
      assert(l.sq8.get.sqNorms.sameElements(b.sq8.get.sqNorms))
    }
    // identical index → identical sharded search, rank for rank
    val queries = (0L until 20L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    def res(shards: Seq[Similarity.CorpusIndexIvfPq]) =
      Similarity.topkIvfPqSharded(queries, "emb", "qid", shards,
          k = 5, nProbe = 4, shortlist = 20)
        .select("qid", "rank", "index", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(res(loaded) == res(built))
  }

  test("distributed build edges: f32 corpus parity, rerank-off, empty-corpus refusal") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(59)
    // f32 corpus: the executor-side f32→f64 widening must match
    // collectCorpus's element conversion
    val f32 = (0L until 400L).map(i => i -> Seq.fill(16)(rnd.nextGaussian().toFloat))
      .toDF("id", "emb")
    val built = Similarity.buildIvfPqSharded(f32, "id", "emb",
      numShards = 2, nCells = 4, m = 4)
    val out = tmpDir("sink-ivfpq-dist-f32")
    Sink.writeIvfPqShardedIndexDistributed(spark, f32, "id", "emb",
      numShards = 2, nCells = 4, m = 4, path = out)
    val loaded = graft.sources.Source.readIvfPqShardedIndex(spark, out)
    loaded.zip(built).foreach { case (l, b) =>
      assert(l.ids.sameElements(b.ids) && l.codes.sameElements(b.codes))
      assert(l.centroids.sameElements(b.centroids))
      assert(l.sq8.get.codes.sameElements(b.sq8.get.codes))
    }
    // withRerank=false: no SQ8 sidecar on either path
    val out2 = tmpDir("sink-ivfpq-dist-norr")
    Sink.writeIvfPqShardedIndexDistributed(spark, f32, "id", "emb",
      numShards = 2, nCells = 4, m = 4, path = out2, withRerank = false)
    val noRr = graft.sources.Source.readIvfPqShardedIndex(spark, out2)
    val builtNoRr = Similarity.buildIvfPqSharded(f32, "id", "emb",
      numShards = 2, nCells = 4, m = 4, withRerank = false)
    noRr.zip(builtNoRr).foreach { case (l, b) =>
      assert(l.sq8.isEmpty && b.sq8.isEmpty)
      assert(l.codes.sameElements(b.codes))
    }
    val e = intercept[IllegalArgumentException] {
      Sink.writeIvfPqShardedIndexDistributed(spark, f32.filter(lit(false)),
        "id", "emb", numShards = 2, nCells = 4, m = 4,
        path = tmpDir("sink-ivfpq-dist-empty"))
    }
    assert(e.getMessage.contains("Empty corpus"))
  }

  test("appendIvfPqShardedIndex: old rows byte-identical, new rows encode-only, grown corpus serves") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(61)
    def vecs(ids: Range) = ids.map(i => i.toLong -> Seq.fill(32)(rnd.nextGaussian()))
    val a = vecs(0 until 600)
    val b = vecs(600 until 900)
    val corpusA = a.toDF("id", "emb")
    val batchB = b.toDF("id", "emb")
    // base index via the COLLECT-based write — its meta has no k_pq
    // column, so this test also covers the min(256, n) fallback
    val outA = tmpDir("sink-ivfpq-app-base")
    Sink.writeIvfPqShardedIndex(spark,
      Similarity.buildIvfPqSharded(corpusA, "id", "emb",
        numShards = 3, nCells = 4, m = 8), outA)
    val outG = tmpDir("sink-ivfpq-app-grown")
    Sink.appendIvfPqShardedIndex(spark, batchB, "id", "emb", outA, outG)
    val orig = graft.sources.Source.readIvfPqShardedIndex(spark, outA)
    val grown = graft.sources.Source.readIvfPqShardedIndex(spark, outG)
    assert(grown.map(_.n).sum == 900)
    // the source index is untouched and the models did not move
    assert(orig.map(_.n).sum == 600)
    orig.zip(grown).foreach { case (o, g) =>
      assert(g.centroids.sameElements(o.centroids))
      assert(g.codebooks.sameElements(o.codebooks))
      assert(g.sq8.get.dimMin.sameElements(o.sq8.get.dimMin))
      assert(g.sq8.get.dimScale.sameElements(o.sq8.get.dimScale))
      // old pack prefix is byte-identical — append never re-encodes
      assert(g.ids.take(o.n).sameElements(o.ids))
      assert(g.codes.take(o.n * o.m).sameElements(o.codes))
      assert(g.cellOf.take(o.n).sameElements(o.cellOf))
      assert(g.sq8.get.codes.take(o.n * o.dim).sameElements(o.sq8.get.codes))
    }
    // every appended row's cell + code equals a driver-side re-encode
    // against the ORIGINAL model (same helpers, same arithmetic)
    val embOf = b.toMap
    orig.zip(grown).foreach { case (o, g) =>
      (o.n until g.n).foreach { j =>
        val id = g.ids(j)
        assert(id >= 600L, s"appended slot $j holds old id $id")
        val u = Sink.unitVec(embOf(id).toArray)
        val cell = Similarity.assignCell(u, 0, o.centroids, o.nCells, o.dim)
        assert(g.cellOf(j) == cell)
        val res = Array.tabulate(o.dim)(d => u(d) - o.centroids(cell * o.dim + d))
        val exp = new Array[Byte](o.m)
        Similarity.pqEncodeRow(res, 0, o.dim, o.m, o.dim / o.m,
          math.min(256, o.n), o.codebooks, exp, 0)
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(g.codes, j * o.m, (j + 1) * o.m), exp))
      }
    }
    // the grown index SERVES the appended rows: querying with exact
    // copies of B vectors must surface the B row itself at rank 1
    val qB = b.take(50).map { case (id, v) => (id + 100000L, v, id) }
      .toDF("qid", "emb", "want")
    val hits = Similarity.topkIvfPqSharded(
        qB.select("qid", "emb"), "emb", "qid", grown,
        k = 1, nProbe = 4, shortlist = 20)
      .join(qB.select(col("qid"), col("want")), "qid")
      .filter(col("index") === col("want")).count()
    assert(hits >= 45, s"only $hits/50 appended rows served at rank 1")
    // append onto the APPENDED index: exercises the k_pq meta column
    val c = vecs(900 until 1000)
    val outG2 = tmpDir("sink-ivfpq-app-grown2")
    Sink.appendIvfPqShardedIndex(spark, c.toDF("id", "emb"), "id", "emb", outG, outG2)
    val grown2 = graft.sources.Source.readIvfPqShardedIndex(spark, outG2)
    assert(grown2.map(_.n).sum == 1000)
    grown.zip(grown2).foreach { case (g, g2) =>
      assert(g2.codebooks.sameElements(g.codebooks))
      assert(g2.codes.take(g.n * g.m).sameElements(g.codes))
    }
    // id hygiene: a batch clashing with stored ids refuses, as does an
    // internally-duplicated batch and a ragged-dim batch
    val clash = intercept[IllegalArgumentException] {
      Sink.appendIvfPqShardedIndex(spark, Seq((5L, Seq.fill(32)(0.1))).toDF("id", "emb"),
        "id", "emb", outA, tmpDir("sink-ivfpq-app-clash"))
    }
    assert(clash.getMessage.contains("already exists"))
    val dup = intercept[IllegalArgumentException] {
      Sink.appendIvfPqShardedIndex(spark,
        Seq((2000L, Seq.fill(32)(0.1)), (2000L, Seq.fill(32)(0.2))).toDF("id", "emb"),
        "id", "emb", outA, tmpDir("sink-ivfpq-app-dup"))
    }
    assert(dup.getMessage.contains("duplicate id"))
    intercept[Exception] {
      Sink.appendIvfPqShardedIndex(spark, Seq((2000L, Seq.fill(16)(0.1))).toDF("id", "emb"),
        "id", "emb", outA, tmpDir("sink-ivfpq-app-dim"))
    }
  }

  test("tombstone deletes: masked serve == complement filter == compacted serve; append-after-delete; refusals") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 600L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val queries = (0L until 25L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.buildIvfPqSharded(corpus, "id", "emb",
      numShards = 3, nCells = 4, m = 8)
    val base = tmpDir("sink-ts-base")
    Sink.writeIvfPqShardedIndex(spark, built, base)
    val delIds = (0L until 600L).filter(_ % 5 == 0)
    val deleted = tmpDir("sink-ts-del")
    Sink.deleteFromIvfPqShardedIndex(spark, delIds.toDF("id"), "id", base, deleted)
    // the plain reader refuses a tombstoned index by name
    val eTs = intercept[IllegalArgumentException] {
      graft.sources.Source.readIvfPqShardedIndex(spark, deleted)
    }
    assert(eTs.getMessage.contains("tombstoned"))
    val (shards, ts) =
      graft.sources.Source.readIvfPqShardedIndexWithTombstones(spark, deleted)
    assert(ts.sorted.toSeq == delIds)
    // shard bytes untouched by the delete (metadata-only operation)
    shards.zip(built).foreach { case (l, b) =>
      assert(l.ids.sameElements(b.ids) && l.codes.sameElements(b.codes))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "index", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val served = rows(Similarity.topkIvfPqShardedTombstoned(queries, "emb",
      "qid", shards, ts, 8, nProbe = 4, shortlist = 30))
    assert(served.nonEmpty && served.forall(_._3 % 5 != 0),
      "tombstoned serve returned a deleted id")
    // deny mask == complement allow mask, bit for bit
    val complement = (0L until 600L).filter(_ % 5 != 0).toArray
    assert(served == rows(Similarity.topkIvfPqShardedFiltered(queries, "emb",
      "qid", shards, complement, 8, nProbe = 4, shortlist = 30)))
    // compaction: plain reader works again, live population only,
    // serve is bit-identical to the masked serve (same geometry)
    val compacted = tmpDir("sink-ts-comp")
    Sink.compactIvfPqShardedIndex(spark, deleted, compacted)
    val cShards = graft.sources.Source.readIvfPqShardedIndex(spark, compacted)
    assert(cShards.map(_.n).sum == 480)
    assert(cShards.flatMap(_.ids).forall(_ % 5 != 0))
    assert(served == rows(Similarity.topkIvfPqSharded(queries, "emb", "qid",
      cShards, 8, nProbe = 4, shortlist = 30)))
    // append AFTER delete: tombstones carry forward, new rows serve,
    // deleted rows stay masked
    val extra = (1000L until 1050L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val appended = tmpDir("sink-ts-app")
    Sink.appendIvfPqShardedIndex(spark, extra, "id", "emb", deleted, appended)
    val (aShards, aTs) =
      graft.sources.Source.readIvfPqShardedIndexWithTombstones(spark, appended)
    assert(aTs.length == delIds.size)
    assert(aShards.map(_.n.toLong).sum == 650L)
    val aServed = rows(Similarity.topkIvfPqShardedTombstoned(queries, "emb",
      "qid", aShards, aTs, 650, nProbe = 4))
    val delSet = delIds.toSet
    assert(aServed.forall(r => !delSet.contains(r._3)),
      "append-after-delete served a tombstoned id")
    assert(aServed.exists(_._3 >= 1000L), "appended rows not served")
    // re-adding a tombstoned id refuses (compact first to free the id)
    intercept[IllegalArgumentException] {
      Sink.appendIvfPqShardedIndex(spark,
        Seq((0L, Seq.fill(32)(0.1))).toDF("id", "emb"),
        "id", "emb", deleted, tmpDir("sink-ts-readd"))
    }
    // double delete refuses
    val eDbl = intercept[IllegalArgumentException] {
      Sink.deleteFromIvfPqShardedIndex(spark, Seq(0L, 10L).toDF("id"), "id",
        deleted, tmpDir("sink-ts-dbl"))
    }
    assert(eDbl.getMessage.contains("already"))
    // unknown id refuses; empty delete set refuses
    intercept[IllegalArgumentException] {
      Sink.deleteFromIvfPqShardedIndex(spark, Seq(99999L).toDF("id"), "id",
        base, tmpDir("sink-ts-unk"))
    }
    intercept[IllegalArgumentException] {
      Sink.deleteFromIvfPqShardedIndex(spark,
        Seq.empty[Long].toDF("id"), "id", base, tmpDir("sink-ts-empty"))
    }
    // compacting a tombstone-free index refuses (nothing to compact)
    intercept[IllegalArgumentException] {
      Sink.compactIvfPqShardedIndex(spark, base, tmpDir("sink-ts-nocomp"))
    }
  }

  test("distributed build → append parity: byte-identical to collect build → append") {
    // round-10 verdict #5: the two build paths were pinned equal, and
    // append-on-append was pinned, but distributed-build-THEN-append
    // had no parity proof. Appending the same batch onto both bases
    // must yield the same grown index byte for byte — the append is
    // encode-only against meta the two builds wrote identically.
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(67)
    // INTERLEAVED ids (evens base, odds appended) so the grown packs
    // also exercise the reader's id-sort canonicalization
    val all = (0L until 900L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
    val base = all.filter(_._1 % 2 == 0).toDF("id", "emb")
    val batch = all.filter(_._1 % 2 == 1).toDF("id", "emb")
    val outDist = tmpDir("sink-ivfpq-dab-dist")
    Sink.writeIvfPqShardedIndexDistributed(spark, base, "id", "emb",
      numShards = 3, nCells = 4, m = 8, path = outDist)
    val outColl = tmpDir("sink-ivfpq-dab-coll")
    Sink.writeIvfPqShardedIndex(spark,
      Similarity.buildIvfPqSharded(base, "id", "emb",
        numShards = 3, nCells = 4, m = 8), outColl)
    val grownDist = tmpDir("sink-ivfpq-dab-dist-g")
    val grownColl = tmpDir("sink-ivfpq-dab-coll-g")
    Sink.appendIvfPqShardedIndex(spark, batch, "id", "emb", outDist, grownDist)
    Sink.appendIvfPqShardedIndex(spark, batch, "id", "emb", outColl, grownColl)
    val d = graft.sources.Source.readIvfPqShardedIndex(spark, grownDist)
    val c = graft.sources.Source.readIvfPqShardedIndex(spark, grownColl)
    assert(d.size == c.size && d.map(_.n).sum == 900)
    d.zip(c).foreach { case (a, b) =>
      assert(a.n == b.n && a.dim == b.dim && a.m == b.m && a.nCells == b.nCells)
      assert(a.ids.sameElements(b.ids))
      assert(a.codes.sameElements(b.codes))
      assert(a.centroids.sameElements(b.centroids))
      assert(a.codebooks.sameElements(b.codebooks))
      assert(a.cellOf.sameElements(b.cellOf))
      assert(a.cellStart.sameElements(b.cellStart))
      assert(a.cellMembers.sameElements(b.cellMembers))
      assert(a.sq8.get.codes.sameElements(b.sq8.get.codes))
      assert(a.sq8.get.norms.sameElements(b.sq8.get.norms))
    }
  }

  test("grown index restores id-SORTED: binary-search consumers stay correct after append") {
    // round-10 ADVICE: an appended shard's on-disk pack is a sorted
    // old block + a sorted new block; the reader canonicalizes to one
    // id-ascending order, so Sq8Score.cosineAt's binarySearch (and
    // the pairs kernel's) keep the sorted-ids invariant they rely on
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(71)
    val all = (0L until 600L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
    val embOf = all.toMap
    val base = all.filter(_._1 % 2 == 0).toDF("id", "emb")
    val batch = all.filter(_._1 % 2 == 1).toDF("id", "emb")
    val out = tmpDir("sink-ivfpq-sorted")
    Sink.writeIvfPqShardedIndexDistributed(spark, base, "id", "emb",
      numShards = 2, nCells = 4, m = 8, path = out)
    val grownPath = tmpDir("sink-ivfpq-sorted-g")
    Sink.appendIvfPqShardedIndex(spark, batch, "id", "emb", out, grownPath)
    val grown = graft.sources.Source.readIvfPqShardedIndex(spark, grownPath)
    grown.foreach { g =>
      (1 until g.n).foreach(j => assert(g.ids(j - 1) < g.ids(j),
        s"unsorted ids at $j: ${g.ids(j - 1)} !< ${g.ids(j)}"))
      // binarySearch finds every row, odd (appended) ids included,
      // and the slot's content matches a driver re-encode
      Seq(g.ids.head, g.ids(g.n / 2), g.ids.last).foreach { id =>
        val j = java.util.Arrays.binarySearch(g.ids, id)
        assert(j >= 0, s"binarySearch lost id $id")
        val u = Sink.unitVec(embOf(id).toArray)
        val cell = Similarity.assignCell(u, 0, g.centroids, g.nCells, g.dim)
        assert(g.cellOf(j) == cell, s"id $id at slot $j: wrong cell")
      }
      // the sq8 sidecar shares the sorted ids array — the point
      // lookup contract Sq8Score.cosineAt binary-searches against
      assert(g.sq8.get.ids.sameElements(g.ids))
    }
  }

  test("append routes with the BUILD's hash modulus after empty-shard compaction") {
    // round-10 ADVICE: a small build can drop empty hash shards; the
    // manifest now persists the original modulus + each directory's
    // raw hash value, so appended ids land under the same split the
    // build used, not a re-derived one over the compacted count
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(73)
    val ids = (0L until 14L)
    val base = ids.map(i => i -> Seq.fill(16)(rnd.nextGaussian())).toDF("id", "emb")
    val out = tmpDir("sink-ivfpq-modulus")
    // 14 ids over 16 hash shards: some hash shard is guaranteed empty
    Sink.writeIvfPqShardedIndexDistributed(spark, base, "id", "emb",
      numShards = 16, nCells = 1, m = 4, path = out)
    val manifest = spark.read.parquet(s"$out/manifest").head()
    val nDirs = manifest.getAs[Int]("num_shards")
    val modulus = manifest.getAs[Int]("hash_modulus")
    val hashVals = manifest.getSeq[Long](manifest.fieldIndex("shard_hash_vals"))
    assert(modulus == 16)
    assert(nDirs < 16 && hashVals.size == nDirs)
    // append ids and verify each landed in the directory owning its
    // ORIGINAL hash value (fallback dirs only for built-empty hashes)
    val newIds = (100L until 140L)
    val batch = newIds.map(i => i -> Seq.fill(16)(rnd.nextGaussian())).toDF("id", "emb")
    val grownPath = tmpDir("sink-ivfpq-modulus-g")
    Sink.appendIvfPqShardedIndex(spark, batch, "id", "emb", out, grownPath)
    val grown = graft.sources.Source.readIvfPqShardedIndex(spark, grownPath)
    val hashOf = newIds.toDF("id")
      .select(col("id"), pmod(xxhash64(col("id").cast("long")), lit(16)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dirOfHash = hashVals.zipWithIndex.toMap
    newIds.foreach { id =>
      val expectedDir = dirOfHash.getOrElse(hashOf(id), (hashOf(id) % nDirs).toInt)
      assert(grown(expectedDir).ids.contains(id),
        s"id $id (hash ${hashOf(id)}) missing from dir $expectedDir")
    }
    // rows whose hash value HAS a build directory must be in exactly
    // that directory — the original split, reproduced
    val reproduced = newIds.count(id => dirOfHash.contains(hashOf(id)))
    assert(reproduced > 0, "degenerate test: no appended id hit a built shard")
  }

  test("COLLECT build persists its true routing identity after compaction (layout overload)") {
    // round-11 ADVICE (medium): buildIvfPqSharded drops empty hash
    // shards, so persisting its bare shard list recorded a confidently
    // wrong identity layout (modulus = compacted count). The
    // ShardedIvfPqBuild overload carries the build's real modulus +
    // surviving hash values — the manifest must match the distributed
    // builder's for the same corpus, and appends must route the same.
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(83)
    val base = (0L until 14L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
      .toDF("id", "emb")
    // 14 ids over 16 hash shards: some hash shard is guaranteed empty
    val build = Similarity.buildIvfPqShardedWithLayout(base, "id", "emb",
      numShards = 16, nCells = 1, m = 4)
    assert(build.hashModulus == 16)
    assert(build.shards.size < 16, "degenerate test: no shard compacted")
    assert(build.shardHashVals.size == build.shards.size)
    // surviving hash values are exactly the occupied pmod values
    val occupied = base
      .select(pmod(xxhash64(col("id").cast("long")), lit(16)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(build.shardHashVals == occupied)
    val outColl = tmpDir("sink-ivfpq-coll-layout")
    Sink.writeIvfPqShardedIndex(spark, build, outColl, overwrite = false)
    val outDist = tmpDir("sink-ivfpq-coll-layout-dist")
    Sink.writeIvfPqShardedIndexDistributed(spark, base, "id", "emb",
      numShards = 16, nCells = 1, m = 4, path = outDist)
    val mColl = spark.read.parquet(s"$outColl/manifest").head()
    val mDist = spark.read.parquet(s"$outDist/manifest").head()
    assert(mColl.getAs[Int]("hash_modulus") == mDist.getAs[Int]("hash_modulus"))
    assert(mColl.getSeq[Long](mColl.fieldIndex("shard_hash_vals"))
      == mDist.getSeq[Long](mDist.fieldIndex("shard_hash_vals")))
    // appends to the two persists land identically — the 'same split
    // as build' property the manifest fields exist to guarantee
    val batch = (100L until 140L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val gColl = tmpDir("sink-ivfpq-coll-layout-g")
    val gDist = tmpDir("sink-ivfpq-coll-layout-dist-g")
    Sink.appendIvfPqShardedIndex(spark, batch, "id", "emb", outColl, gColl)
    Sink.appendIvfPqShardedIndex(spark, batch, "id", "emb", outDist, gDist)
    val a = graft.sources.Source.readIvfPqShardedIndex(spark, gColl)
    val b = graft.sources.Source.readIvfPqShardedIndex(spark, gDist)
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(x.ids.sameElements(y.ids)) }
  }

  test("distributed build + append refuse non-float embedding columns and duplicate ids") {
    import spark.implicits._
    val ints = (0L until 300L).map(i => i -> Seq.fill(8)(1)).toDF("id", "emb")
    val eInt = intercept[IllegalArgumentException] {
      Sink.writeIvfPqShardedIndexDistributed(spark, ints, "id", "emb",
        numShards = 2, nCells = 2, m = 2, path = tmpDir("sink-dist-int"))
    }
    assert(eInt.getMessage.contains("array<float>/array<double>"))
    val rnd = new scala.util.Random(79)
    val dups = ((0L until 300L) ++ Seq(5L))
      .map(i => i -> Seq.fill(8)(rnd.nextGaussian())).toDF("id", "emb")
    val eDup = intercept[IllegalArgumentException] {
      Sink.writeIvfPqShardedIndexDistributed(spark, dups, "id", "emb",
        numShards = 2, nCells = 2, m = 2, path = tmpDir("sink-dist-dup"))
    }
    assert(eDup.getMessage.contains("duplicate id"))
    // append inherits the dtype contract
    val ok = (0L until 300L).map(i => i -> Seq.fill(8)(rnd.nextGaussian())).toDF("id", "emb")
    val out = tmpDir("sink-dist-dtype-base")
    Sink.writeIvfPqShardedIndexDistributed(spark, ok, "id", "emb",
      numShards = 2, nCells = 2, m = 2, path = out)
    val eApp = intercept[IllegalArgumentException] {
      Sink.appendIvfPqShardedIndex(spark,
        Seq((999L, Seq.fill(8)(1))).toDF("id", "emb"),
        "id", "emb", out, tmpDir("sink-dist-dtype-app"))
    }
    assert(eApp.getMessage.contains("array<float>/array<double>"))
  }

  test("flat PQ index round-trip: byte-identical restore, identical search results") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(43)
    val corpus = (0L until 400L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val queries = (0L until 25L).map(i => i -> Seq.fill(32)(rnd.nextGaussian()))
      .toDF("qid", "emb")
    val built = Similarity.quantizePq(
      Similarity.collectCorpus(corpus, "id", "emb"), m = 16)
    val out = tmpDir("sink-pq")
    Sink.writePqIndex(spark, built, out)
    val loaded = graft.sources.Source.readPqIndex(spark, out)
    assert(loaded.n == built.n && loaded.dim == built.dim && loaded.m == built.m)
    assert(loaded.ids.sameElements(built.ids))
    assert(loaded.codes.sameElements(built.codes))
    assert(loaded.codebooks.sameElements(built.codebooks))
    assert(loaded.norms.sameElements(built.norms))
    assert(loaded.sqNorms.sameElements(built.sqNorms))
    assert(loaded.sq8.get.codes.sameElements(built.sq8.get.codes))
    assert(loaded.sq8.get.dimMin.sameElements(built.sq8.get.dimMin))
    assert(loaded.sq8.get.dimScale.sameElements(built.sq8.get.dimScale))
    def res(px: Similarity.CorpusIndexPq) =
      Similarity.topkPqFlat(queries, "emb", px, 5, Metric.Cosine, shortlist = 20)
        .select("qid", "rank", "index", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(res(loaded) == res(built))
    // the no-rerank envelope (sq8 = None) must round-trip its absent
    // sidecar as absent, not as empty arrays
    val lean = built.copy(sq8 = None)
    val outLean = tmpDir("sink-pq-lean")
    Sink.writePqIndex(spark, lean, outLean)
    val backLean = graft.sources.Source.readPqIndex(spark, outLean)
    assert(backLean.sq8.isEmpty)
    assert(backLean.codes.sameElements(lean.codes))
  }

  test("appendSq8Index: encode-only ingest on the frozen grid, old bytes untouched, refusals") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(61)
    val all = (0L until 300L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0)
    val odds = all.filter(_._1 % 2 != 0)
    val base = Files.createTempDirectory("sink-sq8-append").toString
    val built = Similarity.collectCorpusSq8(evens.toDF("id", "emb"), "id", "emb")
    Sink.writeSq8Index(spark, built, s"$base/ix")
    Sink.appendSq8Index(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/ix", s"$base/grown")
    val grown = graft.sources.Source.readSq8Index(spark, s"$base/grown")
    assert(grown.n == built.n + odds.size)
    // the grid is frozen — an append must never move the bounds
    assert(grown.dimMin.sameElements(built.dimMin))
    assert(grown.dimScale.sameElements(built.dimScale))
    // the grown index restores id-ascending; old rows byte-identical,
    // found by id
    assert(grown.ids.toSeq == all.map(_._1).sorted)
    for (j <- 0 until built.n) {
      val g = posOf(grown.ids, built.ids(j))
      for (d <- 0 until built.dim)
        assert(grown.codes(g * grown.dim + d) == built.codes(j * built.dim + d))
      assert(grown.norms(g) == built.norms(j))
      assert(grown.sqNorms(g) == built.sqNorms(j))
    }
    // new rows: codes + dequantized norms = the driver quantizer
    // against the FROZEN grid, exactly
    val oddVecs = odds.toMap
    for (id <- odds.map(_._1); j = posOf(grown.ids, id)) {
      val v = oddVecs(id).toArray
      val expect = new Array[Byte](grown.dim)
      val sq = Similarity.sq8EncodeRow(v, 0, grown.dim,
        grown.dimMin, grown.dimScale, expect, 0)
      for (d <- 0 until grown.dim)
        assert(grown.codes(j * grown.dim + d) == expect(d), s"row $j dim $d")
      assert(grown.sqNorms(j) == sq)
      assert(grown.norms(j) == math.sqrt(sq))
    }
    // the grown index serves the whole corpus (grid trained on half —
    // clamped outliers degrade gracefully)
    val q = all.toDF("qid", "emb")
    val cxAll = Similarity.collectCorpus(all.toDF("id", "emb"), "id", "emb")
    val exact = Similarity.topkFlat(q, "emb", cxAll, 5, Metric.Cosine)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val got = Similarity.topkSq8Flat(q, "emb", grown, 5, Metric.Cosine)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"grown-index recall@5 = $recall%.4f")
    assert(recall >= 0.8, s"recall $recall")
    // refusals: dup within batch, clash with stored, dim mismatch
    val dup = Seq(1000L -> Seq.fill(40)(0.1), 1000L -> Seq.fill(40)(0.2))
      .toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendSq8Index(spark, dup, "id", "emb", s"$base/grown", s"$base/x1")
    }.getMessage.contains("duplicate id"))
    val clash = Seq(1L -> Seq.fill(40)(0.1)).toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendSq8Index(spark, clash, "id", "emb", s"$base/grown", s"$base/x2")
    }.getMessage.contains("already exists"))
    val ragged = Seq(2000L -> Seq.fill(8)(0.1)).toDF("id", "emb")
    val e = intercept[Exception] {
      Sink.appendSq8Index(spark, ragged, "id", "emb", s"$base/grown", s"$base/x3")
    }
    assert((e.getMessage != null && e.getMessage.contains("Dimension mismatch")) ||
      (e.getCause != null && e.getCause.getMessage.contains("Dimension mismatch")))
  }

  test("appendPqIndex: frozen codebooks, effective k persists across appends, sidecar parity") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(67)
    val all = (0L until 300L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0) // 150 rows → trained k = 150 < 256
    val odds = all.filter(_._1 % 2 != 0)
    val base = Files.createTempDirectory("sink-pq-append").toString
    val built = Similarity.collectCorpusPq(evens.toDF("id", "emb"), "id", "emb", m = 8)
    Sink.writePqIndex(spark, built, s"$base/ix")
    Sink.appendPqIndex(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/ix", s"$base/grown")
    val grown = graft.sources.Source.readPqIndex(spark, s"$base/grown")
    assert(grown.n == built.n + odds.size)
    assert(grown.codebooks.sameElements(built.codebooks))
    assert(grown.sq8.get.dimMin.sameElements(built.sq8.get.dimMin))
    assert(grown.sq8.get.dimScale.sameElements(built.sq8.get.dimScale))
    // old rows byte-identical (PQ codes, f32 norms, SQ8 sidecar),
    // found by id in the id-ascending restore
    assert(grown.ids.toSeq == all.map(_._1).sorted)
    for (j <- 0 until built.n) {
      val g = posOf(grown.ids, built.ids(j))
      for (s <- 0 until built.m)
        assert(grown.codes(g * grown.m + s) == built.codes(j * built.m + s))
      assert(grown.norms(g) == built.norms(j))
      assert(grown.sqNorms(g) == built.sqNorms(j))
      for (d <- 0 until built.dim)
        assert(grown.sq8.get.codes(g * grown.dim + d) ==
          built.sq8.get.codes(j * built.dim + d))
      assert(grown.sq8.get.norms(g) == built.sq8.get.norms(j))
    }
    // the build trained k = min(256, 150) = 150 centroids; the grown
    // meta's n is 300, so k is only recoverable because the append
    // persisted it — assert the trailing pq_k column directly
    val metaK = spark.read.parquet(s"$base/grown/meta")
      .select("pq_k").head().getInt(0)
    assert(metaK == math.min(256, built.n), s"pq_k $metaK")
    // new rows: nearest TRAINED centroid per subspace (k=150 — a
    // 256-slot scan would hit untrained zero centroids), norms from
    // the raw row (f32), sidecar codes from the frozen grid
    val oddVecs = odds.toMap
    val sub = grown.dim / grown.m
    for (id <- odds.map(_._1); j = posOf(grown.ids, id)) {
      val v = oddVecs(id).toArray
      val expect = new Array[Byte](grown.m)
      Similarity.pqEncodeRow(v, 0, grown.dim, grown.m, sub,
        math.min(256, built.n), grown.codebooks, expect, 0)
      for (s <- 0 until grown.m)
        assert(grown.codes(j * grown.m + s) == expect(s), s"row $j sub $s")
      var sq = 0.0
      for (d <- 0 until grown.dim) sq += v(d) * v(d)
      assert(grown.sqNorms(j) == sq.toFloat)
      assert(grown.norms(j) == math.sqrt(sq).toFloat)
      val exp8 = new Array[Byte](grown.dim)
      val sq8 = Similarity.sq8EncodeRow(v, 0, grown.dim,
        grown.sq8.get.dimMin, grown.sq8.get.dimScale, exp8, 0)
      for (d <- 0 until grown.dim)
        assert(grown.sq8.get.codes(j * grown.dim + d) == exp8(d), s"row $j dim $d")
      assert(grown.sq8.get.sqNorms(j) == sq8)
    }
    // a SECOND append must read pq_k back (min(256, grown 300) = 256
    // would be wrong) and encode with the build's 150
    val extra = (1000L until 1010L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    Sink.appendPqIndex(spark, extra.toDF("id", "emb"), "id", "emb",
      s"$base/grown", s"$base/grown2")
    val grown2 = graft.sources.Source.readPqIndex(spark, s"$base/grown2")
    assert(spark.read.parquet(s"$base/grown2/meta")
      .select("pq_k").head().getInt(0) == math.min(256, built.n))
    val extraVecs = extra.toMap
    for (id <- extra.map(_._1); j = posOf(grown2.ids, id)) {
      val v = extraVecs(id).toArray
      val expect = new Array[Byte](grown2.m)
      Similarity.pqEncodeRow(v, 0, grown2.dim, grown2.m, sub,
        math.min(256, built.n), grown2.codebooks, expect, 0)
      for (s <- 0 until grown2.m)
        assert(grown2.codes(j * grown2.m + s) == expect(s), s"row $j sub $s")
    }
    // the grown index serves the whole corpus through the rerank path
    val q = all.toDF("qid", "emb")
    val cxAll = Similarity.collectCorpus(all.toDF("id", "emb"), "id", "emb")
    val exact = Similarity.topkFlat(q, "emb", cxAll, 5, Metric.Cosine)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val got = Similarity.topkPqFlat(q, "emb", grown, 5, Metric.Cosine,
        shortlist = 100)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"grown-index recall@5 = $recall%.4f")
    assert(recall >= 0.7, s"recall $recall")
    // a lean (no-rerank) index appends with the sidecar staying absent
    val lean = built.copy(sq8 = None)
    Sink.writePqIndex(spark, lean, s"$base/lean")
    Sink.appendPqIndex(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/lean", s"$base/lean-grown")
    val leanGrown = graft.sources.Source.readPqIndex(spark, s"$base/lean-grown")
    assert(leanGrown.sq8.isEmpty && leanGrown.n == built.n + odds.size)
    // refusals: dup within batch, clash with stored
    val dup = Seq(5000L -> Seq.fill(40)(0.1), 5000L -> Seq.fill(40)(0.2))
      .toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendPqIndex(spark, dup, "id", "emb", s"$base/grown", s"$base/x1")
    }.getMessage.contains("duplicate id"))
    val clash = Seq(1L -> Seq.fill(40)(0.1)).toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendPqIndex(spark, clash, "id", "emb", s"$base/grown", s"$base/x2")
    }.getMessage.contains("already exists"))
  }

  test("appendOpqIndex: frozen rotation applied before the frozen codebooks, byte parity") {
    import spark.implicits._
    import graft.operators.{Metric, Similarity}
    val rnd = new scala.util.Random(71)
    val all = (0L until 300L).map(i => i -> Seq.fill(40)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0)
    val odds = all.filter(_._1 % 2 != 0)
    val base = Files.createTempDirectory("sink-opq-append").toString
    val built = Similarity.collectCorpusOpq(evens.toDF("id", "emb"), "id", "emb", m = 8)
    Sink.writeOpqIndex(spark, built, s"$base/ix")
    Sink.appendOpqIndex(spark, odds.toDF("id", "emb"), "id", "emb",
      s"$base/ix", s"$base/grown")
    val grown = graft.sources.Source.readOpqIndex(spark, s"$base/grown")
    assert(grown.n == built.n + odds.size)
    // the learned rotation is frozen and copied through byte-for-byte
    assert(grown.rot.sameElements(built.rot))
    assert(grown.pq.codebooks.sameElements(built.pq.codebooks))
    // old rows of the wrapped PQ payload byte-identical, found by id
    // in the id-ascending restore
    assert(grown.pq.ids.toSeq == all.map(_._1).sorted)
    for (j <- 0 until built.n) {
      val g = posOf(grown.pq.ids, built.pq.ids(j))
      for (s <- 0 until built.pq.m)
        assert(grown.pq.codes(g * grown.pq.m + s) == built.pq.codes(j * built.pq.m + s))
      assert(grown.pq.norms(g) == built.pq.norms(j))
      for (d <- 0 until built.dim)
        assert(grown.pq.sq8.get.codes(g * grown.dim + d) ==
          built.pq.sq8.get.codes(j * built.dim + d))
    }
    // new rows: ROTATE first (the build quantizes rotated data), then
    // the PQ append arithmetic — codes, f32 norms, and sidecar all in
    // rotated space
    val oddVecs = odds.toMap
    val sub = grown.dim / grown.pq.m
    val k = math.min(256, built.n)
    for (id <- odds.map(_._1); j = posOf(grown.pq.ids, id)) {
      val raw = oddVecs(id).toArray
      val v = new Array[Double](grown.dim)
      Similarity.rotateRow(grown.rot, raw, 0, grown.dim, v, 0)
      val expect = new Array[Byte](grown.pq.m)
      Similarity.pqEncodeRow(v, 0, grown.dim, grown.pq.m, sub, k,
        grown.pq.codebooks, expect, 0)
      for (s <- 0 until grown.pq.m)
        assert(grown.pq.codes(j * grown.pq.m + s) == expect(s), s"row $j sub $s")
      var sq = 0.0
      for (d <- 0 until grown.dim) sq += v(d) * v(d)
      assert(grown.pq.sqNorms(j) == sq.toFloat)
      val exp8 = new Array[Byte](grown.dim)
      Similarity.sq8EncodeRow(v, 0, grown.dim,
        grown.pq.sq8.get.dimMin, grown.pq.sq8.get.dimScale, exp8, 0)
      for (d <- 0 until grown.dim)
        assert(grown.pq.sq8.get.codes(j * grown.dim + d) == exp8(d), s"row $j dim $d")
    }
    // the grown index serves the whole corpus
    val q = all.toDF("qid", "emb")
    val cxAll = Similarity.collectCorpus(all.toDF("id", "emb"), "id", "emb")
    val exact = Similarity.topkFlat(q, "emb", cxAll, 5, Metric.Cosine)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val got = Similarity.topkOpqFlat(q, "emb", grown, 5, Metric.Cosine,
        shortlist = 100)
      .select("qid", "index").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"grown-index recall@5 = $recall%.4f")
    assert(recall >= 0.7, s"recall $recall")
    // refusal: clash against the wrapped payload's stored ids
    val clash = Seq(1L -> Seq.fill(40)(0.1)).toDF("id", "emb")
    assert(intercept[IllegalArgumentException] {
      Sink.appendOpqIndex(spark, clash, "id", "emb", s"$base/grown", s"$base/x1")
    }.getMessage.contains("already exists"))
  }

  test("writeZOrdered: a two-dimensional box filter touches fewer files than natural order") {
    import org.apache.spark.sql.functions._
    // 256×256 grid of (a, b) points, 64 files each layout. The range's
    // slice count is PINNED: suites share one getOrCreate session, so
    // defaultParallelism is whichever suite's master won the race
    // (local[2] vs local[4]) — and repartitionByRange's sampled
    // boundaries, hence the file layout this test asserts on, depend
    // on the input partitioning.
    val grid = spark.range(0L, 256L * 256, 1L, 4)
      .select((col("id") % 256).as("a"),
        floor(col("id") / 256).cast("long").as("b"))
    val zOut = tmpDir("sink-zorder")
    Sink.writeZOrdered(grid, zOut, "a", "b", numFiles = 64)
    val natOut = tmpDir("sink-natural")
    // natural layout: row-major order (sorted by a then b)
    grid.repartitionByRange(64, col("a"), col("b"))
      .sortWithinPartitions("a", "b").write.parquet(natOut)
    // TILE-ALIGNED 32×32 box ([96,127]²): its z-range is one
    // contiguous 4096-value block (the zValue tile-contiguity
    // property), so it spans ⌈4096/1024⌉ ≈ 4-5 z-files regardless of
    // where the range-exchange's sampled boundaries land — those
    // boundaries jitter with the shared test JVM's RDD-id counter
    // (RangePartitioner seeds its reservoir with rdd.id), which made
    // an unaligned box read 4–8 files depending on suite order.
    // Row-major order smears the same box across all 8 a-stripe files
    // deterministically.
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("a").between(96, 127) && col("b").between(96, 127))
        .select(input_file_name()).distinct().count()
    val (zf, nf) = (filesTouched(zOut), filesTouched(natOut))
    assert(zf < nf, s"z-order should touch fewer files: z=$zf natural=$nf")
    assert(zf <= 6, s"aligned box should land in few z files, got $zf")
    // both layouts return the identical rows
    val zRows = spark.read.parquet(zOut)
      .filter(col("a").between(96, 127) && col("b").between(96, 127)).count()
    assert(zRows == 32L * 32)
  }

  test("sharded appends refuse a null id, embedding or element by name, for every family") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(97)
    val corpus = (0L until 200L).map(i => i -> Seq.fill(8)(rnd.nextGaussian()))
      .toDF("id", "emb")
    val schema = StructType(Seq(StructField("id", LongType, nullable = true),
      StructField("emb", ArrayType(DoubleType, containsNull = true), nullable = true)))
    def batch(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val ok: Seq[Any] = Seq.fill(8)(0.25)
    val cases = Seq(
      "Null id: append batch column id has a null" ->
        batch(Row(500L, ok), Row(null, ok)),
      "Null embedding: corpus row id=501 has a null emb" ->
        batch(Row(500L, ok), Row(501L, null)),
      "Null element: corpus row id=502 has a null at emb[3]" ->
        batch(Row(502L, ok.updated(3, null))))
    ShardedFamilies.all(spark).foreach { f =>
      val base = Files.createTempDirectory(s"sink-null-${f.name}").toString
      f.write(corpus, s"$base/ix")
      cases.zipWithIndex.foreach { case ((expected, df), j) =>
        val e = intercept[Exception](f.append(df, s"$base/ix", s"$base/out$j", false))
        assert(ShardedFamilies.messages(e).contains(expected),
          s"${f.name}: ${ShardedFamilies.messages(e)}")
      }
    }
  }

  test("appended SQ8, BQ, PQ, OPQ and sharded BQ packs restore id-ascending: cosineAt finds every id") {
    // an appended pack is a sorted old block then a sorted new block;
    // Sq8Score.cosineAt (the rerankFullDim scorer) binary-searches ids,
    // so every reader must restore one id-ascending order
    import spark.implicits._
    import graft.operators.Similarity
    import graft.sources.Source
    val rnd = new scala.util.Random(83)
    val all = (0L until 300L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
    val evens = all.filter(_._1 % 2 == 0).toDF("id", "emb")
    val odds = all.filter(_._1 % 2 != 0).toDF("id", "emb")
    val base = Files.createTempDirectory("sink-sorted-restore").toString
    Sink.writeSq8Index(spark, Similarity.collectCorpusSq8(evens, "id", "emb"), s"$base/sq8")
    Sink.appendSq8Index(spark, odds, "id", "emb", s"$base/sq8", s"$base/sq8g")
    Sink.writeBqIndex(spark, Similarity.collectCorpusBq(evens, "id", "emb"), s"$base/bq")
    Sink.appendBqIndex(spark, odds, "id", "emb", s"$base/bq", s"$base/bqg")
    Sink.writePqIndex(spark, Similarity.collectCorpusPq(evens, "id", "emb", 4), s"$base/pq")
    Sink.appendPqIndex(spark, odds, "id", "emb", s"$base/pq", s"$base/pqg")
    Sink.writeOpqIndex(spark, Similarity.collectCorpusOpq(evens, "id", "emb", 4), s"$base/opq")
    Sink.appendOpqIndex(spark, odds, "id", "emb", s"$base/opq", s"$base/opqg")
    Sink.writeBqShardedIndex(spark, Similarity.buildBqShardedWithLayout(evens, "id", "emb", 3),
      s"$base/bqs", overwrite = false)
    Sink.appendBqShardedIndex(spark, odds, "id", "emb", s"$base/bqs", s"$base/bqsg")
    val bq = Source.readBqIndex(spark, s"$base/bqg")
    val pq = Source.readPqIndex(spark, s"$base/pqg")
    val opq = Source.readOpqIndex(spark, s"$base/opqg").pq
    val restored = Seq(
      "sq8" -> Seq(Source.readSq8Index(spark, s"$base/sq8g")),
      "bq" -> Seq(bq.sq8), "pq" -> Seq(pq.sq8.get), "opq" -> Seq(opq.sq8.get),
      "bq sharded" -> Source.readBqShardedIndex(spark, s"$base/bqsg").map(_.sq8))
    // the SQ8 envelope or sidecar shares the index's id order
    assert(bq.ids eq bq.sq8.ids)
    assert(pq.sq8.get.ids.sameElements(pq.ids))
    assert(opq.sq8.get.ids.sameElements(opq.ids))
    val q = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.fill(16)(0.5))
    restored.foreach { case (family, shards) =>
      assert(shards.map(_.n).sum == 300, family)
      shards.foreach { sx =>
        (1 until sx.n).foreach(j => assert(sx.ids(j - 1) < sx.ids(j),
          s"$family: unsorted ids at $j: ${sx.ids(j - 1)} !< ${sx.ids(j)}"))
      }
      all.map(_._1).foreach { id =>
        assert(shards.exists(sx => Similarity.Sq8Score.cosineAt(id, q, sx) != null),
          s"$family: cosineAt lost id $id")
      }
    }
  }

  test("an appended sharded IVF+BQ index restores id-ascending: cosineAt finds every id") {
    // evens built, odds appended: each shard's stored pack is a sorted
    // old block then a sorted new block; Sq8Score.cosineAt (the
    // rerankFullDim scorer over shard.sq8) binary-searches the ids
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(91)
    val all = (0L until 300L).map(i => i -> Seq.fill(16)(rnd.nextGaussian()))
    val base = Files.createTempDirectory("sink-ivfbq-sorted").toString
    Sink.writeIvfBqShardedIndex(spark, Similarity.buildIvfBqShardedWithLayout(
      all.filter(_._1 % 2 == 0).toDF("id", "emb"), "id", "emb", numShards = 3, nCells = 4),
      s"$base/ix")
    Sink.appendIvfBqShardedIndex(spark, all.filter(_._1 % 2 != 0).toDF("id", "emb"), "id",
      "emb", s"$base/ix", s"$base/grown")
    val shards = graft.sources.Source.readIvfBqShardedIndex(spark, s"$base/grown")
    assert(shards.map(_.n).sum == 300)
    val q = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.fill(16)(0.5))
    shards.foreach { sx =>
      (1 until sx.n).foreach { j =>
        assert(sx.ids(j - 1) < sx.ids(j), s"unsorted ids at $j: ${sx.ids(j - 1)} !< ${sx.ids(j)}")
        assert(sx.sq8.ids(j - 1) < sx.sq8.ids(j), s"unsorted sq8 ids at $j")
      }
      sx.ids.foreach(id => assert(Similarity.Sq8Score.cosineAt(id, q, sx.sq8) != null,
        s"cosineAt lost id $id"))
    }
  }

  test("index readers refuse an overgrown meta n and a wrong-length code row by name") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.sources.Source
    val rnd = new scala.util.Random(89)
    // 2048 dims: a meta n of 1.1M rows is small, but × 2048 codes it is
    // past the JVM array cap (the Int product overflows)
    val wide = (0L until 8L).map(i => i -> Seq.fill(2048)(rnd.nextGaussian())).toDF("id", "emb")
    val base = Files.createTempDirectory("sink-refusals").toString
    type Edit = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    def tamper(src: String, dst: String)(meta: Edit, vectors: Edit): Unit = {
      vectors(spark.read.parquet(s"$src/vectors")).write.parquet(s"$dst/vectors")
      meta(spark.read.parquet(s"$src/meta")).write.parquet(s"$dst/meta")
    }
    val grownN = (df: org.apache.spark.sql.DataFrame) => df.withColumn("n", lit(1100000))
    Sink.writeSq8Index(spark, Similarity.collectCorpusSq8(wide, "id", "emb"), s"$base/sq8")
    tamper(s"$base/sq8", s"$base/sq8x")(grownN, identity)
    assert(intercept[IllegalArgumentException](Source.readSq8Index(spark, s"$base/sq8x"))
      .getMessage.contains("past the JVM array cap"))
    Sink.writePqIndex(spark, Similarity.collectCorpusPq(wide, "id", "emb", 8), s"$base/pq")
    tamper(s"$base/pq", s"$base/pqx")(grownN, identity)
    assert(intercept[IllegalArgumentException](Source.readPqIndex(spark, s"$base/pqx"))
      .getMessage.contains("past the JVM array cap"))
    // one IVF-PQ row's code one byte long and one byte short: refused
    // by name (a longer one must not be truncated silently)
    val rows = (0L until 300L).map(i => i -> Seq.fill(16)(rnd.nextGaussian())).toDF("id", "emb")
    Sink.writeIvfPqIndex(spark, Similarity.quantizeIvfPq(
      Similarity.collectCorpus(rows, "id", "emb"), 4, 4, trainSample = 256), s"$base/ivfpq")
    Seq("long" -> concat(col("code"), lit(Array[Byte](7))),
        "short" -> expr("substring(code, 2)")).foreach { case (how, code) =>
      tamper(s"$base/ivfpq", s"$base/ivfpq-$how")(identity,
        _.withColumn("code", when(col("idx") === 5, code).otherwise(col("code"))))
      val e = intercept[IllegalArgumentException](Source.readIvfPqIndex(spark, s"$base/ivfpq-$how"))
      assert(e.getMessage.contains("corrupt index: row 5 has") &&
        e.getMessage.contains("codes, expected 4"), s"$how: ${e.getMessage}")
    }
  }
}
