package graft

import graft.operators.{Metric, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's test coverage
  * (/root/reference/tests/test_polars_matmul.py): basic metrics,
  * explode pattern, k>|corpus|, numpy-equivalence (here: vs a naive
  * Scala computation), f32 dtype rules, error handling.
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create("local[4]", 4)
  import spark.implicits._

  private def queriesDf(rows: Seq[(Long, Seq[Double])]) =
    rows.toDF("qid", "embedding")
  private def corpusOf(rows: Seq[(Long, Seq[Double])]) =
    Similarity.collectCorpus(rows.toDF("cid", "embedding"), "cid", "embedding")

  test("basic cosine topk: exact matches rank first") {
    val q = queriesDf(Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0))))
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)), (2L, Seq(0.0, 0.0, 1.0))))
    val out = Similarity.topk(q, "embedding", c, 2, Metric.Cosine)
      .select($"qid", $"matches").collect().map(r => r.getLong(0) -> r.getSeq[Row](1)).toMap
    assert(out(0L).head.getLong(0) == 0L)
    assert(math.abs(out(0L).head.getDouble(1) - 1.0) < 1e-9)
    assert(out(1L).head.getLong(0) == 1L)
    assert(out(0L).length == 2)
  }

  test("dot metric: top match is largest dot product") {
    val q = queriesDf(Seq((0L, Seq(2.0, 0.0))))
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(3.0, 0.0))))
    val flat = Similarity.topkFlat(q, "embedding", c, 2, Metric.Dot).collect()
    val top = flat.find(_.getAs[Int]("rank") == 1).get
    assert(top.getAs[Long]("index") == 1L)
    assert(math.abs(top.getAs[Double]("score") - 6.0) < 1e-9)
  }

  test("euclidean metric: lower distance ranks first") {
    val q = queriesDf(Seq((0L, Seq(0.0, 0.0))))
    val c = corpusOf(Seq((0L, Seq(3.0, 4.0)), (1L, Seq(1.0, 0.0))))
    val flat = Similarity.topkFlat(q, "embedding", c, 2, Metric.Euclidean).collect()
    val top = flat.find(_.getAs[Int]("rank") == 1).get
    assert(top.getAs[Long]("index") == 1L)
    assert(math.abs(top.getAs[Double]("score") - 1.0) < 1e-9)
  }

  test("k larger than corpus returns all corpus items") {
    val q = queriesDf(Seq((0L, Seq(1.0, 0.0))))
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))))
    assert(Similarity.topkFlat(q, "embedding", c, 10, Metric.Cosine).count() == 2)
  }

  test("zero-norm vectors score 0.0 under cosine (reference guard)") {
    val q = queriesDf(Seq((0L, Seq(0.0, 0.0))))
    val c = corpusOf(Seq((5L, Seq(1.0, 0.0)), (6L, Seq(0.0, 0.0))))
    val flat = Similarity.topkFlat(q, "embedding", c, 2, Metric.Cosine).collect()
    assert(flat.forall(_.getAs[Double]("score") == 0.0))
    // ties broken by lower index
    assert(flat.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("index") == 5L)
  }

  test("matmul matches naive dot products (numpy-equivalence analogue)") {
    val rnd = new scala.util.Random(42)
    val qRows = (0L until 10L).map(i => (i, Seq.fill(32)(rnd.nextGaussian())))
    val cRows = (0L until 20L).map(i => (i, Seq.fill(32)(rnd.nextGaussian())))
    val c = corpusOf(cRows)
    val got = Similarity.matmul(queriesDf(qRows), "embedding", c)
      .select($"qid", $"scores").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((qid, emb) <- qRows; j <- cRows.indices) {
      val expected = emb.zip(cRows(j)._2).map { case (a, b) => a * b }.sum
      assert(math.abs(got(qid)(j) - expected) < 1e-9, s"q=$qid j=$j")
    }
  }

  test("matmulScores: the flatten=True buffer — row-major indexing, null query nulls the buffer") {
    val qRows = Seq((3L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 1.0)))
    val cRows = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val c = corpusOf(cRows)
    val row = Similarity.matmulScores(queriesDf(qRows), "qid", "embedding", c).head
    assert(row.getLong(0) == 3 && row.getLong(1) == 2)
    val buf = row.getSeq[Double](2)
    assert(buf.length == 3 * 2, "buffer must be n_queries*n_corpus")
    // row-major by ASCENDING query id: qid 1, 2, 3; scores[qi*nC + j]
    assert(buf == Seq(0.0, 1.0, 1.0, 1.0, 1.0, 0.0),
      s"row-major buffer mismatch: $buf")
    // a null query embedding nulls the WHOLE buffer — visible, never
    // silently position-shifted
    val withNull = queriesDf(qRows :+ (9L, null.asInstanceOf[Seq[Double]]))
    val nr = Similarity.matmulScores(withNull, "qid", "embedding", c).head
    assert(nr.getLong(0) == 4 && nr.isNullAt(2))
  }

  test("matmulFlat yields |Q|*|C| rows in (index, score) form") {
    val q = queriesDf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 1.0))))
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))))
    val flat = Similarity.matmulFlat(q, "embedding", c)
    assert(flat.count() == 6)
    val m = flat.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("index")) -> r.getAs[Double]("score")).toMap
    assert(m((0L, 0L)) == 1.0 && m((0L, 1L)) == 0.0 && m((2L, 1L)) == 1.0)
  }

  test("f32 inputs take the f32 path; f64 output otherwise (dtype rule)") {
    val qf = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f))).toDF("qid", "embedding")
    val cf = Similarity.collectCorpus(
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("cid", "embedding"), "cid", "embedding")
    assert(cf.isF32)
    val out = Similarity.matmul(qf, "embedding", cf)
    assert(out.schema("scores").dataType == ArrayType(FloatType, containsNull = false))
    val row0 = out.filter($"qid" === 0).select($"scores").head.getSeq[Float](0)
    assert(row0 == Seq(1.0f, 2.0f))
    // mixed f32 corpus + f64 queries → f64 output
    val qd = queriesDf(Seq((0L, Seq(1.0, 2.0))))
    assert(Similarity.matmul(qd, "embedding", cf).schema("scores").dataType ==
      ArrayType(DoubleType, containsNull = false))
  }

  test("matmulFlat keeps f32 scores in flatten mode (reference dtype rule)") {
    val qf = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f))).toDF("qid", "embedding")
    val cf = Similarity.collectCorpus(
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("cid", "embedding"), "cid", "embedding")
    val flat = Similarity.matmulFlat(qf, "embedding", cf)
    assert(flat.schema("score").dataType == FloatType)
    assert(flat.count() == 4)
    // any f64 side → f64 flat scores, as before
    val qd = queriesDf(Seq((0L, Seq(1.0, 2.0))))
    assert(Similarity.matmulFlat(qd, "embedding", cf).schema("score").dataType == DoubleType)
  }

  test("topk f32 fast path: same ranking as the f64 path, scores within f32 precision") {
    val rnd = new scala.util.Random(99)
    val dim = 8
    val corpusF = (0 until 20).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val queriesF = (0 until 10).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val cDF = corpusF.toDF("id", "embedding")
    val qDF = queriesF.toDF("id", "embedding")
    val cx = Similarity.collectCorpus(cDF, "id", "embedding")
    assert(cx.isF32)
    val f32 = Similarity.topkFlat(qDF, "embedding", cx, 3, Metric.Cosine)
      .select("id", "rank", "index", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val f64 = Similarity.topkFlat(
        qDF.select($"id", $"embedding".cast("array<double>").as("embedding")),
        "embedding", cx, 3, Metric.Cosine)
      .select("id", "rank", "index", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(f32.map(t => (t._1, t._2, t._3)).toSet == f64.map(t => (t._1, t._2, t._3)).toSet)
    f32.sortBy(t => (t._1, t._2)).zip(f64.sortBy(t => (t._1, t._2))).foreach { case (a, b) =>
      assert(math.abs(a._4 - b._4) < 1e-4, s"f32 score ${a._4} vs f64 ${b._4}")
    }
  }

  /** 40×16 gaussian corpus as array<float>, and the same frame cast to
    * array<double> (every element widened exactly). */
  private def f32CorpusPair(seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val f32 = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("cid", "embedding")
    (f32, f32.select($"cid", $"embedding".cast("array<double>").as("embedding")))
  }

  test("f32 corpus, f64 queries: topk/matmul/matmulFlat equal the f64-cast corpus exactly") {
    val (cF, cD) = f32CorpusPair(5)
    val cxF = Similarity.collectCorpus(cF, "cid", "embedding")
    val cxD = Similarity.collectCorpus(cD, "cid", "embedding")
    assert(cxF.isF32 && !cxD.isF32)
    assert(cxF.data.sameElements(cxD.data) && cxF.norms.sameElements(cxD.norms))
    val rnd = new scala.util.Random(6)
    val q = queriesDf((0L until 12L).map(i => (i, Seq.fill(16)(rnd.nextGaussian()))))
    def rows(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.orderBy(keys.map(col): _*).collect().toSeq
    for (m <- Seq(Metric.Cosine, Metric.Dot, Metric.Euclidean)) {
      assert(rows(Similarity.topk(q, "embedding", cxF, 5, m), "qid") ==
        rows(Similarity.topk(q, "embedding", cxD, 5, m), "qid"), s"topk $m")
    }
    assert(rows(Similarity.matmul(q, "embedding", cxF), "qid") ==
      rows(Similarity.matmul(q, "embedding", cxD), "qid"))
    assert(rows(Similarity.matmulFlat(q, "embedding", cxF), "qid", "index") ==
      rows(Similarity.matmulFlat(q, "embedding", cxD), "qid", "index"))
  }

  test("a packed f32 index holds its vectors once, as f32 (no f64 shadow copy)") {
    val (cF, _) = f32CorpusPair(7)
    val cx = Similarity.collectCorpus(cF, "cid", "embedding")
    // f32 matrix + 10% slack, plus a long id and two double norms per row
    val bound = (cx.n * cx.dim * 4L * 1.1 + cx.n * 24L + 1024L).toLong
    val size = org.apache.spark.util.SizeEstimator.estimate(cx)
    assert(size < bound, s"packed f32 index is $size bytes, bound $bound")
  }

  test("quantizers: an f32 corpus gives the same codes and parameters as its f64 cast") {
    val (cF, cD) = f32CorpusPair(8)
    val s8F = Similarity.collectCorpusSq8(cF, "cid", "embedding")
    val s8D = Similarity.collectCorpusSq8(cD, "cid", "embedding")
    assert(s8F.codes.sameElements(s8D.codes) && s8F.dimMin.sameElements(s8D.dimMin) &&
      s8F.dimScale.sameElements(s8D.dimScale) && s8F.norms.sameElements(s8D.norms))
    val bqF = Similarity.collectCorpusBq(cF, "cid", "embedding")
    val bqD = Similarity.collectCorpusBq(cD, "cid", "embedding")
    assert(bqF.words.sameElements(bqD.words) && bqF.thresholds.sameElements(bqD.thresholds) &&
      bqF.bitCut.sameElements(bqD.bitCut) && bqF.sq8.codes.sameElements(bqD.sq8.codes))
    val pqF = Similarity.collectCorpusPq(cF, "cid", "embedding", m = 4)
    val pqD = Similarity.collectCorpusPq(cD, "cid", "embedding", m = 4)
    assert(pqF.codes.sameElements(pqD.codes) && pqF.codebooks.sameElements(pqD.codebooks) &&
      pqF.norms.sameElements(pqD.norms) && pqF.sqNorms.sameElements(pqD.sqNorms))
    assert(pqF.sq8.get.codes.sameElements(pqD.sq8.get.codes))
  }

  test("a null corpus embedding or element is a named refusal giving the row id") {
    val nullEmb = Seq((3L, Seq(1.0, 2.0)), (7L, null.asInstanceOf[Seq[Double]]))
      .toDF("cid", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.collectCorpus(nullEmb, "cid", "embedding")
    }
    assert(e1.getMessage.contains("Null embedding") && e1.getMessage.contains("cid=7"),
      e1.getMessage)
    // a null first row (the one that fixes the dimension) names itself too
    val nullFirst = Seq((1L, null.asInstanceOf[Seq[Double]]), (2L, Seq(1.0)))
      .toDF("cid", "embedding")
    assert(intercept[IllegalArgumentException] {
      Similarity.collectCorpus(nullFirst, "cid", "embedding")
    }.getMessage.contains("cid=1"))
    val nullElem = spark.createDataFrame(
      java.util.Arrays.asList(Row(4L, Seq(1.0f, 2.0f)), Row(9L, Seq(1.0f, null))),
      StructType(Seq(StructField("cid", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.collectCorpus(nullElem, "cid", "embedding")
    }
    assert(e2.getMessage.contains("Null element") && e2.getMessage.contains("cid=9") &&
      e2.getMessage.contains("embedding[1]"), e2.getMessage)
    val nullId = Seq((Option(1L), Seq(1.0)), (Option.empty[Long], Seq(2.0)))
      .toDF("cid", "embedding")
    assert(intercept[IllegalArgumentException] {
      Similarity.collectCorpus(nullId, "cid", "embedding")
    }.getMessage.contains("Null id"))
  }

  test("dimension mismatch and empty corpus raise reference-style errors") {
    val q = queriesDf(Seq((0L, Seq(1.0, 2.0))))
    val c3 = corpusOf(Seq((0L, Seq(1.0, 2.0, 3.0))))
    val e = intercept[Exception] {
      Similarity.topkFlat(q, "embedding", c3, 1, Metric.Cosine).collect()
    }
    assert(e.getMessage.contains("Dimension mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("Dimension mismatch"))
    intercept[IllegalArgumentException] {
      Similarity.collectCorpus(
        Seq.empty[(Long, Seq[Double])].toDF("cid", "embedding"), "cid", "embedding")
    }
    intercept[IllegalArgumentException](Metric.fromString("invalid_metric"))
  }

  test("topk, topkFlat, matmul and matmulFlat refuse a non-float query column by name, before broadcasting") {
    val c = corpusOf(Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))))
    val q = queriesDf(Seq((0L, Seq(3.0, 1.0, 2.0))))
    val sc = spark.sparkContext
    Seq(IntegerType, LongType).foreach { t =>
      val qt = q.withColumn("embedding", col("embedding").cast(ArrayType(t)))
      Seq[(String, () => Any)](
        "topk" -> (() => Similarity.topk(qt, "embedding", c, 3, Metric.Dot)),
        "topkFlat" -> (() => Similarity.topkFlat(qt, "embedding", c, 3, Metric.Dot)),
        "matmul" -> (() => Similarity.matmul(qt, "embedding", c)),
        "matmulFlat" -> (() => Similarity.matmulFlat(qt, "embedding", c))).foreach {
        case (name, call) =>
          val before = sc.broadcast(0).id
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("Query column embedding must be " +
            s"array<float>/array<double>, got array<${t.simpleString}>"), s"$name: ${e.getMessage}")
          assert(sc.broadcast(0).id - before == 1, s"$name broadcast before refusing")
      }
    }
    // the double column the refusal asks for ranks [1, 3, 2]
    val top = Similarity.topkFlat(q, "embedding", c, 3, Metric.Dot).orderBy("rank").collect()
    assert(top.map(r => (r.getAs[Long]("index"), r.getAs[Double]("score"))).toSeq ==
      Seq((1L, 3.0), (3L, 2.0), (2L, 1.0)))
  }

  test("null query embeddings propagate to null matches/scores, not a crash") {
    val q = Seq((0L, Seq(1.0, 0.0)), (1L, null.asInstanceOf[Seq[Double]]),
      (2L, Seq(0.0, 1.0))).toDF("qid", "embedding")
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))))
    val topk = Similarity.topk(q, "embedding", c, 2, Metric.Cosine)
      .select($"qid", $"matches").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(topk == Map(0L -> false, 1L -> true, 2L -> false))
    // flat form naturally omits the null query (explode of null)
    assert(Similarity.topkFlat(q, "embedding", c, 2, Metric.Cosine)
      .select("qid").collect().map(_.getLong(0)).toSet == Set(0L, 2L))
    val mm = Similarity.matmul(q, "embedding", c)
      .select($"qid", $"scores").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(mm == Map(0L -> false, 1L -> true, 2L -> false))
    // the f32 fast path has its own batching code — exercise its null
    // handling too (both sides f32 → sgemm branch)
    val qf = Seq((0L, Seq(1.0f, 0.0f)), (1L, null.asInstanceOf[Seq[Float]]),
      (2L, Seq(0.0f, 1.0f))).toDF("qid", "embedding")
    val cf = Similarity.collectCorpus(
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("cid", "embedding"),
      "cid", "embedding")
    val topkF = Similarity.topk(qf, "embedding", cf, 2, Metric.Cosine)
      .select($"qid", $"matches").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(topkF == Map(0L -> false, 1L -> true, 2L -> false))
    val mmF = Similarity.matmul(qf, "embedding", cf)
      .select($"qid", $"scores").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(mmF == Map(0L -> false, 1L -> true, 2L -> false))
  }

  test("empty query frame returns empty result, not an error") {
    val q = Seq.empty[(Long, Seq[Double])].toDF("qid", "embedding")
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0))))
    assert(Similarity.topk(q, "embedding", c, 1, Metric.Cosine).count() == 0)
  }

  test("k <= 0 returns empty matches, not a crash (reference clamps k)") {
    val q = queriesDf(Seq((0L, Seq(1.0, 0.0))))
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))))
    for (k <- Seq(0, -3)) {
      val rows = Similarity.topk(q, "embedding", c, k, Metric.Cosine)
        .select($"matches").collect()
      assert(rows.length == 1 && rows.head.getSeq[Row](0).isEmpty, s"k=$k")
      assert(Similarity.topkFlat(q, "embedding", c, k, Metric.Cosine).count() == 0, s"k=$k")
    }
  }

  test("topkBlocked with duplicate corpus ids == single-broadcast result") {
    // hash-mod blocks send every row of a duplicated id to the SAME
    // block, so a dup can't straddle a boundary and double-enter the
    // merge (the failure mode of id-range blocks)
    val rnd = new scala.util.Random(11)
    val base = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
    val dups = base.filter(_._1 % 7 == 0) // several ids appear twice
    val corpusRows = base ++ dups
    val corpusDF = corpusRows.toDF("cid", "embedding")
    val q = queriesDf((0L until 10L).map(i => (i, base(i.toInt)._2)))
    val full = Similarity.topkFlat(q, "embedding",
        Similarity.collectCorpus(corpusDF, "cid", "embedding"), 5, Metric.Cosine)
      .select($"qid", $"rank", $"index", $"score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), math.rint(r.getDouble(3) * 1e9)))
      .toSet
    val blocked = Similarity.topkBlocked(q, "embedding", "qid", corpusDF, "cid", "embedding",
        5, Metric.Cosine, numBlocks = 3)
      .select($"qid", $"rank", $"index", $"score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), math.rint(r.getDouble(3) * 1e9)))
      .toSet
    assert(blocked == full)
  }

  test("topkBlocked == topk on the full embeddings table") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c = Similarity.collectCorpus(emb, "vec_id", "embedding")
    val q = emb.limit(50)
    val full = Similarity.topkFlat(q, "embedding", c, 5, Metric.Cosine)
      .select($"vec_id", $"rank", $"index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val blocked = Similarity.topkBlocked(q, "embedding", "vec_id", emb, "vec_id", "embedding",
        5, Metric.Cosine, numBlocks = 4)
      .select($"vec_id", $"rank", $"index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(blocked == full)
  }

  test("groupCentroids: hand-computed means, partial-agg plan (no per-element explode)") {
    val df = Seq(
      (0L, 0L, Array(1.0f, 0.0f)), (1L, 0L, Array(3.0f, 2.0f)),
      (2L, 1L, Array(0.0f, 4.0f))).toDF("id", "grp", "emb")
    val cents = Similarity.groupCentroids(df, "grp", "emb")
    val m = cents.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(m(0L) == Seq(2.0, 1.0) && m(1L) == Seq(0.0, 4.0))
    val plan = cents.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"centroid agg must not explode elements:\n$plan")
    assert(plan.contains("Exchange"), "group agg needs its one key exchange")
  }

  test("centroidAssign: separated clusters label correctly; repartition-stable") {
    // grp 0 points near +x, grp 1 near +y; a mislabeled straggler (id 5)
    // sits in the +x cluster and must be PREDICTED 0 despite label 1
    val df = Seq(
      (0L, 0L, Array(10.0f, 0.5f)), (1L, 0L, Array(9.0f, -0.5f)),
      (2L, 0L, Array(11.0f, 0.0f)), (3L, 1L, Array(0.5f, 10.0f)),
      (4L, 1L, Array(-0.5f, 9.0f)), (5L, 1L, Array(10.0f, 0.2f))).toDF("id", "grp", "emb")
    val out = Similarity.centroidAssign(df, "id", "emb", "grp")
      .select($"id", $"pred").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L))
    val re = Similarity.centroidAssign(df.repartition(5), "id", "emb", "grp")
      .select($"id", $"pred").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == out)
  }

  test("f32 cosine zero-norm epsilon is the reference's 1e-6; f64 path keeps 1e-10") {
    // reference src/metrics.rs:331-334 zeroes f32 cosine when a norm
    // <= 1e-6 (papering over f32 accumulation error); the f64 kernel
    // (metrics.rs:277-289) divides down to 1e-10. A vector with norm
    // ~2e-7 — inside [1e-10, 1e-6) — must therefore score 0.0 on the
    // f32 path and a REAL cosine (here 1.0, same direction) on f64.
    val tiny = 1e-7f
    val qf = Seq((0L, Seq(tiny, tiny, tiny, tiny)))
      .toDF("qid", "embedding")
    val cf32 = Similarity.collectCorpus(
      Seq((0L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("cid", "embedding"),
      "cid", "embedding")
    val f32Score = Similarity.topkFlat(qf, "embedding", cf32, 1, Metric.Cosine)
      .head.getAs[Double]("score")
    assert(f32Score == 0.0, s"f32 path must zero norms <= 1e-6, got $f32Score")
    // same geometry through the f64 kernel: norm 2e-7 > 1e-10 divides
    val qd = queriesDf(Seq((0L, Seq.fill(4)(1e-7))))
    val cd = corpusOf(Seq((0L, Seq.fill(4)(1.0))))
    val f64Score = Similarity.topkFlat(qd, "embedding", cd, 1, Metric.Cosine)
      .head.getAs[Double]("score")
    assert(math.abs(f64Score - 1.0) < 1e-6, s"f64 path must divide at norm 2e-7, got $f64Score")
    // and a truly-zero norm still guards on BOTH paths
    val qz = Seq((0L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("qid", "embedding")
    assert(Similarity.topkFlat(qz, "embedding", cf32, 1, Metric.Cosine)
      .head.getAs[Double]("score") == 0.0)
  }

  test("matmulScores refuses a buffer over the driver budget, naming matmulFlat") {
    // round-12 verdict #3: the flatten=True buffer is ONE n_q*n_c f64
    // allocation in a single task — past the priced budget the call
    // must refuse eagerly with a named error, not OOM an executor.
    val qRows = (0L until 8L).map(i => (i, Seq(1.0, 0.0)))
    val c = corpusOf(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))))
    // 8 queries x 2 corpus x 8B = 128 bytes; cap at 100 to trip it
    val ex = intercept[IllegalArgumentException] {
      Similarity.matmulScores(queriesDf(qRows), "qid", "embedding", c,
        maxBufferBytes = 100L)
    }
    assert(ex.getMessage.contains("matmulScores refused") &&
      ex.getMessage.contains("matmulFlat"), ex.getMessage)
    // under the cap the same call succeeds
    val ok = Similarity.matmulScores(queriesDf(qRows), "qid", "embedding", c,
      maxBufferBytes = 1024L).head
    assert(ok.getLong(0) == 8L && ok.getSeq[Double](2).length == 16)
  }
}
