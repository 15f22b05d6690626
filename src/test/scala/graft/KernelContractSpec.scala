package graft

import graft.operators.{Metric, Similarity}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The top-k kernel contract (`graft.operators.TopkFrame`) checked once
  * per kernel over one table: null embeddings, the k clamps, the
  * dimension and column-type refusals, kept query columns and the tie
  * order. Add a kernel as a row here, not as a per-family copy.
  */
class KernelContractSpec extends AnyFunSuite {
  lazy val spark = GraftSession.create("local[4]", 4)

  private val dim = 8
  private val n = 12

  /** Corpus rows; ids 3, 7 and 11 share one vector, so every kernel
    * scores them equally.
    */
  private lazy val corpusRows: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(17)
    val dup = Seq.fill(dim)(rnd.nextGaussian())
    (0L until n.toLong).map(i => i -> (if (i % 4 == 3) dup else Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** qid 0 is the shared vector, qid 1 a null embedding, qid 2 random. */
  private def queries(elem: DataType, width: Int = dim): DataFrame = {
    val rnd = new scala.util.Random(5)
    val rows = Seq(
      Row(0L, "t0", corpusRows(3)._2.take(width)),
      Row(1L, "t1", null),
      Row(2L, "t2", Seq.fill(width)(rnd.nextGaussian())))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("qid", LongType), StructField("tag", StringType),
      StructField("emb", ArrayType(DoubleType)))))
      .withColumn("emb", col("emb").cast(ArrayType(elem)))
  }

  /** One kernel under the contract. `run(queries, k)` serves with a
    * shortlist and probe wide enough to reach every corpus row; `nested`
    * kernels add a `matches` column, the others return flat
    * `(qid, rank, index, score)` rows and drop null embeddings;
    * `typed` kernels read the query column's own type.
    */
  private case class Kernel(
      name: String, f32Query: Boolean, nested: Boolean, typed: Boolean, negativeK: Boolean,
      run: (DataFrame, Int) => DataFrame)

  private lazy val kernels: Seq[Kernel] = {
    import spark.implicits._
    val cx = Similarity.collectCorpus(corpusRows.toDF("id", "emb"), "id", "emb")
    val cx32 = Similarity.collectCorpus(corpusRows.toDF("id", "emb")
      .withColumn("emb", col("emb").cast(ArrayType(FloatType))), "id", "emb")
    val sq8 = Similarity.quantizeSq8(cx)
    val bq = Similarity.quantizeBq(cx)
    val ivfBq = Similarity.quantizeIvfBq(cx, nCells = 2)
    val pq = Similarity.quantizePq(cx, m = 2, trainSample = 256)
    val opq = Similarity.quantizeOpq(cx, m = 2, trainSample = 256, opqIters = 2)
    val ivfPq = Similarity.quantizeIvfPq(cx, nCells = 2, m = 2, trainSample = 256)
    val ivfOpq = Similarity.quantizeIvfOpq(cx, nCells = 2, m = 2, trainSample = 256,
      opqIters = 2)
    def sl(k: Int) = math.max(k, n)
    def nested(name: String, f32Query: Boolean = false, negativeK: Boolean = true)(
        run: (DataFrame, Int) => DataFrame) = Kernel(name, f32Query, true, true, negativeK, run)
    Seq(
      nested("topk f64 cosine")((q, k) => Similarity.topk(q, "emb", cx, k, Metric.Cosine)),
      nested("topk f32 euclidean", f32Query = true)((q, k) =>
        Similarity.topk(q, "emb", cx32, k, Metric.Euclidean)),
      nested("topk f32 query, f64 corpus, dot", f32Query = true)((q, k) =>
        Similarity.topk(q, "emb", cx, k, Metric.Dot)),
      nested("topkSq8 euclidean, partial tiles")((q, k) =>
        Similarity.topkSq8(q, "emb", sq8, k, Metric.Euclidean, tileRows = 5)),
      nested("topkBq cosine")((q, k) => Similarity.topkBq(q, "emb", bq, k, Metric.Cosine, sl(k))),
      nested("topkIvfBq", negativeK = false)((q, k) =>
        Similarity.topkIvfBq(q, "emb", ivfBq, k, nProbe = 2, shortlist = sl(k))),
      nested("topkPq dot with rerank")((q, k) =>
        Similarity.topkPq(q, "emb", pq, k, Metric.Dot, sl(k))),
      nested("topkOpq euclidean")((q, k) => Similarity.topkOpq(q, "emb", opq, k, Metric.Euclidean)),
      nested("topkIvfPq with rerank")((q, k) =>
        Similarity.topkIvfPq(q, "emb", ivfPq, k, nProbe = 2, shortlist = sl(k))),
      nested("topkIvfOpq")((q, k) => Similarity.topkIvfOpq(q, "emb", ivfOpq, k, nProbe = 2)),
      Kernel("EventStream.topkServe dot", f32Query = false, nested = false, typed = false,
        negativeK = true, (q, k) => EventStream.topkServe(q, "qid", "emb", cx, k, Metric.Dot,
          corpusTile = 5)))
  }

  private def queriesFor(kn: Kernel, width: Int = dim) =
    queries(if (kn.f32Query) FloatType else DoubleType, width)

  /** qid → its matches as (index, score) best-first; None for a null. */
  private def served(kn: Kernel, k: Int): Map[Long, Option[Seq[(Long, Double)]]] = {
    val df = kn.run(queriesFor(kn), k)
    if (kn.nested)
      df.select("qid", "matches").collect().map { r =>
        r.getLong(0) -> Option(r.getSeq[Row](1)).map(_.map(m => (m.getLong(0), m.getDouble(1))))
      }.toMap
    else {
      val got = df.select("qid", "rank", "index", "score").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> Option(rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq)
        }
      Seq(0L, 2L).map(q => q -> got.getOrElse(q, Some(Seq.empty))).toMap
    }
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("kernel contract: a null embedding gives null matches") {
    kernels.filter(_.nested).foreach { kn =>
      withClue(s"${kn.name}: ") {
        val got = served(kn, 3)
        assert(got(1L).isEmpty)
        assert(got(0L).exists(_.size == 3) && got(2L).exists(_.size == 3))
      }
    }
  }

  test("kernel contract: k <= 0 gives empty matches") {
    kernels.foreach { kn =>
      (if (kn.negativeK) Seq(0, -1) else Seq(0)).foreach { k =>
        withClue(s"${kn.name}, k=$k: ") {
          val got = served(kn, k)
          assert(Seq(0L, 2L).forall(q => got(q).contains(Seq.empty)))
        }
      }
    }
  }

  test("kernel contract: k above the corpus returns every row the shortlist allows") {
    kernels.foreach { kn =>
      withClue(s"${kn.name}: ") {
        val got = served(kn, n + 5)
        assert(Seq(0L, 2L).forall(q => got(q).map(_.map(_._1).toSet).contains(
          (0L until n.toLong).toSet)))
      }
    }
  }

  test("kernel contract: a wrong query dimension is refused by name") {
    kernels.foreach { kn =>
      withClue(s"${kn.name}: ") {
        val e = intercept[Exception](kn.run(queriesFor(kn, dim - 1), 3).collect())
        assert(messages(e).contains(s"Dimension mismatch: query has ${dim - 1} elements"),
          messages(e))
      }
    }
  }

  test("kernel contract: an array<int> query column is refused by name before any job") {
    kernels.filter(_.typed).foreach { kn =>
      withClue(s"${kn.name}: ") {
        val e = intercept[IllegalArgumentException](kn.run(queries(IntegerType), 3))
        assert(e.getMessage.contains(
          "Query column emb must be array<float>/array<double>, got array<int>"), e.getMessage)
      }
    }
  }

  test("kernel contract: an array<int> query column is refused before any broadcast") {
    import spark.implicits._
    val sc = spark.sparkContext
    val cx = Similarity.collectCorpus(corpusRows.toDF("id", "emb"), "id", "emb")
    val bq = Similarity.quantizeBq(cx)
    val ivfBq = Similarity.quantizeIvfBq(cx, nCells = 2)
    val ivfPq = Similarity.quantizeIvfPq(cx, nCells = 2, m = 2, trainSample = 256)
    val allowed = Array(1L, 2L)
    val allowedDf = allowed.toSeq.toDF("id")
    // the one-index serves outside the table: the filtered forms
    val filtered: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "topkBqFiltered" -> ((q, k) =>
        Similarity.topkBqFiltered(q, "emb", bq, allowed, k, Metric.Cosine, n)),
      "topkBqFiltered df" -> ((q, k) => Similarity.topkBqFiltered(q, "emb", bq, allowedDf, "id",
        k, Metric.Cosine, n, "matches")),
      "topkIvfBqFiltered" -> ((q, k) =>
        Similarity.topkIvfBqFiltered(q, "emb", ivfBq, allowed, k, nProbe = 2, shortlist = n)),
      "topkIvfPqFiltered" -> ((q, k) =>
        Similarity.topkIvfPqFiltered(q, "emb", ivfPq, allowed, k, nProbe = 2)),
      "topkIvfPqFiltered df" -> ((q, k) => Similarity.topkIvfPqFiltered(q, "emb", ivfPq,
        allowedDf, "id", k, nProbe = 2, shortlist = 0, outputCol = "matches")))
    (kernels.filter(_.typed).map(kn => kn.name -> kn.run) ++ filtered).foreach {
      case (name, run) =>
        withClue(s"$name: ") {
          val before = sc.broadcast(0).id
          val e = intercept[IllegalArgumentException](run(queries(IntegerType), 3))
          assert(e.getMessage.contains(
            "Query column emb must be array<float>/array<double>, got array<int>"), e.getMessage)
          assert(sc.broadcast(0).id - before == 1, "a broadcast was minted before refusing")
        }
    }
  }

  test("kernel contract: every query column is kept") {
    kernels.filter(_.nested).foreach { kn =>
      withClue(s"${kn.name}: ") {
        val df = kn.run(queriesFor(kn), 3)
        assert(df.columns.toSeq == Seq("qid", "tag", "emb", "matches"))
        assert(df.select("qid", "tag").collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
          Map(0L -> "t0", 1L -> "t1", 2L -> "t2"))
      }
    }
  }

  test("kernel contract: equal scores rank by the lower corpus id") {
    kernels.foreach { kn =>
      withClue(s"${kn.name}: ") {
        val top = served(kn, n)(0L).get
        // the three copies of the query's own vector tie
        val tied = top.filter(m => Set(3L, 7L, 11L)(m._1))
        assert(tied.map(_._1) == Seq(3L, 7L, 11L) && tied.map(_._2).distinct.size == 1,
          top.toString)
        top.sliding(2).foreach { case Seq(a, b) =>
          if (a._2 == b._2) assert(a._1 < b._1, top.toString)
        }
      }
    }
  }
}
