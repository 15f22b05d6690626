package graft

import graft.operators.{DotKernel, Metric, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The exact kernel's arithmetic (`graft.operators.DotKernel`), pinned
  * bit for bit: every score of `topk`, `topkFlat`, `matmul` and
  * `matmulFlat` is one sequential `Math.fma` chain over the dimensions
  * in the pack's precision (f32 when query and corpus are both f32,
  * else f64), then the metric's double expression; a query's matches
  * are the same bits alone, anywhere in a 512-row batch and over any
  * partitioning; and the scalar twin equals the vector path.
  */
class DotKernelSpec extends AnyFunSuite {
  lazy val spark = GraftSession.create("local[4]", 4)

  private val metrics = Seq(Metric.Dot, Metric.Cosine, Metric.Euclidean)
  /** (query is f32, corpus is f32) */
  private val precisions = Seq((true, true), (false, false), (false, true), (true, false))
  private def label(p: (Boolean, Boolean)) =
    s"q${if (p._1) 32 else 64}_c${if (p._2) 32 else 64}"

  /** `rows` gaussian vectors, rounded to f32 values when `f32`. */
  private def vectors(rows: Int, dim: Int, seed: Int, f32: Boolean): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(rows, dim) { val v = rnd.nextGaussian(); if (f32) v.toFloat.toDouble else v }
  }

  /** A (qid, emb) frame over `parts` partitions; a null vector is a null
    * embedding.
    */
  private def frame(ids: Seq[Long], vecs: Seq[Array[Double]], f32: Boolean, parts: Int): DataFrame = {
    val rows = ids.zip(vecs).map { case (i, v) => Row(i, if (v == null) null else v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), StructType(Seq(
      StructField("qid", LongType), StructField("emb", ArrayType(DoubleType)))))
      .withColumn("emb", col("emb").cast(ArrayType(if (f32) FloatType else DoubleType)))
  }

  // ---- the reference arithmetic, written out here ----

  /** One sequential FMA chain from +0.0, in f32 when `f32`. */
  private def chain(q: Array[Double], c: Array[Double], f32: Boolean): Double =
    if (f32) {
      var a = 0.0f
      var d = 0
      while (d < q.length) { a = Math.fma(q(d).toFloat, c(d).toFloat, a); d += 1 }
      a.toDouble
    } else {
      var a = 0.0
      var d = 0
      while (d < q.length) { a = Math.fma(q(d), c(d), a); d += 1 }
      a
    }

  /** Squared norm as the query pack sums it (in f32 for an f32 pack). */
  private def querySq(q: Array[Double], f32: Boolean): Double =
    if (f32) { var s = 0.0f; q.foreach { v => val f = v.toFloat; s += f * f }; s.toDouble }
    else { var s = 0.0; q.foreach(v => s += v * v); s }

  private def corpusSq(c: Array[Double]): Double = { var s = 0.0; c.foreach(v => s += v * v); s }

  private def metricOf(m: Metric, s: Double, qs: Double, cs: Double, f32: Boolean): Double = {
    val eps = if (f32) 1e-6 else 1e-10
    val (qn, cn) = (math.sqrt(qs), math.sqrt(cs))
    m match {
      case Metric.Dot => s
      case Metric.Cosine => if (qn <= eps || cn <= eps) 0.0 else s / (qn * cn)
      case Metric.Euclidean => math.sqrt(math.max(0.0, qs + cs - 2.0 * s))
    }
  }

  /** Best-first (index, score) of `scores` over corpus ids 0 … n−1, ties
    * to the lower id.
    */
  private def topOf(scores: Array[Double], k: Int, higher: Boolean): Seq[(Long, Double)] =
    scores.indices.map(j => (j.toLong, scores(j))).sortWith { (a, b) =>
      if (a._2 == b._2) a._1 < b._1 else if (higher) a._2 > b._2 else a._2 < b._2
    }.take(k)

  private def bits(s: Seq[(Long, Double)]): Seq[(Long, Long)] =
    s.map { case (i, v) => (i, java.lang.Double.doubleToRawLongBits(v)) }

  private def nested(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(2)) null
        else r.getSeq[Row](2).map(e => (e.getLong(0), e.getDouble(1))))
    }.toMap

  private def flat(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
    }

  /** matmul rows as doubles (f32 scores widened exactly), by qid. */
  private def matmulRows(df: DataFrame): Map[Long, Array[Double]] =
    df.collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(2)) null else r.get(2) match {
        case s: scala.collection.Seq[_] => s.map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
      })
    }.toMap

  test("every score is the scalar FMA chain, then the metric, bit for bit") {
    for (dim <- Seq(1, 3, 17, 257); n <- Seq(1, 7, 4097); p <- precisions) {
      val (qF, cF) = p
      val both = qF && cF
      val corpus = vectors(n, dim, 11 * dim + n, cF)
      val cx = Similarity.collectCorpus(frame(corpus.indices.map(_.toLong), corpus, cF, 2),
        "qid", "emb")
      // seven random queries, a zero vector and a null embedding
      val qs = vectors(7, dim, 3 * dim + n, qF) ++ Array(Array.fill(dim)(0.0), null)
      val q = frame(qs.indices.map(_.toLong + 100), qs, qF, 2)
      val k = 5
      val raw = qs.map(v => if (v == null) null else corpus.map(chain(v, _, both)))
      val at = s"dim=$dim n=$n ${label(p)}"

      val mm = matmulRows(Similarity.matmul(q, "emb", cx))
      val mmFlat = Similarity.matmulFlat(q, "emb", cx).collect()
        .map(r => ((r.getLong(0), r.getLong(2)), r.get(1) match {
          case f: Float => f.toDouble
          case d: Double => d
        })).toMap
      assert(Similarity.matmul(q, "emb", cx).schema("scores").dataType ==
        ArrayType(if (both) FloatType else DoubleType, containsNull = false), at)
      qs.indices.foreach { i =>
        val qid = i + 100L
        if (qs(i) == null) assert(mm(qid) == null, at)
        else {
          assert(bits(mm(qid).indices.map(j => (j.toLong, mm(qid)(j)))) ==
            bits(raw(i).indices.map(j => (j.toLong, raw(i)(j)))), s"matmul $at q$qid")
          assert((0 until n).forall(j => java.lang.Double.compare(mmFlat((qid, j.toLong)), raw(i)(j)) == 0),
            s"matmulFlat $at q$qid")
        }
      }
      for (m <- metrics) {
        val expected = qs.indices.map { i =>
          if (qs(i) == null) null
          else {
            val sq = querySq(qs(i), both)
            topOf(raw(i).indices.map(j => metricOf(m, raw(i)(j), sq, corpusSq(corpus(j)), both)).toArray,
              k, m.higherIsBetter)
          }
        }
        val nest = nested(Similarity.topk(q, "emb", cx, k, m))
        val fl = flat(Similarity.topkFlat(q, "emb", cx, k, m))
        qs.indices.foreach { i =>
          val qid = i + 100L
          if (expected(i) == null) {
            assert(nest(qid) == null && !fl.contains(qid), s"$at $m q$qid")
          } else {
            assert(bits(nest(qid)) == bits(expected(i)), s"topk $at $m q$qid")
            assert(bits(fl(qid)) == bits(expected(i)), s"topkFlat $at $m q$qid")
            // the top-k score is the metric of the matmul entry for the same index
            val sq = querySq(qs(i), both)
            nest(qid).foreach { case (j, s) =>
              val fromMatmul = metricOf(m, mm(qid)(j.toInt), sq, corpusSq(corpus(j.toInt)), both)
              assert(java.lang.Double.compare(s, fromMatmul) == 0, s"topk vs matmul $at $m q$qid j$j")
            }
          }
        }
      }
    }
  }

  // one 512-row query frame; the targets sit at batch positions 0, 1 and 2
  // mod 3, and in the last, partial panel of a 7-way split
  private val dim = 257
  private val n = 4097
  private val targets = Seq(0, 1, 2, 300, 301, 302, 511)

  /** For each target qid, its (index, score) top-10, served three ways:
    * alone in its batch, and inside the 512-row frame over 1, 3 and 7
    * partitions; plus the matmul rows of the targets over 7 partitions.
    */
  private def served(p: (Boolean, Boolean), m: Metric): Seq[(String, Map[Long, Seq[(Long, Double)]])] = {
    val (qF, cF) = p
    val corpus = vectors(n, dim, 5, cF)
    val cx = Similarity.collectCorpus(frame(corpus.indices.map(_.toLong), corpus, cF, 2), "qid", "emb")
    val qs = vectors(512, dim, 6, qF)
    val ids = qs.indices.map(_.toLong)
    val alone = frame(targets.map(_.toLong), targets.map(qs(_)), qF, targets.size)
    def keep(df: DataFrame) = df.filter(col("qid").isin(targets.map(_.toLong): _*))
    Seq("alone" -> nested(Similarity.topk(alone, "emb", cx, 10, m))) ++
      Seq(1, 3, 7).map { parts =>
        s"${parts}parts" -> nested(keep(Similarity.topk(frame(ids, qs, qF, parts), "emb", cx, 10, m)))
      } ++
      Seq("matmul" -> matmulRows(keep(Similarity.matmul(frame(ids, qs, qF, 7), "emb", cx)))
        .map { case (q, s) => q -> s.indices.map(j => (j.toLong, s(j))) })
  }

  test("a query's matches are the same bits alone, at any batch position and over 1, 3 and 7 partitions") {
    for (p <- precisions; m <- metrics) {
      val runs = served(p, m)
      val alone = runs.head._2
      assert(alone.size == targets.size)
      runs.tail.filter(_._1 != "matmul").foreach { case (how, got) =>
        targets.foreach { t =>
          assert(bits(got(t.toLong)) == bits(alone(t.toLong)), s"${label(p)} $m q$t $how vs alone")
        }
      }
    }
  }

  test("the scalar twin returns the vector path's bits") {
    if (ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent)
      assert(DotKernel.path.startsWith("vector"), DotKernel.path)
    for (p <- precisions; m <- metrics) {
      val vector = served(p, m)
      DotKernel.scalarOnly = true
      val scalar = try served(p, m) finally DotKernel.scalarOnly = false
      vector.zip(scalar).foreach { case ((how, v), (_, s)) =>
        targets.foreach { t =>
          assert(bits(v(t.toLong)) == bits(s(t.toLong)), s"${label(p)} $m q$t $how")
        }
      }
    }
  }
}
