package graft

import graft.operators.{Metric, Similarity}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output parity of every public top-k kernel: the exact `topk`,
  * `topkSq8`, `topkBq`, `topkIvfBq`, `topkPq`, `topkOpq`, `topkIvfPq`,
  * `topkIvfOpq` (nested and flat forms, and the filtered forms by id
  * array and by DataFrame where the family has them), `matmul`,
  * `matmulFlat` and `EventStream.topkServe`, over every metric the
  * kernel takes, f32 and f64 queries against f32 and f64 corpora, and
  * k in {0, 1, 10, n + 5}. The query frame carries null embeddings.
  * Each kernel also gets an `array<int>` query column, and
  * `rangePairs`/`cosinePairsAbove` run over the corpus tables. Each
  * entry is the result schema, its row count, the sha256 of its rows
  * rendered canonically and sorted, and `ids_sha256`, the same over the
  * rows without any score (no `score`/`scores`/`cosine` column, no
  * `score` field in a matches struct) — or the refusal's message. Two
  * commits whose kernels differ only in score bits agree on
  * `ids_sha256`. Not part of the build: to compare two commits, copy
  * this file into `src/test/scala/graft/` of each checkout and run
  *
  *   sbt "Test/runMain graft.KernelParity <out.json>"
  *
  * then compare the two JSON files entry by entry.
  */
object KernelParity {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val dim = 16; val n = 300
    val centers = Array.fill(5, dim)(rnd.nextGaussian() * 2.0)
    def gen(from: Long, until: Long) = (from until until).map { i =>
      i -> centers((i % 5).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.5)
    }
    val corpus64 = gen(0L, n.toLong).toDF("id", "emb")
    val corpus32 = corpus64.select(col("id"), col("emb").cast(ArrayType(FloatType)).as("emb"))
    // 24 queries, every sixth one null
    val q64 = gen(9000L, 9024L).map { case (i, e) => (i, if (i % 6 == 0) null else e) }
      .toDF("qid", "emb").withColumn("tag", concat(lit("t"), col("qid").cast("string")))
    val q32 = q64.withColumn("emb", col("emb").cast(ArrayType(FloatType)))
    val qInt = q64.withColumn("emb", transform(col("emb"), x => (x * 10).cast(IntegerType)))
    val allowed = (0L until n.toLong).filter(_ % 3 != 0).toArray
    val allowedDf = allowed.toSeq.toDF("id")
    val ks = Seq(0, 1, 10, n + 5)
    val metrics = Seq(Metric.Cosine, Metric.Dot, Metric.Euclidean)
    val precisions = Seq("q64_c64", "q32_c64", "q64_c32", "q32_c32")
    def queriesOf(p: String) = if (p.startsWith("q32")) q32 else q64
    def corpusOf(p: String) = if (p.endsWith("c32")) corpus32 else corpus64

    def canon(v: Any): String = v match {
      case null => "null"
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case x => x.toString
    }
    def sha(s: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      s.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    def rootMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage
        .replace("\"", "'").replace("\n", " ")
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val scoreNames = Set("score", "scores", "cosine")
    // a row rendered without its scores: score columns dropped, and the
    // score field of each struct in a matches array
    def canonIds(r: Row, schema: StructType): String = schema.fields.zipWithIndex
      .filterNot { case (f, _) => scoreNames(f.name) }
      .map { case (f, i) =>
        (f.dataType, r.get(i)) match {
          case (_, null) => "null"
          case (ArrayType(st: StructType, _), ms: scala.collection.Seq[_]) =>
            ms.map(e => canonIds(e.asInstanceOf[Row], st)).mkString("[", ",", "]")
          case (_, v) => canon(v)
        }
      }.mkString("(", ",", ")")
    def record(name: String, df: => DataFrame): Unit = {
      val e = try {
        val d = df
        val got = d.collect()
        val rows = got.map(canon).sorted.toSeq
        val ids = got.map(canonIds(_, d.schema)).sorted.toSeq
        s""""schema":"${d.schema.simpleString}","rows":${rows.size},"sha256":"${sha(rows)}",""" +
          s""""ids_sha256":"${sha(ids)}""""
      } catch { case t: Throwable => s""""error":"${rootMessage(t)}"""" }
      entries += s"""{"entry":"$name",$e}"""
      println(s"[parity] $name")
    }

    // index builds, one per corpus precision
    val builds = Seq("c64" -> corpus64, "c32" -> corpus32).map { case (c, df) =>
      val cx = Similarity.collectCorpus(df, "id", "emb")
      c -> (cx, Similarity.quantizeSq8(cx), Similarity.quantizeBq(cx),
        Similarity.quantizeIvfBq(cx, 4), Similarity.quantizePq(cx, 4, trainSample = 256),
        Similarity.quantizeOpq(cx, 4, trainSample = 256, opqIters = 2),
        Similarity.quantizeIvfPq(cx, 4, 4, trainSample = 256),
        Similarity.quantizeIvfOpq(cx, 4, 4, trainSample = 256, opqIters = 2))
    }.toMap
    val nProbe = 2

    for (p <- precisions; k <- ks) {
      val q = queriesOf(p)
      val (cx, sq8, bq, ivfbq, pq, opq, ivfpq, ivfopq) = builds(p.takeRight(3))
      val sl = math.max(k, 40)
      for (m <- metrics) {
        val t = s"$p/${m.toString.toLowerCase}/k$k"
        record(s"topk/$t", Similarity.topk(q, "emb", cx, k, m))
        record(s"topkFlat/$t", Similarity.topkFlat(q, "emb", cx, k, m))
        record(s"topkSq8/$t", Similarity.topkSq8(q, "emb", sq8, k, m))
        record(s"topkSq8/tile7/$t", Similarity.topkSq8(q, "emb", sq8, k, m, tileRows = 7))
        record(s"topkSq8Flat/$t", Similarity.topkSq8Flat(q, "emb", sq8, k, m))
        record(s"topkBq/$t", Similarity.topkBq(q, "emb", bq, k, m, sl))
        record(s"topkBqFlat/$t", Similarity.topkBqFlat(q, "emb", bq, k, m, sl))
        record(s"topkBqFiltered/ids/$t", Similarity.topkBqFiltered(q, "emb", bq, allowed, k, m, sl))
        record(s"topkBqFiltered/df/$t",
          Similarity.topkBqFiltered(q, "emb", bq, allowedDf, "id", k, m, sl, "matches"))
        record(s"topkBqFilteredFlat/ids/$t",
          Similarity.topkBqFilteredFlat(q, "emb", bq, allowed, k, m, sl))
        record(s"topkBqFilteredFlat/df/$t",
          Similarity.topkBqFilteredFlat(q, "emb", bq, allowedDf, "id", k, m, sl))
        Seq(0, sl).foreach { s =>
          record(s"topkPq/sl$s/$t", Similarity.topkPq(q, "emb", pq, k, m, s))
          record(s"topkPqFlat/sl$s/$t", Similarity.topkPqFlat(q, "emb", pq, k, m, s))
          record(s"topkOpq/sl$s/$t", Similarity.topkOpq(q, "emb", opq, k, m, s))
          record(s"topkOpqFlat/sl$s/$t", Similarity.topkOpqFlat(q, "emb", opq, k, m, s))
        }
        record(s"topkServe/$t", EventStream.topkServe(q, "qid", "emb", cx, k, m))
        record(s"topkServe/tile7/$t", EventStream.topkServe(q, "qid", "emb", cx, k, m, 7))
      }
      // the routed families are cosine-only
      val t = s"$p/cosine/k$k"
      record(s"topkIvfBq/$t", Similarity.topkIvfBq(q, "emb", ivfbq, k, nProbe, sl))
      record(s"topkIvfBqFlat/$t", Similarity.topkIvfBqFlat(q, "emb", ivfbq, k, nProbe, sl))
      record(s"topkIvfBqFiltered/ids/$t",
        Similarity.topkIvfBqFiltered(q, "emb", ivfbq, allowed, k, nProbe, sl))
      record(s"topkIvfBqFilteredFlat/ids/$t",
        Similarity.topkIvfBqFilteredFlat(q, "emb", ivfbq, allowed, k, nProbe, sl))
      Seq(0, sl).foreach { s =>
        val ts = s"sl$s/$t"
        record(s"topkIvfPq/$ts", Similarity.topkIvfPq(q, "emb", ivfpq, k, nProbe, s))
        record(s"topkIvfPqFlat/$ts", Similarity.topkIvfPqFlat(q, "emb", ivfpq, k, nProbe, s))
        record(s"topkIvfPqFiltered/ids/$ts",
          Similarity.topkIvfPqFiltered(q, "emb", ivfpq, allowed, k, nProbe, s))
        record(s"topkIvfPqFiltered/df/$ts",
          Similarity.topkIvfPqFiltered(q, "emb", ivfpq, allowedDf, "id", k, nProbe, s, "matches"))
        record(s"topkIvfPqFilteredFlat/ids/$ts",
          Similarity.topkIvfPqFilteredFlat(q, "emb", ivfpq, allowed, k, nProbe, s))
        record(s"topkIvfPqFilteredFlat/df/$ts",
          Similarity.topkIvfPqFilteredFlat(q, "emb", ivfpq, allowedDf, "id", k, nProbe, s))
        record(s"topkIvfOpq/$ts", Similarity.topkIvfOpq(q, "emb", ivfopq, k, nProbe, s))
        record(s"topkIvfOpqFlat/$ts", Similarity.topkIvfOpqFlat(q, "emb", ivfopq, k, nProbe, s))
      }
    }
    precisions.foreach { p =>
      val cx = builds(p.takeRight(3))._1
      record(s"matmul/$p", Similarity.matmul(queriesOf(p), "emb", cx))
      record(s"matmulFlat/$p", Similarity.matmulFlat(queriesOf(p), "emb", cx))
    }

    // the range joins over each corpus table (ids 0 … n−1)
    Seq("c64" -> corpus64, "c32" -> corpus32).foreach { case (c, df) =>
      Seq(Metric.Cosine -> 0.9, Metric.Dot -> 30.0, Metric.Euclidean -> 2.5).foreach { case (m, th) =>
        record(s"rangePairs/$c/${m.toString.toLowerCase}", Similarity.rangePairs(df, "id", "emb", m, th))
      }
      record(s"cosinePairsAbove/$c", Similarity.cosinePairsAbove(df, "id", "emb", 0.9))
    }

    // an array<int> query column against every kernel
    val (cx, sq8, bq, ivfbq, pq, opq, ivfpq, ivfopq) = builds("c64")
    val m = Metric.Dot
    record("nonfloat/topk", Similarity.topk(qInt, "emb", cx, 10, m))
    record("nonfloat/topkFlat", Similarity.topkFlat(qInt, "emb", cx, 10, m))
    record("nonfloat/matmul", Similarity.matmul(qInt, "emb", cx))
    record("nonfloat/matmulFlat", Similarity.matmulFlat(qInt, "emb", cx))
    record("nonfloat/topkSq8", Similarity.topkSq8(qInt, "emb", sq8, 10, m))
    record("nonfloat/topkBq", Similarity.topkBq(qInt, "emb", bq, 10, m, 40))
    record("nonfloat/topkIvfBq", Similarity.topkIvfBq(qInt, "emb", ivfbq, 10, nProbe, 40))
    record("nonfloat/topkPq", Similarity.topkPq(qInt, "emb", pq, 10, m, 40))
    record("nonfloat/topkOpq", Similarity.topkOpq(qInt, "emb", opq, 10, m, 40))
    record("nonfloat/topkIvfPq", Similarity.topkIvfPq(qInt, "emb", ivfpq, 10, nProbe, 40))
    record("nonfloat/topkIvfOpq", Similarity.topkIvfOpq(qInt, "emb", ivfopq, 10, nProbe, 40))

    val pw = new java.io.PrintWriter(out)
    pw.println(entries.mkString("[\n", ",\n", "\n]"))
    pw.close()
    spark.stop()
  }
}
