package graft

import graft.operators.{Metric, Similarity}
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.InternalRowBridge
import org.apache.spark.sql.types._

/** Where a knn_serve-shaped flat request spends its time on the
  * driver. Packs a 10,000 × 256 f32 corpus once (`collectCorpus`), then
  * per sample builds a fresh 16-query (and, every third sample, a
  * 2048-query) f32 frame in 4 partitions and times, in this order:
  *  - `broadcast`: `sparkContext.broadcast` of the packed corpus (what
  *    every `topkFlat` call mints), destroyed again;
  *  - `to_rdd`: `queryExecution.toRdd` of a fresh query frame (what the
  *    kernel frame runs on its input);
  *  - `call`: `Similarity.topkFlat(frame, k = 10, cosine)`, which
  *    returns the lazy flat frame;
  *  - `collect`: `select(qid, rank, index, score).collect()` of it;
  *  - `analysis` = call − broadcast − to_rdd: the driver time of
  *    building the flat frame past those two.
  * It also records whether the executed plan holds a `Generate` node.
  * 10 warm-up samples, then 45 timed; each line is one request size's
  * medians. One invocation is one round at one commit; alternate
  * commits across rounds. Not part of the build: copy this file into
  * `src/test/scala/graft/` and run
  *
  *   sbt "Test/runMain graft.FlatProbe <out.jsonl> <label> <round>"
  *
  * which appends one JSON line per request size to `out.jsonl`.
  */
object FlatProbe {
  private val dim = 256
  private val schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = false)))

  def main(args: Array[String]): Unit = {
    val Array(out, label, round) = args
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(64, dim)(rnd.nextGaussian().toFloat)
    def vec(r: scala.util.Random): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(d => c(d) + 0.3f * r.nextGaussian().toFloat)
    }
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    val cx = Similarity.collectCorpus(
      (0L until 10000L).map(i => i -> vec(rnd).toSeq).toDF("id", "emb"), "id", "emb")
    def frame(q: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until q).map(j => Row(j.toLong, vec(rnd).toSeq)), 4), schema)
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

    val phases = Seq("broadcast", "to_rdd", "call", "collect", "analysis")
    val samples = Map(16 -> phases.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap,
      2048 -> phases.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap)
    var generate = Map.empty[Int, Boolean]
    for (s <- 0 until 55; q <- if (s % 3 == 2) Seq(16, 2048) else Seq(16)) {
      var t0 = System.nanoTime()
      val bc = spark.sparkContext.broadcast(cx)
      val tBc = ms(t0)
      bc.destroy()
      val f = frame(q)
      t0 = System.nanoTime()
      InternalRowBridge.toInternalRdd(f)
      val tRdd = ms(t0)
      val g = frame(q)
      t0 = System.nanoTime()
      val top = Similarity.topkFlat(g, "emb", cx, 10, Metric.Cosine)
      val tCall = ms(t0)
      t0 = System.nanoTime()
      val rows = top.select("qid", "rank", "index", "score").collect()
      val tCollect = ms(t0)
      require(rows.length == q * 10, s"${rows.length} rows for $q queries")
      generate += q -> top.queryExecution.executedPlan.toString.contains("Generate")
      if (s >= 10) {
        val m = samples(q)
        m("broadcast") += tBc; m("to_rdd") += tRdd; m("call") += tCall
        m("collect") += tCollect; m("analysis") += tCall - tBc - tRdd
      }
    }
    def median(xs: Seq[Double]) = { val s = xs.sorted; s(s.length / 2) }
    val pw = new java.io.FileWriter(out, true)
    try samples.toSeq.sortBy(_._1).foreach { case (q, m) =>
      val meds = phases.map(p => f""""${p}_p50_ms":${median(m(p).toSeq)}%.2f""").mkString(",")
      pw.write(s"""{"label":"$label","round":$round,"queries":$q,"samples":${m("call").size},""" +
        s""""generate_in_plan":${generate(q)},$meds}""" + "\n")
    } finally pw.close()
    spark.stop()
  }
}
