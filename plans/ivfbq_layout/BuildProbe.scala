package graft

import graft.operators.Similarity

/** Times the IVF-PQ sharded build (ann_lifecycle's shape: 5000 x 128, 4 shards, 64 cells,
  * m 16) and `quantizePq` on the collected corpus, in one JVM: 2 warm-ups, then 8 timed
  * rounds, printing each round and the median. Both run the PQ codebook training. Not part
  * of the build: to compare two commits, copy this file into `src/test/scala/graft/` of
  * each checkout and run, alternating the checkouts,
  *
  *   sbt "Test/runMain graft.BuildProbe"
  */
object BuildProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(256, 128)(rnd.nextGaussian() * 2.0)
    val base = (0L until 5000L).map { i =>
      i -> centers((i % 256).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.5)
    }.toDF("id", "emb").repartition(4).cache()
    base.count()
    val cx = Similarity.collectCorpus(base, "id", "emb")
    def t(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val b = scala.collection.mutable.ArrayBuffer.empty[Double]
    val q = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until 10).foreach { r =>
      val tb = t(Similarity.buildIvfPqShardedWithLayout(base, "id", "emb", 4, 64, 16))
      val tq = t(Similarity.quantizePq(cx, 16))
      if (r >= 2) { b += tb; q += tq }
    }
    def med(v: Seq[Double]) = v.sorted.apply(v.size / 2)
    println(f"[probe] build_ms ${b.map(x => f"$x%.0f").mkString(",")} median ${med(b.toSeq)}%.0f")
    println(f"[probe] quantizePq_ms ${q.map(x => f"$x%.0f").mkString(",")} median ${med(q.toSeq)}%.0f")
    spark.stop()
  }
}
