package graft

import graft.sources.{Sink, Source}

/** Times the sharded IVF-PQ append and re-read on the ann_lifecycle
  * shape (5,000 × 128 f64 rows, 4 shards × 64 cells, m 16, +500 rows
  * appended so the grown packs need the id-ascending restore) and
  * counts the Spark jobs and tasks the re-reads run. Not part of the
  * build: copy this file into `src/test/scala/graft/` of a checkout
  * and run
  *
  *   sbt "Test/runMain graft.ReadProbe <workDir>"
  *
  * It prints the median of the last 4 of 6 appends, the median of the
  * last 20 of 25 re-reads, and those 20 re-read times.
  */
object ReadProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def gen(a: Long, b: Long) = (a until b).map(i => i -> Seq.fill(128)(rnd.nextGaussian()))
    val base = gen(0L, 5000L).toDF("id", "emb")
    val more = gen(5000L, 5500L).toDF("id", "emb")
    val b = graft.operators.Similarity.buildIvfPqShardedWithLayout(base, "id", "emb", 4, 64, 16)
    Sink.writeIvfPqShardedIndex(spark, b, s"$work/w", false)
    def time[T](f: => T): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    val app = (0 until 6).map(i => time(Sink.appendIvfPqShardedIndex(spark, more, "id", "emb", s"$work/w", s"$work/a$i")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    val reads = (0 until 25).map(_ => time(Source.readIvfPqShardedIndexWithTombstones(spark, s"$work/a0")))
    println(s"PROBE jobs ${jobs.get} tasks ${tasks.get} for 25 reads")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"PROBE append_ms ${med(app.drop(2))}%.1f read_ms ${med(reads.drop(5))}%.1f reads ${reads.drop(5).map(x => f"$x%.0f").mkString(",")}")
    spark.stop()
  }
}
