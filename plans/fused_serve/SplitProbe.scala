package graft

import graft.operators.Similarity
import graft.operators.Similarity.CorpusIndexIvfPq
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Does the resident sharded serve's query split pay? `TopkFrame.rows`
  * splits a query frame of P partitions, 0 < P < the default
  * parallelism, round-robin to min(default parallelism, P × shards)
  * partitions before the kernel pass when the index has more than one
  * shard. This probe serves the same ann_lifecycle-shaped index
  * (5,000 × 128 f64 rows, 4 shards × 64 cells, m = 16, ~1% tombstoned;
  * `topkIvfPqShardedTombstoned`, k 10, nProbe 16, shortlist 100, the
  * result's (qid, index) collected) with each query frame in two
  * sessions on local[4] that differ only in `spark.default.parallelism`:
  *
  *  - `split`: the default (4), so a 1-partition frame is split to 4;
  *  - `unsplit`: 1, so no frame is split and a 1-partition frame runs
  *    its whole kernel pass in one task.
  *
  * Frames of 1 partition (16, 256 and 2048 queries) are the case the
  * rule decides; 4-partition frames (256, 2048) are split in neither
  * session and are the control. Per round and session: 2 warm-up and
  * 9 timed serves of each frame; the p50 wall time of a serve (call +
  * collect), and the jobs, tasks and shuffle-write bytes per serve
  * seen by a listener. Sessions alternate, split first in odd rounds.
  * Not part of the build: copy this file into `src/test/scala/graft/`
  * and run
  *
  *   sbt "Test/runMain graft.SplitProbe <out.json> [rounds]"
  */
object SplitProbe {
  private val dim = 128
  private val schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 5
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(256, dim)(rnd.nextGaussian() * 2.0)
    def vec(r: scala.util.Random) = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(d => c(d) + r.nextGaussian())
    }
    val corpus = (0L until 5000L).map(i => i -> vec(rnd))
    val tombstones = (0L until 5000L by 97L).toArray
    val queryRows = (0 until 2048).map(j => Row(j.toLong, vec(rnd).map(_ + 0.5 * rnd.nextGaussian()).toSeq))

    // the shards are driver objects, built once and served in every session
    val build = GraftSession.create("local[4]", 4)
    val index: IndexedSeq[CorpusIndexIvfPq] = {
      import build.implicits._
      Similarity.buildIvfPqShardedWithLayout(corpus.map { case (i, v) => i -> v.toSeq }
        .toDF("id", "emb"), "id", "emb", 4, 64, 16).shards
    }
    build.stop()

    val frames = Seq((1, 16), (1, 256), (1, 2048), (4, 256), (4, 2048))
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    for (round <- 1 to rounds; mode <- if (round % 2 == 1) Seq("split", "unsplit")
        else Seq("unsplit", "split")) {
      if (mode == "unsplit") sys.props("spark.default.parallelism") = "1"
      else sys.props.remove("spark.default.parallelism")
      val spark = GraftSession.create("local[4]", 4)
      try {
        val sc = spark.sparkContext
        frames.foreach { case (parts, nq) =>
          val q = spark.createDataFrame(sc.parallelize(queryRows.take(nq), parts), schema)
          def serve(): Unit = {
            Similarity.topkIvfPqShardedTombstoned(q, "emb", "qid", index, tombstones, 10, 16, 100)
              .select("qid", "index").collect()
            ()
          }
          serve(); serve()
          val (ms, jobs, tasks, shuffled) = timed(spark, 9)(serve())
          entries += f"""{"round":$round,"session":"$mode","default_parallelism":${sc.defaultParallelism},""" +
            f""""partitions":$parts,"queries":$nq,"p50_ms":$ms%.2f,"queries_per_s":${nq * 1000.0 / ms}%.1f,""" +
            f""""jobs_per_serve":${jobs / 9.0}%.2f,"tasks_per_serve":${tasks / 9.0}%.2f,""" +
            f""""shuffle_write_bytes_per_serve":${shuffled / 9}}"""
          println(entries.last)
        }
      } finally spark.stop()
    }
    sys.props.remove("spark.default.parallelism")
    val w = new java.io.PrintWriter(out)
    try w.write(entries.mkString("[\n", ",\n", "\n]\n")) finally w.close()
  }

  /** p50 wall ms of `n` runs of `body`, and the jobs, tasks and
    * shuffle-write bytes they started, summed over the `n` runs.
    */
  private def timed(spark: SparkSession, n: Int)(body: => Unit): (Double, Int, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"probe-${System.nanoTime()}"
    val stages = scala.collection.mutable.Set.empty[Int]
    var jobs = 0; var tasks = 0; var shuffled = 0L
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) { jobs += 1; stages ++= e.stageIds }
        else if (g == s"$group-end") drained = true
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (stages.contains(e.stageId)) {
          tasks += 1
          if (e.taskMetrics != null) shuffled += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "probe", interruptOnCancel = false)
      val ms = try (1 to n).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }.sorted.apply(n / 2) finally sc.clearJobGroup()
      // the bus delivers in order: a later job's start follows every event of the runs
      sc.setJobGroup(s"$group-end", "probe", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      l.synchronized((ms, jobs, tasks, shuffled))
    } finally sc.removeSparkListener(l)
  }
}
