package graft

import graft.operators.Similarity
import graft.operators.Similarity.CorpusIndexIvfPq
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** What a bounded-memory wave serve costs. Serves an
  * ann_lifecycle-shaped index (5,000 × 128 f64 rows, 4 shards × 64
  * cells, m = 16, ~1% of ids denied as tombstones) through
  * `topkIvfPqShardedWaves` (k 10, nProbe 16, shortlist 100, the
  * result's (qid, index) collected) on local[4], for 256 and 2048
  * queries in a 4-partition frame (not split), waveSize 1 and 2, and
  * in-memory (`memoryPartials = true`) and parquet (explicit
  * `scratchDir`) wave partials. Per configuration: 2 warm-up and 7
  * timed serves; the p50 wall time of a serve (call + collect); the
  * jobs, tasks and shuffle-write bytes per serve seen by a listener;
  * and the bytes one more serve leaves as partials: the files under
  * its scratch dir, or the block manager's RDD blocks (memory + disk)
  * right after the serve against before it (after a GC, so earlier
  * serves' blocks are mostly cleaned). One invocation is one round at
  * one commit; alternate commits across rounds. Not part of the
  * build: copy this file into `src/test/scala/graft/` and run
  *
  *   sbt "Test/runMain graft.WaveProbe <out.jsonl> <label> <round>"
  *
  * which appends one JSON line per configuration to `out.jsonl`.
  */
object WaveProbe {
  private val dim = 128
  private val schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def main(args: Array[String]): Unit = {
    val Array(out, label, round) = args
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(256, dim)(rnd.nextGaussian() * 2.0)
    def vec(r: scala.util.Random) = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(d => c(d) + r.nextGaussian())
    }
    val corpus = (0L until 5000L).map(i => i -> vec(rnd))
    val tombstones = (0L until 5000L by 97L).toArray
    val queryRows = (0 until 2048).map(j =>
      Row(j.toLong, vec(rnd).map(_ + 0.5 * rnd.nextGaussian()).toSeq))

    val spark = GraftSession.create("local[4]", 4)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val sc = spark.sparkContext
      val index: IndexedSeq[CorpusIndexIvfPq] = {
        import spark.implicits._
        Similarity.buildIvfPqShardedWithLayout(corpus.map { case (i, v) => i -> v.toSeq }
          .toDF("id", "emb"), "id", "emb", 4, 64, 16).shards
      }
      val root = java.nio.file.Files.createTempDirectory("wave-probe").toString
      var calls = 0
      for (nq <- Seq(256, 2048); waveSize <- Seq(1, 2); partials <- Seq("memory", "parquet")) {
        val q = spark.createDataFrame(sc.parallelize(queryRows.take(nq), 4), schema)
        def serve(): String = {
          calls += 1
          val scratch = if (partials == "memory") "" else s"$root/call_$calls"
          Similarity.topkIvfPqShardedWaves(q, "emb", "qid", index, 10, 16, 100,
            waveSize = waveSize, scratchDir = scratch,
            meter = new Similarity.ShardedServeMeter, memoryPartials = partials == "memory",
            deniedIds = tombstones).select("qid", "index").collect()
          scratch
        }
        serve(); serve()
        val (ms, jobs, tasks, shuffled) = timed(spark, 7)(serve())
        def blockBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        // let the ContextCleaner drop the earlier serves' blocks first
        System.gc(); Thread.sleep(1000)
        val before = blockBytes
        val scratch = serve()
        val scratchBytes =
          if (scratch.isEmpty) blockBytes - before
          else {
            val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(scratch))
            try {
              var b = 0L
              walk.forEach { p =>
                if (java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
                  b += java.nio.file.Files.size(p)
              }
              b
            } finally walk.close()
          }
        lines += f"""{"commit":"$label","round":$round,"queries":$nq,"wave_size":$waveSize,""" +
          f""""partials":"$partials","p50_ms":$ms%.2f,"jobs_per_serve":${jobs / 7.0}%.2f,""" +
          f""""tasks_per_serve":${tasks / 7.0}%.2f,"shuffle_write_bytes_per_serve":${shuffled / 7},""" +
          f""""scratch_bytes":$scratchBytes}"""
        println(lines.last)
      }
    } finally spark.stop()
    val w = new java.io.FileWriter(out, true)
    try lines.foreach(l => w.write(l + "\n")) finally w.close()
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
