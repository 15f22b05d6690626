package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed op. `items` is the work it did (queries, rows, docs). */
final case class OpRec(
    kind: String, req: Long, ns: Long, ok: Boolean, traced: Boolean, warm: Boolean,
    items: Long, gcMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = ns / 1e6
}

/** Command-line settings of one benchmark process. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: java.nio.file.Path, outDir: java.nio.file.Path,
    tiny: Boolean = false, corrupt: Boolean = false)

/** State shared by every workload: the Spark session (restartable, so
  * set-up can be timed more than once), the tracer and listener, the op
  * log, and the heap, GC and job-floor samples.
  */
final class Run(val args: Args) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  val ops = ArrayBuffer.empty[OpRec]
  val sessionStartS = ArrayBuffer.empty[Double]
  val heapLiveMb = ArrayBuffer.empty[Double]
  val jobFloorMs = ArrayBuffer.empty[Double]
  val errors = ArrayBuffer.empty[String]
  private var nextReq = 1L
  private val perKind = scala.collection.mutable.Map.empty[String, Int]
  private var floorFrame: org.apache.spark.sql.DataFrame = _

  def seed: Long = args.seed

  /** Stop any running session and start a fresh one; returns seconds. */
  def restartSession(): Double = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    spark = graft.GraftSession.create(master = "local[4]", shufflePartitions = 8)
    spark.range(1).count()
    val s = (System.nanoTime() - t0) / 1e9
    sessionStartS += s
    tracer = new Tracer(spark.sparkContext)
    if (args.trace) spark.sparkContext.addSparkListener(new SpanListener(tracer))
    floorFrame = null
    s
  }

  /** A span around one call into a layer (a no-op when untraced). */
  def call[T](name: String, req: Long)(body: => T): T = tracer.span(name, req)(body)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run one op: `body` is timed, `check` (untimed) validates its
    * result. A throw or a failed check marks the op failed. In a traced
    * run every other op of a kind is traced, so traced and untraced
    * timings come from the same window.
    */
  def op[T](kind: String, items: Long, warm: Boolean = false)(body: Long => T)(check: T => Boolean): Option[T] = {
    val req = nextReq
    nextReq += 1
    val nth = perKind.getOrElse(kind, 0)
    if (!warm) perKind(kind) = nth + 1
    val traced = args.trace && !warm && nth % 2 == 0
    tracer.enabled = traced
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var t1 = t0
    val out =
      try {
        val r = tracer.span(s"op.$kind", req)(body(req))
        t1 = System.nanoTime()
        Right(r)
      } catch {
        case e: Throwable =>
          t1 = System.nanoTime()
          Left(e)
      } finally tracer.enabled = false
    val gc1 = gcMs
    val result = out.flatMap { r =>
      try { if (check(r)) Right(r) else Left(new IllegalStateException(s"$kind: correctness check failed")) }
      catch { case e: Throwable => Left(e) }
    }
    result.left.foreach { e =>
      if (errors.size < 5) {
        errors += s"$kind#$req: $e"
        System.err.println(s"op $kind#$req failed: $e")
        e.printStackTrace()
      }
    }
    ops += OpRec(kind, req, t1 - t0, result.isRight, traced, warm, items, gc1 - gc0, t0, t1)
    result.toOption
  }

  /** Record a correctness failure found outside any single op. */
  def fail(kind: String, why: String): Unit = {
    val req = nextReq
    nextReq += 1
    errors += s"$kind#$req: $why"
    System.err.println(s"check $kind#$req failed: $why")
    ops += OpRec(kind, req, 0L, ok = false, traced = false, warm = false, 0L, 0L, 0L, 0L)
  }

  /** Post-GC heap occupancy, sampled with an explicit full GC between
    * ops. The first GC lets Spark's cleaner drop broadcasts and shuffles
    * no plan references any more; the second collects what it freed.
    */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    heapLiveMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The Spark job floor: a trivial 4-task job on a cached frame. */
  def sampleJobFloor(): Unit = if (args.trace) {
    if (floorFrame == null) {
      floorFrame = spark.range(0, 4, 1, 4).toDF("x").cache()
      floorFrame.foreach((_: org.apache.spark.sql.Row) => ())
    }
    val t0 = System.nanoTime()
    floorFrame.foreach((_: org.apache.spark.sql.Row) => ())
    jobFloorMs += (System.nanoTime() - t0) / 1e6
  }

  def timed(kind: String): Seq[OpRec] = ops.filter(o => o.kind == kind && !o.warm).toSeq
}
