package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.BroadcastBlockId

/** One timed call into a layer: `name` is `<layer>.<call>`, `parent`
  * the enclosing span (0 at an op's root), `req` the op it belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, req: Long, startNs: Long) {
  @volatile var endNs: Long = 0L
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span by [[SpanListener]]. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var resultBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var broadcastBytes = 0L
  /** (launch, finish) epoch millis of every finished task */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder. Spans open and close on the driver thread
  * that runs the workload; the innermost open span's id rides the
  * SparkContext local property [[Tracer.Prop]], so every job the call
  * starts (including jobs from pools it spawns, which inherit local
  * properties) is attributed to it by [[SpanListener]]. A disabled
  * tracer runs the body and records nothing.
  */
final class Tracer(sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1L
  @volatile var enabled = false
  val counters = new ConcurrentHashMap[java.lang.Long, SparkCounters]()
  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis()

  def epochMs(ns: Long): Double = milliBase + (ns - nanoBase) / 1e6

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId, name, parent, req, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, prev)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def countersOf(spanId: Long): Option[SparkCounters] = Option(counters.get(spanId))

  /** Self time per layer over `ops`: each span's duration minus the
    * part of it its child spans cover.
    */
  def selfNsByLayer(reqs: Set[Long]): Map[String, Long] = {
    val mine = spans.filter(s => reqs.contains(s.req))
    val children = mine.groupBy(_.parent)
    mine.map { s =>
      val covered = Tracer.unionNs(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
      s.layer -> (s.durNs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spans as JSON lines, one object per span, times in epoch millis. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = countersOf(s.id)
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "req" -> s.req, "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs),
        "jobs" -> c.map(_.jobs).getOrElse(0L), "tasks" -> c.map(_.tasks).getOrElse(0L),
        "broadcast_bytes" -> c.map(_.broadcastBytes).getOrElse(0L),
        "shuffle_write_bytes" -> c.map(_.shuffleWriteBytes).getOrElse(0L)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Attributes jobs, tasks, shuffle, spill, result and broadcast bytes
  * to the span whose id the job's local properties carry. Broadcast
  * pieces are reported through block-update events, which carry no job:
  * a piece stored while a traced job runs belongs to that job's span,
  * and one stored between jobs (a call broadcasting its index before
  * its first action) to the next traced job to start. Events arrive in
  * posting order on the listener bus, so both rules see a consistent
  * order.
  */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val seenPieces = ConcurrentHashMap.newKeySet[String]()
  private var pendingBroadcast = 0L
  private var runningSpan = 0L

  private def ctr(span: Long): SparkCounters =
    tracer.counters.computeIfAbsent(span, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    if (span > 0L) {
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val c = ctr(span)
      c.synchronized {
        c.jobs += 1
        c.broadcastBytes += pendingBroadcast
      }
      pendingBroadcast = 0L
      runningSpan = span
    } else pendingBroadcast = 0L // an untraced op's broadcast
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobSpan.containsKey(e.jobId)) {
      jobSpan.remove(e.jobId)
      if (jobSpan.isEmpty) runningSpan = 0L
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    // AQE re-plans submit stages of an existing job; they inherit its span
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    if (span > 0L) stageSpan.putIfAbsent(e.stageInfo.stageId, span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    if (span > 0L && e.taskInfo != null) {
      val c = ctr(span)
      c.synchronized {
        c.tasks += 1
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.resultBytes += m.resultSize
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: BroadcastBlockId if b.field.startsWith("piece") && info.storageLevel.isValid &&
          seenPieces.add(b.name) =>
        val bytes = info.memSize + info.diskSize
        if (runningSpan > 0L) { val c = ctr(runningSpan); c.synchronized { c.broadcastBytes += bytes } }
        else pendingBroadcast += bytes
      case _ =>
    }
  }
}
