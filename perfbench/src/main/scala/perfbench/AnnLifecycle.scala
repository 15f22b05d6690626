package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Metric => SimMetric, Similarity}
import graft.operators.Similarity.CorpusIndexIvfPq
import graft.sources.{Sink, Source}

/** The IVF-PQ sharded index lifecycle: a timed build (train, write,
  * first read) and warm-up serves, then rounds of append, delete and
  * serve, each mutation followed by the re-read a server pays before it
  * can serve the new version, and a compaction closing every round. The
  * first round always completes; later rounds run while time remains.
  * Each kind of op runs at least once before any 256- or 2048-query
  * serve is timed; the mutations of the first round are the first of
  * their kind in the process.
  */
final class AnnLifecycle(tiny: Boolean) extends Workload {
  val n0: Int = if (tiny) 3000 else 5000
  val dim = 128
  val shards = 4
  val nCells: Int = if (tiny) 8 else 64
  val m = 16
  val k = 10
  val nProbe = 16
  val shortlist = 100
  val batch: Int = if (tiny) 32 else 256
  val largeBatch: Int = if (tiny) 128 else 2048
  /** per round: nine 256-query serves and three 2048-query serves */
  val servesPerRound = 12
  val largeEvery = 4
  val nCenters = 256

  private var seedOf = 0L
  private var centers: Array[Array[Double]] = _
  private var base: DataFrame = _
  private var index: IndexedSeq[CorpusIndexIvfPq] = _
  private var tombstones: Array[Long] = Array.empty
  private var version = 0
  private var dir: Path = _
  private var nextId = 0L
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deletedEver = mutable.HashSet.empty[Long]
  private val recalls = ArrayBuffer.empty[Double]
  private val tombstonesAtServe = ArrayBuffer.empty[Double]
  private val trainS = ArrayBuffer.empty[Double]
  private var bytesWritten = 0L
  private var bytesRead = 0L
  private var rereads = 0
  private var appendedUserBytes = 0L
  private var bytesPerVector = Double.NaN
  private var round = 0
  private var deleteNo = 0L
  private var corrupted = false

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def frame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    val (s, c, d) = (seedOf, centers, dim)
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids, 4).map(id => Row(id, AnnLifecycle.vector(s, c, id, d).toSeq)),
      schema)
  }

  def setup(run: Run): Unit = {
    seedOf = run.seed
    centers = Array.tabulate(nCenters) { i =>
      val r = Rng(run.seed, "ann.center", i)
      Array.fill(dim)(r.nextGaussian() * 2.0)
    }
    base = frame(run.spark, 0L until n0.toLong).cache()
    base.count()
  }

  private def path(v: Int): String = dir.resolve(f"v$v%03d").toString

  private def dirBytes(p: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(p))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  private def dropVersion(v: Int): Unit = AnnLifecycle.deleteTree(java.nio.file.Paths.get(path(v)))

  private def reread(run: Run, req: Long): Unit = {
    val (ix, ts) = run.call("source.read", req)(Source.readIvfPqShardedIndexWithTombstones(run.spark, path(version)))
    index = ix
    tombstones = ts
  }

  private def storedOk: Boolean =
    index.map(_.n.toLong).sum == live.size + tombstones.length &&
      tombstones.forall(deletedEver.contains)

  private def build(run: Run): Unit = {
    (0L until n0.toLong).foreach(live += _)
    nextId = n0.toLong
    run.op("build", n0.toLong) { req =>
      val b = run.call("ann.build", req) {
        val t0 = System.nanoTime()
        val r = Similarity.buildIvfPqShardedWithLayout(base, "id", "emb", shards, nCells, m)
        trainS += (System.nanoTime() - t0) / 1e9
        r
      }
      run.call("sink.write", req)(Sink.writeIvfPqShardedIndex(run.spark, b, path(version), overwrite = false))
      reread(run, req)
    } { _ => storedOk && tombstones.isEmpty }
    afterMutation(from = -1)
  }

  /** Disk accounting for the version just written and re-read, then
    * the previous version's directory is removed.
    */
  private def afterMutation(from: Int): Unit = {
    val now = dirBytes(path(version))
    bytesRead += now
    rereads += 1
    // a delete copies the shards and adds a tombstone file
    bytesWritten += now
    if (from >= 0) dropVersion(from)
  }

  // each round appends a tenth of the base and deletes a hundredth
  private def append(run: Run): Unit = {
    val na = n0 / 10
    val ids = (nextId until nextId + na).toSeq
    nextId += na
    val rows = frame(run.spark, ids)
    val from = version
    run.op("append", na.toLong) { req =>
      version += 1
      run.call("sink.append", req)(Sink.appendIvfPqShardedIndex(
        run.spark, rows, "id", "emb", path(from), path(version)))
      ids.foreach(live += _)
      reread(run, req)
    } { _ => storedOk }
    appendedUserBytes += na.toLong * (8L + 8L * dim)
    afterMutation(from)
  }

  private def delete(run: Run): Unit = {
    deleteNo += 1
    val r = Rng(run.seed, "ann.delete", deleteNo)
    val pool = live.toArray
    val chosen = mutable.LinkedHashSet.empty[Long]
    while (chosen.size < math.min(n0 / 100, pool.length - k)) chosen += pool(r.nextInt(pool.length))
    val del = run.spark.createDataFrame(
      java.util.Arrays.asList(chosen.toSeq.map(Row(_)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false))))
    val from = version
    run.op("delete", chosen.size.toLong) { req =>
      version += 1
      run.call("sink.delete", req)(Sink.deleteFromIvfPqShardedIndex(run.spark, del, "id", path(from), path(version)))
      chosen.foreach { id => live -= id; deletedEver += id }
      reread(run, req)
    } { _ => storedOk }
    afterMutation(from)
  }

  private def compact(run: Run): Unit = {
    val from = version
    run.op("compact", live.size.toLong) { req =>
      version += 1
      run.call("sink.compact", req)(Sink.compactIvfPqShardedIndex(run.spark, path(from), path(version)))
      reread(run, req)
    } { _ => storedOk && tombstones.isEmpty && index.map(_.n.toLong).sum == live.size }
    afterMutation(from)
  }

  private def queries(run: Run, tag: Long, nq: Int): (DataFrame, Array[(Long, Array[Double])]) = {
    val r = Rng(run.seed, "ann.query", tag)
    val pool = live.toArray
    val qs = Array.tabulate(nq) { j =>
      val b = AnnLifecycle.vector(run.seed, centers, pool(r.nextInt(pool.length)), dim)
      (tag * 100000L + j, b.map(_ + 0.5 * r.nextGaussian()))
    }
    val df = run.spark.createDataFrame(
      java.util.Arrays.asList(qs.map { case (id, v) => Row(id, v.toSeq) }.toIndexedSeq: _*),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false))))
    (df, qs)
  }

  private var serveNo = 0L
  /** the live set packed for the exact kernel, once per round */
  private var exactIx: graft.operators.CorpusIndex = _

  /** One serve of a fresh query batch: `large` batches measure serving
    * throughput, the others latency; with `recall` the batch's recall
    * is measured, outside timing.
    */
  private def serve(run: Run, warm: Boolean, large: Boolean = false, recall: Boolean = false): Unit = {
    serveNo += 1
    val nq = if (large) largeBatch else batch
    val (df, qs) = queries(run, serveNo, nq)
    val kEff = math.min(k, live.size)
    val out = run.op(if (large) "serve_large" else "serve", nq.toLong, warm) { req =>
      val top = run.call("ann.serve", req)(Similarity.topkIvfPqShardedTombstoned(
        df, "emb", "qid", index, tombstones, k, nProbe, shortlist))
      run.call("ann.collect", req)(top.select("qid", "index").collect())
    } { rows0 =>
      val rows =
        if (run.args.corrupt && !corrupted && deletedEver.nonEmpty) {
          // self-check: serve one deleted id
          corrupted = true
          rows0.updated(0, Row(rows0(0).getLong(0), deletedEver.head))
        } else rows0
      rows.length == nq * kEff && rows.forall(r => !deletedEver.contains(r.getLong(1)))
    }
    if (!warm) tombstonesAtServe += tombstones.length.toDouble
    if (recall) out.foreach { rows =>
      // exact top-k on the live set with the flat kernel, outside timing
      if (exactIx == null) exactIx = Similarity.collectCorpus(frame(run.spark, live.toSeq), "id", "emb")
      val exact = Similarity.topkFlat(df, "emb", exactIx, k, SimMetric.Cosine)
        .select("qid", "index").collect().groupMap(_.getLong(0))(_.getLong(1))
      val approx = rows.groupMap(_.getLong(0))(_.getLong(1))
      val hits = exact.map { case (q, ids) => ids.toSet.intersect(approx.getOrElse(q, Array.empty).toSet).size }.sum
      recalls += hits.toDouble / (qs.length * kEff)
    }
  }

  /** The build is the lifecycle's first op and is timed; the first
    * serves of the built index are warm-up and dropped.
    */
  def warmup(run: Run): Unit = {
    dir = run.args.workDir.resolve("ann")
    AnnLifecycle.deleteTree(dir)
    Files.createDirectories(dir)
    build(run)
    for (_ <- 0 until 2) serve(run, warm = true)
    serve(run, warm = true, large = true)
    run.sampleHeap()
  }

  def measure(run: Run, deadlineNs: Long): Unit = {
    // the first round always completes; later ones stop at the deadline
    def more = round == 1 || System.nanoTime() < deadlineNs
    while (round == 0 || System.nanoTime() < deadlineNs) {
      round += 1
      append(run)
      if (more) delete(run)
      exactIx = null
      for (i <- 0 until servesPerRound if more) {
        serve(run, warm = false, large = i % largeEvery == largeEvery - 1, recall = i % 4 == 0)
        run.sampleJobFloor()
      }
      if (more) compact(run)
      run.sampleHeap()
    }
    bytesPerVector = dirBytes(path(version)).toDouble / live.size
  }

  override def cleanup(run: Run): Unit = if (dir != null) AnnLifecycle.deleteTree(dir)

  def summary(run: Run): Summary = {
    def ok(kind: String) = run.timed(kind).filter(o => o.ok && !o.traced)
    val serveMs = ok("serve").map(_.ms)
    val (tailMs, tailPct) = Stats.tail(serveMs)
    val maint = Seq("build", "append", "delete", "compact").flatMap(ok)
    val appends = ok("append")
    val large = ok("serve_large")
    val traced = run.tracer.all
    def spanS(name: String) = traced.filter(_.name == name).map(_.durNs / 1e9)
    val reads = traced.filter(_.name == "source.read")
    Summary(
      latencyKinds = Set("serve"),
      // queries/s of the median 2048-query serve
      bulkPerS = largeBatch / (Stats.median(large.map(_.ms)) / 1000),
      quality = Stats.median(recalls.toSeq),
      apiCallSpan = "ann.serve",
      apiExecSpan = "ann.collect",
      apiBuildS = trainS.toSeq,
      named = Seq(
        Metric("ann.build_s", Stats.median(ok("build").map(_.ms / 1000)), "s"),
        Metric("ann.serve_p50_ms", Stats.median(serveMs), "ms"),
        Metric("ann.serve_tail_ms", tailMs, "ms"),
        Metric("ann.recall_at_10", Stats.median(recalls.toSeq), "ratio"),
        Metric("ann.append_rows_per_s", appends.map(_.items).sum / (appends.map(_.ns).sum / 1e9), "1/s"),
        Metric("ann.delete_p50_ms", Stats.median(ok("delete").map(_.ms)), "ms"),
        Metric("ann.compact_s", Stats.median(ok("compact").map(_.ms / 1000)), "s"),
        Metric("ann.index_bytes_per_vector", bytesPerVector, "B")),
      layerNamed = Seq(
        Metric("ann.train_s", Stats.median(trainS.toSeq), "s"),
        Metric("ann.serve_call_ms", Stats.median(spanS("ann.serve").map(_ * 1000)), "ms"),
        Metric("ann.serve_exec_ms", Stats.median(spanS("ann.collect").map(_ * 1000)), "ms"),
        Metric("ann.tombstones_live", Stats.median(tombstonesAtServe.toSeq), "count"),
        Metric("sink.write_s", Stats.median(spanS("sink.write")), "s"),
        Metric("sink.append_s", Stats.median(spanS("sink.append")), "s"),
        Metric("sink.delete_s", Stats.median(spanS("sink.delete")), "s"),
        Metric("sink.compact_s", Stats.median(spanS("sink.compact")), "s"),
        Metric("sink.bytes_written_per_op", bytesWritten.toDouble / math.max(1, maint.size), "B"),
        Metric("sink.write_amp", bytesWritten.toDouble / math.max(1L, appendedUserBytes), "ratio"),
        Metric("source.read_s", Stats.median(reads.map(_.durNs / 1e9)), "s"),
        Metric("source.bytes_read_per_op", bytesRead.toDouble / math.max(1, rereads), "B")),
      notes = Seq(
        "serve_batches" -> serveMs.size, "serve_tail_percentile" -> tailPct, "rounds" -> round,
        "base" -> s"${n0}x$dim f64", "live_at_end" -> live.size,
        "tombstone_share_at_serve" -> Stats.median(tombstonesAtServe.toSeq) / math.max(1, live.size)))
  }
}

object AnnLifecycle {
  def vector(seed: Long, centers: Array[Array[Double]], id: Long, dim: Int): Array[Double] = {
    val r = Rng(seed, "ann.vector", id)
    val c = centers(r.nextInt(centers.length))
    Array.tabulate(dim)(d => c(d) + r.nextGaussian())
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
