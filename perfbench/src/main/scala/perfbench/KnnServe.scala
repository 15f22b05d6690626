package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{CorpusIndex, Metric => SimMetric, Similarity}

/** Exact top-k serving against a corpus packed once in set-up. Each
  * request is a fresh query DataFrame and a fresh `topkFlat` call,
  * collected to the driver; every third request is large (throughput),
  * the others small (latency). After the serving loop the run measures
  * the dedup pipeline on a corpus of its own ([[DedupCorpus]]).
  */
final class KnnServe(tiny: Boolean) extends Workload {
  val n: Int = if (tiny) 2000 else 10000
  val dim = 256
  val k = 10
  val smallQ = 16
  val largeQ: Int = if (tiny) 128 else 2048
  val largeEvery = 3
  val nCenters = 64
  /** Scores closer than this are near-ties: f32 GEMM may order them either way. */
  val tieTol = 1e-4

  private var corpus: CorpusIndex = _
  private var vecs: Array[Float] = _
  private var norms: Array[Double] = _
  private val buildS = ArrayBuffer.empty[Double]
  private var reqNo = 0L
  private var checkedSlots = 0L
  private var agreedSlots = 0L
  private var corrupted = false
  private val dedup = new DedupCorpus(tiny)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = false)))
  private val qSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = false)))

  def setup(run: Run): Unit = {
    val seed = run.seed
    val centers = KnnServe.centers(seed, nCenters, dim)
    val (nn, d) = (n, dim)
    val rows = run.spark.range(0, nn, 1, 4).rdd.map { id =>
      Row(id.longValue, KnnServe.vector(seed, centers, id.longValue, d).toSeq)
    }
    val df = run.spark.createDataFrame(rows, schema)
    val t0 = System.nanoTime()
    corpus = Similarity.collectCorpus(df, "id", "emb")
    buildS += (System.nanoTime() - t0) / 1e9
  }

  /** The checker's own copy of the corpus, generated on the driver and
    * never read back from graft.
    */
  private def checkerCorpus(seed: Long): Unit = {
    val centers = KnnServe.centers(seed, nCenters, dim)
    vecs = new Array[Float](n * dim)
    norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = KnnServe.vector(seed, centers, i.toLong, dim)
      System.arraycopy(v, 0, vecs, i * dim, dim)
      norms(i) = math.sqrt(v.map(x => x.toDouble * x).sum)
      i += 1
    }
  }

  private def queryRows(seed: Long, req: Long, q: Int): Seq[(Long, Array[Float])] =
    (0 until q).map { j =>
      val r = Rng(seed, "knn.query", req * 100000L + j)
      val base = r.nextInt(n)
      val v = Array.tabulate(dim)(d => (vecs(base * dim + d) + 0.3 * r.nextGaussian()).toFloat)
      (req * 100000L + j, v)
    }

  private def request(run: Run, kind: String, q: Int, warm: Boolean): Unit = {
    reqNo += 1
    val rows = queryRows(run.seed, reqNo, q)
    val sample = Seq(rows.head, rows(Rng(run.seed, "knn.sample", reqNo).nextInt(q)))
    run.op(kind, q.toLong, warm) { req =>
      val df = run.call("client.frame", req) {
        run.spark.createDataFrame(
          java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), qSchema)
      }
      val top = run.call("similarity.topkFlat", req)(Similarity.topkFlat(df, "emb", corpus, k, SimMetric.Cosine))
      run.call("similarity.collect", req)(top.select("qid", "rank", "index", "score").collect())
    } { out => check(run, out, q, sample) }
  }

  /** Compare with a plain-Scala brute force: row count, then ids and
    * scores of the sampled queries. Ties break to the lowest corpus
    * index; a differing id is accepted only at a near-tie.
    */
  private def check(run: Run, out: Array[Row], q: Int, sample: Seq[(Long, Array[Float])]): Boolean = {
    var got = out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    if (run.args.corrupt && !corrupted) {
      // self-check: swap one returned top-k index for an id outside the true top k
      corrupted = true
      val qid = sample.head._1
      val truth = KnnServe.bruteForce(vecs, norms, n, dim, sample.head._2, k + 1).map(_._1).toSet
      val wrong = (0L until n.toLong).find(i => !truth.contains(i)).get
      got = got.map(t => if (t._1 == qid && t._2 == 1) t.copy(_3 = wrong) else t)
    }
    var ok = got.length == q * k
    sample.foreach { case (qid, qv) =>
      val mine = got.filter(_._1 == qid).sortBy(_._2)
      val truth = KnnServe.bruteForce(vecs, norms, n, dim, qv, k)
      ok &&= mine.length == k && mine.map(_._3).distinct.length == k
      mine.zip(truth).zipWithIndex.foreach { case (((_, rank, idx, score), (tId, tScore)), i) =>
        val trueScoreOfIdx = KnnServe.cosine(vecs, norms, dim, qv, idx.toInt)
        val agree = rank == i + 1 && math.abs(score - trueScoreOfIdx) <= tieTol &&
          (idx == tId || math.abs(trueScoreOfIdx - tScore) <= tieTol)
        checkedSlots += 1
        if (agree) agreedSlots += 1
        ok &&= agree
      }
    }
    ok
  }

  def warmup(run: Run): Unit = {
    checkerCorpus(run.seed)
    for (_ <- 0 until 3) {
      for (_ <- 0 until largeEvery - 1) request(run, "small", smallQ, warm = true)
      request(run, "large", largeQ, warm = true)
    }
  }

  /** Traced runs also time a few small requests against a corpus of
    * `sizingN` rows, the size the per-call cost was first estimated at,
    * to confirm or refute that estimate. Untimed in the end-to-end
    * metrics; reported under `sizing` in the report.
    */
  val sizingN = 100000
  private var sizing: Map[String, Any] = Map.empty

  private def sizingProbe(run: Run): Unit = {
    val seed = run.seed
    val centers = KnnServe.centers(seed, nCenters, dim)
    val (nn, d) = (sizingN, dim)
    val rows = run.spark.range(0, nn, 1, 4).rdd.map { id =>
      Row(id.longValue, KnnServe.vector(seed, centers, id.longValue, d).toSeq)
    }
    val big = Similarity.collectCorpus(run.spark.createDataFrame(rows, schema), "id", "emb")
    val qs = java.util.Arrays.asList((0 until smallQ).map(j => Row(j.toLong, vecs.slice(j * dim, (j + 1) * dim).toSeq)): _*)
    val reqs = (0 until 3).map { _ =>
      run.op("probe.sizing", smallQ.toLong) { req =>
        val df = run.call("client.frame", req)(run.spark.createDataFrame(qs, qSchema))
        val top = run.call("similarity.topkFlat", req)(Similarity.topkFlat(df, "emb", big, k, SimMetric.Cosine))
        run.call("similarity.collect", req)(top.select("qid").collect())
      } { out => out.length == smallQ * k }
      run.ops.last
    }.filter(_.traced)
    val spans = run.tracer.all.filter(s => reqs.exists(_.req == s.req))
    def ms(name: String) = Stats.median(spans.filter(_.name == name).map(_.durNs / 1e6))
    val bcast = reqs.map(o => spans.filter(_.req == o.req).flatMap(s => run.tracer.countersOf(s.id)).map(_.broadcastBytes).sum)
    sizing = Map("corpus" -> s"${sizingN}x$dim f32", "request_ms" -> Stats.median(reqs.map(_.ms)),
      "call_ms" -> ms("similarity.topkFlat"), "exec_ms" -> ms("similarity.collect"),
      "call_share" -> ms("similarity.topkFlat") / Stats.median(reqs.map(_.ms)),
      "broadcast_bytes" -> Stats.median(bcast.map(_.toDouble)))
  }

  def measure(run: Run, deadlineNs: Long): Unit = {
    var i = 0L
    while (i < 2 * largeEvery || System.nanoTime() < deadlineNs) {
      if (i % largeEvery == largeEvery - 1) request(run, "large", largeQ, warm = false)
      else request(run, "small", smallQ, warm = false)
      i += 1
      if (i % 8 == 0) run.sampleHeap()
      run.sampleJobFloor()
    }
    dedup.measure(run)
    if (run.args.trace && !run.args.tiny) sizingProbe(run)
  }

  def summary(run: Run): Summary = {
    val small = run.timed("small").filter(_.ok)
    val large = run.timed("large").filter(_.ok)
    val untraced = (xs: Seq[OpRec]) => xs.filter(!_.traced)
    val smallMs = untraced(small).map(_.ms)
    val (tailMs, tailPct) = Stats.tail(smallMs)
    val bulk = untraced(large)
    // queries/s of the median large request
    val largeQps = largeQ / (Stats.median(bulk.map(_.ms)) / 1000)
    val traced = run.tracer.all
    def spanMs(name: String, kind: String) = {
      val reqs = run.timed(kind).filter(_.traced).map(_.req).toSet
      traced.filter(s => s.name == name && reqs.contains(s.req)).map(_.durNs / 1e6)
    }
    val gflop = (q: Int) => 2.0 * q * n * dim / 1e9
    val largeReqs = large.filter(_.traced).map(_.req).toSet
    val (dedupNamed, dedupLayer, dedupNotes) = dedup.summary(run)
    val largeTaskS = largeReqs.toSeq.flatMap(r => traced.filter(_.req == r))
      .flatMap(s => run.tracer.countersOf(s.id)).map(_.taskRunMs / 1000.0).sum
    Summary(
      latencyKinds = Set("small"),
      bulkPerS = largeQps,
      quality = if (checkedSlots == 0) Double.NaN else agreedSlots.toDouble / checkedSlots,
      apiCallSpan = "similarity.topkFlat",
      apiExecSpan = "similarity.collect",
      apiBuildS = buildS.toSeq,
      named = Seq(
        Metric("knn.small_p50_ms", Stats.median(smallMs), "ms"),
        Metric("knn.small_tail_ms", tailMs, "ms"),
        Metric("knn.large_qps", largeQps, "1/s")) ++ dedupNamed,
      layerNamed = Seq(
        Metric("similarity.collect_corpus_s", Stats.median(buildS.toSeq), "s"),
        Metric("similarity.call_ms", Stats.median(spanMs("similarity.topkFlat", "small")), "ms"),
        Metric("similarity.exec_ms", Stats.median(spanMs("similarity.collect", "large")), "ms"),
        Metric("similarity.gemm_gflop_per_op",
          (small.map(_ => gflop(smallQ)) ++ large.map(_ => gflop(largeQ))).sum /
            math.max(1, small.size + large.size), "count"),
        Metric("similarity.gflops_per_task_s",
          if (largeTaskS > 0) largeReqs.size * gflop(largeQ) / largeTaskS else Double.NaN, "1/s")) ++ dedupLayer,
      notes = Seq(
        // share of a traced small request spent inside the topkFlat call
        "small_call_share" -> Stats.median(spanMs("similarity.topkFlat", "small")) /
          Stats.median(small.filter(_.traced).map(_.ms)),
        "sizing" -> sizing,
        "small_requests" -> smallMs.size, "large_requests" -> bulk.size,
        "small_tail_percentile" -> tailPct, "corpus" -> s"${n}x$dim f32", "checked_slots" -> checkedSlots,
        "dedup" -> dedupNotes.toMap))
  }
}

object KnnServe {
  def centers(seed: Long, c: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(c) { i =>
      val r = Rng(seed, "knn.center", i)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }

  /** Corpus row `id`: a seeded cluster centre plus unit noise. */
  def vector(seed: Long, centers: Array[Array[Float]], id: Long, dim: Int): Array[Float] = {
    val r = Rng(seed, "knn.corpus", id)
    val c = centers(r.nextInt(centers.length))
    Array.tabulate(dim)(d => (c(d) + r.nextGaussian()).toFloat)
  }

  def cosine(vecs: Array[Float], norms: Array[Double], dim: Int, q: Array[Float], i: Int): Double = {
    var dot = 0.0
    var qq = 0.0
    var d = 0
    while (d < dim) { dot += q(d).toDouble * vecs(i * dim + d); qq += q(d).toDouble * q(d); d += 1 }
    dot / (math.sqrt(qq) * norms(i))
  }

  /** Top `k` (id, cosine) by score desc, then id asc. */
  def bruteForce(vecs: Array[Float], norms: Array[Double], n: Int, dim: Int,
                 q: Array[Float], k: Int): Seq[(Long, Double)] =
    (0 until n).map(i => (i.toLong, cosine(vecs, norms, dim, q, i)))
      .sortBy { case (i, s) => (-s, i) }.take(k)
}
