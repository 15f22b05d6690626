package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Seeded corpus with planted near-duplicate clusters (one-word edits
  * of a base doc), exact copies, and unrelated docs, plus its ground
  * truth: which docs are near-duplicates of which, counted from what
  * was actually generated.
  */
final class DedupData(seed: Long, val n: Int, threshold: Double) {
  val vocabSize = 5000
  val shingleN = 5

  val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0L
    while (seen.size < vocabSize) {
      val r = Rng(seed, "dedup.word", i)
      seen += Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
      i += 1
    }
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / (r + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private def word(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocabSize - 1)
  }

  /** texts by id; ids are a seeded permutation of roles */
  val texts: Array[String] = new Array[String](n)
  /** planted relations (id, id), before verification */
  private val planted = ArrayBuffer.empty[(Int, Int)]
  /** docs planted as one-word edits, and as exact copies */
  val (nearDupDocs: Int, exactCopyDocs: Int) = {
    val perm = {
      val r = Rng(seed, "dedup.perm", 0)
      val a = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    var next = 0
    def take(): Int = { val id = perm(next); next += 1; id }
    def fresh(tag: String, i: Long): Array[Int] = {
      val r = Rng(seed, tag, i)
      Array.fill(70 + r.nextInt(21))(word(r))
    }
    var nd = 0
    var ec = 0
    var c = 0L
    // 15% of docs are one-word edits of a cluster base
    while (nd < n * 15 / 100) {
      val baseWords = fresh("dedup.base", c)
      val baseId = take()
      texts(baseId) = baseWords.map(vocab).mkString(" ")
      val r = Rng(seed, "dedup.edit", c)
      for (_ <- 0 until 1 + r.nextInt(3)) {
        val w = baseWords.clone()
        val pos = r.nextInt(w.length)
        var repl = word(r)
        while (repl == w(pos)) repl = word(r)
        w(pos) = repl
        val id = take()
        texts(id) = w.map(vocab).mkString(" ")
        planted += ((baseId, id))
        nd += 1
      }
      c += 1
    }
    // 5% of docs are exact copies of an otherwise unrelated doc
    var u = 0L
    while (ec < n * 5 / 100) {
      val orig = take()
      texts(orig) = fresh("dedup.single", u).map(vocab).mkString(" ")
      u += 1
      val copy = take()
      texts(copy) = texts(orig)
      planted += ((orig, copy))
      ec += 1
    }
    while (next < n) {
      texts(take()) = fresh("dedup.single", u).map(vocab).mkString(" ")
      u += 1
    }
    (nd, ec)
  }

  def shingles(t: String): Set[String] =
    if (t.length < shingleN) Set(t) else t.sliding(shingleN).toSet

  def jaccard(a: Int, b: Int): Double = {
    val (x, y) = (shingles(texts(a)), shingles(texts(b)))
    val i = x.intersect(y).size
    math.round(i.toDouble / (x.size + y.size - i) * 10000) / 10000.0
  }

  /** Components: planted relations plus any exact text collisions the
    * generator produced, so the truth counts what is in the corpus.
    */
  val component: Array[Int] = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = { var y = x; while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }; y }
    def union(a: Int, b: Int): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    planted.foreach { case (a, b) => union(a, b) }
    texts.indices.groupBy(texts(_)).values.foreach(g => g.tail.foreach(union(g.head, _)))
    Array.tabulate(n)(find)
  }

  /** Every within-component pair whose exact Jaccard reaches the threshold. */
  val truePairs: Set[(Long, Long)] =
    texts.indices.groupBy(component).values.filter(_.size > 1).flatMap { g =>
      for (a <- g; b <- g if a < b && jaccard(a, b) >= threshold) yield (a.toLong, b.toLong)
    }.toSet

  /** Ids a correct dedup keeps from `ids`: the lowest id of each group
    * of docs connected by true pairs inside the subset.
    */
  def expectedKept(ids: Seq[Int]): Set[Long] = keptBy(truePairs, ids)

  /** The lowest id of each group of `ids` connected by `pairs`. */
  def keptBy(pairs: Iterable[(Long, Long)], ids: Seq[Int]): Set[Long] = {
    val inSet = ids.toSet
    val parent = mutable.Map.empty[Int, Int]
    def find(x: Int): Int = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      if (inSet(a.toInt) && inSet(b.toInt)) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    ids.filter(i => find(i) == i).map(_.toLong).toSet
  }
}

/** LLM-pipeline near-duplicate removal, run by `knn_serve` after its
  * serving loop so that `operators.Dedup` and `functions.SketchFunctions`
  * are measured beside the serving metrics without touching them. Each
  * op is `Dedup.dropNearDuplicates(threshold 0.8)` over the whole corpus
  * as a fresh DataFrame, materialising the full deduplicated rows on
  * the driver; its kind is `probe.dedup`, outside the serving op mix.
  * One warm-up op, then three timed ops. Traced runs also time the
  * pipeline's phases on their own, which gives the pair recall.
  */
final class DedupCorpus(tiny: Boolean) {
  val n: Int = if (tiny) 600 else 1000
  val threshold = 0.8

  private var data: DedupData = _
  private var corrupted = false
  private val signaturesS = ArrayBuffer.empty[Double]
  private val pairsS = ArrayBuffer.empty[Double]
  private val dropS = ArrayBuffer.empty[Double]
  private var verifiedPairs = 0L
  private var pairRecall = Double.NaN
  /** duplicate docs the timed ops dropped, and the ones they should have */
  private var dupsDropped = 0L
  private var dupsPlanted = 0L

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The docs as a fresh four-partition frame, scanned by tasks as a
    * pipeline's input would be (a local relation would let the planner
    * evaluate projections on the driver).
    */
  private def frame(run: Run, ids: Seq[Int]): DataFrame =
    run.spark.createDataFrame(
      run.spark.sparkContext.parallelize(ids.map(i => Row(i.toLong, data.texts(i))), 4), schema)

  private def keptOk(rows: Array[Row], expected: Set[Long]): Boolean = {
    val got = rows.map(_.getLong(0))
    got.length == expected.size && got.toSet == expected &&
      rows.forall(r => data.texts(r.getLong(0).toInt) == r.getString(1))
  }

  private def dedupOp(run: Run, warm: Boolean): Unit = {
    val expected = data.expectedKept(0 until n)
    run.op(DedupCorpus.Kind, n.toLong, warm) { req =>
      val docs = run.call("client.frame", req)(frame(run, 0 until n))
      val kept = run.call("dedup.dropNearDuplicates", req)(Dedup.dropNearDuplicates(docs, "id", "text", threshold))
      run.call("dedup.collect", req)(kept.select("id", "text").collect())
    } { rows0 =>
      val rows =
        if (run.args.corrupt && !corrupted) { corrupted = true; rows0.drop(1) } // self-check: drop a kept doc
        else rows0
      if (!warm) {
        val got = rows.map(_.getLong(0)).toSet
        dupsDropped += (0L until n.toLong).count(i => !expected(i) && !got(i))
        dupsPlanted += n - expected.size
      }
      keptOk(rows, expected)
    }
  }

  /** The pipeline's phases on the whole corpus, each materialised on
    * its own and timed for the layer metrics: the `minhashSignatures`
    * scan, `minhashPairs` (every verified pair must be a true pair;
    * gives the pair recall), and `dropDuplicatesByPairs` on its pairs
    * (must keep the lowest id of each group they link).
    */
  private def phases(run: Run): Unit = {
    val docs = frame(run, 0 until n).cache()
    docs.count()
    def secs[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9) }
    signaturesS += secs(Dedup.minhashSignatures(docs, "id", "text").write.format("noop").mode("overwrite").save())._2
    val (pairs, ps) = secs(Dedup.minhashPairs(docs, "id", "text", threshold).select("id1", "id2").collect())
    pairsS += ps
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    verifiedPairs = got.size
    pairRecall = got.intersect(data.truePairs).size.toDouble / math.max(1, data.truePairs.size)
    if (!got.subsetOf(data.truePairs))
      run.fail("pairs", s"${(got -- data.truePairs).size} verified pairs outside the planted truth")
    val pdf = run.spark.createDataFrame(
      java.util.Arrays.asList(pairs.toSeq: _*),
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType))))
    val (kept, ds) = secs(Dedup.dropDuplicatesByPairs(docs, "id", pdf).select("id", "text").collect())
    dropS += ds
    if (!keptOk(kept, data.keptBy(got, 0 until n)))
      run.fail("drop", "dropDuplicatesByPairs kept ids differ from the truth")
    docs.unpersist()
  }

  /** Generates the corpus, then runs the warm-up op and the timed ops. */
  def measure(run: Run): Unit = {
    data = new DedupData(run.seed, n, threshold)
    dedupOp(run, warm = true)
    for (_ <- 0 until 3) {
      dedupOp(run, warm = false)
      run.sampleHeap()
    }
    if (run.args.trace) phases(run)
  }

  /** (report metrics, traced-run layer metrics, notes) */
  def summary(run: Run): (Seq[Metric], Seq[Metric], Seq[(String, Any)]) = {
    val ops = run.timed(DedupCorpus.Kind).filter(o => o.ok && !o.traced)
    // every op dedups the whole corpus: docs over the median op time
    val docsPerS = n / (Stats.median(ops.map(_.ms)) / 1000)
    val dupRemoval = dupsDropped.toDouble / math.max(1L, dupsPlanted)
    (Seq(
      Metric("dedup.op_p50_ms", Stats.median(ops.map(_.ms)), "ms"),
      Metric("dedup.docs_per_s", docsPerS, "1/s"),
      Metric("dedup.dup_removal", dupRemoval, "ratio")),
    Seq(
      Metric("dedup.pair_recall", pairRecall, "ratio"),
      Metric("sketch.signatures_s", Stats.median(signaturesS.toSeq), "s"),
      Metric("dedup.pairs_s", Stats.median(pairsS.toSeq), "s"),
      Metric("dedup.verified_pairs", verifiedPairs.toDouble, "count"),
      Metric("dedup.drop_s", Stats.median(dropS.toSeq), "s")),
    Seq(
      "ops" -> ops.size, "docs" -> n, "near_dup_share" -> data.nearDupDocs.toDouble / n,
      "exact_copy_share" -> data.exactCopyDocs.toDouble / n, "true_pairs" -> data.truePairs.size))
  }
}

object DedupCorpus {
  val Kind = "probe.dedup"
}
