package graft.operators

import dev.ludovic.netlib.blas.BLAS
import graft.sources.IndexCodec
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalRowBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Distributed similarity search — the Spark-native re-expression of
  * the reference's two kernels (`pmm.topk`, `pmm.matmul`;
  * /root/reference/src/metrics.rs, /root/reference/src/topk.rs).
  *
  * Shape: the corpus (the small "index" side) is collected once,
  * packed into a flat primitive matrix with precomputed norms, and
  * **broadcast**; queries stay distributed and each partition runs a
  * blocked BLAS GEMM (`dev.ludovic.netlib` — the same BLAS MLlib
  * uses) against the corpus block, fusing normalize → multiply →
  * select exactly like the reference's single Rust pass — but
  * scaled out over executors. No |Q|×|C| cross join ever exists.
  *
  * For corpora too big to broadcast (>~1-2 GB) use [[Similarity.topkBlocked]]:
  * corpus is split into broadcastable blocks, each block contributes
  * per-query partial top-k, and a single shuffle on query id merges
  * B·k candidates per query — shuffle volume |Q|·B·k, never |Q|·|C|.
  */
sealed trait Metric { def higherIsBetter: Boolean }
object Metric {
  case object Cosine extends Metric { val higherIsBetter = true }
  case object Dot extends Metric { val higherIsBetter = true }
  case object Euclidean extends Metric { val higherIsBetter = false }

  /** Mirrors reference metric parsing (src/metrics.rs:20-27). */
  def fromString(s: String): Metric = s.toLowerCase match {
    case "cosine" => Cosine
    case "dot" => Dot
    case "euclidean" | "l2" => Euclidean
    case other => throw new IllegalArgumentException(
      s"Unknown metric: '$other'. Supported: cosine, dot, euclidean")
  }
}

/** Corpus packed for broadcast: ids sorted ascending (position j ↔
  * ids(j)), norms and square norms for cosine/euclidean, and the
  * row-major n × dim vectors stored ONCE, in the source precision:
  *  - array<double> corpus: `f64` holds the matrix, `dataF` is null;
  *  - array<float> corpus: `dataF` holds the matrix (the reference's
  *    f32 fast path) and `f64` is null, so the index costs 4 B/element
  *    on the driver and in every broadcast.
  * `data` is the f64 view every f64 reader uses (mixed-precision
  * GEMM, the quantizers, the stream serve): `f64` itself, or for an
  * f32 corpus the f32 matrix widened with `Float.toDouble` on first
  * use — exactly the values a packed f64 copy holds. The view is
  * transient: a broadcast never carries it, and a JVM that needs it
  * widens once per deserialized index.
  */
final case class CorpusIndex(
    ids: Array[Long],
    f64: Array[Double],
    dataF: Array[Float],
    n: Int,
    dim: Int,
    norms: Array[Double],
    sqNorms: Array[Double]) extends Serializable {
  def isF32: Boolean = dataF != null
  @transient lazy val data: Array[Double] =
    if (f64 != null) f64
    else {
      val out = new Array[Double](dataF.length)
      var i = 0
      while (i < out.length) { out(i) = dataF(i).toDouble; i += 1 }
      out
    }
}

object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Broadcast per call, NOT cached: a cache keyed on the CorpusIndex
    * can never evict — `sparkContext.broadcast` stores the value
    * itself in the driver block manager (a strong reference), so a
    * weak-keyed entry is immortal and every index ever broadcast
    * (including topkBlocked's per-block indexes, fresh each call)
    * would pin its memory for the application lifetime. Per-call
    * broadcasts become unreachable after the action and Spark's
    * ContextCleaner reclaims their blocks. Callers that re-search the
    * same index repeatedly amortize by REUSING THE RETURNED DATAFRAME
    * (the plan holds its broadcast), not by re-calling topk.
    *
    * Memoizing the broadcast on the index itself (dropped with the
    * index) was measured and rejected. On perfbench's 10k×256 f32
    * corpus (4-vCPU host) it took the 16-query request from ~156 ms
    * to ~125 ms, but it pins the serialized pieces in driver heap for
    * the index's lifetime: the IVF-PQ lifecycle workload's live-heap
    * peak rose from 92.3 MB to 100.3 MB (+8.7%). Storing f32 corpora
    * once, as f32 (see [[CorpusIndex]]), is the cheaper way to shrink
    * the per-call broadcast.
    */
  private def broadcastOf[T: scala.reflect.ClassTag](
      spark: org.apache.spark.sql.SparkSession, cx: T): Broadcast[T] =
    spark.sparkContext.broadcast(cx)

  /** Collect + pack a corpus DataFrame column. Ids are sorted so that
    * output `index` values are deterministic and block splits are
    * range-based. Throws on empty corpus / ragged dims (reference:
    * "Empty corpus", "Dimension mismatch") and names the row of a null
    * id, embedding or element ("Null id", "Null embedding",
    * "Null element").
    */
  def collectCorpus(corpus: DataFrame, idCol: String, embCol: String): CorpusIndex =
    collectCorpusOpt(corpus, idCol, embCol)
      .getOrElse(throw new IllegalArgumentException("Empty corpus"))

  /** As [[collectCorpus]] but `None` for an empty corpus — used by
    * [[topkBlocked]], whose hash-mod blocks may legitimately be empty.
    */
  private def collectCorpusOpt(
      corpus: DataFrame, idCol: String, embCol: String): Option[CorpusIndex] = {
    val isF32 = corpus.schema(embCol).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case dt => throw new IllegalArgumentException(
        s"Corpus column $embCol must be array<float>/array<double>, got ${dt.simpleString}")
    }
    val rows = corpus.select(col(idCol).cast(LongType), col(embCol)).collect()
    if (rows.isEmpty) return None
    if (rows.exists(_.isNullAt(0))) throw new IllegalArgumentException(
      s"Null id: corpus column $idCol has a null; every corpus row needs an id")
    val sorted = rows.sortBy(_.getLong(0))
    def embOf(row: Row): scala.collection.Seq[Any] = {
      if (row.isNullAt(1)) throw new IllegalArgumentException(
        s"Null embedding: corpus row $idCol=${row.getLong(0)} has a null $embCol")
      row.getSeq[Any](1)
    }
    val n = sorted.length
    val dim = embOf(sorted.head).length
    val ids = new Array[Long](n)
    // one matrix, in the source precision (see CorpusIndex)
    val f64 = if (isF32) null else new Array[Double](n * dim)
    val dataF = if (isF32) new Array[Float](n * dim) else null
    val norms = new Array[Double](n)
    val sqNorms = new Array[Double](n)
    var j = 0
    while (j < n) {
      val row = sorted(j)
      ids(j) = row.getLong(0)
      val emb = embOf(row)
      if (emb.length != dim) throw new IllegalArgumentException(
        s"Dimension mismatch: corpus rows have $dim and ${emb.length} elements")
      var d = 0; var sq = 0.0
      val it = emb.iterator
      while (d < dim) {
        val v = it.next() match {
          case f: java.lang.Float => f.toDouble
          case x: java.lang.Double => x.doubleValue
          case x: Number => x.doubleValue
          case null => throw new IllegalArgumentException(
            s"Null element: corpus row $idCol=${ids(j)} has a null at $embCol[$d]")
        }
        if (isF32) dataF(j * dim + d) = v.toFloat else f64(j * dim + d) = v
        sq += v * v
        d += 1
      }
      sqNorms(j) = sq
      norms(j) = math.sqrt(sq)
      j += 1
    }
    Some(CorpusIndex(ids, f64, dataF, n, dim, norms, sqNorms))
  }

  /** Per-query top-k against a broadcast corpus, on the
    * [[TopkFrame]] contract (null rows, the k clamp, ties to the lower
    * id — the reference leaves ties arbitrary, src/topk.rs:19-30 — and
    * the refusals). The body is one batched BLAS GEMM per 512 queries
    * with the metric fused into its output buffer.
    */
  def topk(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndex,
      k: Int,
      metric: Metric,
      outputCol: String = "matches"): DataFrame =
    exactTopk(queries, embCol, corpus, k, metric, outputCol, TopkFrame.Nested)

  /** [[topk]] in either frame layout. */
  private def exactTopk(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndex,
      k: Int,
      metric: Metric,
      outputCol: String,
      layout: TopkFrame.Layout): DataFrame = {
    // reference dtype rule: both sides f32 → f32 GEMM (2× throughput,
    // scores widened to f64 at the output boundary); any f64 → f64
    val useF32 = TopkFrame.queryIsF32(queries.schema, embCol) && corpus.isF32
    val bc = broadcastOf(queries.sparkSession, corpus)
    TopkFrame.select(queries, embCol, outputCol, corpus.dim, corpus.n, k, metric.higherIsBetter,
        batchRows = 512, pack = if (useF32) TopkFrame.F32 else TopkFrame.F64,
        layout = layout) { _ =>
      val cx = bc.value
      val blas = BLAS.getInstance()
      new TopkBody(cx.ids) {
        private var scores = new Array[Double](0)
        private var scoresF = new Array[Float](0)
        def score(b: QueryBatch, sels: Array[TopSelector]): Unit = {
          val mRows = b.m
          val len = mRows * cx.n
          if (scores.length < len) {
            scores = new Array[Double](len)
            if (useF32) scoresF = new Array[Float](len)
          }
          if (useF32) {
            blas.sgemm("T", "N", cx.n, mRows, cx.dim, 1.0f, cx.dataF, cx.dim,
              b.q32, cx.dim, 0.0f, scoresF, cx.n)
            var j = 0
            while (j < len) { scores(j) = scoresF(j).toDouble; j += 1 }
          } else {
            // scores = Q (m×dim) · C^T (dim×n), row-major out (see SURVEY §3)
            blas.dgemm("T", "N", cx.n, mRows, cx.dim, 1.0, cx.data, cx.dim,
              b.q64, cx.dim, 0.0, scores, cx.n)
          }
          // metric post-processing fused into the GEMM output buffer in
          // one specialized pass (the per-candidate virtual dispatch a
          // `match` inside the selection loop costs is measurable at
          // 10M+ candidates per batch)
          metric match {
            case Metric.Dot => ()
            case Metric.Cosine =>
              // Zero-norm guard follows the reference's per-path epsilon:
              // the f32 kernel zeroes at norm ≤ 1e-6 (src/metrics.rs:331-334
              // — the looser bound papers over f32 accumulation error), the
              // f64 kernel at ≤ 1e-10 (src/metrics.rs:277-289). A vector
              // with norm in [1e-10, 1e-6) therefore scores 0.0 on the f32
              // path and divides on the f64 path, exactly like the reference.
              val normEps = if (useF32) 1e-6 else 1e-10
              var qi = 0
              while (qi < mRows) {
                val base = qi * cx.n
                val qn = b.qNorm(qi)
                var j = 0
                while (j < cx.n) {
                  scores(base + j) =
                    if (qn <= normEps || cx.norms(j) <= normEps) 0.0
                    else scores(base + j) / (qn * cx.norms(j))
                  j += 1
                }
                qi += 1
              }
            case Metric.Euclidean =>
              var qi = 0
              while (qi < mRows) {
                val base = qi * cx.n
                val qs = b.qSq(qi)
                var j = 0
                while (j < cx.n) {
                  scores(base + j) =
                    math.sqrt(math.max(0.0, qs + cx.sqNorms(j) - 2.0 * scores(base + j)))
                  j += 1
                }
                qi += 1
              }
          }
          var qi = 0
          while (qi < mRows) { sels(qi).offerRow(scores, qi * cx.n, cx.n); qi += 1 }
        }
      }
    }
  }

  /** [[topk]] in the reference's documented consumption shape, the
    * explode+unnest of its matches (README.md:114-124), emitted by the
    * kernel frame itself ([[TopkFrame.Flat]]): one row per (query,
    * match) with the query columns minus `embCol`, then `rank`
    * (1-based), `index` and `score`. A null embedding or k = 0 emits
    * no rows.
    */
  def topkFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndex,
      k: Int,
      metric: Metric): DataFrame =
    exactTopk(queries, embCol, corpus, k, metric, "matches", TopkFrame.Flat)

  /** All pairwise dot products — `pmm.matmul`. Adds `outputCol` =
    * array of |corpus| doubles (or floats when both sides are f32,
    * the reference's dtype rule), position j ↔ sorted corpus id j.
    * Query side (refusals, null rows → null scores, batching) is the
    * [[TopkFrame.rows]] frame's. Each score row is copied once, unboxed,
    * into an `UnsafeArrayData`.
    */
  def matmul(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndex,
      outputCol: String = "scores"): DataFrame =
    matmulFrame(queries, embCol, corpus, outputCol, flat = false)

  /** [[matmul]], or with `flat` its (query, corpus position) pairs
    * emitted by the frame: the query columns minus `embCol`, then
    * `score` (the matmul element type) and `index`, the position's id
    * in the broadcast corpus.
    */
  private def matmulFrame(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndex,
      outputCol: String,
      flat: Boolean): DataFrame = {
    val useF32 = TopkFrame.queryIsF32(queries.schema, embCol) && corpus.isF32
    val bc = broadcastOf(queries.sparkSession, corpus)
    val scoreType = if (useF32) FloatType else DoubleType
    val out = StructField(outputCol, ArrayType(scoreType, containsNull = false), nullable = true)
    val pairs = TopkFrame.Expand(
      Seq(StructField("score", scoreType, nullable = false),
        StructField("index", LongType, nullable = false)),
      () => {
        val ids = bc.value.ids
        (scores, j, vals, at) => {
          vals(at) = if (useF32) scores.getFloat(j) else scores.getDouble(j)
          vals(at + 1) = ids(j)
        }
      })
    TopkFrame.rows(queries, embCol, out, corpus.dim, 512,
        if (useF32) TopkFrame.F32 else TopkFrame.F64,
        flat = if (flat) Some(pairs) else None) { () =>
      val cx = bc.value
      val blas = BLAS.getInstance()
      var scores = new Array[Double](0)
      var scoresF = new Array[Float](0)
      (b, res) => {
        val n = cx.n
        if (useF32) {
          if (scoresF.length < b.m * n) scoresF = new Array[Float](b.m * n)
          blas.sgemm("T", "N", n, b.m, cx.dim, 1.0f, cx.dataF, cx.dim,
            b.q32, cx.dim, 0.0f, scoresF, n)
          var i = 0
          while (i < b.m) {
            res(i) = scoreRow(scoresF, Platform.FLOAT_ARRAY_OFFSET, 4, i, n); i += 1
          }
        } else {
          if (scores.length < b.m * n) scores = new Array[Double](b.m * n)
          blas.dgemm("T", "N", n, b.m, cx.dim, 1.0, cx.data, cx.dim,
            b.q64, cx.dim, 0.0, scores, n)
          var i = 0
          while (i < b.m) {
            res(i) = scoreRow(scores, Platform.DOUBLE_ARRAY_OFFSET, 8, i, n); i += 1
          }
        }
      }
    }
  }

  /** Row `i` of a row-major `n`-wide f32 or f64 score matrix as an
    * unboxed array: one copy from the matrix while its byte offset fits
    * an Int, else through a copy of the row.
    */
  private def scoreRow(m: AnyRef, base: Int, elem: Int, i: Int, n: Int): UnsafeArrayData = {
    val off = base + i.toLong * n * elem
    if (off <= Int.MaxValue) UnsafeArrayData.fromPrimitiveArray(m, off.toInt, n, elem)
    else m match {
      case f: Array[Float] =>
        UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(f, i * n, (i + 1) * n))
      case d: Array[Double] =>
        UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(d, i * n, (i + 1) * n))
    }
  }

  /** matmul then flatten (the reference's `flatten=True`): one row per
    * (query, corpus) pair, emitted by the kernel frame with the corpus
    * position mapped back to its id from the broadcast corpus — the
    * query columns minus `embCol`, then `score` and `index`. The score
    * dtype FOLLOWS the matmul output: both-f32 inputs keep f32 scores
    * through the flat form, per the reference's dtype rule in flatten
    * mode (tests/test_polars_matmul.py:369); any f64 input yields f64.
    * A null embedding emits no rows.
    */
  def matmulFlat(queries: DataFrame, embCol: String, corpus: CorpusIndex): DataFrame =
    matmulFrame(queries, embCol, corpus, "scores", flat = true)

  /** The reference's `flatten=True` BUFFER shape (reference
    * `python/polars_matmul/__init__.py:121-187` hands numpy one bare
    * row-major score allocation): ONE row
    * (n_queries, n_corpus, scores) where `scores` is the row-major
    * concatenation of each query's corpus-score row — queries in
    * ascending `idCol` order, corpus position j ↔ sorted corpus id j
    * (the [[matmul]] contract), so `scores[qi * n_corpus + j]` indexes
    * exactly like the reference buffer. Deliberately driver-shaped:
    * the result is one n_q·n_c-element array, the same single
    * allocation the reference returns — numpy-interop ergonomics, not
    * an at-scale operator (that's [[matmulFlat]], which keeps pairs
    * relational). The GEMM itself still runs distributed; only the
    * final concatenation is a single-task aggregation, so the
    * broadcast-corpus envelope (~1-2 GB) plus |q|·|c| doubles of
    * result bound the caller. A null query embedding nulls the WHOLE
    * buffer (`flatten` null propagation) — a corrupted input is
    * visible, never silently position-shifted.
    *
    * PRICED REFUSAL, not an OOM: the buffer is n_q·n_c f64s in ONE
    * task and then the driver, so the cost is known exactly before
    * any work runs. When it exceeds `maxBufferBytes` (default: a
    * quarter of driver heap, floor 64 MB) the call throws a named
    * IllegalArgumentException pointing at [[matmulFlat]] — the same
    * contract as `intervalJoin`'s candidate budget and
    * `embeddingPairsExact`'s row guard. The one extra `count()`
    * action is trivial next to the buffer it prices.
    */
  def matmulScores(
      queries: DataFrame, idCol: String, embCol: String,
      corpus: CorpusIndex, maxBufferBytes: Long = 0L): DataFrame = {
    val budget =
      if (maxBufferBytes > 0L) maxBufferBytes
      else math.max(64L << 20, Runtime.getRuntime.maxMemory() / 4)
    val nQ = queries.count()
    val bytes = nQ * corpus.n.toLong * 8L
    if (bytes > budget) throw new IllegalArgumentException(
      s"matmulScores refused: $nQ queries x ${corpus.n} corpus rows = $bytes bytes " +
      s"in a single score buffer, over the driver budget of $budget bytes (heap/4). " +
      "This flatten=True buffer shape is numpy-interop ergonomics; use matmulFlat " +
      "for the relational (index, score) form of the same pairs at any scale.")
    matmul(queries.select(col(idCol).as("__qid"), col(embCol)), embCol, corpus, "__s")
      .agg(
        count(lit(1)).as("n_queries"),
        flatten(transform(
          array_sort(collect_list(struct(col("__qid"), col("__s")))),
          x => x.getField("__s"))).as("scores"))
      .select(col("n_queries"), lit(corpus.n.toLong).as("n_corpus"), col("scores"))
  }

  /** All pairs (id1 < id2) with cosine ≥ threshold, via the GEMM
    * kernel: the corpus is broadcast once, each query partition runs a
    * blocked dgemm against it, and ONLY qualifying pairs materialize —
    * output is proportional to matches, never to n². This replaces a
    * BroadcastNestedLoopJoin + per-pair cosine expression (the round-2
    * shape of `Dedup.embeddingPairsExact`, 2.7× DuckDB at sf0.1) with
    * the same batched BLAS pass the top-k kernel uses.
    *
    * Each unordered pair is emitted exactly once, by the lower-id row
    * (the inner loop skips corpus ids ≤ the query id). Null
    * embeddings never pair (filtered before the GEMM, matching the
    * null-propagation of the expression form). Cosine is computed in
    * f64 and returned RAW — callers round for their oracle contract.
    * Zero-norm vectors score 0.0 (the kernel's cosine guard).
    *
    * The whole table is collected+broadcast as the corpus side, so the
    * same size envelope as [[topk]]'s index applies (~1-2 GB);
    * `Dedup.embeddingPairsExact` wraps this with an explicit row-count
    * guard and points big corpora at `Dedup.embeddingPairsLsh` — call
    * through there unless you know the table is index-sized.
    */
  def cosinePairsAbove(
      df: DataFrame, idCol: String, embCol: String, threshold: Double): DataFrame =
    rangePairs(df, idCol, embCol, Metric.Cosine, threshold)
      .withColumnRenamed("score", "cosine")

  /** The general VECTOR RANGE JOIN: every unordered pair whose metric
    * score qualifies — `cosine`/`dot` ≥ threshold, `euclidean` ≤
    * threshold (radius search). Same kernel, guarantees, and size
    * envelope as [[cosinePairsAbove]]; output column is `score`.
    */
  def rangePairs(
      df: DataFrame, idCol: String, embCol: String,
      metric: Metric, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    val q = df.filter(col(embCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        col(embCol).cast(ArrayType(DoubleType)).as("emb"))
    val cx = collectCorpus(q, "id", "emb")
    val bc = broadcastOf(spark, cx)
    val m = metric
    val outSchema = StructType(Seq(
      StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val outRdd = InternalRowBridge.toInternalRdd(q).mapPartitions { it =>
      val c = bc.value
      val blas = BLAS.getInstance()
      it.map(_.copy()).grouped(512).flatMap { batch =>
        val mRows = batch.length
        val qIds = new Array[Long](mRows)
        val qm = new Array[Double](mRows * c.dim)
        val qNorms = new Array[Double](mRows)
        val qSq = new Array[Double](mRows)
        var i = 0
        batch.foreach { row =>
          qIds(i) = row.getLong(0)
          val emb = row.getArray(1)
          if (emb.numElements() != c.dim) throw new IllegalArgumentException(
            s"Dimension mismatch: row has ${emb.numElements()} elements, corpus has ${c.dim}")
          val da = emb.toDoubleArray()
          System.arraycopy(da, 0, qm, i * c.dim, c.dim)
          var d = 0; var sq = 0.0
          while (d < c.dim) { val v = da(d); sq += v * v; d += 1 }
          qSq(i) = sq; qNorms(i) = math.sqrt(sq)
          i += 1
        }
        val scores = new Array[Double](mRows * c.n)
        if (mRows > 0) blas.dgemm("T", "N", c.n, mRows, c.dim, 1.0, c.data, c.dim,
          qm, c.dim, 0.0, scores, c.n)
        val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
        var qi = 0
        while (qi < mRows) {
          val base = qi * c.n
          val qid = qIds(qi)
          val qn = qNorms(qi)
          // corpus ids are sorted ascending: binary-search the first
          // id strictly greater than qid, emit only above it — each
          // unordered pair materializes exactly once
          var lo = 0; var hi = c.n
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (c.ids(mid) <= qid) lo = mid + 1 else hi = mid
          }
          var j = lo
          while (j < c.n) {
            val dot = scores(base + j)
            val s = m match {
              case Metric.Dot => dot
              case Metric.Cosine =>
                val cn = c.norms(j)
                if (qn <= 1e-10 || cn <= 1e-10) 0.0 else dot / (qn * cn)
              case Metric.Euclidean =>
                math.sqrt(math.max(0.0, qSq(qi) + c.sqNorms(j) - 2.0 * dot))
            }
            val keep = if (m.higherIsBetter) s >= threshold else s <= threshold
            if (keep) out += InternalRow(qid, c.ids(j), s)
            j += 1
          }
          qi += 1
        }
        out.iterator
      }
    }
    InternalRowBridge.fromInternalRdd(spark, outRdd, outSchema)
  }

  /** GROUPED range join: all qualifying pairs WITHIN each cell of a
    * pre-partitioned vector set — the kernel under
    * [[graft.operators.Dedup.semanticPairs]] (and any bucketed
    * pair search whose buckets are too many to broadcast one by one).
    *
    * Input is (id, cell, emb); output every (id1 < id2, score) pair
    * sharing a cell whose metric qualifies (≥ threshold for
    * cosine/dot, ≤ for euclidean). Pairs present in several shared
    * cells are emitted once per cell — callers dedup on (id1, id2).
    *
    * Plan shape, and why it is NOT a self-join: one shuffle
    * re-partitions the vectors by cell (volume n·|emb| — each vector
    * crosses once), then each cell runs ONE local BLAS gram-matrix
    * GEMM and materializes ONLY qualifying pairs. The equivalent
    * within-cell equi-self-join materializes O(Σ|cell|²) candidate
    * ROWS with two vectors attached before any filter — at 200k
    * uniform 64-d vectors in ~1k-row cells that is ~400M rows ≈
    * hundreds of GB of shuffle spill (it filled this machine's disk);
    * the grouped kernel's output is proportional to MATCHES, and its
    * O(Σ|cell|²·dim) is FLOPs inside dgemm, not bytes on disk. The
    * gram matrix is computed in ≤16 MB column panels (strict upper
    * triangle only), so per-task transient memory is bounded
    * regardless of cell size or task concurrency.
    *
    * Cells larger than `maxCellSize` degrade to ANCHOR-STAR pairs
    * (every member scored against the cell's min id only — O(|cell|)
    * work): bounded fan-out with the same contract as the LSH bucket
    * cap — verify coverage for every member and a connected pair
    * graph, so downstream connected components still merge the cell.
    *
    * Scores are computed in f64 and returned RAW (callers round for
    * oracle contracts). Cosine keeps the kernel's zero-norm guard
    * (score 0.0, never NaN). Null embeddings never pair.
    */
  def cellPairsAbove(
      df: DataFrame, idCol: String, cellCol: String, embCol: String,
      metric: Metric, threshold: Double, maxCellSize: Int = 4096): DataFrame = {
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    val spark = df.sparkSession
    val q = df.filter(col(embCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        col(cellCol).cast(LongType).as("cell"),
        col(embCol).cast(ArrayType(DoubleType)).as("emb"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")
    val m = metric
    val outSchema = StructType(Seq(
      StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val outRdd = InternalRowBridge.toInternalRdd(q).mapPartitions { it =>
      val blas = BLAS.getInstance()
      val rows = it.buffered
      // consecutive-run grouping over the (cell, id)-sorted partition
      val groups = new Iterator[(Array[Long], Array[Double], Int, Int)] {
        def hasNext: Boolean = rows.hasNext
        def next(): (Array[Long], Array[Double], Int, Int) = {
          val cell = rows.head.getLong(1)
          val ids = new scala.collection.mutable.ArrayBuffer[Long]()
          val vecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
          while (rows.hasNext && rows.head.getLong(1) == cell) {
            val row = rows.next()
            ids += row.getLong(0)
            vecs += row.getArray(2).toDoubleArray()
          }
          val s = ids.length
          val dim = vecs.head.length
          val data = new Array[Double](s * dim)
          var i = 0
          while (i < s) {
            if (vecs(i).length != dim) throw new IllegalArgumentException(
              s"Dimension mismatch within cell $cell: ${vecs(i).length} vs $dim")
            System.arraycopy(vecs(i), 0, data, i * dim, dim)
            i += 1
          }
          (ids.toArray, data, s, dim)
        }
      }
      groups.flatMap { case (ids, data, s, dim) =>
        val sq = new Array[Double](s)
        val norms = new Array[Double](s)
        var i = 0
        while (i < s) {
          var d = 0; var acc = 0.0
          while (d < dim) { val v = data(i * dim + d); acc += v * v; d += 1 }
          sq(i) = acc; norms(i) = math.sqrt(acc)
          i += 1
        }
        def score(dot: Double, a: Int, b: Int): Double = m match {
          case Metric.Dot => dot
          case Metric.Cosine =>
            if (norms(a) <= 1e-10 || norms(b) <= 1e-10) 0.0
            else dot / (norms(a) * norms(b))
          case Metric.Euclidean =>
            math.sqrt(math.max(0.0, sq(a) + sq(b) - 2.0 * dot))
        }
        def keep(v: Double): Boolean =
          if (m.higherIsBetter) v >= threshold else v <= threshold
        val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
        if (s <= maxCellSize) {
          // TILED gram: GEMM one column-panel of vectors at a time and
          // only the a < b rows of it, so transient memory is bounded
          // at ~16 MB per task regardless of cell size (a full s×s
          // gram at s=4096 is 134 MB, ×32 concurrent tasks = OOM) and
          // the strict-upper-triangle FLOPs are halved. ids ascend
          // within the group (partition sorted on id), so a < b
          // implies ids(a) < ids(b).
          val tileCols = math.max(1, (1 << 21) / s)
          val scores = new Array[Double](s * tileCols) // <= max(s, 2M) doubles
          var b0 = 0
          while (b0 < s) {
            val tw = math.min(tileCols, s - b0)
            val mRows = b0 + tw // rows 0..b < every column in the panel
            blas.dgemm("T", "N", mRows, tw, dim, 1.0,
              data, 0, dim, data, b0 * dim, dim, 0.0, scores, 0, mRows)
            var j = 0
            while (j < tw) {
              val b = b0 + j
              var a = 0
              while (a < b) {
                val v = score(scores(a + j * mRows), a, b)
                if (keep(v)) out += InternalRow(ids(a), ids(b), v)
                a += 1
              }
              j += 1
            }
            b0 += tw
          }
        } else {
          // anchor-star degradation: min id vs every member
          var b = 1
          while (b < s) {
            var d = 0; var dot = 0.0
            while (d < dim) { dot += data(d) * data(b * dim + d); d += 1 }
            val v = score(dot, 0, b)
            if (keep(v)) out += InternalRow(ids(0), ids(b), v)
            b += 1
          }
        }
        out.iterator
      }
    }
    InternalRowBridge.fromInternalRdd(spark, outRdd, outSchema)
  }

  /** Scalar-quantized (SQ8) corpus index: ONE BYTE per element plus
    * per-dimension affine parameters — 8× smaller than the f64 index
    * (4× vs f32). A 4M × 256-d corpus is 8.2 GB as f64 (far past the
    * ~1–2 GB broadcast envelope) but 1.0 GB as codes; the JVM array
    * element cap bounds any single index at n·dim ≤ 2³¹ (≈ 8M rows at
    * 256-d) — beyond that, compose with [[topkBlocked]]'s hash-mod
    * blocks, each block quantized. The asymmetric scheme
    * (full-precision queries against quantized corpus) is the
    * standard scalar-quantizer design from the ANN literature (e.g.
    * faiss `SQ8`, public); per-element error is bounded by Δ_d/2 where
    * Δ_d is dimension d's quantization step.
    *
    * code(j,d) = round((v − min_d) / Δ_d) ∈ [0,255],
    * dequant(j,d) = min_d + code·Δ_d. `norms`/`sqNorms` are of the
    * DEQUANTIZED vectors, so scoring is exactly the exact-kernel
    * score of the dequantized corpus — deterministic, no
    * re-quantization drift between partitions.
    */
  final case class CorpusIndexSq8(
      ids: Array[Long],
      codes: Array[Byte],
      n: Int,
      dim: Int,
      dimMin: Array[Float],
      dimScale: Array[Float],
      norms: Array[Double],
      sqNorms: Array[Double]) extends Serializable

  /** Quantize a packed [[CorpusIndex]] to SQ8 (per-dimension min/max
    * affine codes). Driver-side, transient: the f64 matrix exists only
    * while packing — what ships to executors is the byte matrix.
    */
  def quantizeSq8(cx: CorpusIndex): CorpusIndexSq8 = {
    val dimMin = new Array[Float](cx.dim)
    val dimScale = new Array[Float](cx.dim)
    var d = 0
    while (d < cx.dim) {
      var mn = Double.MaxValue; var mx = Double.MinValue
      var j = 0
      while (j < cx.n) {
        val v = cx.data(j * cx.dim + d)
        if (v < mn) mn = v
        if (v > mx) mx = v
        j += 1
      }
      dimMin(d) = mn.toFloat
      // constant dimension → scale 0: every code decodes to min_d
      dimScale(d) = if (mx > mn) ((mx - mn) / 255.0).toFloat else 0.0f
      d += 1
    }
    quantizeSq8Bounded(cx, dimMin, dimScale)
  }

  /** [[quantizeSq8]] against CALLER-SUPPLIED per-dim bounds — the
    * shared-grid encode [[buildSq8Sharded]] needs so every shard
    * quantizes on the SAME corpus-global grid (per-shard grids decode
    * to slightly different values and break bit-parity with the
    * whole-corpus envelope).
    */
  private[graft] def quantizeSq8Bounded(
      cx: CorpusIndex,
      dimMin: Array[Float],
      dimScale: Array[Float]): CorpusIndexSq8 = {
    val codes = new Array[Byte](cx.n * cx.dim)
    val norms = new Array[Double](cx.n)
    val sqNorms = new Array[Double](cx.n)
    var j = 0
    while (j < cx.n) {
      val sq = sq8EncodeRow(cx.data, j * cx.dim, cx.dim, dimMin, dimScale,
        codes, j * cx.dim)
      sqNorms(j) = sq
      norms(j) = math.sqrt(sq)
      j += 1
    }
    CorpusIndexSq8(cx.ids, codes, cx.n, cx.dim, dimMin, dimScale, norms, sqNorms)
  }

  /** Corpus-global per-dim SQ8 bounds in ONE distributed agg pass
    * (2·dim min/max aggregates — nothing row-shaped reaches the
    * driver): exactly the grid [[quantizeSq8]] derives from a packed
    * corpus, so shards encoded against it are bit-identical to the
    * whole-corpus envelope's slices.
    */
  private[graft] def sq8GlobalBounds(
      corpus: DataFrame, embCol: String, dim: Int): (Array[Float], Array[Float]) = {
    // tight treeAggregate (2·dim doubles of per-partition state) — a
    // 2·dim-wide Column aggregate was measured codegen-hostile at 256
    // dims (the whole-stage function blows past the JIT limit)
    val proj = corpus.select(col(embCol)).na.drop()
    val isF32 = proj.schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case dt => throw new IllegalArgumentException(
        s"$embCol must be array<float>/array<double>, got ${dt.simpleString}")
    }
    val zero = (Array.fill(dim)(Double.MaxValue), Array.fill(dim)(Double.MinValue))
    val (mns, mxs) = InternalRowBridge.toInternalRdd(proj)
      .treeAggregate(zero)(
        seqOp = { case ((mn, mx), row) =>
          val a = row.getArray(0)
          require(a.numElements() == dim,
            s"ragged embedding: ${a.numElements()} elements, corpus dim $dim")
          var d = 0
          while (d < dim) {
            val v = if (isF32) a.getFloat(d).toDouble else a.getDouble(d)
            if (v < mn(d)) mn(d) = v
            if (v > mx(d)) mx(d) = v
            d += 1
          }
          (mn, mx)
        },
        combOp = { case ((mn1, mx1), (mn2, mx2)) =>
          var d = 0
          while (d < dim) {
            if (mn2(d) < mn1(d)) mn1(d) = mn2(d)
            if (mx2(d) > mx1(d)) mx1(d) = mx2(d)
            d += 1
          }
          (mn1, mx1)
        })
    val dimMin = new Array[Float](dim)
    val dimScale = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      dimMin(i) = mns(i).toFloat
      dimScale(i) =
        if (mxs(i) > mns(i)) ((mxs(i) - mns(i)) / 255.0).toFloat else 0.0f
      i += 1
    }
    (dimMin, dimScale)
  }

  /** SQ8-encode one row against fixed per-dim bounds from `data` at
    * `off` into `out` at `outOff`; returns the DEQUANTIZED square
    * norm (what [[quantizeSq8]] stores — ranking decodes the same
    * grid). Factored per-row body of [[quantizeSq8]], shared with the
    * distributed builder's executor-side encode.
    */
  private[graft] def sq8EncodeRow(
      data: Array[Double], off: Int, dim: Int,
      dimMin: Array[Float], dimScale: Array[Float],
      out: Array[Byte], outOff: Int): Double = {
    var sq = 0.0
    var d2 = 0
    while (d2 < dim) {
      val sc = dimScale(d2)
      val code =
        if (sc == 0.0f) 0
        else math.min(255, math.max(0,
          math.round((data(off + d2) - dimMin(d2)) / sc))).toInt
      out(outOff + d2) = code.toByte
      val dq = dimMin(d2) + code * sc.toDouble
      sq += dq * dq
      d2 += 1
    }
    sq
  }

  /** Collect + pack + quantize in one call (see [[collectCorpus]]). */
  def collectCorpusSq8(corpus: DataFrame, idCol: String, embCol: String): CorpusIndexSq8 =
    quantizeSq8(collectCorpus(corpus, idCol, embCol))

  /** Per-query top-k against an SQ8 corpus on the [[TopkFrame]]
    * contract: the broadcast is the BYTE matrix and scoring DEQUANTIZES
    * TILES of corpus rows into a reusable f32 buffer for the same sgemm
    * the f32 path runs. Compute memory is O(tileRows·dim) per task no
    * matter how big the (compressed) broadcast is — the full f32 corpus
    * is never materialized anywhere. The decode is amortized over the
    * query batch inside each GEMM call (~1/mRows of the FLOPs).
    */
  def topkSq8(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexSq8,
      k: Int,
      metric: Metric,
      outputCol: String = "matches",
      tileRows: Int = 8192): DataFrame =
    sq8Topk(queries, embCol, corpus, k, metric, outputCol, tileRows, TopkFrame.Nested)

  /** [[topkSq8]] in either frame layout. */
  private def sq8Topk(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexSq8,
      k: Int,
      metric: Metric,
      outputCol: String,
      tileRows: Int,
      layout: TopkFrame.Layout): DataFrame = {
    require(tileRows >= 1, s"tileRows must be >= 1, got $tileRows")
    TopkFrame.queryIsF32(queries.schema, embCol) // refuses before the broadcast
    val bc = broadcastOf(queries.sparkSession, corpus)
    TopkFrame.select(queries, embCol, outputCol, corpus.dim, corpus.n, k, metric.higherIsBetter,
        batchRows = 512, pack = TopkFrame.F32WideNorm, layout = layout) { _ =>
      val cx = bc.value
      val blas = BLAS.getInstance()
      // clamp the tile width ONCE and bound both buffers in Long math:
      // a caller passing tileRows ≥ ~4.2M against a corpus that large
      // would otherwise overflow Int and throw
      // NegativeArraySizeException instead of a clear error
      val tw0 = math.min(tileRows, cx.n)
      require(tw0.toLong * cx.dim <= Int.MaxValue && tw0.toLong * 512L <= Int.MaxValue,
        s"tileRows $tw0 × max(dim ${cx.dim}, batch 512) exceeds a JVM array — lower tileRows")
      val tileF = new Array[Float](tw0 * cx.dim)  // decoded corpus tile
      val tileScores = new Array[Float](512 * tw0)
      new TopkBody(cx.ids) {
        // the running top-k of each query carries across corpus tiles
        def score(b: QueryBatch, sels: Array[TopSelector]): Unit = {
          var t0 = 0
          while (t0 < cx.n) {
            val tw = math.min(tileRows, cx.n - t0)
            // decode tile rows [t0, t0+tw) to f32
            var r = 0
            while (r < tw) {
              val src = (t0 + r) * cx.dim
              val dst = r * cx.dim
              var d = 0
              while (d < cx.dim) {
                tileF(dst + d) = cx.dimMin(d) + (cx.codes(src + d) & 0xFF) * cx.dimScale(d)
                d += 1
              }
              r += 1
            }
            blas.sgemm("T", "N", tw, b.m, cx.dim, 1.0f, tileF, cx.dim,
              b.q32, cx.dim, 0.0f, tileScores, tw)
            var qi = 0
            while (qi < b.m) {
              val sel = sels(qi)
              val base = qi * tw
              var j = 0
              while (j < tw) {
                val g = t0 + j // global corpus position
                sel.offer(scoreOf(metric, tileScores(base + j).toDouble, b.qNorm(qi), b.qSq(qi),
                  cx.norms(g), cx.sqNorms(g)), g)
                j += 1
              }
              qi += 1
            }
            t0 += tw
          }
        }
      }
    }
  }

  /** [[topkSq8]] in the flat (rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkSq8Flat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexSq8,
      k: Int,
      metric: Metric): DataFrame =
    sq8Topk(queries, embCol, corpus, k, metric, "matches", 8192, TopkFrame.Flat)

  /** A metric score from a dot product and both sides' norms — the
    * per-candidate scoring every non-fused pass shares (SQ8 tiles, the
    * SQ8 reranks, both PQ passes, the stream serve). The cosine
    * zero-norm guard is the reference's f64 epsilon, 1e-10.
    */
  private[graft] def scoreOf(
      metric: Metric, dot: Double, qNorm: Double, qSq: Double,
      cNorm: Double, cSq: Double): Double = metric match {
    case Metric.Dot => dot
    case Metric.Cosine => if (qNorm <= 1e-10 || cNorm <= 1e-10) 0.0 else dot / (qNorm * cNorm)
    case Metric.Euclidean => math.sqrt(math.max(0.0, qSq + cSq - 2.0 * dot))
  }

  /** `acc0` plus the dot of the query at `q(qOff…)` with SQ8 row `g`
    * decoded on the fly — the shortlist rerank of BQ, IVF-BQ, PQ and
    * IVF-PQ (which starts from the cell's centroid dot).
    */
  private def sq8Dot(
      sq8: CorpusIndexSq8, g: Int, q: Array[Double], qOff: Int, acc0: Double): Double = {
    var dot = acc0
    val src = g * sq8.dim
    var d = 0
    while (d < sq8.dim) {
      dot += q(qOff + d) * (sq8.dimMin(d) + (sq8.codes(src + d) & 0xFF) * sq8.dimScale(d))
      d += 1
    }
    dot
  }

  // ===== PQ (product quantization, Jégou et al. TPAMI '11) =====

  /** Product-quantized corpus envelope: `m` subspace codebooks of 256
    * centroids each → `m` BYTES per vector (a 256-d f64 corpus
    * compresses 2048/m ×; m=32 → 64×), plus the EXACT per-vector
    * norms (8+8 bytes) so cosine/euclidean rank against true vector
    * lengths, and an optional SQ8 sidecar for shortlist reranking
    * (n·dim more bytes — still 8× under f64; `sq8 = None` drops it
    * for the pure-ADC envelope).
    */
  /** Binary-quantized corpus index — ONE BIT per dimension: bit d of a
    * row is `v_d > threshold_d`, thresholds the corpus per-dim MEAN
    * (centering balances the bits, which maximizes the information a
    * sign carries). 32× smaller than f32, and candidate scoring is
    * XOR + popcount over `nWords = ceil(dim/64)` machine words — the
    * cheapest scan rung below PQ's m-add ADC. Hamming distance between
    * sign patterns is a monotone proxy for angle (it counts
    * hyperquadrant disagreements, the same geometry the hyperplane-LSH
    * dedup path exploits), so it PRE-SCREENS but cannot rank finely:
    * a [[topkBq]] serve always reranks its Hamming shortlist against
    * the bundled SQ8 envelope, and the returned scores are exactly the
    * SQ8-dequantized metric scores ([[topkSq8]] semantics on the
    * shortlist). At the 100 TB shape the bits are the only thing that
    * must stay hot (10M rows × 256 dims = 320 MB resident) while the
    * 8× larger SQ8 envelope is touched `shortlist` rows per query —
    * the DiskANN memory split, here expressed as scan-vs-gather over
    * one broadcast.
    */
  final case class CorpusIndexBq(
      ids: Array[Long],
      words: Array[Long],
      n: Int,
      dim: Int,
      nWords: Int,
      thresholds: Array[Double],
      bitCut: Array[Int],         // per-dim SMALLEST CODE whose bit is
                                  // 1 (= ⌊Σcode/n⌋+1): the CORPUS-side
                                  // threshold in exact integer form —
                                  // what an encode-only APPEND cuts new
                                  // rows' bits on so they match the
                                  // build's integer contract bit for
                                  // bit; `thresholds` is the same cut
                                  // as f64 for the raw-value QUERY side
      sq8: CorpusIndexSq8) extends Serializable

  /** Binarize a packed [[CorpusIndex]]: SQ8-quantize first, then set
    * each corpus bit from the DEQUANTIZED grid in pure INTEGER
    * arithmetic — bit(j,d) = code(j,d)·n > Σ_j code(j,d). That is
    * exactly "dequantized value above the dequantized per-dim mean"
    * (dequant = min + code·Δ is affine in the code, so the comparison
    * divides through), and because a sum of byte codes is an exact
    * integer, the bits are independent of summation order — which is
    * what lets [[buildBqSharded]] produce BIT-IDENTICAL shards from
    * per-shard integer column totals. `thresholds` stores the same
    * cut as f64 (min + (Σcode/n)·Δ) for the QUERY side, which
    * binarizes raw values. Driver-side and transient like
    * [[quantizeSq8]] — what ships is bits + bytes, never the f64
    * matrix.
    */
  def quantizeBq(cx: CorpusIndex): CorpusIndexBq =
    bqFromSq8(quantizeSq8(cx))

  /** Derive the bit matrix from an SQ8 envelope (see [[quantizeBq]]
    * for the integer-threshold contract). `cut` defaults to THIS
    * envelope's own [[IndexCodec.BqCut]]; [[buildBqSharded]] passes the
    * corpus-GLOBAL cut so every shard cuts on the same threshold.
    */
  private[graft] def bqFromSq8(
      sq8: CorpusIndexSq8,
      cut: IndexCodec.BqCut = null): CorpusIndexBq = {
    val nW = (sq8.dim + 63) >>> 6
    val c = if (cut != null) cut else IndexCodec.BqCut.of(sq8)
    require(c.colSum.length == sq8.dim,
      s"column-total length ${c.colSum.length} != dim ${sq8.dim}")
    require(sq8.n.toLong * nW <= Int.MaxValue,
      s"bit matrix ${sq8.n} rows × $nW words exceeds a JVM array — " +
        "shard the corpus before binarizing")
    // the integer cut per dim: one compare per element instead of a
    // long multiply, and the artifact an encode-only append needs frozen
    val bitCut = c.bitCut
    val words = new Array[Long](sq8.n * nW)
    var j = 0
    while (j < sq8.n) {
      IndexCodec.Bq.setBits(sq8.codes, j * sq8.dim, bitCut, words, j * nW)
      j += 1
    }
    CorpusIndexBq(sq8.ids, words, sq8.n, sq8.dim, nW, c.thresholds(sq8.dimMin, sq8.dimScale),
      bitCut, sq8)
  }

  /** One binary-quantized index per hash-mod shard — the
    * past-one-broadcast form of [[quantizeBq]], built on
    * [[buildSq8Sharded]]'s priced concurrent collect (same budget
    * semantics, same corpus-GLOBAL SQ8 grid). The bit threshold is
    * the corpus-global integer column total (summed exactly across
    * shards), so shard bits are BIT-IDENTICAL to what the whole-
    * corpus [[quantizeBq]] would set for the same rows — BqSpec pins
    * single-shard equality and multi-shard search parity. Serve with
    * [[topkBqSharded]].
    */
  def buildBqSharded(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      maxInFlightBytes: Long = 0L): Seq[CorpusIndexBq] =
    buildBqShardedWithLayout(corpus, cIdCol, cEmbCol, numShards,
      maxInFlightBytes).shards

  /** A sharded BQ build plus its ROUTING IDENTITY — the hash modulus
    * and, per surviving shard directory, the raw
    * `pmod(xxhash64(id), hashModulus)` value it holds (the
    * [[ShardedIvfPqBuild]] shape: the shard list alone is ambiguous
    * once empty hash shards were compacted away, and a persisted
    * append must route new ids with the BUILD's split).
    */
  final case class ShardedBqBuild(
      shards: IndexedSeq[CorpusIndexBq],
      hashModulus: Int,
      shardHashVals: IndexedSeq[Long])

  /** [[buildBqSharded]], also returning which hash values survived
    * the empty-shard compaction (see [[ShardedBqBuild]]).
    */
  def buildBqShardedWithLayout(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      maxInFlightBytes: Long = 0L): ShardedBqBuild = {
    val sq8Opts =
      buildSq8ShardedOpt(corpus, cIdCol, cEmbCol, numShards, maxInFlightBytes)
    val surviving = sq8Opts.zipWithIndex.collect { case (Some(s), b) => s -> b.toLong }
    require(surviving.nonEmpty, "Empty corpus")
    val sq8s = surviving.map(_._1)
    val cut = IndexCodec.BqCut.global(sq8s.iterator)
    ShardedBqBuild(sq8s.map(bqFromSq8(_, cut)).toIndexedSeq,
      numShards, surviving.map(_._2).toIndexedSeq)
  }

  /** A global top-k over BQ shards in one pass ([[serveSharded]]):
    * per query row, every shard's body yields its local reranked top-k
    * (per-shard Hamming shortlists only WIDEN the candidate pool vs
    * one global shortlist) and the task merges them into k. Queries
    * must carry `qIdCol`; output is the flat (qIdCol, index, score,
    * rank) shape ([[TopkFrame.ShardedFlat]]), ranked per query row —
    * which means queries with a NULL embedding produce NO output rows,
    * unlike [[topkBq]]'s null-passthrough match column. Same shape as
    * every sharded flat serve ([[topkIvfPqSharded]],
    * [[topkIvfBqSharded]]).
    */
  def topkBqSharded(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexBq],
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveBqSharded(queries, qIdCol, embCol, shards, ShardMasks.Unmasked, k, metric, shortlist)

  /** Collect + pack + binarize in one call (one collect feeds both the
    * bit matrix and the SQ8 envelope).
    */
  def collectCorpusBq(corpus: DataFrame, idCol: String, embCol: String): CorpusIndexBq =
    quantizeBq(collectCorpus(corpus, idCol, embCol))

  /** Sign-encode one row against fixed per-dim thresholds into packed
    * words at `outOff` (words must be zero there). Shared by the
    * corpus build and the per-query encode, so both sides binarize
    * with identical arithmetic (strict `>`: a value exactly at the
    * threshold encodes 0 on both sides).
    */
  private[graft] def bqEncodeRow(
      data: Array[Double], off: Int, dim: Int,
      thresholds: Array[Double], out: Array[Long], outOff: Int): Unit = {
    var d = 0
    while (d < dim) {
      if (data(off + d) > thresholds(d)) out(outOff + (d >>> 6)) |= 1L << (d & 63)
      d += 1
    }
  }

  /** Per-query top-k against a binary-quantized corpus on the
    * [[TopkFrame]] contract. Two passes per query: (1) Hamming distance of the
    * sign-encoded query against every corpus row (XOR+popcount,
    * `nWords` word ops per row — ties by id ascending) selects a
    * `shortlist`; (2) the shortlist reranks against the SQ8 envelope,
    * returning the top `k` by the requested metric with the exact
    * [[topkSq8]] score definition (dequantized-corpus scores). The
    * rerank is mandatory (`shortlist >= k`): raw Hamming ranks are a
    * pre-screen, not a result — 1-bit scores can't order near-ties,
    * and surfacing them as "scores" would leak the quantization into
    * the caller's contract. With `shortlist = corpus.n` the output is
    * RANK-EQUIVALENT to [[topkSq8]] up to FP summation-order noise:
    * the rerank sums dequantized products in f64 scalar order while
    * [[topkSq8]] scores off an f32 GEMM tile, so a near-tie pair can
    * order differently between the two paths (BqSpec asserts 1e-4
    * score agreement, not bit equality).
    */
  def topkBq(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexBq,
      k: Int,
      metric: Metric,
      shortlist: Int,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.Unmasked, k,
      bqFamily(k, metric, shortlist))

  /** FILTERED BQ search — [[topkBq]] restricted to an allowed-id
    * subset (the FAISS `IDSelector` shape the IVF+PQ family already
    * has, [[topkIvfPqFiltered]]): the allowed ids become a boolean
    * mask over corpus row positions, broadcast with the index, and
    * the kernel skips masked rows BEFORE their XOR+popcount — the
    * Hamming pre-screen itself is filtered, so the shortlist holds
    * only allowed candidates and no over-fetch factor is needed.
    * Unknown allowed ids are ignored, k and shortlist clamp to
    * |allowed ∩ corpus| ([[TopkFrame]]'s mask clamp), and an all-id
    * filter is bit-identical to [[topkBq]]. Shares that
    * form's lazy-plan broadcast-lifetime caveat — long-lived drivers
    * should prefer [[topkBqShardedWaves]] with `allowedIds`.
    */
  def topkBqFiltered(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexBq,
      allowedIds: Array[Long],
      k: Int,
      metric: Metric,
      shortlist: Int,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.allow(allowedIds), k,
      bqFamily(k, metric, shortlist))

  /** [[topkBqFiltered]] with the allowed set as a one-column
    * DataFrame — the relational form ([[topkIvfPqFiltered]]'s
    * DataFrame overload): the allowed ids never collect to the
    * driver; the mask is built executor-side against the broadcast
    * corpus ids, so an arbitrarily large allowed set works.
    */
  def topkBqFiltered(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexBq,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      metric: Metric,
      shortlist: Int,
      outputCol: String): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.AllowDf(allowed, allowedIdCol),
      k, bqFamily(k, metric, shortlist))

  /** [[topkBqFiltered]] in the flat (rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkBqFilteredFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexBq,
      allowedIds: Array[Long],
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus), ShardMasks.allow(allowedIds), k,
      bqFamily(k, metric, shortlist), TopkFrame.Flat)

  /** [[topkBqFilteredFlat]] with the allowed set as a one-column
    * DataFrame (never collected — see [[topkBqFiltered]]).
    */
  def topkBqFilteredFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexBq,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus),
      ShardMasks.AllowDf(allowed, allowedIdCol), k, bqFamily(k, metric, shortlist),
      TopkFrame.Flat)

  private[graft] def validateBqArgs(k: Int, shortlist: Int): Unit =
    require(shortlist >= k,
      s"shortlist must be >= k, got $shortlist (k=$k) — the Hamming pass " +
        "only pre-screens; k results come from the SQ8 rerank")

  /** The BQ family as [[serveSharded]] and the wave loop serve it. */
  private def bqFamily(k: Int, metric: Metric, shortlist: Int): ShardFamily[CorpusIndexBq] =
    ShardFamily(metric.higherIsBetter, shortlist, null, _.ids, _.dim,
      _ => validateBqArgs(k, shortlist), (cx, mask, c, _) => bqBody(cx, mask, c, metric))

  /** The BQ row body over one index: every row not masked out is
    * screened (masked rows skip their XOR+popcount), k and the
    * shortlist clamped as [[TopkFrame]] states.
    */
  private def bqBody(
      cx: CorpusIndexBq, mask: Array[Boolean], c: TopkFrame.Clamp, metric: Metric): TopkBody =
    new BqBody(cx.ids, cx.thresholds, cx.nWords, c.sl, cx.sq8, metric) {
      def screen(b: QueryBatch, i: Int, qWords: Array[Long], ham: TopSelector): Unit = {
        var g = 0
        while (g < cx.n) {
          if (mask == null || mask(g)) ham.offer(hamming(qWords, cx.words, g * cx.nWords), g)
          g += 1
        }
      }
    }

  /** The BQ / IVF-BQ row body: sign-encode the query, let the family's
    * `screen` offer Hamming distances (masked rows skipped before their
    * XOR — the filter is exact, not an over-fetch) into an `sl`-deep
    * shortlist (distance asc, id asc), then rerank that shortlist
    * against the SQ8 envelope — [[topkSq8]]'s score definition
    * (dequantized corpus, true decoded norms).
    */
  private abstract class BqBody(
      ids: Array[Long], thresholds: Array[Double], nWords: Int, sl: Int,
      sq8: CorpusIndexSq8, metric: Metric) extends RowBody(ids) {
    private val qWords = new Array[Long](nWords)
    private val ham = new TopSelector(sl, false, ids)
    def screen(b: QueryBatch, i: Int, qWords: Array[Long], ham: TopSelector): Unit
    def scoreRow(b: QueryBatch, i: Int, sel: TopSelector): Unit = {
      val off = i * b.dim
      java.util.Arrays.fill(qWords, 0L)
      bqEncodeRow(b.q64, off, b.dim, thresholds, qWords, 0)
      ham.reset()
      screen(b, i, qWords, ham)
      var r = 0
      while (r < ham.size) {
        val g = ham.pos(r)
        sel.offer(scoreOf(metric, sq8Dot(sq8, g, b.q64, off, 0.0), b.qNorm(i), b.qSq(i),
          sq8.norms(g), sq8.sqNorms(g)), g)
        r += 1
      }
    }
  }

  /** Hamming distance between the query words and the bit row at
    * `base` (XOR + popcount over `q.length` words).
    */
  private def hamming(q: Array[Long], words: Array[Long], base: Int): Int = {
    var h = 0
    var w = 0
    while (w < q.length) { h += java.lang.Long.bitCount(q(w) ^ words(base + w)); w += 1 }
    h
  }

  /** The IVF probe: the query's dot with every unit cell centroid
    * (`dots`) and the `nProbe` best cells, best-first with ties to the
    * lowest cell (`sel`).
    */
  private final class CellProbe(centroids: Array[Double], nCells: Int, dim: Int, nProbe: Int) {
    val dots = new Array[Double](nCells)
    val sel = new TopSelector(math.min(nProbe, nCells), true, Array.tabulate(nCells)(_.toLong))
    def pick(q: Array[Double], off: Int): Unit = {
      sel.reset()
      var c = 0
      while (c < nCells) {
        var dot = 0.0
        var d = 0
        val cb = c * dim
        while (d < dim) { dot += q(off + d) * centroids(cb + d); d += 1 }
        dots(c) = dot
        sel.offer(dot, c)
        c += 1
      }
    }
  }

  /** [[topkBq]] as one row per (query, match) — the same flat shape
    * as [[topkFlat]].
    */
  def topkBqFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexBq,
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus), ShardMasks.Unmasked, k,
      bqFamily(k, metric, shortlist), TopkFrame.Flat)

  /** [[topkBqSharded]] restricted to an allowed-id subset — the
    * sharded composition of [[topkBqFiltered]] (allow mask of
    * [[serveSharded]]).
    */
  def topkBqShardedFiltered(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexBq],
      allowedIds: Array[Long],
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveBqSharded(queries, qIdCol, embCol, shards, ShardMasks.allow(allowedIds), k, metric,
      shortlist)

  /** [[topkBqShardedFiltered]] with the allowed set as a one-column
    * DataFrame — never collected ([[allowedMasksFromDfMulti]]).
    */
  def topkBqShardedFiltered(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexBq],
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveBqSharded(queries, qIdCol, embCol, shards, ShardMasks.AllowDf(allowed, allowedIdCol),
      k, metric, shortlist)

  /** [[topkBqSharded]] over an index with TOMBSTONED ids — the deny
    * mask of [[serveSharded]]: a deleted row can never be served and k
    * clamps to the LIVE population. An empty tombstone array serves
    * identically to [[topkBqSharded]].
    */
  def topkBqShardedTombstoned(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexBq],
      tombstoneIds: Array[Long],
      k: Int,
      metric: Metric,
      shortlist: Int): DataFrame =
    serveBqSharded(queries, qIdCol, embCol, shards, ShardMasks.deny(tombstoneIds), k, metric,
      shortlist)

  /** The BQ family's flat sharded serve: [[serveSharded]] over
    * `(qIdCol, embCol)`, so the output keeps only
    * `(qIdCol, index, score, rank)`.
    */
  private def serveBqSharded(
      queries: DataFrame, qIdCol: String, embCol: String, shards: Seq[CorpusIndexBq],
      masks: ShardMasks, k: Int, metric: Metric, shortlist: Int): DataFrame =
    serveSharded(queries.select(col(qIdCol), col(embCol)), embCol, "matches", shards,
      masks, k, bqFamily(k, metric, shortlist), TopkFrame.ShardedFlat)

  /** [[topkBqSharded]] with BOUNDED broadcast memory — the BQ family
    * member of [[topkIvfPqShardedWaves]]: the plain sharded form
    * broadcasts all B shards in one payload, so every executor
    * pins every shard simultaneously — the bits AND the
    * 8× larger SQ8 rerank envelope, i.e. the TOTAL index, exactly
    * the per-executor ceiling sharding exists to break (2.75 GB at
    * 10M×256, growing linearly). This form serves the shards in
    * waves of `waveSize` on the shared wave machinery
    * ([[topkShardedWavesCore]]): per wave one broadcast and one pass
    * that merges each query row's carried matches into its running
    * top-k (the cut — the only state that outlives a wave) → persist
    * → destroy, so peak per-executor broadcast memory is ONE WAVE's
    * shards, measured by `meter`. Rows are IDENTICAL to
    * [[topkBqSharded]], ranked per query row (per-wave top-k cuts are
    * lossless for a global top-k; ties pin to the lowest index both
    * times — BqSpec parity at waveSize 1). `allowedIds`/`deniedIds`
    * compose the [[topkBqFiltered]] / tombstone masks per wave
    * (allow ∧ ¬deny), built only while the shard is live and
    * destroyed with it. Scratch-dir policy,
    * `memoryPartials`, and the cluster refusal are
    * [[topkIvfPqShardedWaves]]'s, verbatim.
    */
  def topkBqShardedWaves(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexBq],
      k: Int,
      metric: Metric,
      shortlist: Int,
      waveSize: Int = 2,
      scratchDir: String = "",
      meter: ShardedServeMeter = ShardedServeStats.default,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null): DataFrame =
    serveWaves(queries, shards, scratchDir, memoryPartials) { (providers, scratch, mem) =>
      topkBqWavesCore(queries, qIdCol, embCol, providers, k, metric, shortlist, waveSize,
        scratch, meter, mem, allowedIds, deniedIds)
    }

  /** The BQ wave loop over shard PROVIDERS — the
    * [[topkIvfPqWavesCore]] shape: a caller paging shards off a
    * persisted layout (the streaming bounded serve) holds at most one
    * wave's indexes on the driver, matching the executor-side
    * broadcast bound.
    */
  private[graft] def topkBqWavesCore(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shardProviders: Seq[() => CorpusIndexBq],
      k: Int,
      metric: Metric,
      shortlist: Int,
      waveSize: Int,
      scratch: String,
      meter: ShardedServeMeter,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null): DataFrame =
    topkShardedWavesCore(queries.select(col(qIdCol), col(embCol)), embCol, shardProviders,
        bqFamily(k, metric, shortlist), k, waveSize, scratch, meter, memoryPartials, allowedIds,
        deniedIds)(validateBqArgs(k, shortlist))

  /** IVF + binary quantization — coarse spherical cells ROUTE, sign
    * bits PRE-SCREEN, the SQ8 envelope RERANKS: the [[topkBq]] scan
    * goes sublinear by popcounting only the `nProbe` probed cells'
    * members (the FAISS IVF+RaBitQ shape). Everything except the cell
    * CSR is literally the flat [[CorpusIndexBq]] payload — bits cut on
    * the same exact-integer dequantized-mean threshold, rerank scores
    * are the same [[topkSq8]] dequantized-grid cosines — so probing
    * every cell with the same shortlist reproduces [[topkBq]]'s rows
    * exactly (IvfBqSpec pins it). Cells train on the DEQUANTIZED
    * corpus (decode-from-envelope), which is what lets the sharded
    * builder derive whole indexes from [[buildSq8Sharded]] envelopes
    * without a second collect: the envelope IS the corpus as far as
    * every scoring path is concerned. Cosine only, like
    * [[topkIvfPq]] — the spherical routing is angle geometry.
    */
  final case class CorpusIndexIvfBq(
      ids: Array[Long],
      n: Int,
      dim: Int,
      nCells: Int,
      centroids: Array[Double],   // nCells * dim, unit rows
      words: Array[Long],         // n * nWords, CSR-POSITION order: the
                                  // bit row at CSR slot p belongs to
                                  // row cellMembers(p) — probed cells
                                  // scan their bits SEQUENTIALLY (the
                                  // FAISS inverted-list layout; a
                                  // row-order gather loses to the flat
                                  // linear sweep, measured at 10M)
      nWords: Int,
      thresholds: Array[Double],  // query-side sign cut
      bitCut: Array[Int],         // the corpus-side cut in exact
                                  // integer form (⌊Σcode/n⌋+1 over the
                                  // build corpus, [[CorpusIndexBq]]'s
                                  // field) — what an encode-only
                                  // APPEND cuts new rows' bits on
      cellOf: Array[Int],
      cellStart: Array[Int],      // nCells + 1 CSR offsets
      cellMembers: Array[Int],    // n, row indices grouped by cell
      sq8: CorpusIndexSq8) extends Serializable

  /** Train an IVF+BQ index from a packed corpus: one SQ8 pass, then
    * [[ivfBqFromSq8]] (decode-from-envelope — see there).
    */
  def quantizeIvfBq(
      cx: CorpusIndex,
      nCells: Int,
      trainSample: Int = 16384,
      iters: Int = 10): CorpusIndexIvfBq =
    ivfBqFromSq8(quantizeSq8(cx), nCells, trainSample, iters)

  /** Build the IVF+BQ index from an SQ8 envelope alone: bits via the
    * integer-threshold contract ([[bqFromSq8]]), spherical cells
    * trained and assigned on the UNIT-NORMALIZED DEQUANTIZED rows
    * (same strided sample + k-means as IVF+PQ, ties to the lowest
    * cell). `cut` as in [[bqFromSq8]] — the sharded builder passes the
    * corpus-global cut so every shard's bits cut identically.
    */
  private[graft] def ivfBqFromSq8(
      sq8: CorpusIndexSq8,
      nCells: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      cut: IndexCodec.BqCut = null): CorpusIndexIvfBq = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(trainSample >= 1, s"trainSample must be >= 1, got $trainSample")
    val bq = bqFromSq8(sq8, cut)
    val d = sq8.dim
    val k = math.min(nCells, math.max(1, sq8.n))
    val unit = new Array[Double](sq8.n * d)
    java.util.stream.IntStream.range(0, sq8.n).parallel().forEach { g =>
      IndexCodec.IvfBq.decodeUnit(sq8.codes, g * d, sq8.dimMin, sq8.dimScale, sq8.norms(g),
        unit, g * d)
    }
    val step = math.max(1, sq8.n / trainSample)
    val sampleIdx = (0 until sq8.n by step).toArray
    val sn = sampleIdx.length
    val sample = new Array[Double](sn * d)
    var s = 0
    while (s < sn) {
      System.arraycopy(unit, sampleIdx(s) * d, sample, s * d, d); s += 1
    }
    val centFlat = trainSphericalKmeans(sample, sn, d, k, iters)
    val cellOf = new Array[Int](sq8.n)
    java.util.stream.IntStream.range(0, sq8.n).parallel().forEach { g =>
      cellOf(g) = assignCell(unit, g * d, centFlat, k, d)
    }
    ivfBqIndex(sq8, k, centFlat, bq.words, bq.nWords, bq.thresholds, bq.bitCut, cellOf)
  }

  /** The IVF+BQ index over `sq8`'s rows given each row's cell and its
    * bits in row order: the CSR from [[buildCsr]], and the bit matrix
    * repacked into CSR-slot order (see the `words` field) so probed
    * cells stream their bits sequentially. The build and the reader
    * both end here.
    */
  private[graft] def ivfBqIndex(
      sq8: CorpusIndexSq8,
      nCells: Int,
      centroids: Array[Double],
      rowWords: Array[Long],
      nWords: Int,
      thresholds: Array[Double],
      bitCut: Array[Int],
      cellOf: Array[Int]): CorpusIndexIvfBq = {
    val (cellStart, cellMembers) = buildCsr(cellOf, nCells)
    val words = new Array[Long](rowWords.length)
    var p = 0
    while (p < sq8.n) {
      System.arraycopy(rowWords, cellMembers(p) * nWords, words, p * nWords, nWords)
      p += 1
    }
    CorpusIndexIvfBq(sq8.ids, sq8.n, sq8.dim, nCells, centroids, words, nWords, thresholds,
      bitCut, cellOf, cellStart, cellMembers, sq8)
  }

  /** Per-query cosine top-k against an IVF+BQ index: probe the
    * `nProbe` best cells by centroid dot, XOR+popcount ONLY the
    * probed members (global Hamming shortlist across probed cells,
    * ties by id), then the mandatory SQ8 rerank — [[topkBq]]'s scores
    * on the [[TopkFrame]] contract, restricted to the probed
    * population.
    */
  def topkIvfBq(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfBq,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.Unmasked, k,
      ivfBqFamily(k, nProbe, shortlist))

  /** FILTERED IVF+BQ search — [[topkIvfBq]] restricted to an
    * allowed-id subset: the mask skips masked members of the probed
    * cells BEFORE their XOR+popcount (the [[topkBqFiltered]]
    * semantics; an all-true mask is bit-identical to [[topkIvfBq]]).
    * Low selectivity concentrates allowed rows in few cells — recall
    * vs the filtered exact ground truth wants proportionally higher
    * `nProbe`, exactly the IVF+PQ filtered caveat.
    */
  def topkIvfBqFiltered(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfBq,
      allowedIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.allow(allowedIds), k,
      ivfBqFamily(k, nProbe, shortlist))

  /** [[topkIvfBqFiltered]] in the flat (rank, index, score) shape
    * of [[topkFlat]].
    */
  def topkIvfBqFilteredFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfBq,
      allowedIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus), ShardMasks.allow(allowedIds), k,
      ivfBqFamily(k, nProbe, shortlist), TopkFrame.Flat)

  private[graft] def validateIvfBqArgs(k: Int, nProbe: Int, shortlist: Int): Unit = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(shortlist >= k,
      s"shortlist must be >= k, got $shortlist (k=$k) — the Hamming pass " +
        "only pre-screens; k results come from the SQ8 rerank")
  }

  /** The IVF+BQ family (cosine) as [[serveSharded]] and the wave loop
    * serve it.
    */
  private def ivfBqFamily(k: Int, nProbe: Int, shortlist: Int): ShardFamily[CorpusIndexIvfBq] =
    ShardFamily(true, shortlist, null, _.ids, _.dim, _ => validateIvfBqArgs(k, nProbe, shortlist),
      (cx, mask, c, _) => ivfBqBody(cx, mask, c, nProbe))

  /** The IVF+BQ row body over one index: masked members of the probed
    * cells skip their popcount; k clamps to the allowed population.
    */
  private def ivfBqBody(
      cx: CorpusIndexIvfBq, mask: Array[Boolean], c: TopkFrame.Clamp, nProbe: Int): TopkBody = {
    val probe = new CellProbe(cx.centroids, cx.nCells, cx.dim, nProbe)
    new BqBody(cx.ids, cx.thresholds, cx.nWords, c.sl, cx.sq8, Metric.Cosine) {
      // bits stream SEQUENTIALLY (CSR-position layout); only the
      // shortlist bookkeeping touches the member indirection
      def screen(b: QueryBatch, i: Int, qWords: Array[Long], ham: TopSelector): Unit = {
        probe.pick(b.q64, i * b.dim)
        var pi = 0
        while (pi < probe.sel.size) {
          val cell = probe.sel.pos(pi)
          var mi = cx.cellStart(cell)
          val end = cx.cellStart(cell + 1)
          while (mi < end) {
            val g = cx.cellMembers(mi)
            if (mask == null || mask(g)) ham.offer(hamming(qWords, cx.words, mi * cx.nWords), g)
            mi += 1
          }
          pi += 1
        }
      }
    }
  }

  /** [[topkIvfBq]] in the flat (query, rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkIvfBqFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfBq,
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus), ShardMasks.Unmasked, k,
      ivfBqFamily(k, nProbe, shortlist), TopkFrame.Flat)

  /** One IVF+BQ index per hash-mod shard, derived ENTIRELY from
    * [[buildSq8Sharded]]'s envelopes — no second collect: bits from
    * the corpus-global integer totals (bit-identical to a
    * whole-corpus build, the [[buildBqSharded]] contract), cells
    * trained per shard on the dequantized rows (per-shard geometry,
    * like [[buildIvfPqSharded]]). Serve with [[topkIvfBqSharded]].
    */
  def buildIvfBqSharded(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      nCells: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      maxInFlightBytes: Long = 0L): Seq[CorpusIndexIvfBq] =
    buildIvfBqShardedWithLayout(corpus, cIdCol, cEmbCol, numShards, nCells,
      trainSample, iters, maxInFlightBytes).shards

  /** A sharded IVF+BQ build plus its routing identity (the
    * [[ShardedBqBuild]] / [[ShardedIvfPqBuild]] shape).
    */
  final case class ShardedIvfBqBuild(
      shards: IndexedSeq[CorpusIndexIvfBq],
      hashModulus: Int,
      shardHashVals: IndexedSeq[Long])

  /** [[buildIvfBqSharded]], also returning which hash values survived
    * the empty-shard compaction.
    */
  def buildIvfBqShardedWithLayout(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      nCells: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      maxInFlightBytes: Long = 0L): ShardedIvfBqBuild = {
    val sq8Opts =
      buildSq8ShardedOpt(corpus, cIdCol, cEmbCol, numShards, maxInFlightBytes)
    val surviving = sq8Opts.zipWithIndex.collect { case (Some(s), b) => s -> b.toLong }
    require(surviving.nonEmpty, "Empty corpus")
    val sq8s = surviving.map(_._1)
    val cut = IndexCodec.BqCut.global(sq8s.iterator)
    ShardedIvfBqBuild(
      sq8s.map(ivfBqFromSq8(_, nCells, trainSample, iters, cut)).toIndexedSeq,
      numShards, surviving.map(_._2).toIndexedSeq)
  }

  /** Merge per-shard [[topkIvfBq]] serves — the [[topkBqSharded]]
    * serve ([[serveSharded]], cosine, so higher-is-better ordering).
    */
  def topkIvfBqSharded(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexIvfBq],
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveIvfBqSharded(queries, qIdCol, embCol, shards, ShardMasks.Unmasked, k, nProbe,
      shortlist)

  /** [[topkIvfBqSharded]] restricted to an allowed-id subset — the
    * [[topkBqShardedFiltered]] composition over the routed form (allow
    * mask of [[serveSharded]]).
    */
  def topkIvfBqShardedFiltered(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexIvfBq],
      allowedIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveIvfBqSharded(queries, qIdCol, embCol, shards, ShardMasks.allow(allowedIds), k,
      nProbe, shortlist)

  /** [[topkIvfBqShardedFiltered]] with the allowed set as a
    * one-column DataFrame — never collected
    * ([[allowedMasksFromDfMulti]]).
    */
  def topkIvfBqShardedFiltered(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexIvfBq],
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveIvfBqSharded(queries, qIdCol, embCol, shards,
      ShardMasks.AllowDf(allowed, allowedIdCol), k, nProbe, shortlist)

  /** [[topkIvfBqSharded]] with TOMBSTONED ids masked out of the
    * probed-cell scan — the deny mask of [[serveSharded]] (an empty
    * tombstone array serves identically to [[topkIvfBqSharded]]).
    */
  def topkIvfBqShardedTombstoned(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexIvfBq],
      tombstoneIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveIvfBqSharded(queries, qIdCol, embCol, shards, ShardMasks.deny(tombstoneIds), k,
      nProbe, shortlist)

  /** The IVF+BQ family's flat sharded serve: [[serveSharded]] over
    * `(qIdCol, embCol)`, so the output keeps only
    * `(qIdCol, index, score, rank)`.
    */
  private def serveIvfBqSharded(
      queries: DataFrame, qIdCol: String, embCol: String, shards: Seq[CorpusIndexIvfBq],
      masks: ShardMasks, k: Int, nProbe: Int, shortlist: Int): DataFrame =
    serveSharded(queries.select(col(qIdCol), col(embCol)), embCol, "matches", shards,
      masks, k, ivfBqFamily(k, nProbe, shortlist), TopkFrame.ShardedFlat)

  /** [[topkIvfBqSharded]] with BOUNDED broadcast memory — the routed
    * sibling of [[topkBqShardedWaves]] on the shared wave machinery
    * (one wave's shards resident at a time, `allowedIds`/`deniedIds`
    * masks built and destroyed per wave, rows identical to the
    * all-resident form).
    */
  def topkIvfBqShardedWaves(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shards: Seq[CorpusIndexIvfBq],
      k: Int,
      nProbe: Int,
      shortlist: Int,
      waveSize: Int = 2,
      scratchDir: String = "",
      meter: ShardedServeMeter = ShardedServeStats.default,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null): DataFrame =
    serveWaves(queries, shards, scratchDir, memoryPartials) { (providers, scratch, mem) =>
      topkIvfBqWavesCore(queries, qIdCol, embCol, providers, k, nProbe, shortlist, waveSize,
        scratch, meter, mem, allowedIds, deniedIds)
    }

  /** The IVF+BQ wave loop over shard PROVIDERS (the
    * [[topkBqWavesCore]] / [[topkIvfPqWavesCore]] shape — the
    * streaming bounded serve pages persisted shards through this).
    */
  private[graft] def topkIvfBqWavesCore(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      shardProviders: Seq[() => CorpusIndexIvfBq],
      k: Int,
      nProbe: Int,
      shortlist: Int,
      waveSize: Int,
      scratch: String,
      meter: ShardedServeMeter,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null): DataFrame =
    topkShardedWavesCore(queries.select(col(qIdCol), col(embCol)), embCol, shardProviders,
        ivfBqFamily(k, nProbe, shortlist), k, waveSize, scratch, meter, memoryPartials,
        allowedIds, deniedIds)(validateIvfBqArgs(k, nProbe, shortlist))

  final case class CorpusIndexPq(
      ids: Array[Long],
      codes: Array[Byte],       // n * m, row-major subspace codes
      n: Int,
      dim: Int,
      m: Int,                   // subspaces; sub = dim / m
      codebooks: Array[Float],  // m * 256 * sub, [subspace][centroid][d]
      // norms are f32 ON PURPOSE: at m=16 the codes are 16 bytes/vec —
      // f64 norm+sqNorm (16 more) would DOUBLE the envelope; f32 keeps
      // it 24 and costs ~1e-7 relative norm error, noise next to the
      // quantized dot itself
      norms: Array[Float],
      sqNorms: Array[Float],
      sq8: Option[CorpusIndexSq8]) extends Serializable

  /** Train PQ codebooks and encode a packed [[CorpusIndex]].
    * Driver-side like [[quantizeSq8]]: per-subspace Lloyd k-means on a
    * strided `trainSample` (deterministic — no RNG: init centroids are
    * strided sample rows, ties to the lowest centroid), then every
    * row encodes to its nearest centroid per subspace via a parallel
    * stream (encode is the O(n·256·dim) step; training is
    * sample-bounded). Empty clusters keep their previous centroid —
    * codes stay valid. `withRerank` packs the SQ8 sidecar for
    * [[topkPq]]'s shortlist rerank.
    */
  def quantizePq(
      cx: CorpusIndex,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      withRerank: Boolean = true): CorpusIndexPq = {
    require(m >= 1 && m <= cx.dim && cx.dim % m == 0,
      s"m must divide dim: dim=${cx.dim}, m=$m")
    require(trainSample >= 256, s"trainSample must be >= 256, got $trainSample")
    val sub = cx.dim / m
    val k = math.min(256, cx.n)
    val step = math.max(1, cx.n / trainSample)
    val codebooks =
      trainPqCodebooks(cx.data, (0 until cx.n by step).toArray, cx.dim, m, k, iters)
    // encode every row: nearest centroid per subspace (parallel — this
    // is the n·256·dim step)
    val codes = new Array[Byte](cx.n * m)
    val kf = k
    java.util.stream.IntStream.range(0, cx.n).parallel().forEach { i =>
      pqEncodeRow(cx.data, i * cx.dim, cx.dim, m, sub, kf, codebooks, codes, i * m)
    }
    // exact norms from the uncompressed pack (ranking uses true
    // vector lengths, only the dot is approximated); stored f32 —
    // see the CorpusIndexPq field comment
    val norms = new Array[Float](cx.n)
    val sqNorms = new Array[Float](cx.n)
    var i2 = 0
    while (i2 < cx.n) {
      var sq = 0.0; var d = 0
      while (d < cx.dim) { val v = cx.data(i2 * cx.dim + d); sq += v * v; d += 1 }
      sqNorms(i2) = sq.toFloat; norms(i2) = math.sqrt(sq).toFloat
      i2 += 1
    }
    CorpusIndexPq(cx.ids, codes, cx.n, cx.dim, m, codebooks, norms, sqNorms,
      if (withRerank) Some(quantizeSq8(cx)) else None)
  }

  /** Train `m` subspace codebooks of `k` entries on the sample rows
    * `rows` of the row-major `dim`-wide `data`: each subspace's slice
    * through [[trainPqSubspace]], packed as `m·256·sub` f32
    * (`[subspace][entry][d]`, entries past `k` zero). Shared by
    * [[quantizePq]] and the distributed IVF+PQ builder.
    */
  private[graft] def trainPqCodebooks(
      data: Array[Double], rows: Array[Int], dim: Int, m: Int, k: Int,
      iters: Int): Array[Float] = {
    val sub = dim / m
    val sn = rows.length
    val codebooks = new Array[Float](m * 256 * sub)
    var j = 0
    while (j < m) {
      val pts = new Array[Double](sn * sub)
      var s = 0
      while (s < sn) {
        System.arraycopy(data, rows(s) * dim + j * sub, pts, s * sub, sub); s += 1
      }
      val cent = trainPqSubspace(pts, sn, sub, k, iters)
      var c = 0
      while (c < k) {
        var d = 0
        while (d < sub) {
          codebooks((j * 256 + c) * sub + d) = cent(c * sub + d).toFloat; d += 1
        }
        c += 1
      }
      j += 1
    }
    codebooks
  }

  /** One subspace's Lloyd k-means over a dense slice of the sampled
    * rows — the per-subspace step of [[trainPqCodebooks]] and of OPQ's
    * rotation refresh (same non-drift contract as
    * [[trainSphericalKmeans]]). Deterministic: strided init, strict
    * `<` ties to the lowest centroid, empty clusters keep their
    * previous centroid. Returns the k·sub centroid block.
    */
  private[graft] def trainPqSubspace(
      pts: Array[Double], sn: Int, sub: Int, k: Int, iters: Int): Array[Double] = {
    // strided deterministic init
    val cent = new Array[Double](k * sub)
    var c = 0
    while (c < k) {
      val src = ((c.toLong * sn) / k).toInt * sub
      var d = 0
      while (d < sub) { cent(c * sub + d) = pts(src + d); d += 1 }
      c += 1
    }
    val assign = new Array[Int](sn)
    var it = 0
    while (it < iters) {
      var s2 = 0
      while (s2 < sn) {
        var best = 0; var bestD = Double.MaxValue
        var c2 = 0
        while (c2 < k) {
          var dist = 0.0; var d = 0
          while (d < sub) {
            val diff = pts(s2 * sub + d) - cent(c2 * sub + d)
            dist += diff * diff; d += 1
          }
          if (dist < bestD) { bestD = dist; best = c2 }
          c2 += 1
        }
        assign(s2) = best
        s2 += 1
      }
      val sums = new Array[Double](k * sub)
      val cnts = new Array[Int](k)
      var s3 = 0
      while (s3 < sn) {
        val a = assign(s3); cnts(a) += 1
        var d = 0
        while (d < sub) { sums(a * sub + d) += pts(s3 * sub + d); d += 1 }
        s3 += 1
      }
      var c3 = 0
      while (c3 < k) {
        if (cnts(c3) > 0) {
          var d = 0
          while (d < sub) { cent(c3 * sub + d) = sums(c3 * sub + d) / cnts(c3); d += 1 }
        } // empty cluster: keep previous centroid
        c3 += 1
      }
      it += 1
    }
    cent
  }

  /** PQ-encode one row (nearest codebook entry per subspace, strict
    * `<` ties to the lowest code) from `data` at `off` into `out` at
    * `outOff` — the per-row body of [[quantizePq]]'s encode stream,
    * factored so the distributed builder's executor-side encode is
    * literally the same arithmetic.
    */
  private[graft] def pqEncodeRow(
      data: Array[Double], off: Int, dim: Int, m: Int, sub: Int, k: Int,
      codebooks: Array[Float], out: Array[Byte], outOff: Int): Unit = {
    var j2 = 0
    while (j2 < m) {
      val src = off + j2 * sub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val cb = (j2 * 256 + c) * sub
        var dist = 0.0; var d = 0
        while (d < sub) {
          val diff = data(src + d) - codebooks(cb + d)
          dist += diff * diff; d += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      out(outOff + j2) = best.toByte
      j2 += 1
    }
  }

  def collectCorpusPq(
      corpus: DataFrame, idCol: String, embCol: String, m: Int,
      withRerank: Boolean = true): CorpusIndexPq =
    quantizePq(collectCorpus(corpus, idCol, embCol), m, withRerank = withRerank)

  /** Per-query top-k against a PQ corpus on the [[TopkFrame]]
    * contract. Scoring is asymmetric distance computation (ADC): each
    * query builds an m×256 table of partial dots against the codebooks
    * (256·dim multiplies), then every corpus vector scores in m ADDS
    * from its codes — no GEMM over the corpus at all, the compute shape
    * that makes billion-vector scans cheap. With `shortlist > 0`
    * (requires the SQ8 sidecar) the ADC ranking picks `shortlist`
    * candidates and the final top-k reranks them against SQ8-decoded
    * vectors — the two-stage coarse-then-refine shape (DiskANN/IVF-ADC)
    * that restores near-exact recall while still never touching an
    * uncompressed vector.
    */
  def topkPq(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexPq,
      k: Int,
      metric: Metric,
      shortlist: Int = 0,
      outputCol: String = "matches"): DataFrame =
    topkPqImpl(queries, embCol, corpus, k, metric, shortlist, outputCol, null, TopkFrame.Nested)

  /** [[topkPq]] body with an optional query-side ROTATION (the OPQ
    * hook, see [[AdcBody]]).
    */
  private def topkPqImpl(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexPq,
      k: Int,
      metric: Metric,
      shortlist: Int,
      outputCol: String,
      rot: Array[Double],
      layout: TopkFrame.Layout): DataFrame = {
    require(shortlist == 0 || shortlist >= k,
      s"shortlist must be 0 (off) or >= k, got $shortlist (k=$k)")
    require(shortlist == 0 || corpus.sq8.nonEmpty,
      "shortlist rerank needs the SQ8 sidecar — build the index with withRerank = true")
    require(rot == null || rot.length == corpus.dim.toLong * corpus.dim,
      s"rotation must be dim×dim = ${corpus.dim * corpus.dim} doubles, got ${if (rot == null) 0 else rot.length}")
    TopkFrame.queryIsF32(queries.schema, embCol) // refuses before the broadcasts
    val spark = queries.sparkSession
    val bc = broadcastOf(spark, corpus)
    val rotBc = if (rot == null) null else spark.sparkContext.broadcast(rot)
    TopkFrame.select(queries, embCol, outputCol, corpus.dim, corpus.n, k, metric.higherIsBetter,
        shortlist, layout = layout) { c =>
      val cx = bc.value
      val sq8 = cx.sq8.orNull
      new AdcBody(cx.ids, cx.dim, cx.m, cx.codebooks, if (rotBc == null) null else rotBc.value,
          c.sl, metric.higherIsBetter) {
        def scan(q: Array[Double], qo: Int, b: QueryBatch, i: Int, into: TopSelector): Unit = {
          var g = 0
          while (g < cx.n) {
            into.offer(scoreOf(metric, adcDot(lut, cx.codes, g * cx.m, cx.m, 0.0), b.qNorm(i),
              b.qSq(i), cx.norms(g), cx.sqNorms(g)), g)
            g += 1
          }
        }
        def rerank(q: Array[Double], qo: Int, b: QueryBatch, i: Int, g: Int): Double =
          scoreOf(metric, sq8Dot(sq8, g, q, qo, 0.0), b.qNorm(i), b.qSq(i),
            cx.norms(g), cx.sqNorms(g))
      }
    }
  }

  /** The PQ / IVF-PQ row body. A non-null `rot` (OPQ, d×d row-major,
    * orthogonal) rotates the query q ← R·q first ([[rotateRow]]), so
    * the ADC table, the probe and the rerank run in the index's rotated
    * space; qSq and qNorm stay the RAW query's (R orthogonal ⇒ equal in
    * exact arithmetic, and the raw value is the one the metric contract
    * defines against the caller's vector). Then the ADC table
    * lut[j*256+c] = <q_subj, codebook[j][c]> is built, and the family's
    * `scan` offers candidates — straight into the result without a
    * shortlist, else into an `sl`-deep shortlist that `rerank` (the
    * SQ8 sidecar, decoded on the fly) rescores into the result.
    */
  private abstract class AdcBody(
      ids: Array[Long], dim: Int, m: Int, codebooks: Array[Float], rot: Array[Double],
      sl: Int, higher: Boolean) extends RowBody(ids) {
    protected val lut = new Array[Float](m * 256)
    private val sub = dim / m
    private val qRot = if (rot == null) null else new Array[Double](dim)
    private val short = if (sl > 0) new TopSelector(sl, higher, ids) else null
    def scan(q: Array[Double], qo: Int, b: QueryBatch, i: Int, into: TopSelector): Unit
    def rerank(q: Array[Double], qo: Int, b: QueryBatch, i: Int, g: Int): Double
    def scoreRow(b: QueryBatch, i: Int, sel: TopSelector): Unit = {
      if (rot != null) rotateRow(rot, b.q64, i * dim, dim, qRot, 0)
      val q = if (rot == null) b.q64 else qRot
      val qo = if (rot == null) i * dim else 0
      var j = 0
      while (j < m) {
        var c = 0
        while (c < 256) {
          val cb = (j * 256 + c) * sub
          var acc = 0.0
          var d = 0
          while (d < sub) { acc += q(qo + j * sub + d) * codebooks(cb + d); d += 1 }
          lut(j * 256 + c) = acc.toFloat
          c += 1
        }
        j += 1
      }
      if (short == null) scan(q, qo, b, i, sel)
      else {
        short.reset()
        scan(q, qo, b, i, short)
        var r = 0
        while (r < short.size) { val g = short.pos(r); sel.offer(rerank(q, qo, b, i, g), g); r += 1 }
      }
    }
  }

  /** `acc0` plus the ADC dot of the `m` codes at `base` (m table adds). */
  private def adcDot(
      lut: Array[Float], codes: Array[Byte], base: Int, m: Int, acc0: Double): Double = {
    var dot = acc0
    var j = 0
    while (j < m) { dot += lut(j * 256 + (codes(base + j) & 0xFF)); j += 1 }
    dot
  }

  /** [[topkPq]] in the flat (rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkPqFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexPq,
      k: Int,
      metric: Metric,
      shortlist: Int = 0): DataFrame =
    topkPqImpl(queries, embCol, corpus, k, metric, shortlist, "matches", null, TopkFrame.Flat)

  /** OPQ — optimized product quantization (Ge et al., CVPR'13
    * non-parametric form): a learned ORTHOGONAL rotation R applied
    * before plain PQ. PQ quantizes each dim-slice subspace
    * independently, so correlated/unevenly-scaled dimensions waste
    * code budget (one hot subspace carries all the variance, the rest
    * encode noise); rotating first decorrelates and balances the
    * subspaces, cutting quantization error AT THE SAME bits/vector.
    * Because R is orthogonal it preserves dots and norms exactly (up
    * to FP), so scores, metrics, ties, and every kernel contract are
    * unchanged — the index just reconstructs better. Training
    * alternates encode (current R, fresh subspace codebooks) with the
    * orthogonal-Procrustes update R ← argmax tr(R·Σxyᵀ) = VUᵀ on the
    * same strided sample [[quantizePq]] trains on; the corpus rotates
    * once at build, queries rotate per-row at serve (d² multiplies —
    * noise next to the 256·dim ADC table build).
    */
  final case class CorpusIndexOpq(
      rot: Array[Double],
      pq: CorpusIndexPq) extends Serializable {
    def n: Int = pq.n
    def dim: Int = pq.dim
  }

  /** Train the OPQ rotation + PQ index. `opqIters` alternations, each
    * with a short `trainPqSubspace` refresh (the inner k-means need
    * not converge per alternation — Ge'13 runs it warm). Deterministic
    * end to end: strided sample, strided k-means init, fixed Jacobi
    * eigensolve, fixed Gram–Schmidt order.
    */
  def quantizeOpq(
      cx: CorpusIndex,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      opqIters: Int = 8,
      withRerank: Boolean = true): CorpusIndexOpq = {
    require(m >= 1 && m <= cx.dim && cx.dim % m == 0,
      s"m must divide dim: dim=${cx.dim}, m=$m")
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    // the inner quantizePq enforces this too, but only AFTER the
    // expensive Procrustes alternation would have run — refuse eagerly
    require(trainSample >= 256, s"trainSample must be >= 256, got $trainSample")
    val rot = trainOpqRotation(cx, m, trainSample, opqIters)
    CorpusIndexOpq(rot, quantizePq(rotateIndex(cx, rot), m, trainSample,
      iters, withRerank))
  }

  /** Collect + pack + OPQ-train in one call (see [[collectCorpus]]). */
  def collectCorpusOpq(
      corpus: DataFrame, idCol: String, embCol: String, m: Int,
      withRerank: Boolean = true): CorpusIndexOpq =
    quantizeOpq(collectCorpus(corpus, idCol, embCol), m, withRerank = withRerank)

  /** Per-query top-k against an OPQ index — [[topkPq]]'s exact
    * contract with the query rotated into the index's space first.
    */
  def topkOpq(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexOpq,
      k: Int,
      metric: Metric,
      shortlist: Int = 0,
      outputCol: String = "matches"): DataFrame =
    topkPqImpl(queries, embCol, corpus.pq, k, metric, shortlist, outputCol,
      corpus.rot, TopkFrame.Nested)

  /** [[topkOpq]] in the flat (query, rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkOpqFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexOpq,
      k: Int,
      metric: Metric,
      shortlist: Int = 0): DataFrame =
    topkPqImpl(queries, embCol, corpus.pq, k, metric, shortlist, "matches", corpus.rot,
      TopkFrame.Flat)

  // ===== IVF+OPQ: the learned rotation composed with the routed
  // residual-PQ family (FAISS's `OPQ16,IVF…,PQ16` index-factory
  // string) =====

  /** An IVF+PQ index built in ROTATED space plus the orthogonal
    * rotation that maps queries into it. Where the m-byte code budget
    * is squeezed hardest — the sharded/distributed builds — the
    * rotation decorrelates the subspaces before the residual PQ
    * encodes them, buying back ADC recall at identical bits/vector
    * ([[CorpusIndexOpq]]'s argument; R orthogonal preserves dots,
    * norms, and the unit sphere, so spherical cells, residuals, and
    * every kernel contract carry over unchanged — the routing just
    * happens in the rotated coordinates).
    */
  final case class CorpusIndexIvfOpq(
      rot: Array[Double],
      ivf: CorpusIndexIvfPq) extends Serializable {
    def n: Int = ivf.n
    def dim: Int = ivf.dim
  }

  /** Train rotation + routed index in one call: OPQ alternation on
    * the strided sample ([[trainOpqRotation]]), rotate the pack once,
    * then the standard [[quantizeIvfPq]] on the rotated pack.
    */
  def quantizeIvfOpq(
      cx: CorpusIndex,
      nCells: Int,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      opqIters: Int = 8,
      withRerank: Boolean = true): CorpusIndexIvfOpq = {
    require(m >= 1 && m <= cx.dim && cx.dim % m == 0,
      s"m must divide dim: dim=${cx.dim}, m=$m")
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    require(trainSample >= 256, s"trainSample must be >= 256, got $trainSample")
    val rot = trainOpqRotation(cx, m, trainSample, opqIters)
    CorpusIndexIvfOpq(rot,
      quantizeIvfPq(rotateIndex(cx, rot), nCells, m, trainSample, iters,
        withRerank))
  }

  /** Per-query cosine top-k against an IVF+OPQ index — [[topkIvfPq]]'s
    * exact contract with the query rotated into the index's space
    * first (in-kernel, the [[topkOpq]] pattern).
    */
  def topkIvfOpq(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfOpq,
      k: Int,
      nProbe: Int,
      shortlist: Int = 0,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus.ivf), ShardMasks.Unmasked, k,
      ivfPqFamily(k, nProbe, shortlist, corpus.rot))

  /** [[topkIvfOpq]] in the flat (query, rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkIvfOpqFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfOpq,
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus.ivf), ShardMasks.Unmasked, k,
      ivfPqFamily(k, nProbe, shortlist, corpus.rot), TopkFrame.Flat)

  /** A sharded IVF+OPQ build: ONE corpus-wide rotation (every shard
    * must rotate identically or the merge compares scores from
    * different spaces) plus the standard sharded IVF+PQ build of the
    * rotated corpus, with its routing identity.
    */
  final case class ShardedIvfOpqBuild(
      rot: Array[Double],
      build: ShardedIvfPqBuild) {
    def shards: IndexedSeq[CorpusIndexIvfPq] = build.shards
  }

  /** Salt for the rotation-sample hash filter — decorrelates the
    * sample from the `xxhash64(id) mod numShards` shard split (same
    * hash function, different input).
    */
  private val OpqSampleSalt = 7919L

  /** The SHARDED builders' rotation train set: a deterministic
    * hash-filtered ~`trainSample`-row subset of the corpus, fetched
    * by a pushed-down filter and collected (sample-bounded — the only
    * raw vectors the rotation training ever holds). Hash-sampled
    * rather than strided because a global stride needs a global
    * row_number (one single-task exchange over every id at corpus
    * scale); a hash subset is position-free, and under the hash-mod
    * shard split every deterministic hash subset is equally
    * representative. Both the collect-based and the distributed
    * IVF+OPQ builders call THIS function with the same inputs, so
    * their rotations are bit-identical by construction.
    */
  private[graft] def opqRotationSample(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      trainSample: Int,
      totalN: Long): CorpusIndex = {
    val keep = math.max(1L, totalN / trainSample)
    collectCorpus(
      corpus.filter(
        pmod(xxhash64(col(idCol).cast(LongType) + lit(OpqSampleSalt)),
          lit(keep)) === 0),
      idCol, embCol)
  }

  /** [[buildIvfPqShardedWithLayout]] with an OPQ rotation in front:
    * train R once on the hash-sampled corpus subset, then every shard
    * collects, ROTATES its pack, and builds the standard IVF+PQ index
    * in rotated space (concurrent priced collects unchanged). Serve
    * with [[topkIvfOpqSharded]]; persist with
    * [[graft.sources.Sink.writeIvfOpqShardedIndex]].
    */
  def buildIvfOpqShardedWithLayout(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      nCells: Int,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      opqIters: Int = 8,
      withRerank: Boolean = true,
      parallelism: Int = 8,
      maxInFlightBytes: Long = 0L): ShardedIvfOpqBuild = {
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    require(trainSample >= 256, s"trainSample must be >= 256, got $trainSample")
    val totalN = corpus.count()
    require(totalN > 0L, "Empty corpus")
    val rot = trainOpqRotation(
      opqRotationSample(corpus, cIdCol, cEmbCol, trainSample, totalN),
      m, trainSample, opqIters)
    ShardedIvfOpqBuild(rot,
      buildIvfPqShardedWithLayout(corpus, cIdCol, cEmbCol, numShards,
        nCells, m, trainSample, iters, withRerank, parallelism,
        maxInFlightBytes, rot = rot))
  }

  /** Top-k cosine against a sharded IVF+OPQ index — the
    * [[topkIvfPqSharded]] serve ([[serveSharded]]) with every shard's
    * body rotating the query first (ONE rotation, riding the shards'
    * broadcast; scores from all shards live in the same rotated space
    * because the build used one corpus-wide R).
    */
  def topkIvfOpqSharded(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      rot: Array[Double],
      shards: Seq[CorpusIndexIvfPq],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveIvfPqSharded(queries, embCol, qIdCol, shards, ShardMasks.Unmasked, k, nProbe,
      shortlist, rot)

  /** Rotate a packed corpus: out-row = R·row, norms recomputed from
    * the rotated values (equal to the originals up to FP — the
    * quantizer trains on what it will decode). f32 mirror dropped:
    * the rotated pack exists only en route to quantization.
    */
  private[graft] def rotateIndex(cx: CorpusIndex, rot: Array[Double]): CorpusIndex = {
    require(rot.length == cx.dim.toLong * cx.dim,
      s"rotation must be ${cx.dim}×${cx.dim}, got ${rot.length} values")
    val d = cx.dim
    val out = new Array[Double](cx.n * d)
    val norms = new Array[Double](cx.n)
    val sqNorms = new Array[Double](cx.n)
    java.util.stream.IntStream.range(0, cx.n).parallel().forEach { i =>
      rotateRow(rot, cx.data, i * d, d, out, i * d)
      var sq = 0.0
      var r = 0
      while (r < d) { val v = out(i * d + r); sq += v * v; r += 1 }
      sqNorms(i) = sq
      norms(i) = math.sqrt(sq)
    }
    CorpusIndex(cx.ids, out, null, cx.n, d, norms, sqNorms)
  }

  /** out-row = R·row at one offset — the per-row body of
    * [[rotateIndex]], factored so the DISTRIBUTED IVF+OPQ builder's
    * executor-side rotate runs literally the same arithmetic in the
    * same order as the driver pack rotate (byte-parity by
    * construction, the [[assignCell]]/[[sq8EncodeRow]] pattern).
    */
  private[graft] def rotateRow(
      rot: Array[Double], data: Array[Double], off: Int, dim: Int,
      out: Array[Double], outOff: Int): Unit = {
    var r = 0
    while (r < dim) {
      var acc = 0.0; var j = 0
      val base = r * dim
      while (j < dim) { acc += rot(base + j) * data(off + j); j += 1 }
      out(outOff + r) = acc
      r += 1
    }
  }

  /** The OPQ-NP alternation on the strided train sample: encode with
    * the current rotation, refresh subspace codebooks, reconstruct,
    * then the orthogonal-Procrustes update R ← VUᵀ of Σ x·yᵀ via
    * [[polarRotationMax]]. Returns the d×d row-major rotation.
    */
  private[graft] def trainOpqRotation(
      cx: CorpusIndex, m: Int, trainSample: Int, opqIters: Int): Array[Double] = {
    val d = cx.dim
    val sub = d / m
    val step = math.max(1, cx.n / trainSample)
    val sampleIdx = (0 until cx.n by step).toArray
    val sn = sampleIdx.length
    // codebook size is bounded by the SAMPLE, not the corpus — with
    // trainSample >= 256 the two only differ when n < 256, where they
    // are equal anyway, but the sample is what the k-means actually
    // sees
    val k = math.min(256, sn)
    // X: the fixed raw sample (sn × d), Z: rotated, Y: reconstruction
    val x = new Array[Double](sn * d)
    var s = 0
    while (s < sn) {
      System.arraycopy(cx.data, sampleIdx(s) * d, x, s * d, d); s += 1
    }
    var rot = Array.tabulate(d * d)(i => if (i / d == i % d) 1.0 else 0.0)
    val z = new Array[Double](sn * d)
    val y = new Array[Double](sn * d)
    var it = 0
    while (it < opqIters) {
      // z = R x (per sample row)
      var s1 = 0
      while (s1 < sn) {
        var r = 0
        while (r < d) {
          var acc = 0.0; var j = 0
          val base = r * d
          while (j < d) { acc += rot(base + j) * x(s1 * d + j); j += 1 }
          z(s1 * d + r) = acc
          r += 1
        }
        s1 += 1
      }
      // refresh subspace codebooks on z, encode, reconstruct into y
      var j2 = 0
      while (j2 < m) {
        val pts = new Array[Double](sn * sub)
        var s2 = 0
        while (s2 < sn) {
          System.arraycopy(z, s2 * d + j2 * sub, pts, s2 * sub, sub); s2 += 1
        }
        val cent = trainPqSubspace(pts, sn, sub, k, iters = 4)
        var s3 = 0
        while (s3 < sn) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var dist = 0.0; var dd = 0
            while (dd < sub) {
              val diff = pts(s3 * sub + dd) - cent(c * sub + dd)
              dist += diff * diff; dd += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          System.arraycopy(cent, best * sub, y, s3 * d + j2 * sub, sub)
          s3 += 1
        }
        j2 += 1
      }
      // a = Σ_s x_s y_sᵀ (d×d) — the Procrustes cross-covariance
      val a = Array.ofDim[Double](d, d)
      var s4 = 0
      while (s4 < sn) {
        var i = 0
        while (i < d) {
          val xi = x(s4 * d + i)
          if (xi != 0.0) {
            var j = 0
            while (j < d) { a(i)(j) += xi * y(s4 * d + j); j += 1 }
          }
          i += 1
        }
        s4 += 1
      }
      rot = polarRotationMax(a)
      it += 1
    }
    rot
  }

  /** argmax over ORTHOGONAL R of tr(R·A): A = UΣVᵀ ⇒ R = VUᵀ.
    * SVD via the dependency-free route: AᵀA = VΣ²Vᵀ (cyclic Jacobi),
    * U columns = A·v/σ; σ below a relative floor (rank-deficient A —
    * an exactly-reconstructed sample direction) fall back to their V
    * column and a final modified Gram–Schmidt over U's columns (σ-desc
    * order, coordinate-axis fallback for collapsed columns) restores
    * exact orthogonality, so the returned R is orthogonal BY
    * CONSTRUCTION (a product of two orthogonal factors), never
    * "nearly" — scores under R must preserve dots, not approximately
    * preserve them. Deterministic: fixed sweep order, fixed GS order.
    */
  private[graft] def polarRotationMax(a: Array[Array[Double]]): Array[Double] = {
    val d = a.length
    val ata = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var acc = 0.0; var r = 0
        while (r < d) { acc += a(r)(i) * a(r)(j); r += 1 }
        ata(i)(j) = acc
        j += 1
      }
      i += 1
    }
    val (eig, v) = graft.operators.Ann.jacobiEigSym(ata)
    val sigma = eig.map(e => math.sqrt(math.max(e, 0.0)))
    val sigMax = if (sigma.isEmpty) 0.0 else sigma.max
    val tol = math.max(1e-300, sigMax * 1e-9)
    // u_c = A v_c / σ_c (V columns are v(i)(c))
    val u = Array.ofDim[Double](d, d) // u(i)(c)
    var c = 0
    while (c < d) {
      if (sigma(c) > tol) {
        var r = 0
        while (r < d) {
          var acc = 0.0; var j = 0
          while (j < d) { acc += a(r)(j) * v(j)(c); j += 1 }
          u(r)(c) = acc / sigma(c)
          r += 1
        }
      } else {
        var r = 0
        while (r < d) { u(r)(c) = v(r)(c); r += 1 }
      }
      c += 1
    }
    // modified Gram–Schmidt over U's columns, strongest σ first
    val order = (0 until d).sortBy(c0 => -sigma(c0))
    val done = new Array[Int](0).toBuffer // accepted column indices, in order
    order.foreach { c0 =>
      done.foreach { p =>
        var dot = 0.0; var r = 0
        while (r < d) { dot += u(r)(c0) * u(r)(p); r += 1 }
        var r2 = 0
        while (r2 < d) { u(r2)(c0) -= dot * u(r2)(p); r2 += 1 }
      }
      var nrm = 0.0; var r3 = 0
      while (r3 < d) { nrm += u(r3)(c0) * u(r3)(c0); r3 += 1 }
      if (nrm > 1e-24) {
        val inv = 1.0 / math.sqrt(nrm)
        var r4 = 0
        while (r4 < d) { u(r4)(c0) *= inv; r4 += 1 }
      } else {
        // collapsed: take the first coordinate axis with residual mass
        var ax = 0
        var placed = false
        while (ax < d && !placed) {
          var r5 = 0
          while (r5 < d) { u(r5)(c0) = if (r5 == ax) 1.0 else 0.0; r5 += 1 }
          done.foreach { p =>
            var dot = 0.0; var r6 = 0
            while (r6 < d) { dot += u(r6)(c0) * u(r6)(p); r6 += 1 }
            var r7 = 0
            while (r7 < d) { u(r7)(c0) -= dot * u(r7)(p); r7 += 1 }
          }
          var nn = 0.0; var r8 = 0
          while (r8 < d) { nn += u(r8)(c0) * u(r8)(c0); r8 += 1 }
          if (nn > 1e-12) {
            val inv = 1.0 / math.sqrt(nn)
            var r9 = 0
            while (r9 < d) { u(r9)(c0) *= inv; r9 += 1 }
            placed = true
          }
          ax += 1
        }
        require(placed, "polarRotationMax: could not complete an orthogonal basis")
      }
      done += c0
      ()
    }
    // R = V Uᵀ: R(i)(j) = Σ_c v(i)(c) u(j)(c)
    val rot = new Array[Double](d * d)
    var i2 = 0
    while (i2 < d) {
      var j = 0
      while (j < d) {
        var acc = 0.0; var c2 = 0
        while (c2 < d) { acc += v(i2)(c2) * u(j)(c2); c2 += 1 }
        rot(i2 * d + j) = acc
        j += 1
      }
      i2 += 1
    }
    rot
  }

  /** FAISS-style IVF+PQ composite (cosine): coarse spherical-k-means
    * cells over UNIT-normalized vectors + product quantization of the
    * RESIDUALS v̂ − c(v̂). Unit-normalizing first makes cosine exact in
    * the index geometry — cos(q, v) = q·v̂ / |q| = (q·c + q·r) / |q| —
    * so no per-vector norm sidecar is needed at all (zero-norm rows
    * stay the zero vector: their residual is −c and the two terms
    * cancel to the kernel's zero-score contract). Residuals are far
    * more PQ-compressible than raw vectors (they live near the
    * origin, the whole point of the FAISS composition), and search
    * touches only `nProbe` cells' members instead of the full corpus.
    * `cellOf` rides along so the shortlist rerank can reconstruct
    * v̂ ≈ c + r̂ from the residual SQ8 sidecar.
    */
  final case class CorpusIndexIvfPq(
      ids: Array[Long],
      n: Int,
      dim: Int,
      m: Int,
      nCells: Int,
      centroids: Array[Double],   // nCells * dim, unit rows
      codes: Array[Byte],         // n * m residual codes, original row order
      codebooks: Array[Float],    // m * 256 * sub residual codebooks
      cellOf: Array[Int],         // n
      cellStart: Array[Int],      // nCells + 1 CSR offsets
      cellMembers: Array[Int],    // n, row indices grouped by cell
      sq8: Option[CorpusIndexSq8] // residual sidecar for shortlist rerank
  ) extends Serializable

  /** Train + encode an IVF+PQ index from a packed [[CorpusIndex]].
    * Driver-side like [[quantizePq]] (the envelope contract): strided
    * deterministic sample trains the spherical cells, every row
    * assigns to its best cell by dot (ties to the lowest cell),
    * residual PQ trains/encodes through the existing [[quantizePq]]
    * machinery on the residual pack — whose norms are discarded; the
    * unit-normalization already carried the length information out of
    * the quantized part.
    */
  def quantizeIvfPq(
      cx: CorpusIndex,
      nCells: Int,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      withRerank: Boolean = true): CorpusIndexIvfPq = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    val dim = cx.dim
    // unit-normalize (zero-norm rows stay zero)
    val unit = new Array[Double](cx.n * dim)
    java.util.stream.IntStream.range(0, cx.n).parallel().forEach { g =>
      val nrm = cx.norms(g)
      if (nrm > 1e-10) {
        var d = 0
        while (d < dim) { unit(g * dim + d) = cx.data(g * dim + d) / nrm; d += 1 }
      }
    }
    // spherical k-means on a strided sample of the unit rows —
    // gathered DENSE first so the training loop is the shared
    // [[trainSphericalKmeans]] (bit-identical inputs: sample row s IS
    // unit row sampleIdx(s))
    val k = math.min(nCells, cx.n)
    val step = math.max(1, cx.n / math.max(trainSample, k))
    val sampleIdx = (0 until cx.n by step).toArray
    val sn = sampleIdx.length
    val sample = new Array[Double](sn * dim)
    var si = 0
    while (si < sn) {
      System.arraycopy(unit, sampleIdx(si) * dim, sample, si * dim, dim)
      si += 1
    }
    val centroids = trainSphericalKmeans(sample, sn, dim, k, iters)
    // assign every row, build residual pack
    val cellOf = new Array[Int](cx.n)
    val res = new Array[Double](cx.n * dim)
    java.util.stream.IntStream.range(0, cx.n).parallel().forEach { g =>
      val src = g * dim
      val best = assignCell(unit, src, centroids, k, dim)
      cellOf(g) = best
      var d2 = 0
      while (d2 < dim) { res(src + d2) = unit(src + d2) - centroids(best * dim + d2); d2 += 1 }
    }
    val resNorms = new Array[Double](cx.n)
    val resSq = new Array[Double](cx.n)
    var g2 = 0
    while (g2 < cx.n) {
      var sq = 0.0; var d = 0
      while (d < dim) { val v = res(g2 * dim + d); sq += v * v; d += 1 }
      resSq(g2) = sq; resNorms(g2) = math.sqrt(sq)
      g2 += 1
    }
    val resCx = CorpusIndex(cx.ids, res, null, cx.n, dim, resNorms, resSq)
    val pq = quantizePq(resCx, m, trainSample, iters, withRerank)
    val (cellStart, cellMembers) = buildCsr(cellOf, k)
    CorpusIndexIvfPq(cx.ids, cx.n, dim, m, k, centroids,
      pq.codes, pq.codebooks, cellOf, cellStart, cellMembers, pq.sq8)
  }

  /** Spherical-k-means training loop over a DENSE unit-row sample —
    * factored out of [[quantizeIvfPq]] so the driver build and the
    * distributed builder
    * ([[graft.sources.Sink.writeIvfPqShardedIndexDistributed]], which
    * fetches the SAME strided sample by a broadcast join instead of
    * collecting the corpus) train through one code path and cannot
    * drift: identical inputs → bit-identical centroids.
    * Deterministic — no RNG: strided init (sample rows (c·sn)/k),
    * argmax-dot assignment with strict `>` (ties to the lowest
    * centroid), empty clusters keep their previous centroid.
    */
  private[graft] def trainSphericalKmeans(
      sample: Array[Double], sn: Int, dim: Int, k: Int, iters: Int): Array[Double] = {
    var cent = Array.tabulate(k) { c =>
      val src = ((c.toLong * sn) / k).toInt * dim
      java.util.Arrays.copyOfRange(sample, src, src + dim)
    }
    def renorm(v: Array[Double]): Array[Double] = {
      var sq = 0.0; var d = 0
      while (d < dim) { sq += v(d) * v(d); d += 1 }
      val nr = math.sqrt(sq)
      if (nr <= 1e-10) v else { var d2 = 0; while (d2 < dim) { v(d2) /= nr; d2 += 1 }; v }
    }
    cent.foreach(renorm)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Int](k)
      var s = 0
      while (s < sn) {
        val src = s * dim
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dot = 0.0; var d = 0
          while (d < dim) { dot += sample(src + d) * cent(c)(d); d += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        cnts(best) += 1
        var d2 = 0
        while (d2 < dim) { sums(best)(d2) += sample(src + d2); d2 += 1 }
        s += 1
      }
      cent = cent.indices.map { c =>
        if (cnts(c) == 0) cent(c) else renorm(sums(c))
      }.toArray
      it += 1
    }
    val centroids = new Array[Double](k * dim)
    cent.zipWithIndex.foreach { case (cv, c) =>
      System.arraycopy(cv, 0, centroids, c * dim, dim)
    }
    centroids
  }

  /** Nearest coarse cell of the unit row at `off` (argmax dot, strict
    * `>` — ties pin to the lowest cell). Factored so driver assign
    * ([[quantizeIvfPq]]) and the distributed builder's executor-side
    * assign run literally the same arithmetic.
    */
  private[graft] def assignCell(
      unit: Array[Double], off: Int, centroids: Array[Double], k: Int, dim: Int): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var dot = 0.0; var d = 0
      while (d < dim) { dot += unit(off + d) * centroids(c * dim + d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** CSR grouping of row indices by cell (counting sort, stable in
    * original row order — deterministic). Shared by [[quantizeIvfPq]]
    * and the index reader; validates cell range so a corrupt
    * persisted file fails with a named error, not a bare
    * ArrayIndexOutOfBounds.
    */
  private[graft] def buildCsr(cellOf: Array[Int], nCells: Int): (Array[Int], Array[Int]) = {
    val n = cellOf.length
    val cellStart = new Array[Int](nCells + 1)
    var g = 0
    while (g < n) {
      val c = cellOf(g)
      require(c >= 0 && c < nCells, s"cell $c out of range [0, $nCells) at row $g")
      cellStart(c + 1) += 1
      g += 1
    }
    var c2 = 0
    while (c2 < nCells) { cellStart(c2 + 1) += cellStart(c2); c2 += 1 }
    val fill = cellStart.clone()
    val cellMembers = new Array[Int](n)
    var g2 = 0
    while (g2 < n) { val c = cellOf(g2); cellMembers(fill(c)) = g2; fill(c) += 1; g2 += 1 }
    (cellStart, cellMembers)
  }

  /** Per-query cosine top-k against an IVF+PQ index: probe the
    * `nProbe` best cells by centroid dot, build the residual ADC
    * table once per query, score each probed member in m adds plus
    * the cell's centroid dot, all divided by |q| — cosine with no
    * norm lookup. `shortlist > 0` reranks the ADC shortlist against
    * the residual SQ8 sidecar (v̂ ≈ c + r̂). The query side is
    * [[TopkFrame]]'s contract.
    */
  def topkIvfPq(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfPq,
      k: Int,
      nProbe: Int,
      shortlist: Int = 0,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.Unmasked, k,
      ivfPqFamily(k, nProbe, shortlist))

  /** FILTERED IVF+PQ search — [[topkIvfPq]] restricted to an
    * allowed-id subset of the corpus (the vector-DB "metadata filter"
    * / FAISS `IDSelector` shape: serve top-k among documents matching
    * a predicate WITHOUT rebuilding a per-predicate index). The
    * allowed ids become a boolean mask over corpus row indices,
    * broadcast with the index (1 byte/corpus row — noise next to
    * the codes), and the kernel skips masked-out members INSIDE the
    * probed-cell scan, before their ADC dot. That pre-filter is exact
    * w.r.t. the probed cells, so no over-fetch factor is needed — but
    * at very low selectivity the allowed rows concentrate in few
    * cells, so recall vs the FILTERED exact ground truth wants a
    * proportionally higher `nProbe` (the gate pins floors at the
    * driver's geometry).
    *
    * Ids in `allowedIds` that aren't in the corpus are ignored; k
    * clamps to |allowed ∩ corpus| ([[TopkFrame]]'s mask clamp). An
    * all-true mask is bit-identical to [[topkIvfPq]].
    *
    * Broadcast lifetime: the returned plan is LAZY, so the one
    * broadcast (index and mask) this call mints cannot be destroyed
    * eagerly — it lives until Spark's ContextCleaner collects the
    * unreferenced plan. A long-lived driver issuing many filtered serves should
    * prefer [[topkIvfPqShardedWaves]] (with `allowedIds`), which owns
    * its broadcasts per-wave and destroys them with each wave.
    */
  def topkIvfPqFiltered(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfPq,
      allowedIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0,
      outputCol: String = "matches"): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.allow(allowedIds), k,
      ivfPqFamily(k, nProbe, shortlist))

  /** [[topkIvfPqFiltered]] with the allowed set as a one-column
    * DataFrame — the relational form. The allowed ids NEVER collect
    * to the driver: the mask is built executor-side
    * ([[allowedMasksFromDfMulti]] — broadcast the sorted corpus ids,
    * binary-search each allowed id where it lives, ship back only the
    * MATCHED row positions), so an arbitrarily large allowed set —
    * a predicate over a 100 TB metadata table — works; what returns
    * is bounded by the corpus the driver already holds (≤ 4 B/corpus
    * row), not by the filter's input size.
    */
  def topkIvfPqFiltered(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfPq,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      outputCol: String): DataFrame =
    serveSharded(queries, embCol, outputCol, Seq(corpus), ShardMasks.AllowDf(allowed, allowedIdCol),
      k, ivfPqFamily(k, nProbe, shortlist))

  /** Executor-side mask build for the DataFrame-allowed forms, for
    * MANY id arrays (one per shard; a flat index is the one-shard
    * case) in ONE distributed pass: each id array is sorted with its
    * permutation back to pack positions (an APPENDED index's pack is
    * old-rows-then-new, two sorted runs, not one), all of them ride
    * one broadcast (12 B/row of state the driver already holds),
    * every allowed id binary-searches EVERY shard where it lives, and
    * only matched (shard, position) pairs return through a distinct
    * (≤ 4 B/corpus row). The allowed set itself is never counted,
    * collected, or priced — its size does not bound this path.
    * Unknown ids fall out as not-found; duplicates collapse in the
    * distinct.
    */
  private[graft] def allowedMasksFromDfMulti(
      idsPerShard: Seq[Array[Long]],
      allowed: DataFrame,
      allowedIdCol: String): Seq[(Array[Boolean], Int)] = {
    val spark = allowed.sparkSession
    import spark.implicits._
    val nShards = idsPerShard.size
    val sortedAll = new Array[Array[Long]](nShards)
    val permAll = new Array[Array[Int]](nShards)
    var si = 0
    while (si < nShards) {
      val ids = idsPerShard(si)
      val orderBoxed = Array.range(0, ids.length).map(Integer.valueOf)
      java.util.Arrays.sort(orderBoxed,
        (a: Integer, b: Integer) => java.lang.Long.compare(ids(a), ids(b)))
      val sIds = new Array[Long](ids.length)
      val perm = new Array[Int](ids.length)
      var i = 0
      while (i < ids.length) {
        perm(i) = orderBoxed(i); sIds(i) = ids(perm(i)); i += 1
      }
      sortedAll(si) = sIds; permAll(si) = perm
      si += 1
    }
    val bc = spark.sparkContext.broadcast((sortedAll, permAll))
    try {
      val hits = allowed
        .select(col(allowedIdCol).cast(LongType)).na.drop().as[Long]
        .mapPartitions { iter =>
          val (sAll, pAll) = bc.value
          iter.flatMap { id =>
            (0 until sAll.length).iterator.flatMap { s =>
              val pos = java.util.Arrays.binarySearch(sAll(s), id)
              if (pos >= 0) Iterator.single((s, pAll(s)(pos)))
              else Iterator.empty
            }
          }
        }
        .distinct()
        .collect()
      val masks = idsPerShard.map(ids => new Array[Boolean](ids.length))
      val counts = new Array[Int](nShards)
      hits.foreach { case (s, p) =>
        if (!masks(s)(p)) { masks(s)(p) = true; counts(s) += 1 }
      }
      masks.zipWithIndex.map { case (m, s) => (m, counts(s)) }
    } finally { bc.destroy(); () }
  }

  /** [[topkIvfPqFiltered]] in the flat (rank, index, score) shape
    * of [[topkFlat]].
    */
  def topkIvfPqFilteredFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfPq,
      allowedIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus), ShardMasks.allow(allowedIds), k,
      ivfPqFamily(k, nProbe, shortlist), TopkFrame.Flat)

  /** [[topkIvfPqFilteredFlat]] with the allowed set as a one-column
    * DataFrame (see the priced DataFrame overload of
    * [[topkIvfPqFiltered]]).
    */
  def topkIvfPqFilteredFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfPq,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus),
      ShardMasks.AllowDf(allowed, allowedIdCol), k, ivfPqFamily(k, nProbe, shortlist),
      TopkFrame.Flat)

  /** The sorted copy of an allow or deny set that [[idMask]] searches
    * — sorted ONCE per serve, however many shards or waves mask
    * against it.
    */
  private[graft] def sortedIds(ids: Array[Long]): Array[Long] = {
    val sorted = java.util.Arrays.copyOf(ids, ids.length)
    java.util.Arrays.sort(sorted)
    sorted
  }

  /** The one id-array mask over corpus ROW positions: row g is served
    * iff its id is in `sortedAllow` (null: every id) and NOT in
    * `sortedDeny` (null: none — the deny set is the persisted
    * tombstone form). O(n·log a) per index, corpus-side bound. Unknown
    * ids in either set are ignored and duplicates are harmless; the
    * count is the served population (|allow ∩ ids| minus denied — the
    * k clamp's input; ids are unique by the build contract). Both null
    * → (null, -1): no mask at all, the unmasked kernel path.
    */
  private[graft] def idMask(
      ids: Array[Long],
      sortedAllow: Array[Long],
      sortedDeny: Array[Long]): (Array[Boolean], Int) =
    if (sortedAllow == null && sortedDeny == null) (null, -1)
    else {
      val mask = new Array[Boolean](ids.length)
      var n = 0
      var g = 0
      while (g < ids.length) {
        if ((sortedAllow == null || java.util.Arrays.binarySearch(sortedAllow, ids(g)) >= 0) &&
            (sortedDeny == null || java.util.Arrays.binarySearch(sortedDeny, ids(g)) < 0)) {
          mask(g) = true; n += 1
        }
        g += 1
      }
      (mask, n)
    }

  /** Where a sharded serve's per-shard masks come from (see
    * [[serveSharded]]): id sets, each sorted once per serve (null: no
    * such set; both null is the unmasked kernel path), or an allowed-id
    * DataFrame.
    */
  private sealed trait ShardMasks
  private object ShardMasks {
    final case class Ids(sortedAllow: Array[Long], sortedDeny: Array[Long]) extends ShardMasks
    final case class AllowDf(allowed: DataFrame, idCol: String) extends ShardMasks
    val Unmasked: ShardMasks = Ids(null, null)
    def allow(ids: Array[Long]): ShardMasks = Ids(sortedIds(ids), null)
    def deny(ids: Array[Long]): ShardMasks = Ids(null, sortedIds(ids))
  }

  /** What a family supplies to a sharded serve ([[servePass]]): the
    * metric's direction, the shortlist, the OPQ rotation that rides the
    * pass's broadcast (null: none), its shards' ids and dimension, its
    * argument check and its row body (shard, mask, clamp and the
    * rotation → [[TopkBody]]); `bqFamily`, `ivfBqFamily` and
    * `ivfPqFamily` build one.
    */
  private final case class ShardFamily[I](
      higher: Boolean,
      shortlist: Int,
      rot: Array[Double],
      ids: I => Array[Long],
      dim: I => Int,
      check: I => Unit,
      body: (I, Array[Boolean], TopkFrame.Clamp, Array[Double]) => TopkBody)

  /** The one resident serve behind every family's one-index serves
    * (`topk{Bq,IvfBq,IvfPq,IvfOpq}` and the `…Filtered` forms: the
    * one-shard case) and its 13 resident sharded serves
    * (`topk{Bq,IvfBq,IvfPq}Sharded`, `…ShardedFiltered` by id array and
    * by DataFrame, `…ShardedTombstoned`, [[topkIvfOpqSharded]]): one
    * [[servePass]] over every shard, whose broadcast the lazy plan
    * keeps.
    *
    *  - Broadcast lifetime: the plan is LAZY, so its broadcast cannot be
    *    destroyed eagerly — it lives until Spark's ContextCleaner
    *    collects the unreferenced plan, and every executor pins every
    *    shard at once. Long-lived drivers and indexes past one
    *    executor's memory should serve through the `…ShardedWaves`
    *    forms ([[topkShardedWavesCore]]), which run one pass per wave
    *    and destroy its broadcast once the wave's cut is persisted.
    */
  private def serveSharded[I <: AnyRef: scala.reflect.ClassTag](
      queries: DataFrame,
      embCol: String,
      outputCol: String,
      shards: Seq[I],
      masks: ShardMasks,
      k: Int,
      fam: ShardFamily[I],
      layout: TopkFrame.Layout = TopkFrame.Nested): DataFrame =
    servePass(queries, embCol, outputCol, shards, masks, k, fam, layout = layout)._1

  /** What a sharded pass broadcasts: the shards, their masks (null:
    * unmasked) and the OPQ rotation (null: none).
    */
  private type ShardPayload[I] = (Array[I], Array[Array[Boolean]], Array[Double])

  /** One sharded pass — [[serveSharded]] over all shards, and each wave
    * of [[topkShardedWavesCore]] over its shards — returning the lazy
    * frame and the one broadcast it minted.
    *
    *  - Validation: the family's `check` runs on every shard, the
    *    shards' dimensions must agree, and the query column must be
    *    `array<float>` or `array<double>` ([[TopkFrame.queryIsF32]]),
    *    all BEFORE the first mask job or broadcast, so a refused call
    *    mints nothing.
    *  - Masks: `Ids` builds each shard's [[idMask]] against the sorted
    *    sets (ids living in other shards fall out as not-found, exactly
    *    the per-shard intersection; both sets null serves through the
    *    unmasked kernel path); `AllowDf` builds every shard's mask in
    *    one distributed pass ([[allowedMasksFromDfMulti]]) without
    *    collecting the set.
    *  - One pass: ONE broadcast holds the shards, their masks and the
    *    family's `rot`, and one [[TopkFrame.selectShards]] pass runs
    *    every shard's body per query row into its own selector (k
    *    clamped to the served rows in that shard) and merges them in
    *    the task — score desc for higher-is-better metrics (asc
    *    otherwise), ties to the lowest index, the exact kernel's rule —
    *    into min(k, Σ served) matches per query ROW under `outputCol`,
    *    or emitted as flat rows by a flat `layout`.
    *    With `carry`, `outputCol` already holds each row's matches over
    *    other shards and merges in as one more selector. k above the
    *    allowed (or LIVE, under a deny set) population returns every
    *    served row; an empty intersection returns empty matches. One
    *    job and no shuffle, unless the query frame is split (next
    *    point).
    *  - Parallelism: with more than one shard, a non-empty query frame
    *    with fewer partitions P than the default parallelism is split
    *    round-robin to min(default parallelism, P × shards) partitions
    *    first ([[TopkFrame.rows]]): one shuffle of the query rows and a
    *    second stage, so a small query frame still spreads over the
    *    cores as the per-shard partials did.
    */
  private def servePass[I <: AnyRef: scala.reflect.ClassTag](
      queries: DataFrame,
      embCol: String,
      outputCol: String,
      shards: Seq[I],
      masks: ShardMasks,
      k: Int,
      fam: ShardFamily[I],
      carry: Boolean = false,
      layout: TopkFrame.Layout = TopkFrame.Nested): (DataFrame, Broadcast[ShardPayload[I]]) = {
    require(shards.nonEmpty, "Empty shard list")
    shards.foreach(fam.check)
    val d = fam.dim(shards.head)
    shards.foreach(sx => require(fam.dim(sx) == d,
      s"Dimension mismatch: shards have $d and ${fam.dim(sx)} dimensions"))
    TopkFrame.queryIsF32(queries.schema, embCol)
    val shardMasks = (masks match {
      case ShardMasks.Ids(a, dn) => shards.map(sx => idMask(fam.ids(sx), a, dn))
      case ShardMasks.AllowDf(allowed, idCol) =>
        allowedMasksFromDfMulti(shards.map(fam.ids), allowed, idCol)
    }).toArray
    val bc = broadcastOf(queries.sparkSession, (shards.toArray, shardMasks.map(_._1), fam.rot))
    val body = fam.body // the tasks need the body alone, not the driver-side check
    (TopkFrame.selectShards(queries, embCol, outputCol, d, shards.map(fam.ids(_).length).toArray,
        k, fam.higher, fam.shortlist, shardMasks.map(_._2), carry = carry,
        layout = layout) { (s, c) =>
      val (sx, ms, r) = bc.value
      body(sx(s), ms(s), c, r)
    }, bc)
  }

  /** The distributed union + row_number merge of [[topkBlocked]]'s
    * per-block partials (the sharded serves merge in the task,
    * [[servePass]]): a partial's own `rank` is dropped, then
    * metric-aware ordering (score desc for higher-is-better metrics,
    * asc otherwise; ties to the lowest index, the exact kernel's rule)
    * keeps k rows per `qIdCol` value.
    */
  private def mergeShardPartials(
      partials: Seq[DataFrame], qIdCol: String, k: Int, metric: Metric): DataFrame = {
    val order = if (metric.higherIsBetter)
      Seq(col("score").desc, col("index").asc)
    else Seq(col("score").asc, col("index").asc)
    partials.map(_.drop("rank")).reduce(_ unionAll _)
      .withColumn("rank", row_number().over(Window.partitionBy(col(qIdCol)).orderBy(order: _*)))
      .filter(col("rank") <= k)
  }

  /** The IVF+PQ argument contract, which every serve checks before it
    * broadcasts: [[validateIvfPqCall]], the SQ8 sidecar a rerank needs,
    * and a non-null OPQ `rot`'s shape.
    */
  private def validateIvfPqArgs(
      corpus: CorpusIndexIvfPq, k: Int, nProbe: Int, shortlist: Int,
      rot: Array[Double] = null): Unit = {
    validateIvfPqCall(k, nProbe, shortlist)
    require(shortlist == 0 || corpus.sq8.nonEmpty,
      "shortlist rerank needs the SQ8 sidecar — build the index with withRerank = true")
    require(rot == null || rot.length == corpus.dim.toLong * corpus.dim,
      s"rotation must be dim×dim = ${corpus.dim * corpus.dim} doubles, " +
        s"got ${rot.length}")
  }

  /** The index-free half of [[validateIvfPqArgs]] — what a streaming
    * serve can check at wiring time.
    */
  private[graft] def validateIvfPqCall(k: Int, nProbe: Int, shortlist: Int): Unit = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(shortlist == 0 || shortlist >= k,
      s"shortlist must be 0 (off) or >= k, got $shortlist (k=$k)")
  }

  /** The IVF+PQ/OPQ family (cosine) as [[serveSharded]] and the wave
    * loop serve it; a non-null `rot` (IVF+OPQ) is checked against each
    * shard and rides the pass's broadcast.
    */
  private def ivfPqFamily(
      k: Int, nProbe: Int, shortlist: Int, rot: Array[Double] = null)
      : ShardFamily[CorpusIndexIvfPq] =
    ShardFamily(true, shortlist, rot, _.ids, _.dim,
      validateIvfPqArgs(_, k, nProbe, shortlist, rot),
      (cx, mask, c, r) => ivfPqBody(cx, mask, c, nProbe, r))

  /** The IVF+PQ row body over one index: a mask skips masked-out
    * members INSIDE the probed-cell scan, before their ADC dot (the
    * FAISS IDSelector analog: exact w.r.t. the probed cells, no
    * post-filter over-fetch); a non-null `rot` is the OPQ rotation
    * ([[AdcBody]]).
    */
  private def ivfPqBody(
      cx: CorpusIndexIvfPq, mask: Array[Boolean], c: TopkFrame.Clamp, nProbe: Int,
      rot: Array[Double]): TopkBody = {
    val sq8 = cx.sq8.orNull
    val probe = new CellProbe(cx.centroids, cx.nCells, cx.dim, nProbe)
    new AdcBody(cx.ids, cx.dim, cx.m, cx.codebooks, rot, c.sl, true) {
      // each probed member scores its cell's centroid dot plus its
      // residual ADC dot, over |q|: cosine with no norm lookup
      def scan(q: Array[Double], qo: Int, b: QueryBatch, i: Int, into: TopSelector): Unit = {
        probe.pick(q, qo)
        var pi = 0
        while (pi < probe.sel.size) {
          val cell = probe.sel.pos(pi)
          val qc = probe.dots(cell)
          var mi = cx.cellStart(cell)
          val end = cx.cellStart(cell + 1)
          while (mi < end) {
            val g = cx.cellMembers(mi)
            if (mask == null || mask(g))
              into.offer(unitCosine(adcDot(lut, cx.codes, g * cx.m, cx.m, qc), b.qNorm(i)), g)
            mi += 1
          }
          pi += 1
        }
      }
      // the SQ8-residual rerank: v̂ ≈ c(g) + r̂(g)
      def rerank(q: Array[Double], qo: Int, b: QueryBatch, i: Int, g: Int): Double =
        unitCosine(sq8Dot(sq8, g, q, qo, probe.dots(cx.cellOf(g))), b.qNorm(i))
    }
  }

  private def unitCosine(dot: Double, qNorm: Double): Double =
    if (qNorm <= 1e-10) 0.0 else dot / qNorm

  /** [[topkIvfPq]] in the flat (rank, index, score) shape of
    * [[topkFlat]].
    */
  def topkIvfPqFlat(
      queries: DataFrame,
      embCol: String,
      corpus: CorpusIndexIvfPq,
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveSharded(queries, embCol, "matches", Seq(corpus), ShardMasks.Unmasked, k,
      ivfPqFamily(k, nProbe, shortlist), TopkFrame.Flat)

  /** Scale path for corpora too large for one broadcast: split the
    * corpus into `numBlocks` HASH-MOD blocks (`xxhash64(id) % B`), run
    * the broadcast kernel per block (each yields ≤ k candidates per
    * query), union, then one shuffle on the query id merges candidates
    * to a global top-k ([[mergeShardPartials]]). Returns the flat
    * (query cols, rank, index, score) shape. The merge still ranks per
    * `qIdCol` VALUE, not per query row as the sharded serves do: two
    * query rows sharing an id (or both null) get one top-k between
    * them. Chaining the blocks through one carried top-k, as the wave
    * serves do, would keep every block's lazy plan — and so its
    * broadcast — pinned in each task, the footprint blocking exists to
    * avoid.
    *
    * Block membership is a pure filter predicate pushed to the corpus
    * scan — the driver NEVER materializes the corpus id universe (at
    * 100 TB that id array alone is billions of longs); each block's
    * rows are collected only to build its broadcast index, exactly the
    * memory the single-broadcast path would need for the whole corpus.
    * Hash-mod (vs id ranges) also sends every row of a duplicated id
    * to the SAME block, so duplicate ids can't straddle a boundary and
    * double-enter the merge.
    *
    * `quantized = true` runs each block through the SQ8 path: each
    * block quantizes INSIDE its collect task and the f64 pack is
    * dropped there, so peak driver memory is the ≤ 8 in-flight
    * blocks' f64 packs plus all completed blocks' codes — never the
    * whole f64 corpus — and the total BROADCAST footprint shrinks 8×
    * (B × 1 GB broadcasts become B × 128 MB). Scores are of each
    * block's dequantized grid; the merged top-k's recall vs the
    * exact kernel carries SQ8's guarantee (gate-pinned at 0.95 by
    * `ann_sq8_recall` / `Sq8Spec`).
    */
  def topkBlocked(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      k: Int,
      metric: Metric,
      numBlocks: Int,
      quantized: Boolean = false,
      maxInFlightBytes: Long = 0L): DataFrame = {
    require(numBlocks >= 1, s"numBlocks must be >= 1, got $numBlocks")
    val blockOf = pmod(xxhash64(col(cIdCol).cast(LongType)), lit(numBlocks))
    // the B block-index builds are independent driver-side collects —
    // run them CONCURRENTLY (Spark schedules jobs from separate
    // threads side by side) instead of serializing B scan-job round
    // trips ahead of the first executor GEMM (round-2 verdict #7).
    // Results are re-assembled in block order, so the unioned plan is
    // identical to the sequential build's.
    //
    // PRICED ADMISSION (round 13): concurrency alone multiplies peak
    // driver memory by the thread count — the EXACT (quantized=false)
    // path holds each in-flight block's Row[] + f64 pack + f32
    // sidecar, ~40 B/element like the sharded build, and the 10M×256
    // ground-truth run OOMed a 96 GB heap with 8 unthrottled 625k-row
    // collects in flight. Same gate as [[buildIvfPqSharded]]: one
    // narrow count pass prices each block and a collect starts only
    // while priced in-flight bytes fit the budget (default heap/4);
    // a single over-budget block still runs alone, so the throttle
    // degrades to sequential, never deadlocks. Results identical,
    // just admitted later.
    val budget =
      if (maxInFlightBytes > 0L) maxInFlightBytes
      else math.max(256L << 20, Runtime.getRuntime.maxMemory() / 4)
    val counts: Map[Int, Long] = corpus
      .groupBy(blockOf.cast(IntegerType).as("b")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) throw new IllegalArgumentException("Empty corpus")
    val dim = corpus.select(col(cEmbCol)).filter(col(cEmbCol).isNotNull)
      .head().getSeq[Any](0).length
    def priceOf(b: Int): Long = counts.getOrElse(b, 0L) * dim * 40L
    val gate = new Object
    var inFlight = 0L
    def acquire(bytes: Long): Unit = gate.synchronized {
      while (inFlight > 0L && inFlight + bytes > budget) gate.wait()
      inFlight += bytes
    }
    def release(bytes: Long): Unit = gate.synchronized {
      inFlight -= bytes; gate.notifyAll()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(numBlocks, 8))
    val blocks =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = (0 until numBlocks).map { b =>
          // quantize INSIDE the collect task: the f64 pack becomes
          // garbage before the future resolves, so at most the
          // in-flight blocks' packs coexist (the doc comment's claim)
          scala.concurrent.Future {
            val price = priceOf(b)
            acquire(price)
            try collectCorpusOpt(corpus.filter(blockOf === b), cIdCol, cEmbCol)
              .map(cx => if (quantized) Right(quantizeSq8(cx)) else Left(cx))
            finally release(price)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    val partials = blocks.flatten
      .map {
        case Right(q8) => topkSq8Flat(queries, embCol, q8, k, metric)
        case Left(cx) => topkFlat(queries, embCol, cx, k, metric)
      }
    require(partials.nonEmpty, "Empty corpus")
    mergeShardPartials(partials, qIdCol, k, metric)
  }

  /** One SQ8 envelope per hash-mod shard of the corpus — the
    * full-dimension rerank sidecar at corpus sizes past one
    * broadcast ([[graft.operators.Ann.rerankFullDim]] takes the
    * sequence; each candidate scores against the shard that holds
    * it). Same priced concurrent collect-and-quantize as the
    * quantized [[topkBlocked]]: each shard's f64 pack lives only
    * inside its build task, so peak driver memory is the in-flight
    * shards' packs (budgeted, default heap/4), never the whole f64
    * corpus — only the 8-bit codes survive (1 byte/element, 8× the
    * corpus per broadcast GB). Every shard encodes against ONE
    * corpus-global grid ([[sq8GlobalBounds]], a single distributed
    * agg pass), so the sharded envelopes score BIT-IDENTICALLY to the
    * whole-corpus [[quantizeSq8]] envelope (PcaSpec pins it). Shard
    * membership is `xxhash64(id) mod numShards`, disjoint by
    * construction; empty shards are skipped.
    */
  def buildSq8Sharded(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      maxInFlightBytes: Long = 0L): Seq[CorpusIndexSq8] =
    buildSq8ShardedOpt(corpus, cIdCol, cEmbCol, numShards,
      maxInFlightBytes).flatten

  /** [[buildSq8Sharded]] WITHOUT the empty-shard compaction — one
    * `Option` per raw hash value, so derived builders
    * ([[buildBqShardedWithLayout]]) can record which hash value each
    * surviving shard directory holds (the routing identity appends
    * need — the round-11 lesson the IVF+PQ family already carries).
    */
  private[graft] def buildSq8ShardedOpt(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      maxInFlightBytes: Long = 0L): IndexedSeq[Option[CorpusIndexSq8]] = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val blockOf = pmod(xxhash64(col(cIdCol).cast(LongType)), lit(numShards))
    val budget =
      if (maxInFlightBytes > 0L) maxInFlightBytes
      else math.max(256L << 20, Runtime.getRuntime.maxMemory() / 4)
    val counts: Map[Int, Long] = corpus
      .groupBy(blockOf.cast(IntegerType).as("b")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) throw new IllegalArgumentException("Empty corpus")
    val dim = corpus.select(col(cEmbCol)).filter(col(cEmbCol).isNotNull)
      .head().getSeq[Any](0).length
    val (gridMin, gridScale) = sq8GlobalBounds(corpus, cEmbCol, dim)
    val gate = new Object
    var inFlight = 0L
    def acquire(bytes: Long): Unit = gate.synchronized {
      while (inFlight > 0L && inFlight + bytes > budget) gate.wait()
      inFlight += bytes
    }
    def release(bytes: Long): Unit = gate.synchronized {
      inFlight -= bytes; gate.notifyAll()
    }
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(numShards, 8))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = (0 until numShards).map { b =>
        scala.concurrent.Future {
          val price = counts.getOrElse(b, 0L) * dim * 40L
          acquire(price)
          try collectCorpusOpt(corpus.filter(blockOf === b), cIdCol, cEmbCol)
            .map(quantizeSq8Bounded(_, gridMin, gridScale))
          finally release(price)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf).toIndexedSeq
    } finally pool.shutdown()
  }

  /** Build one IVF+PQ index per hash-mod shard of the corpus, the
    * shard builds running CONCURRENTLY — [[topkBlocked]]'s
    * concurrent-collect pattern applied to the train-heavy index
    * family (round-9 verdict #1: the 10M smoke's sequential
    * driver-side shard loop was 677 s of the point's wall; per-shard
    * k-means + codebook training is single-threaded driver work, so B
    * shards on a pool of `parallelism` build in
    * ≈ build_one × ⌈B/parallelism⌉). Each shard's f64 pack lives only
    * inside its build task (collect → quantize → pack becomes
    * garbage), so peak driver memory is the in-flight shards' packs,
    * never the whole corpus — the same past-the-broadcast-envelope
    * contract as the quantized [[topkBlocked]]. Shard membership is
    * `xxhash64(id) mod numShards` — the split a 1000-executor cluster
    * would key a co-partitioned build on. Empty shards (tiny corpora)
    * are skipped.
    */
  def buildIvfPqSharded(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      nCells: Int,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      withRerank: Boolean = true,
      parallelism: Int = 8,
      maxInFlightBytes: Long = 0L): IndexedSeq[CorpusIndexIvfPq] =
    buildIvfPqShardedWithLayout(corpus, cIdCol, cEmbCol, numShards, nCells, m,
      trainSample, iters, withRerank, parallelism, maxInFlightBytes).shards

  /** A sharded build plus its ROUTING IDENTITY: the hash modulus the
    * build split on and, per surviving shard, the raw
    * `pmod(xxhash64(id), hashModulus)` value it holds. The shard list
    * alone is ambiguous once empty hash shards were compacted away
    * (the list's positions no longer equal the hash values), so a
    * persist that wants appends to route with the BUILD's split must
    * carry this — [[graft.sources.Sink.writeIvfPqShardedIndex]] takes
    * the whole case class (round-11 advisor: the collect build
    * silently persisted an identity layout after compaction).
    */
  final case class ShardedIvfPqBuild(
      shards: IndexedSeq[CorpusIndexIvfPq],
      hashModulus: Int,
      shardHashVals: IndexedSeq[Long])

  /** [[buildIvfPqSharded]], also returning which hash values survived
    * the empty-shard compaction (see [[ShardedIvfPqBuild]]).
    */
  def buildIvfPqShardedWithLayout(
      corpus: DataFrame,
      cIdCol: String,
      cEmbCol: String,
      numShards: Int,
      nCells: Int,
      m: Int,
      trainSample: Int = 16384,
      iters: Int = 10,
      withRerank: Boolean = true,
      parallelism: Int = 8,
      maxInFlightBytes: Long = 0L,
      rot: Array[Double] = null): ShardedIvfPqBuild = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val shardOf = pmod(xxhash64(col(cIdCol).cast(LongType)), lit(numShards))
    // Driver-heap-aware admission: `parallelism` alone multiplies
    // peak driver memory by the thread count (the round-9 10M smoke
    // OOMed at par=8 — ScaleSmoke's recorded footgun), so concurrent
    // collects are ALSO gated on their estimated in-flight bytes. One
    // cheap narrow pass prices each shard (rows × dim × 24 B covers
    // the collected Row[] and the f64 pack coexisting briefly); a
    // build may start only while total priced in-flight bytes stay
    // under the budget (default: a quarter of the driver heap). A
    // single over-budget shard still runs — alone — so the throttle
    // degrades to the sequential build, never deadlocks. Arithmetic
    // is untouched: shards build bit-identically, just admitted later.
    // The 40 B/element price covers the collect's full transient life:
    // per-task result buffers + the concatenated Row[] (~8 B/elem in
    // the row's double[] plus per-row overhead), the f64 pack (8 B),
    // a possible f32 sidecar (4 B), and GC headroom for the copies
    // that coexist across the pack handoff — the measured 10M churn
    // ran ~2× the earlier 24 B estimate.
    val budget =
      if (maxInFlightBytes > 0L) maxInFlightBytes
      else math.max(256L << 20, Runtime.getRuntime.maxMemory() / 4)
    val counts: Map[Int, Long] = corpus
      .groupBy(shardOf.cast(IntegerType).as("shard")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "Empty corpus")
    val dim = corpus.select(col(cEmbCol)).filter(col(cEmbCol).isNotNull)
      .head().getSeq[Any](0).length
    def priceOf(b: Int): Long = counts.getOrElse(b, 0L) * dim * 40L
    val gate = new Object
    var inFlight = 0L
    def acquire(bytes: Long): Unit = gate.synchronized {
      while (inFlight > 0L && inFlight + bytes > budget) gate.wait()
      inFlight += bytes
    }
    def release(bytes: Long): Unit = gate.synchronized {
      inFlight -= bytes; gate.notifyAll()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(numShards, parallelism))
    val shards =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = (0 until numShards).map { b =>
          scala.concurrent.Future {
            val price = priceOf(b)
            acquire(price)
            // a non-null rot is the IVF+OPQ composition: rotate the
            // shard's pack before the standard build (the rotated
            // pack replaces the raw one inside the same priced task,
            // so peak memory is unchanged up to the brief handoff)
            try collectCorpusOpt(corpus.filter(shardOf === b), cIdCol, cEmbCol)
              .map { cx0 =>
                val cx = if (rot == null) cx0 else rotateIndex(cx0, rot)
                quantizeIvfPq(cx, nCells, m, trainSample, iters, withRerank)
              }
            finally release(price)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    val surviving = shards.zipWithIndex.collect { case (Some(ix), b) => ix -> b.toLong }
    require(surviving.nonEmpty, "Empty corpus")
    ShardedIvfPqBuild(
      surviving.map(_._1).toIndexedSeq, numShards, surviving.map(_._2).toIndexedSeq)
  }

  /** Top-k cosine against a SHARDED IVF+PQ index in one pass
    * ([[serveSharded]]): per query row, every shard's [[topkIvfPq]]
    * body (same ADC / optional SQ8-residual-rerank contract) fills its
    * own selector and the task merges them — one job, no shuffle, for
    * a query frame that is not split ([[serveSharded]]).
    * Scores from different shards approximate the same cosine, so they
    * merge directly; ties pin to the lowest index, matching the exact
    * kernel (reference topk.rs:28-31). Keeps every query column; ranks
    * are per query row.
    *
    * MEMORY NOTE: this form broadcasts all B shards in one payload, so
    * every executor holds every shard simultaneously — per-executor
    * memory equals the TOTAL compressed index. Fine while Σ shards
    * fits the executor envelope; past it, use
    * [[topkIvfPqShardedWaves]], which bounds peak broadcast memory to
    * one wave's shards (measured at 10M×256 against the earlier
    * per-shard-partial resident form: 0.88 GB peak vs 3.53 GB for ~8%
    * extra wall, identical rows).
    */
  def topkIvfPqSharded(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      shards: Seq[CorpusIndexIvfPq],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveIvfPqSharded(queries, embCol, qIdCol, shards, ShardMasks.Unmasked, k, nProbe, shortlist)

  /** [[topkIvfPqSharded]] over an index with TOMBSTONED ids — the
    * serve half of the delete lifecycle ([[graft.sources.Sink
    * .deleteFromIvfPqShardedIndex]] persists the tombstone set,
    * [[graft.sources.Source.readIvfPqShardedIndexWithTombstones]]
    * restores it beside the shards): the deny mask of [[serveSharded]]
    * keeps tombstoned rows out of the probed-cell scan, so a deleted
    * row can never be served, k clamps to the LIVE population, and the
    * result is bit-identical to serving the COMPACTED index (same
    * geometry, same candidates, same scores — SinkSpec pins it).
    * Compaction ([[graft.sources.Sink.compactIvfPqShardedIndex]])
    * retires the masks entirely.
    */
  def topkIvfPqShardedTombstoned(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      shards: Seq[CorpusIndexIvfPq],
      tombstoneIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveIvfPqSharded(queries, embCol, qIdCol, shards, ShardMasks.deny(tombstoneIds),
      k, nProbe, shortlist)

  /** [[topkIvfPqSharded]] restricted to an allowed-id subset — the
    * sharded composition of [[topkIvfPqFiltered]] (allow mask of
    * [[serveSharded]]: each shard masks against the same sorted set,
    * and the global k > |allowed| clamp emerges from the in-task
    * merge).
    */
  def topkIvfPqShardedFiltered(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      shards: Seq[CorpusIndexIvfPq],
      allowedIds: Array[Long],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0): DataFrame =
    serveIvfPqSharded(queries, embCol, qIdCol, shards, ShardMasks.allow(allowedIds),
      k, nProbe, shortlist)

  /** [[topkIvfPqShardedFiltered]] with the allowed set as a
    * one-column DataFrame — the allowed ids NEVER collect to the
    * driver ([[allowedMasksFromDfMulti]]: one distributed pass builds
    * every shard's mask), so a predicate over a 100 TB metadata
    * table filters a sharded serve directly.
    */
  def topkIvfPqShardedFiltered(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      shards: Seq[CorpusIndexIvfPq],
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      nProbe: Int,
      shortlist: Int): DataFrame =
    serveIvfPqSharded(queries, embCol, qIdCol, shards,
      ShardMasks.AllowDf(allowed, allowedIdCol), k, nProbe, shortlist)

  /** The IVF+PQ/OPQ family's flat sharded serve: [[serveSharded]], every
    * query column kept, ranks per query row. `qIdCol` must name a query
    * column (as in the wave forms); it is resolved before any broadcast.
    */
  private def serveIvfPqSharded(
      queries: DataFrame, embCol: String, qIdCol: String, shards: Seq[CorpusIndexIvfPq],
      masks: ShardMasks, k: Int, nProbe: Int, shortlist: Int,
      rot: Array[Double] = null): DataFrame = {
    queries.col(qIdCol)
    serveSharded(queries, embCol, "matches", shards, masks, k,
      ivfPqFamily(k, nProbe, shortlist, rot), TopkFrame.ShardedFlat)
  }

  /** Live/peak shard-broadcast accounting for
    * [[topkIvfPqShardedWaves]] — the measurable proof that the wave
    * server's per-executor broadcast footprint is bounded by one
    * wave's shards (max-shard × waveSize), never the Σ-shards ceiling
    * [[topkIvfPqSharded]] pins (round-10 verdict #1). Sizes are
    * `SizeEstimator` estimates of the actual index objects, counted
    * up at broadcast creation and down at destroy.
    *
    * A meter is PER-INVOCATION state: pass a fresh instance to each
    * serve whose footprint you want measured in isolation (two
    * concurrent serves sharing one meter report the sum of both
    * serves' waves as the peak — the round-11 advisor's singleton
    * race). [[ShardedServeStats]] remains the process-wide default
    * for callers that serve one at a time.
    */
  final class ShardedServeMeter {
    private val live = new java.util.concurrent.atomic.AtomicLong(0L)
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val pinnedN = new java.util.concurrent.atomic.AtomicInteger(0)
    private val pinnedB = new java.util.concurrent.atomic.AtomicLong(0L)
    def reset(): Unit = { live.set(0L); peak.set(0L); pinnedN.set(0); pinnedB.set(0L) }
    def liveBroadcastBytes: Long = live.get
    def peakLiveBroadcastBytes: Long = peak.get
    /** Driver-resident shard count/bytes pinned by the streaming
      * serve's residency policy (auto or explicit) — set once at
      * wiring time, the observable the auto-residency spec gates on.
      */
    def pinnedShards: Int = pinnedN.get
    def pinnedShardBytes: Long = pinnedB.get
    private[graft] def setPinned(n: Int, bytes: Long): Unit = {
      pinnedN.set(n); pinnedB.set(bytes)
    }
    private[graft] def add(bytes: Long): Unit = {
      val v = live.addAndGet(bytes)
      peak.accumulateAndGet(v, (a: Long, b: Long) => math.max(a, b))
      ()
    }
    private[graft] def sub(bytes: Long): Unit = { live.addAndGet(-bytes); () }
  }

  /** Process-wide default [[ShardedServeMeter]] — the
    * reset()-then-measure convenience the waves gate and the scale
    * smoke use. Valid only when nothing else wave-serves in the same
    * JVM concurrently; concurrent serves should each pass their own
    * meter.
    */
  object ShardedServeStats {
    private[graft] val default = new ShardedServeMeter
    def reset(): Unit = default.reset()
    def liveBroadcastBytes: Long = default.liveBroadcastBytes
    def peakLiveBroadcastBytes: Long = default.peakLiveBroadcastBytes
  }

  /** [[topkIvfPqSharded]] with BOUNDED broadcast memory: the plain
    * form broadcasts all B shards in one payload, so every
    * executor holds every shard simultaneously —
    * per-executor memory equals the TOTAL compressed index, exactly
    * the ceiling sharding exists to break. This form serves the
    * shards in waves of `waveSize` ([[topkShardedWavesCore]]): each
    * wave broadcasts only its shards and runs the plain form's one
    * pass over them, merging each query row's matches carried from the
    * earlier waves into a running top-k (the cut: the query rows with
    * their matches — the only state that outlives a wave), PERSISTS
    * the cut as parquet under `scratchDir`, then `destroy()`s the
    * wave's broadcast before the next wave reads the cut. Peak
    * per-executor broadcast memory is one wave's shards (∝ max-shard
    * at waveSize=1), measured by [[ShardedServeStats]]; rows are
    * IDENTICAL to the plain form, ranked per query row (per-wave
    * top-k cuts are lossless for a global top-k, ties pin to lowest
    * index both times — IvfPqSpec parity). No wave shuffles unless it
    * splits a small query frame, as the plain form does.
    *
    * The returned DataFrame reads the scratch parquet lazily — the
    * caller owns `scratchDir`'s lifetime. When `scratchDir` is empty
    * a fresh driver-local temp dir is used, its path is logged, and a
    * JVM-shutdown hook deletes it (the round-11 advisor's silent
    * leak); that default is only legal in local mode — on a cluster
    * the executors' `wave_N` writes would land on THEIR local
    * filesystems and the final merge would read nothing, so a
    * non-local master with no explicit scratch REFUSES with a named
    * error instead of silently corrupting results (round-11 verdict
    * #2). On a cluster, pass a shared filesystem path; a cut holds
    * every query row (its columns, k matches and, until the last wave,
    * its embedding), marginal next to the scans.
    *
    * `memoryPartials = true` keeps the per-wave cuts as EAGER
    * `localCheckpoint`s in the block manager (MEMORY_AND_DISK)
    * instead of parquet scratch — no per-wave write+read, which the
    * round-12/13 A/B isolated as the wave-serve's overhead vs the
    * all-resident form. The checkpoint materializes while the wave's
    * broadcasts are live and CUTS lineage, so a lost block fails
    * loudly rather than recomputing against a destroyed broadcast.
    * Fit for local mode and reliable block managers; parquet scratch
    * remains the durable default for long-lived cluster serves.
    */
  def topkIvfPqShardedWaves(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      shards: Seq[CorpusIndexIvfPq],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0,
      waveSize: Int = 2,
      scratchDir: String = "",
      meter: ShardedServeMeter = ShardedServeStats.default,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null): DataFrame =
    serveWaves(queries, shards, scratchDir, memoryPartials) { (providers, scratch, mem) =>
      topkIvfPqWavesCore(queries, embCol, qIdCol, providers, k, nProbe, shortlist,
        waveSize, scratch, meter, mem, allowedIds, deniedIds)
    }

  /** The public wave serves' prelude: refuse an empty shard list, pick
    * the partial persistence ([[memoryPartialsDefault]]) and, for
    * parquet partials, the scratch dir ([[resolveWaveScratch]]), then
    * run the family's wave core over the resident shards.
    */
  private def serveWaves[I](
      queries: DataFrame, shards: Seq[I], scratchDir: String, memoryPartials: Boolean)(
      core: (Seq[() => I], String, Boolean) => DataFrame): DataFrame = {
    require(shards.nonEmpty, "Empty shard list")
    val spark = queries.sparkSession
    val mem = memoryPartialsDefault(spark, memoryPartials, scratchDir)
    core(shards.map(sx => () => sx),
      if (mem) "" else resolveWaveScratch(spark.sparkContext.isLocal, scratchDir), mem)
  }

  /** Default partial-persistence policy for the wave serves: an
    * explicit `memoryPartials = true` always wins; otherwise a
    * DEFAULT-scratch caller in LOCAL mode gets the in-memory partial
    * path too — the one-process block manager is exactly as durable
    * as the driver-local temp dir the default scratch would resolve
    * to, and it skips a parquet write+read per wave (the overhead the
    * round-12/13 A/B isolated). An explicit `scratchDir` pins the
    * durable parquet path — the cluster contract — and is never
    * overridden. (round-17, guide §1.2/§2.4: same bytes decided, two
    * fewer materialization round-trips per wave.)
    */
  private[graft] def memoryPartialsDefault(
      spark: org.apache.spark.sql.SparkSession,
      memoryPartials: Boolean,
      scratchDir: String): Boolean =
    memoryPartials || (scratchDir.isEmpty && spark.sparkContext.isLocal)

  /** Scratch-dir policy for the wave server (see
    * [[topkIvfPqShardedWaves]]'s scaladoc): an explicit path is taken
    * as-is; the generated-temp default is refused off local mode
    * because a driver-local path is not a shared filesystem there.
    * Factored pure so the refusal is unit-testable without a cluster.
    */
  private[graft] def resolveWaveScratch(isLocal: Boolean, scratchDir: String): String =
    if (scratchDir.nonEmpty) scratchDir
    else {
      require(isLocal,
        "A sharded wave serve needs an explicit shared-filesystem scratchDir " +
          "when the master is not local: the default driver-local temp dir is " +
          "not visible to remote executors, so wave partials would be lost")
      WaveScratch.next()
    }

  /** ONE process-wide temp scratch root with ONE JVM shutdown hook,
    * minting a fresh subdir per default-scratch invocation. The
    * previous shape (a new temp dir + a new `sys.addShutdownHook` per
    * call) accumulated hooks and undeleted dirs without bound in a
    * long-lived local service that serves repeatedly, and its
    * recursive delete leaked the `Files.list` stream (round-12
    * advisor). Cleanup walks the whole root deepest-first with the
    * stream closed via try/finally.
    */
  private[graft] object WaveScratch {
    private val counter = new java.util.concurrent.atomic.AtomicLong(0L)
    private lazy val root: java.nio.file.Path = {
      val dir = java.nio.file.Files.createTempDirectory("graft-sharded-serve-")
      log.info(s"wave-serve scratch root: $dir (deleted at JVM exit)")
      sys.addShutdownHook {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach { p => java.nio.file.Files.deleteIfExists(p); () }
        finally walk.close()
      }
      dir
    }
    /** A fresh per-invocation subdir under the shared root. */
    def next(): String = java.nio.file.Files
      .createDirectories(root.resolve(s"call_${counter.getAndIncrement()}"))
      .toString
  }

  /** The wave loop behind [[topkIvfPqShardedWaves]], over shard
    * PROVIDERS rather than resident indexes: each provider is invoked
    * only when its wave starts and its result is dropped when the
    * wave ends, so a caller paging shards off a persisted layout (the
    * streaming bounded serve) holds at most one wave's indexes on the
    * driver — the same bound the broadcasts get on the executors. The
    * IVF+OPQ rotation comes as `rot` or as `rotBc`, a caller-owned
    * broadcast read on the driver only; either way it rides each
    * wave's one broadcast. `qIdCol` must name a query column.
    */
  private[graft] def topkIvfPqWavesCore(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      shardProviders: Seq[() => CorpusIndexIvfPq],
      k: Int,
      nProbe: Int,
      shortlist: Int,
      waveSize: Int,
      scratch: String,
      meter: ShardedServeMeter,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null,
      rotBc: Broadcast[Array[Double]] = null,
      rot: Array[Double] = null): DataFrame = {
    queries.col(qIdCol)
    topkShardedWavesCore(queries, embCol, shardProviders,
        ivfPqFamily(k, nProbe, shortlist, if (rotBc == null) rot else rotBc.value), k,
        waveSize, scratch, meter, memoryPartials, allowedIds, deniedIds)(
      validateIvfPqCall(k, nProbe, shortlist))
  }

  /** [[topkIvfPqShardedWaves]] for an IVF+OPQ build — every wave's
    * kernel rotates the query with `rot`, which rides each wave's one
    * broadcast. Same bounded-memory, mask, and scratch contracts.
    */
  def topkIvfOpqShardedWaves(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      rot: Array[Double],
      shards: Seq[CorpusIndexIvfPq],
      k: Int,
      nProbe: Int,
      shortlist: Int = 0,
      waveSize: Int = 2,
      scratchDir: String = "",
      meter: ShardedServeMeter = ShardedServeStats.default,
      memoryPartials: Boolean = false,
      allowedIds: Array[Long] = null,
      deniedIds: Array[Long] = null): DataFrame =
    serveWaves(queries, shards, scratchDir, memoryPartials) { (providers, scratch, mem) =>
      topkIvfPqWavesCore(queries, embCol, qIdCol, providers, k, nProbe, shortlist,
        waveSize, scratch, meter, mem, allowedIds, deniedIds, rot = rot)
    }

  /** The index-family-agnostic wave loop — ONE machinery serves
    * IVF+PQ/OPQ, BQ, and IVF+BQ shards ([[topkIvfPqShardedWaves]] /
    * [[topkBqShardedWaves]] / [[topkIvfBqShardedWaves]] and the
    * streaming wave serves). `check`, the family's index-free argument
    * check, runs before the first shard loads. Per wave:
    *  - invoke at most `waveSize` shard providers (concurrently) and
    *    meter each shard's size while its broadcast lives;
    *  - run ONE [[servePass]] over the wave's shards — one broadcast of
    *    the shards, their allow∧¬deny [[idMask]]s (built only while the
    *    shards are live) and the OPQ rotation, and one
    *    [[TopkFrame.selectShards]] pass whose query frame is the
    *    previous wave's cut (wave 0 reads `queries` itself): each query
    *    row's carried matches merge with the wave's selectors by the
    *    in-task rule, so the cut stays each row's exact top-k over the
    *    waves so far (wave shards are disjoint; the merge order is total,
    *    ties to the lowest index);
    *  - persist the cut — the query rows with their embeddings and
    *    running matches; the last wave's pass emits the flat rows
    *    ([[TopkFrame.ShardedFlat]]) and is itself the last cut — as an
    *    EAGER `localCheckpoint` (in the block manager, lineage cut so a
    *    lost block fails loudly instead of recomputing against a
    *    destroyed broadcast) or as parquet under `scratch/wave_N`, read
    *    back lazily under the schema the pass emitted, then
    *    destroy the wave's broadcast and unpersist the previous
    *    wave's in-memory cut, which nothing reads any more.
    * Peak per-executor broadcast memory is one wave's shards, metered.
    * Ranks are per query row, like the resident forms, and nothing is
    * shuffled unless a pass splits its query frame ([[servePass]]).
    * The result is the last cut.
    */
  private def topkShardedWavesCore[I <: AnyRef: scala.reflect.ClassTag](
      queries: DataFrame,
      embCol: String,
      shardProviders: Seq[() => I],
      fam: ShardFamily[I],
      k: Int,
      waveSize: Int,
      scratch: String,
      meter: ShardedServeMeter,
      memoryPartials: Boolean,
      allowedIds: Array[Long],
      deniedIds: Array[Long])(
      check: => Unit): DataFrame = {
    require(shardProviders.nonEmpty, "Empty shard list")
    require(waveSize >= 1, s"waveSize must be >= 1, got $waveSize")
    check
    val waves = shardProviders.grouped(waveSize).toIndexedSeq
    val masks = ShardMasks.Ids(if (allowedIds == null) null else sortedIds(allowedIds),
      if (deniedIds == null) null else sortedIds(deniedIds))
    // the in-memory cut the next wave reads (none: `queries` or parquet)
    var held: Option[org.apache.spark.rdd.RDD[_]] = None
    try waves.indices.foldLeft(queries) { (q, wi) =>
      // a wave's shards are ALL live at once by definition (the peak
      // bound is the wave, not one shard), so loading them
      // concurrently changes wall time, never the memory bound
      val sized = graft.sources.Par.shards(waves(wi)) { load =>
        val ix = load()
        ix -> org.apache.spark.util.SizeEstimator.estimate(ix)
      }
      val (served, bc) = servePass(q, embCol, "matches", sized.map(_._1), masks, k, fam,
        carry = wi > 0,
        layout = if (wi == waves.length - 1) TopkFrame.ShardedFlat else TopkFrame.Nested)
      sized.foreach(s => meter.add(s._2))
      val cut = try {
        if (memoryPartials) served.localCheckpoint(true)
        else {
          served.write.mode("overwrite").parquet(s"$scratch/wave_$wi")
          // read back under the emitted schema: a file source would
          // mark every column nullable, the cut is as the pass wrote it
          InternalRowBridge.fromInternalRdd(q.sparkSession, InternalRowBridge.toInternalRdd(
            q.sparkSession.read.parquet(s"$scratch/wave_$wi")), served.schema)
        }
      } finally { bc.destroy(); sized.foreach(s => meter.sub(s._2)) }
      held.foreach(InternalRowBridge.releaseLocalCheckpoint)
      held = if (memoryPartials) checkpointedRdd(cut) else None
      cut
    } catch {
      case e: Throwable => held.foreach(InternalRowBridge.releaseLocalCheckpoint); throw e
    }
  }

  /** The block-manager RDD behind an eager `localCheckpoint`. */
  private def checkpointedRdd(cut: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    cut.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  // ===== SQ8 point-lookup scoring (candidate rerank beyond the f64
  // broadcast envelope) =====

  /** Static scorer behind [[Sq8CosineAt]] (the codegen one-liner
    * pattern). Decodes corpus row `id` from the SQ8 index and returns
    * its cosine against `qe` — null when the id is not in the index,
    * the kernel's zero-norm guard otherwise.
    */
  object Sq8Score {
    def cosineAt(id: Long, qe: org.apache.spark.sql.catalyst.util.ArrayData,
        cx: CorpusIndexSq8): Any = {
      val pos = java.util.Arrays.binarySearch(cx.ids, id)
      if (pos < 0) return null
      val q = qe.toDoubleArray()
      if (q.length != cx.dim) throw new IllegalArgumentException(
        s"Dimension mismatch: query has ${q.length} elements, corpus has ${cx.dim}")
      val off = pos * cx.dim
      var dot = 0.0; var qsq = 0.0; var d = 0
      while (d < cx.dim) {
        val cv = cx.dimMin(d) + (cx.codes(off + d) & 0xFF) * cx.dimScale(d)
        dot += q(d) * cv; qsq += q(d) * q(d)
        d += 1
      }
      val qn = math.sqrt(qsq)
      if (qn <= 1e-10 || cx.norms(pos) <= 1e-10) java.lang.Double.valueOf(0.0)
      else java.lang.Double.valueOf(dot / (qn * cx.norms(pos)))
    }
  }

  /** Cosine of a query embedding against ONE corpus row decoded from
    * the broadcast SQ8 index — the candidate-rerank scorer that lets
    * [[Ann.ivfSq8CosineTopK]] rerank against a corpus 8× past the f64
    * broadcast envelope. Codegen'd; no UDF.
    */
  case class Sq8CosineAt(
      idExpr: org.apache.spark.sql.catalyst.expressions.Expression,
      qeExpr: org.apache.spark.sql.catalyst.expressions.Expression,
      index: Broadcast[CorpusIndexSq8])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def left: Expression = idExpr
    override def right: Expression = qeExpr
    override def prettyName: String = "sq8_cosine_at"
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (LongType, ArrayType(DoubleType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (l, r) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires (bigint, array<double>), got " +
              s"(${l.simpleString}, ${r.simpleString})")
      }
    override def nullSafeEval(id: Any, qe: Any): Any =
      Sq8Score.cosineAt(id.asInstanceOf[Long],
        qe.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], index.value)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sq8Bc", index,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, (idC, qeC) => {
        val res = ctx.freshName("sq8res")
        // Java binary names: Sq8Score and CorpusIndexSq8 are nested in
        // `object Similarity`, so janino needs the `Similarity$…` form
        // (the dotted form compiled nowhere and silently demoted this
        // expression to interpreted eval)
        s"""Object $res = graft.operators.Similarity$$Sq8Score$$.MODULE$$.cosineAt(
           |  $idC, $qeC,
           |  (graft.operators.Similarity$$CorpusIndexSq8) $ref.value());
           |if ($res == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((java.lang.Double) $res).doubleValue(); }
           |""".stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(idExpr = newLeft, qeExpr = newRight)
  }

  // ===== per-group centroids + nearest-centroid assignment =====

  /** Per-group MEAN embedding — the vector aggregation every
    * embedding-organized corpus needs (topic centroids, per-source
    * "semantic fingerprints", Rocchio class prototypes). Uses MLlib's
    * `Summarizer` aggregator, so the mean is a true partial-aggregate:
    * each partition folds its vectors locally and only `numGroups`
    * partial sums cross the exchange — never a per-element explode
    * (the posexplode form shuffles n·dim rows, 64× the corpus here).
    * Input arrays are cast to f64 BEFORE summing (the f32 kernel
    * gotcha: float partial sums would diverge from any f64 oracle).
    * Output: (groupCol, centroid: array<double>).
    */
  def groupCentroids(df: DataFrame, groupCol: String, embCol: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    df.filter(col(embCol).isNotNull)
      .groupBy(groupCol)
      .agg(Summarizer.mean(
        array_to_vector(col(embCol).cast(ArrayType(DoubleType)))).as("__m"))
      .select(col(groupCol),
        vector_to_array(col("__m"), "float64").as("centroid"))
  }

  /** Nearest-centroid assignment (Rocchio classification / cluster
    * labeling): compute [[groupCentroids]], then label every vector
    * with its highest-cosine centroid through the SAME broadcast GEMM
    * kernel as `pmm.topk` at k=1 — centroids are a tiny corpus by
    * construction, so assignment is one zero-shuffle scan of the
    * vectors (the plan shape that labels 100 TB of embeddings in one
    * read). Ties break to the lowest group id (kernel contract).
    * Output: every input column + (pred: long, score: double).
    */
  def centroidAssign(
      df: DataFrame, idCol: String, embCol: String, groupCol: String): DataFrame = {
    val cents = groupCentroids(df, groupCol, embCol)
    val cx = collectCorpus(
      cents.select(col(groupCol).cast(LongType).as("id"), col("centroid")),
      "id", "centroid")
    topkFlat(
        df.select(col(idCol), col(groupCol),
          col(embCol).cast(ArrayType(DoubleType)).as("__e")),
        "__e", cx, 1, Metric.Cosine)
      .select(col(idCol), col(groupCol), col("index").as("pred"), col("score"))
  }
}
