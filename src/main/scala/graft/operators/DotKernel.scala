package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One tile of raw dots: every query lane `l < lanes` of a transposed
  * query panel against corpus rows `j0 until j0 + rows` (`rows` ≤
  * [[DotKernel.R]]), written to `out(r * width + l)`. Panel element
  * (d, l) sits at `p(pOff + d * width + l)`; corpus row j at
  * `c(j * dim …)`, read in place. Each dot is the one sequential chain
  * `acc = Math.fma(q(d), c(d), acc)` over d = 0 … dim−1 from +0.0 in the
  * tile's precision: `ff` in f32, `dd` in f64 and `df` in f64 with each
  * f32 corpus value widened as it is read. The vector implementation
  * (`DotKernelVector`) computes all `width` lanes, the pad lanes of a
  * partial last panel too, which no epilogue reads; the scalar twin
  * ([[ScalarDotTiles]]) computes the first `lanes`.
  */
private[operators] trait DotTiles {
  def widthF: Int
  def widthD: Int
  def ff(p: Array[Float], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Float], j0: Int, rows: Int, out: Array[Float]): Unit
  def dd(p: Array[Double], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Double], j0: Int, rows: Int, out: Array[Double]): Unit
  def df(p: Array[Double], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Float], j0: Int, rows: Int, out: Array[Double]): Unit
}

/** The scalar twin of the vector tiles: lane by lane the same FMA chain,
  * eight corpus rows' chains interleaved so they overlap in the FMA
  * pipeline. It runs when the vector module is absent.
  */
private[operators] object ScalarDotTiles extends DotTiles {
  val widthF = 8
  val widthD = 8

  def ff(p: Array[Float], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Float], j0: Int, rows: Int, out: Array[Float]): Unit = {
    var l = 0
    while (l < lanes) {
      var r = 0
      if (rows == 8) {
        val c0 = j0 * dim
        var a0, a1, a2, a3, a4, a5, a6, a7 = 0.0f
        var d = 0
        var po = pOff + l
        while (d < dim) {
          val q = p(po)
          a0 = Math.fma(q, c(c0 + d), a0)
          a1 = Math.fma(q, c(c0 + dim + d), a1)
          a2 = Math.fma(q, c(c0 + 2 * dim + d), a2)
          a3 = Math.fma(q, c(c0 + 3 * dim + d), a3)
          a4 = Math.fma(q, c(c0 + 4 * dim + d), a4)
          a5 = Math.fma(q, c(c0 + 5 * dim + d), a5)
          a6 = Math.fma(q, c(c0 + 6 * dim + d), a6)
          a7 = Math.fma(q, c(c0 + 7 * dim + d), a7)
          d += 1; po += width
        }
        out(l) = a0; out(width + l) = a1; out(2 * width + l) = a2; out(3 * width + l) = a3
        out(4 * width + l) = a4; out(5 * width + l) = a5; out(6 * width + l) = a6
        out(7 * width + l) = a7
        r = 8
      }
      while (r < rows) {
        val cr = (j0 + r) * dim
        var a = 0.0f
        var d = 0
        var po = pOff + l
        while (d < dim) { a = Math.fma(p(po), c(cr + d), a); d += 1; po += width }
        out(r * width + l) = a
        r += 1
      }
      l += 1
    }
  }

  def dd(p: Array[Double], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Double], j0: Int, rows: Int, out: Array[Double]): Unit = {
    var l = 0
    while (l < lanes) {
      var r = 0
      if (rows == 8) {
        val c0 = j0 * dim
        var a0, a1, a2, a3, a4, a5, a6, a7 = 0.0
        var d = 0
        var po = pOff + l
        while (d < dim) {
          val q = p(po)
          a0 = Math.fma(q, c(c0 + d), a0)
          a1 = Math.fma(q, c(c0 + dim + d), a1)
          a2 = Math.fma(q, c(c0 + 2 * dim + d), a2)
          a3 = Math.fma(q, c(c0 + 3 * dim + d), a3)
          a4 = Math.fma(q, c(c0 + 4 * dim + d), a4)
          a5 = Math.fma(q, c(c0 + 5 * dim + d), a5)
          a6 = Math.fma(q, c(c0 + 6 * dim + d), a6)
          a7 = Math.fma(q, c(c0 + 7 * dim + d), a7)
          d += 1; po += width
        }
        out(l) = a0; out(width + l) = a1; out(2 * width + l) = a2; out(3 * width + l) = a3
        out(4 * width + l) = a4; out(5 * width + l) = a5; out(6 * width + l) = a6
        out(7 * width + l) = a7
        r = 8
      }
      while (r < rows) {
        val cr = (j0 + r) * dim
        var a = 0.0
        var d = 0
        var po = pOff + l
        while (d < dim) { a = Math.fma(p(po), c(cr + d), a); d += 1; po += width }
        out(r * width + l) = a
        r += 1
      }
      l += 1
    }
  }

  def df(p: Array[Double], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Float], j0: Int, rows: Int, out: Array[Double]): Unit = {
    var l = 0
    while (l < lanes) {
      var r = 0
      if (rows == 8) {
        val c0 = j0 * dim
        var a0, a1, a2, a3, a4, a5, a6, a7 = 0.0
        var d = 0
        var po = pOff + l
        while (d < dim) {
          val q = p(po)
          a0 = Math.fma(q, c(c0 + d).toDouble, a0)
          a1 = Math.fma(q, c(c0 + dim + d).toDouble, a1)
          a2 = Math.fma(q, c(c0 + 2 * dim + d).toDouble, a2)
          a3 = Math.fma(q, c(c0 + 3 * dim + d).toDouble, a3)
          a4 = Math.fma(q, c(c0 + 4 * dim + d).toDouble, a4)
          a5 = Math.fma(q, c(c0 + 5 * dim + d).toDouble, a5)
          a6 = Math.fma(q, c(c0 + 6 * dim + d).toDouble, a6)
          a7 = Math.fma(q, c(c0 + 7 * dim + d).toDouble, a7)
          d += 1; po += width
        }
        out(l) = a0; out(width + l) = a1; out(2 * width + l) = a2; out(3 * width + l) = a3
        out(4 * width + l) = a4; out(5 * width + l) = a5; out(6 * width + l) = a6
        out(7 * width + l) = a7
        r = 8
      }
      while (r < rows) {
        val cr = (j0 + r) * dim
        var a = 0.0
        var d = 0
        var po = pOff + l
        while (d < dim) { a = Math.fma(p(po), c(cr + d).toDouble, a); d += 1; po += width }
        out(r * width + l) = a
        r += 1
      }
      l += 1
    }
  }
}

/** The exact kernel behind `topk`, `topkFlat`, `matmul`, `matmulFlat`,
  * `rangePairs` and `EventStream.topkServe`: it scores a packed query
  * batch ([[QueryBatch]]) against a [[CorpusIndex]] in one pass of
  * cache-resident tiles and hands each tile, while it is still in
  * cache, to the caller's epilogue — the metric and [[TopSelector]]
  * (`topk`), a score matrix (`matmul`) or a threshold filter (`pairs`).
  * No m × n buffer exists except the matrix `matmul` returns.
  *
  * The arithmetic: every score's dot is one fixed sequential
  * `Math.fma(q(d), c(d), acc)` chain over d = 0 … dim−1 ([[DotTiles]]),
  * in f32 when the batch is an f32 pack and the corpus is f32, else in
  * f64 (an f32 corpus widened as it is read, so `CorpusIndex.data` is
  * never built). The batch is transposed into panels `width` queries
  * wide and the vector path computes one query per lane, so a query's
  * scores are the same bits whatever its batch, its position in it,
  * the partitioning or the SIMD width. One instance per task: it owns
  * the panel and tile scratch, reused across batches; nothing of the
  * corpus is copied or cached.
  */
private[graft] final class DotKernel {
  import DotKernel._

  private val tiles: DotTiles = if (scalarOnly || vector == null) ScalarDotTiles else vector
  private var panelF = new Array[Float](0)
  private var panelD = new Array[Double](0)
  private val tileF = new Array[Float](R * math.max(tiles.widthF, tiles.widthD))
  private val tileD = new Array[Double](R * math.max(tiles.widthF, tiles.widthD))

  /** Offers every corpus position in `from until until` of the batch's
    * rows to `sels(i)` (row `i`'s selector, capacity ≥ 1) under
    * `metric`; `normEps` is the cosine zero-norm guard.
    */
  def topk(b: QueryBatch, cx: CorpusIndex, from: Int, until: Int, metric: Metric,
      normEps: Double, sels: Array[TopSelector]): Unit =
    run(b, cx, from, until, new SelectSink(b, cx, metric, normEps, sels))

  /** Every dot of the batch into the row-major `b.m` × `cx.n` matrix
    * `out`: an `Array[Float]` for an f32 batch against an f32 corpus,
    * else an `Array[Double]`.
    */
  def matmul(b: QueryBatch, cx: CorpusIndex, out: AnyRef): Unit =
    run(b, cx, 0, cx.n, new MatrixSink(cx.n, out))

  /** Per batch row `i` with id `qIds(i)`, every corpus row with a
    * greater id whose `metric` score qualifies (≥ `threshold` when
    * higher is better, else ≤), appended to `out(i)` as (id1, id2,
    * score) rows in corpus order — each unordered pair of one table
    * once, from its lower id.
    */
  def pairs(b: QueryBatch, cx: CorpusIndex, metric: Metric, threshold: Double,
      qIds: Array[Long], out: Array[ArrayBuffer[InternalRow]]): Unit =
    run(b, cx, 0, cx.n, new RangeSink(b, cx, metric, threshold, qIds, out))

  private def run(b: QueryBatch, cx: CorpusIndex, from: Int, until: Int, sink: Sink): Unit = {
    val dim = cx.dim
    val m = b.m
    if (m == 0 || from >= until) return
    val f32 = b.q32 != null
    if (f32 && !cx.isF32) throw new IllegalArgumentException(
      "an f32 query pack needs an f32 corpus")
    val width = if (f32) tiles.widthF else tiles.widthD
    val need = (m + width - 1) / width * width * dim
    // transpose the batch into panels: row i at lane i % width of panel i / width
    if (f32) {
      if (panelF.length < need) panelF = new Array[Float](need)
      transpose(b.q32, panelF, m, dim, width)
    } else {
      if (panelD.length < need) panelD = new Array[Double](need)
      transpose(b.q64, panelD, m, dim, width)
    }
    // every panel against each tile of up to R corpus rows; a partial
    // last panel runs whole on the vector path, its pad lanes unread
    val np = (m + width - 1) / width
    var j0 = from
    while (j0 < until) {
      val rows = math.min(R, until - j0)
      var p = 0
      while (p < np) {
        val lanes = math.min(width, m - p * width)
        val pOff = p * width * dim
        if (f32) {
          tiles.ff(panelF, pOff, width, lanes, dim, cx.dataF, j0, rows, tileF)
          var i = 0
          while (i < rows * width) { tileD(i) = tileF(i).toDouble; i += 1 }
        } else if (cx.isF32) tiles.df(panelD, pOff, width, lanes, dim, cx.dataF, j0, rows, tileD)
        else tiles.dd(panelD, pOff, width, lanes, dim, cx.f64, j0, rows, tileD)
        sink.tile(p * width, lanes, width, j0, rows, tileD)
        p += 1
      }
      j0 += rows
    }
  }
}

private[graft] object DotKernel {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[DotKernel])

  /** Corpus rows per micro-tile. */
  val R = 8

  /** The vector tiles, loaded only when `jdk.incubator.vector` is in the
    * boot layer (`--add-modules=jdk.incubator.vector`); null otherwise.
    */
  private val vector: DotTiles =
    if (!ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent) null
    else try {
      Class.forName("graft.operators.DotKernelVector").getDeclaredConstructor()
        .newInstance().asInstanceOf[DotTiles]
    } catch {
      case NonFatal(e) =>
        log.warn(s"DotKernel: vector path failed to load ($e); using the scalar path")
        null
    }

  /** The path this JVM runs, as the INFO line at first use names it. */
  val path: String =
    if (vector == null) "scalar (jdk.incubator.vector not in the boot layer)"
    else s"vector (f32 ${vector.widthF} lanes, f64 ${vector.widthD} lanes)"
  log.info(s"DotKernel: $path")

  /** Test hook: kernels built while set run the scalar twin only. */
  @volatile private[graft] var scalarOnly = false

  /** `src`'s `m` rows of `dim` into panels `width` lanes wide. */
  private def transpose(src: Array[Float], dst: Array[Float], m: Int, dim: Int, width: Int): Unit = {
    var i = 0
    while (i < m) {
      val base = (i / width) * width * dim + i % width
      var d = 0
      while (d < dim) { dst(base + d * width) = src(i * dim + d); d += 1 }
      i += 1
    }
  }

  private def transpose(src: Array[Double], dst: Array[Double], m: Int, dim: Int, width: Int): Unit = {
    var i = 0
    while (i < m) {
      val base = (i / width) * width * dim + i % width
      var d = 0
      while (d < dim) { dst(base + d * width) = src(i * dim + d); d += 1 }
      i += 1
    }
  }

  /** A tile's epilogue: the dot of batch row `q0 + l` (l < lanes) and
    * corpus row `j0 + r` (r < rows) is `t(r * width + l)`.
    */
  private abstract class Sink {
    def tile(q0: Int, lanes: Int, width: Int, j0: Int, rows: Int, t: Array[Double]): Unit
  }

  /** Offers each tile score to its row's selector under the metric. A
    * score strictly worse than the row's kept worst (`worst(i)`, NaN
    * while the selector is not full) cannot enter, so it is skipped
    * before any call; rows run lane-inner, over a tile row's contiguous
    * scores.
    */
  private final class SelectSink(b: QueryBatch, cx: CorpusIndex, metric: Metric, eps: Double,
      sels: Array[TopSelector]) extends Sink {
    private val hi = metric.higherIsBetter
    private val worst = Array.tabulate(b.m) { i =>
      val sel = sels(i)
      if (sel.size < sel.cap) Double.NaN else sel.score(sel.cap - 1)
    }

    def tile(q0: Int, lanes: Int, width: Int, j0: Int, rows: Int, t: Array[Double]): Unit = {
      val qn = b.qNorm
      val qs = b.qSq
      var r = 0
      while (r < rows) {
        val j = j0 + r
        val cn = cx.norms(j)
        val cs = cx.sqNorms(j)
        val base = r * width
        var l = 0
        while (l < lanes) {
          val i = q0 + l
          val v = Similarity.scoreOf(metric, t(base + l), qn(i), qs(i), cn, cs, eps)
          if (!(if (hi) v < worst(i) else v > worst(i))) {
            val sel = sels(i)
            sel.offer(v, j)
            if (sel.size == sel.cap) worst(i) = sel.score(sel.cap - 1)
          }
          l += 1
        }
        r += 1
      }
    }
  }

  private final class MatrixSink(n: Int, out: AnyRef) extends Sink {
    private val f = out match { case a: Array[Float] => a; case _ => null }
    private val d = out match { case a: Array[Double] => a; case _ => null }
    def tile(q0: Int, lanes: Int, width: Int, j0: Int, rows: Int, t: Array[Double]): Unit = {
      var l = 0
      while (l < lanes) {
        val base = (q0 + l) * n + j0
        var r = 0
        if (f != null) while (r < rows) { f(base + r) = t(r * width + l).toFloat; r += 1 }
        else while (r < rows) { d(base + r) = t(r * width + l); r += 1 }
        l += 1
      }
    }
  }

  private final class RangeSink(b: QueryBatch, cx: CorpusIndex, metric: Metric, threshold: Double,
      qIds: Array[Long], out: Array[ArrayBuffer[InternalRow]]) extends Sink {
    private val higher = metric.higherIsBetter
    // per batch row, the first corpus position whose id is above its own
    // (corpus ids ascend): pairs start there
    private val lo = qIds.take(b.m).map { qid =>
      var a = 0; var z = cx.n
      while (a < z) { val mid = (a + z) >>> 1; if (cx.ids(mid) <= qid) a = mid + 1 else z = mid }
      a
    }
    def tile(q0: Int, lanes: Int, width: Int, j0: Int, rows: Int, t: Array[Double]): Unit = {
      var l = 0
      while (l < lanes) {
        val i = q0 + l
        var r = math.max(0, lo(i) - j0)
        while (r < rows) {
          val j = j0 + r
          val s = Similarity.scoreOf(metric, t(r * width + l), b.qNorm(i), b.qSq(i), cx.norms(j),
            cx.sqNorms(j))
          if (if (higher) s >= threshold else s <= threshold) out(i) += InternalRow(qIds(i), cx.ids(j), s)
          r += 1
        }
        l += 1
      }
    }
  }
}
