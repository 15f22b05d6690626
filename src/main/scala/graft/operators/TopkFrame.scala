package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.InternalRowBridge
import org.apache.spark.sql.types._

/** Bounded best-first selection over corpus positions: keeps the top
  * `cap` offers sorted best-first in primitive arrays (`pos`, `score`,
  * the first `size` slots). An offer enters iff it beats the worst kept
  * entry — a strictly better score (`>` when `higher`, `<` otherwise),
  * or an equal score at a lower `ids(pos)` — so ties pin to the lowest
  * corpus id whatever the scan order. Every top-k kernel, shortlist,
  * Hamming pre-screen (integer distances widened to `Double`, exactly)
  * and IVF probe-cell pick selects through this one class.
  */
private[graft] final class TopSelector(val cap: Int, higher: Boolean, val ids: Array[Long]) {
  val pos = new Array[Int](cap)
  val score = new Array[Double](cap)
  var size = 0

  def reset(): Unit = size = 0

  def offer(s: Double, p: Int): Unit =
    if (size < cap || (size > 0 && beats(s, p, size - 1))) insert(s, p)

  private def beats(s: Double, p: Int, at: Int): Boolean = {
    val w = score(at)
    if (higher) s > w || (s == w && ids(p) < ids(pos(at)))
    else s < w || (s == w && ids(p) < ids(pos(at)))
  }

  private def insert(s: Double, p: Int): Unit = {
    var at = if (size < cap) size else cap - 1
    while (at > 0 && beats(s, p, at - 1)) {
      score(at) = score(at - 1); pos(at) = pos(at - 1); at -= 1
    }
    score(at) = s; pos(at) = p
    if (size < cap) size += 1
  }

  /** The kept entries as a matches array: `(ids(pos), score)` structs. */
  def matches(): GenericArrayData = {
    val structs = new Array[Any](size)
    var r = 0
    while (r < size) { structs(r) = InternalRow(ids(pos(r)), score(r)); r += 1 }
    new GenericArrayData(structs)
  }

  /** Kept entry `r` ranks before entry `o` of `that`: the better score
    * in Spark's double order (-0.0 equals 0.0, NaN above every number),
    * then the lower id — the order of a `row_number` over
    * `(score desc|asc, index asc)`.
    */
  def precedes(r: Int, that: TopSelector, o: Int): Boolean = {
    val a = score(r)
    val b = that.score(o)
    val c = if (a == b) 0 else java.lang.Double.compare(a, b)
    if (c != 0) (if (higher) c > 0 else c < 0) else ids(pos(r)) < that.ids(that.pos(o))
  }
}

private[graft] object TopSelector {

  /** A full selector over a matches array (best-first, as
    * [[TopSelector.matches]] writes it): each entry keeps its own id.
    */
  def of(matches: ArrayData, higher: Boolean): TopSelector = {
    val n = matches.numElements()
    val sel = new TopSelector(n, higher, new Array[Long](n))
    while (sel.size < n) {
      val e = matches.getStruct(sel.size, 2)
      sel.ids(sel.size) = e.getLong(0); sel.pos(sel.size) = sel.size
      sel.score(sel.size) = e.getDouble(1); sel.size += 1
    }
    sel
  }

  /** The best `cut` entries of selectors over disjoint id sets, merged
    * k-way best-first ([[TopSelector.precedes]]) into one matches array.
    */
  def merged(sels: Array[TopSelector], cut: Int): GenericArrayData = {
    val at = new Array[Int](sels.length)
    var total = 0
    sels.foreach(total += _.size)
    total = math.min(total, cut)
    val structs = new Array[Any](total)
    var r = 0
    while (r < total) {
      var best = -1
      var s = 0
      while (s < sels.length) {
        if (at(s) < sels(s).size && (best < 0 || sels(s).precedes(at(s), sels(best), at(best))))
          best = s
        s += 1
      }
      val w = sels(best)
      val p = at(best)
      structs(r) = InternalRow(w.ids(w.pos(p)), w.score(p))
      at(best) = p + 1
      r += 1
    }
    new GenericArrayData(structs)
  }
}

/** One batch of non-null query rows as the frame packed them: row `i`
  * of `m` sits at offset `i * dim` of `q64` (an [[TopkFrame.F64]] pack)
  * or `q32` (the f32 packs), with its squared norm `qSq(i)` and norm
  * `qNorm(i)`. Buffers grow to the largest batch a partition sees and
  * are reused across its batches.
  */
private[graft] final class QueryBatch(val dim: Int, pack: TopkFrame.Pack) {
  var m = 0
  var q64: Array[Double] = null
  var q32: Array[Float] = null
  var qSq = new Array[Double](0)
  var qNorm = new Array[Double](0)

  private[graft] def ensure(rows: Int): Unit = if (qSq.length < rows) {
    if (pack == TopkFrame.F64) q64 = new Array[Double](rows * dim)
    else q32 = new Array[Float](rows * dim)
    qSq = new Array[Double](rows); qNorm = new Array[Double](rows)
  }

  private[operators] def put(i: Int, emb: ArrayData, f32In: Boolean): Unit = {
    if (emb.numElements() != dim) throw new IllegalArgumentException(
      s"Dimension mismatch: query has ${emb.numElements()} elements, corpus has $dim")
    val off = i * dim
    var sq = 0.0
    var d = 0
    pack match {
      case TopkFrame.F64 =>
        while (d < dim) {
          val v = if (f32In) emb.getFloat(d).toDouble else emb.getDouble(d)
          q64(off + d) = v; sq += v * v; d += 1
        }
      case TopkFrame.F32 =>
        var sf = 0.0f
        while (d < dim) { val v = emb.getFloat(d); q32(off + d) = v; sf += v * v; d += 1 }
        sq = sf.toDouble
      case TopkFrame.F32WideNorm =>
        while (d < dim) {
          val v = if (f32In) emb.getFloat(d).toDouble else emb.getDouble(d)
          q32(off + d) = v.toFloat; sq += v * v; d += 1
        }
    }
    qSq(i) = sq; qNorm(i) = math.sqrt(sq)
  }
}

/** A kernel's scoring body, built once per partition: for every packed
  * row `i < b.m` it offers the row's candidates into `sels(i)`, which
  * arrives empty with capacity k (after the clamp).
  */
private[graft] abstract class TopkBody(val ids: Array[Long]) {
  def score(b: QueryBatch, sels: Array[TopSelector]): Unit
}

/** A [[TopkBody]] that scores one query row at a time. */
private[graft] abstract class RowBody(ids: Array[Long]) extends TopkBody(ids) {
  def scoreRow(b: QueryBatch, i: Int, sel: TopSelector): Unit
  final def score(b: QueryBatch, sels: Array[TopSelector]): Unit = {
    var i = 0
    while (i < b.m) { scoreRow(b, i, sels(i)); i += 1 }
  }
}

/** The query side every top-k kernel shares, written once: the exact,
  * SQ8, BQ, IVF-BQ, PQ/OPQ and IVF-PQ/OPQ kernels (and `matmul`) supply
  * only their scoring body.
  *
  * The kernel contract:
  *  - Query column: `array<float>` or `array<double>`; any other type
  *    is refused by name before a job runs ("Query column emb must be
  *    array<float>/array<double>, got array<int>"). The nested output
  *    keeps every query column and adds a nullable
  *    `array<struct<index:bigint,score:double>>` column.
  *  - The flat output ([[TopkFrame.Flat]], [[TopkFrame.ShardedFlat]])
  *    is emitted by the frame itself, one row per (query row, match)
  *    in match order: the query columns minus the embedding, then
  *    non-null `rank: int` (1-based), `index: bigint` and
  *    `score: double` — rank first in the one-index forms, last in the
  *    sharded and wave forms. A query column with one of those names
  *    is replaced by the emitted one. It equals `posexplode` of the
  *    nested column, with no generator in the plan.
  *  - A null query embedding yields null matches, so no flat rows. A
  *    non-null embedding of the wrong length is refused ("Dimension
  *    mismatch: query has … elements, corpus has …"), whatever k is.
  *  - Clamps: with a mask (`allowedCount >= 0`) the served population
  *    is min(allowedCount, n), else n. k clamps to [0, population]:
  *    k ≤ 0 (or an empty population) yields empty arrays, and k above
  *    it returns every served row. A shortlist (`> 0`) clamps to the
  *    population too.
  *  - Order: best-first by score (descending for higher-is-better
  *    metrics, ascending for euclidean), equal scores by the lower
  *    corpus id ([[TopSelector]]), so results never depend on scan
  *    order, batch or partitioning.
  *  - Arithmetic: a score never depends on its batch either. The exact
  *    kernel ([[DotKernel]]) computes each dot as one sequential
  *    `Math.fma(q(d), c(d), acc)` chain over d = 0 … dim−1 from +0.0 —
  *    in f32 for an f32 query against an f32 corpus, else in f64 — then
  *    the metric in f64: cosine `s / (‖q‖·‖c‖)` (0.0 at a norm ≤ 1e-6 on
  *    the f32 path, ≤ 1e-10 on the f64 one), euclidean
  *    `sqrt(max(0, ‖q‖² + ‖c‖² − 2s))`. The approximate kernels score
  *    one query row at a time, or through a tile GEMM (SQ8) whose
  *    scores are not pinned to this arithmetic.
  */
private[graft] object TopkFrame {

  /** How the frame packs a query batch ([[QueryBatch]]). */
  sealed trait Pack
  /** f64 values and f64 norms: the per-row kernels and the f64 GEMM. */
  case object F64 extends Pack
  /** f32 values and f32-accumulated norms: the reference's both-f32
    * GEMM rule (an f32 query column only).
    */
  case object F32 extends Pack
  /** f32 values, f64 norms of the source values: SQ8's tile GEMM. */
  case object F32WideNorm extends Pack

  val MatchesType: ArrayType = ArrayType(StructType(Seq(
    StructField("index", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  /** True for an `array<float>` query column, false for
    * `array<double>`; refuses any other type by name.
    */
  def queryIsF32(schema: StructType, embCol: String): Boolean =
    schema(embCol).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case dt => throw new IllegalArgumentException(
        s"Query column $embCol must be array<float>/array<double>, got ${dt.simpleString}")
    }

  /** k and the shortlist (0: none) after the clamps (see the contract). */
  final case class Clamp(kk: Int, sl: Int)

  def clamp(n: Int, k: Int, shortlist: Int, allowedCount: Int): Clamp = {
    val nEff = if (allowedCount >= 0) math.min(allowedCount, n) else n
    val kk = math.min(math.max(k, 0), nEff)
    Clamp(kk, if (shortlist <= 0) 0 else math.min(shortlist, nEff))
  }

  /** A flat [[rows]] output: entry `j` of a query row's array value
    * becomes one row — the query columns minus the embedding (and minus
    * a carried column and any column named like a `tail` column), then
    * `tail`, whose values `entry()` (built once per partition) writes
    * into `vals` from index `at`.
    */
  final case class Expand(
      tail: Seq[StructField],
      entry: () => (ArrayData, Int, Array[Any], Int) => Unit)

  /** The query frame: each partition copies up to `batchRows` rows,
    * packs their non-null embeddings into one reused [[QueryBatch]] and
    * hands it to `body` (built once per partition), which fills
    * `out(i)` for packed row `i`; rows are emitted in input order with
    * `out` appended and null embeddings given a null `out`. With
    * `flat`, `out(i)` is an array and each of its entries is emitted as
    * a row instead ([[Expand]]); a null embedding or an empty array
    * emits none, as `posexplode` would. With
    * `spread > 1` (one body per index) a frame of P partitions,
    * 0 < P < the default parallelism, is first split round-robin into
    * min(default parallelism, P × spread) partitions: one shuffle of the
    * query rows and a second stage, which `plans/fused_serve/split.json`
    * weighs against serving the P partitions as they come. With
    * `carry`, `out` names a column the frame already has: it is replaced
    * in place, and `out(i)` arrives holding packed row `i`'s value of it.
    */
  def rows(
      queries: DataFrame,
      embCol: String,
      out: StructField,
      dim: Int,
      batchRows: Int,
      pack: Pack,
      spread: Int = 1,
      carry: Boolean = false,
      flat: Option[Expand] = None)(
      body: () => (QueryBatch, Array[AnyRef]) => Unit): DataFrame = {
    val schema = queries.schema
    val embIdx = schema.fieldIndex(embCol)
    val f32In = queryIsF32(schema, embCol)
    val fieldTypes = schema.fields.map(_.dataType)
    val outIdx = if (carry) schema.fieldIndex(out.name) else fieldTypes.length
    // a flat row keeps every query column but the embedding, the carried
    // one and one named like a tail column, which the tail replaces (as
    // `withColumn` would: a query frame may already carry a `score`)
    val sameName: (String, String) => Boolean =
      if (queries.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean) _ == _
      else _.equalsIgnoreCase(_)
    val tailNames = flat.fold(Seq.empty[String])(_.tail.map(_.name))
    val keep = fieldTypes.indices.filter(f => f != embIdx && f != outIdx &&
      !tailNames.exists(sameName(_, schema(f).name))).toArray
    val width = keep.length + flat.fold(0)(_.tail.length)
    val in = InternalRowBridge.toInternalRdd(queries)
    val cores = queries.sparkSession.sparkContext.defaultParallelism
    val parts = in.getNumPartitions
    val src = if (spread > 1 && parts > 0 && parts < cores)
      in.map(_.copy()).repartition(math.min(cores.toLong, parts.toLong * spread).toInt) else in
    val outRdd = src.mapPartitions { it =>
      val score = body()
      val entry = flat.map(_.entry()).orNull
      val b = new QueryBatch(dim, pack)
      // the scan reuses its rows, so each is copied into the batch
      val rows = new Array[InternalRow](batchRows)
      val packed = new Array[AnyRef](batchRows)
      new Iterator[InternalRow] {
        private var n = 0   // rows in the batch
        private var at = 0  // next row to take
        private var pi = 0  // its packed index, when non-null
        // flat: the taken row's kept columns, its entries and the next one
        private val base = new Array[Any](keep.length)
        private var ents: ArrayData = null
        private var len = 0
        private var j = 0
        private def more: Boolean = at < n || (it.hasNext && { fill(); true })
        def hasNext: Boolean =
          if (entry == null) more
          else {
            while (j >= len && more) {
              val row = rows(at)
              at += 1
              j = 0
              len = 0
              if (!row.isNullAt(embIdx)) {
                ents = packed(pi).asInstanceOf[ArrayData]; pi += 1
                len = ents.numElements()
                var f = 0
                while (f < keep.length) { base(f) = row.get(keep(f), fieldTypes(keep(f))); f += 1 }
              }
            }
            j < len
          }
        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          if (entry != null) {
            val vals = new Array[Any](width)
            System.arraycopy(base, 0, vals, 0, keep.length)
            entry(ents, j, vals, keep.length)
            j += 1
            new GenericInternalRow(vals)
          } else {
            val row = rows(at)
            val vals = new Array[Any](if (carry) fieldTypes.length else fieldTypes.length + 1)
            var f = 0
            while (f < fieldTypes.length) { vals(f) = row.get(f, fieldTypes(f)); f += 1 }
            if (!row.isNullAt(embIdx)) { vals(outIdx) = packed(pi); pi += 1 }
            at += 1
            new GenericInternalRow(vals)
          }
        }
        private def fill(): Unit = {
          n = 0; at = 0; pi = 0
          var m = 0
          while (n < batchRows && it.hasNext) {
            val r = it.next().copy()
            rows(n) = r; n += 1
            if (!r.isNullAt(embIdx)) m += 1
          }
          b.ensure(m)
          b.m = m
          var i = 0
          var r = 0
          while (r < n) {
            if (!rows(r).isNullAt(embIdx)) {
              b.put(i, rows(r).getArray(embIdx), f32In)
              if (carry) packed(i) = rows(r).get(outIdx, fieldTypes(outIdx))
              i += 1
            }
            r += 1
          }
          if (m > 0) score(b, packed)
        }
      }
    }
    InternalRowBridge.fromInternalRdd(queries.sparkSession, outRdd, StructType(flat match {
      case Some(e) => keep.map(schema.fields) ++ e.tail
      case None => if (carry) schema.fields.updated(outIdx, out) else schema.fields :+ out
    }))
  }

  /** What a top-k frame emits ([[selectShards]]). */
  sealed trait Layout
  /** One row per query row, its matches under the output column. */
  case object Nested extends Layout
  /** One row per (query row, match), in the order of its matches: the
    * query columns minus the embedding, then `rank` (1-based), `index`
    * and `score` — the one-index flat forms' shape.
    */
  case object Flat extends Layout
  /** [[Flat]] with `rank` last (`index`, `score`, `rank`) — the sharded
    * and wave flat forms' shape.
    */
  case object ShardedFlat extends Layout

  /** A flat layout's [[Expand]] of a matches array. */
  private def expandMatches(rankLast: Boolean): Expand = {
    val rank = StructField("rank", IntegerType, nullable = false)
    val hit = Seq(StructField("index", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))
    val (r, h) = if (rankLast) (2, 0) else (0, 1)
    Expand(if (rankLast) hit :+ rank else rank +: hit, () => (ms, j, vals, at) => {
      val e = ms.getStruct(j, 2)
      vals(at + r) = j + 1
      vals(at + h) = e.get(0, LongType)
      vals(at + h + 1) = e.get(1, DoubleType)
    })
  }

  /** The top-k frame over one index: [[selectShards]]' one-shard case. */
  def select(
      queries: DataFrame,
      embCol: String,
      outputCol: String,
      dim: Int,
      n: Int,
      k: Int,
      higher: Boolean,
      shortlist: Int = 0,
      allowedCount: Int = -1,
      batchRows: Int = 1,
      pack: Pack = F64,
      layout: Layout = Nested)(
      kernel: Clamp => TopkBody): DataFrame =
    selectShards(queries, embCol, outputCol, dim, Array(n), k, higher, shortlist,
      Array(allowedCount), batchRows, pack, layout = layout)((_, c) => kernel(c))

  /** The top-k frame over one or more indexes with disjoint ids, in one
    * pass: [[rows]] with the `outputCol` matches column; per index `s`
    * the clamps against its `ns(s)` rows and `allowedCounts(s)`, one
    * [[TopSelector]] of capacity min(k, served rows in s) per packed
    * row, and the body `kernel(s, clamp)` (built once per partition,
    * never when its k clamps to 0); then each row's selectors merge
    * best-first ([[TopSelector.merged]]) into min(k, Σ kept) matches.
    * One index emits its selector as is. With `carry`, `outputCol` is
    * already a matches column of `queries` holding each row's running
    * top-k over other indexes with disjoint ids: it merges in as one
    * more selector and the result replaces it (with no index served,
    * the carried matches come back as they were). A flat `layout`
    * emits each row's matches as rows ([[Flat]], [[ShardedFlat]]).
    */
  def selectShards(
      queries: DataFrame,
      embCol: String,
      outputCol: String,
      dim: Int,
      ns: Array[Int],
      k: Int,
      higher: Boolean,
      shortlist: Int,
      allowedCounts: Array[Int],
      batchRows: Int = 1,
      pack: Pack = F64,
      carry: Boolean = false,
      layout: Layout = Nested)(
      kernel: (Int, Clamp) => TopkBody): DataFrame = {
    val cs = ns.indices.map(s => clamp(ns(s), k, shortlist, allowedCounts(s))).toArray
    val served = cs.indices.filter(cs(_).kk > 0).toArray
    val flat = layout match {
      case Nested => None
      case Flat => Some(expandMatches(rankLast = false))
      case ShardedFlat => Some(expandMatches(rankLast = true))
    }
    rows(queries, embCol, StructField(outputCol, MatchesType, nullable = true), dim,
        batchRows, pack, ns.length, carry, flat) { () =>
      val bodies = served.map(s => kernel(s, cs(s)))
      val sels = served.map(_ => new Array[TopSelector](batchRows))
      val row = new Array[TopSelector](if (carry) served.length + 1 else served.length)
      val empty = new GenericArrayData(new Array[Any](0))
      (b, out) => {
        var j = 0
        while (j < served.length) {
          prepare(sels(j), b.m, cs(served(j)).kk, higher, bodies(j).ids)
          bodies(j).score(b, sels(j))
          j += 1
        }
        var i = 0
        while (i < b.m) {
          j = 0
          while (j < served.length) { row(j) = sels(j)(i); j += 1 }
          if (carry) row(j) = TopSelector.of(out(i).asInstanceOf[ArrayData], higher)
          out(i) = row.length match {
            case 0 => empty
            case 1 => row(0).matches()
            case _ => TopSelector.merged(row, k)
          }
          i += 1
        }
      }
    }
  }

  /** Empties `sels(0 until m)`, creating the missing selectors. */
  def prepare(sels: Array[TopSelector], m: Int, cap: Int, higher: Boolean,
      ids: Array[Long]): Unit = {
    var i = 0
    while (i < m) {
      if (sels(i) == null) sels(i) = new TopSelector(cap, higher, ids) else sels(i).reset()
      i += 1
    }
  }
}
