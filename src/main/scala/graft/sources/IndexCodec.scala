package graft.sources

import graft.operators.Similarity
import graft.operators.Similarity.{CorpusIndexBq, CorpusIndexIvfBq, CorpusIndexIvfPq,
  CorpusIndexPq, CorpusIndexSq8}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.reflect.ClassTag

/** The persisted form of every quantized index family, written once.
  * One index directory holds `meta/` (one row) and `vectors/` (one row
  * per stored vector); OPQ is the PQ form under `pq/` beside
  * [[ShardedLayout]]'s `rot/`, and a sharded index is one such
  * directory per shard. Per family this object owns:
  *
  *  - the meta row: one case class, its schema, one write and one read
  *    by column name with the legacy rules (a pre-`bit_cut` BQ/IVF-BQ
  *    meta reads with a null cut, which the restore derives and an
  *    append refuses; flat PQ's trailing `pq_k` and IVF-PQ's `k_pq` are
  *    written by appends only and default to `min(256, n)`; an IVF-BQ
  *    meta with `cell_start` marks the slot-keyed layout, which still
  *    reads and which append and compaction refuse);
  *  - the vectors row: one payload schema, the build write of a resident
  *    index and the restore from collected rows, with the corruption
  *    checks and the id-ascending canonical order every binary-search
  *    consumer of `ids` relies on. Every family keys its rows by pack
  *    position ([[Pos]]); IVF-BQ and IVF-PQ carry each row's cell, and
  *    their readers rebuild the CSR from the cells;
  *  - the frozen per-row [[Encode]] an append or a distributed build
  *    runs against stored artifacts, and the one BQ cut ([[BqCut]]).
  *
  * [[Sink]] and [[Source]] hold the lifecycle (publish, append
  * envelopes, sharding); every byte decision is made here.
  */
private[graft] object IndexCodec {

  private def field(name: String, dt: DataType, nullable: Boolean = false) =
    StructField(name, dt, nullable)
  private def arrayOf(dt: DataType) = ArrayType(dt, containsNull = false)

  /** Stored key of a vectors row: the pack position, then the id. */
  val Pos: Seq[StructField] = Seq(field("idx", IntegerType), field("id", LongType))

  /** Key of an encode pass's routed row: the shard, then the id. */
  val Routed: Seq[StructField] = Seq(field("shard", LongType), field("id", LongType))

  /** A vectors-row schema. `loose` marks every array and binary column
    * nullable, as a Dataset encoder does: the resident-index writes
    * carry that footer and the encode passes the strict one, each as
    * it always has.
    */
  def schema(key: Seq[StructField], payload: Seq[StructField], loose: Boolean = false): StructType =
    StructType((key ++ payload).map { c =>
      c.dataType match {
        case _: ArrayType | BinaryType if loose => c.copy(nullable = true)
        case _ => c
      }
    })

  private def writeMetaRow(spark: SparkSession, dir: String, schema: StructType,
      values: Seq[Any]): Unit =
    spark.createDataFrame(java.util.Collections.singletonList(Row.fromSeq(values)), schema)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/meta")

  /** A meta row read by column name. */
  private final class MetaRow(r: Row) {
    def has(c: String): Boolean = r.schema.fieldNames.contains(c)
    def int(c: String): Int = r.getInt(r.fieldIndex(c))
    def arr[T: ClassTag](c: String): Array[T] = r.getSeq[T](r.fieldIndex(c)).toArray
    /** null when the column is absent (a legacy layout) or null. */
    def opt[T: ClassTag](c: String): Array[T] =
      if (!has(c) || r.isNullAt(r.fieldIndex(c))) null else arr[T](c)
  }

  private def readMetaRow(spark: SparkSession, dir: String): MetaRow =
    new MetaRow(spark.read.parquet(s"$dir/meta").head())

  /** Per-row array widths `(width, what)` a restore of `n` rows allocates. */
  type Widths = Seq[(Long, String)]

  /** Whether `n` rows of these widths fit JVM arrays. */
  def fits(widths: Widths, n: Long): Boolean =
    n >= 0 && n <= Int.MaxValue && widths.forall(_._1 * n <= Int.MaxValue)

  def describe(widths: Widths): String =
    widths.map { case (w, what) => s"$w $what" }.mkString(" / ")

  /** A family's meta row: the stored row count, among its columns. */
  trait Stored { def n: Int }

  /** What the append bodies need of one family's meta. */
  trait Layout[M <: Stored] {
    def readMeta(spark: SparkSession, dir: String): M
    def writeMeta(spark: SparkSession, dir: String, m: M): Unit
    /** `m` holding `n` rows after an append (with any append-only column). */
    def grown(m: M, n: Int): M
    def widths(m: M): Widths
    /** The payload columns after a vectors row's key. */
    def payload: Seq[StructField]
  }

  /** A family's frozen per-row encode: the payload of one raw row. */
  trait Encode extends Serializable {
    def dim: Int
    def payload(v: Array[Double]): Seq[Any]
    /** `key ++ payload` of row `id`, its embedding checked by [[Sink.embDoubles]]. */
    final def row(key: Seq[Any], id: Long, emb: Seq[Any]): Row =
      Row.fromSeq(key ++ payload(Sink.embDoubles(id, emb, dim)))
  }

  /** Encode routed `(shard, id, emb)` rows scan-stage with each shard's
    * encode into `(shard, id, payload…)` rows, and hand them to `use`
    * while the encodes' broadcast lives. Raw vectors enter, code-width
    * rows leave.
    */
  def encodeRouted[T](spark: SparkSession, narrow: DataFrame, encodes: Map[Long, Encode],
      payload: Seq[StructField])(use: DataFrame => T): T = {
    val bc = spark.sparkContext.broadcast(encodes)
    try use(spark.createDataFrame(narrow.rdd.mapPartitions { it =>
      val es = bc.value
      it.map { r =>
        val sh = r.getLong(0)
        es(sh).row(Seq(sh, r.getLong(1)), r.getLong(1), r.getSeq[Any](2))
      }
    }, schema(Routed, payload)))
    finally bc.destroy()
  }

  /** Write a resident index's vectors rows executor-side from one
    * broadcast (a driver-side per-vector Seq would transiently double
    * the index at the broadcast-envelope ceiling), split so partitions
    * stay near 64 MB.
    */
  private def writeVectors[I: ClassTag](spark: SparkSession, ix: I, n: Int, bytesPerRow: Long,
      schema: StructType, dir: String)(row: (I, Int) => Row): Unit = {
    val slices = math.max(1, (n.toLong * bytesPerRow / (64L << 20)).toInt)
    val bc = spark.sparkContext.broadcast(ix)
    try spark.createDataFrame(
        spark.sparkContext.parallelize(0 until n, slices).map(j => row(bc.value, j)), schema)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/vectors")
    finally bc.destroy()
  }

  /** Collect a stored index's vectors rows (`cols` in order), refusing
    * a meta `n` past the JVM array cap or unequal to the row count.
    */
  private def collectRows(spark: SparkSession, dir: String, n: Int, widths: Widths,
      cols: String*): Array[Row] = {
    require(fits(widths, n), s"index holds $n rows × ${describe(widths)} — past the JVM " +
      "array cap; this index must be read as shards")
    val rows = spark.read.parquet(s"$dir/vectors").select(cols.map(col): _*).collect()
    require(rows.length == n, s"corrupt index: meta n=$n but ${rows.length} vector rows")
    rows
  }

  private def slice[T](a: Array[T], j: Int, w: Int): Array[T] = a.slice(j * w, (j + 1) * w)

  /** The pack position in column `at` of a stored row, refused by name outside `[0, n)`. */
  private def pos(r: Row, at: Int, n: Int): Int = {
    val j = r.getInt(at)
    require(j >= 0 && j < n, s"corrupt index: position $j outside [0, $n)")
    j
  }

  /** Copy one stored row's `w` values into `dst` at row `j`, by name refusing another length. */
  private def put(src: AnyRef, dst: AnyRef, j: Int, w: Int, what: String): Unit = {
    val len = if (src == null) -1 else java.lang.reflect.Array.getLength(src)
    require(len == w, s"corrupt index: row $j has ${if (len < 0) "no" else len.toString} " +
      s"$what, expected $w")
    System.arraycopy(src, 0, dst, j * w, w)
  }

  /** The id-ascending order of a restored pack, or null when it is
    * already sorted (every build-written pack). An appended pack is a
    * sorted old block then a sorted new block.
    */
  private def idOrder(ids: Array[Long]): Array[Int] = {
    var j = 1
    while (j < ids.length && ids(j - 1) < ids(j)) j += 1
    if (j >= ids.length) null else Array.range(0, ids.length).sortBy(ids(_))
  }

  /** Rows of width `w` of `a` in the order `p`. */
  private def permute[T: ClassTag](a: Array[T], w: Int, p: Array[Int]): Array[T] = {
    val out = new Array[T](a.length)
    var j = 0
    while (j < p.length) { System.arraycopy(a, p(j) * w, out, j * w, w); j += 1 }
    out
  }

  /** The SQ8 columns of a vectors row — a whole SQ8 index, BQ's and
    * IVF-BQ's envelope, or the PQ families' optional rerank sidecar.
    */
  private final class Sq8Rows(n: Int, dim: Int) {
    val codes = new Array[Byte](n * dim)
    val norms = new Array[Double](n)
    val sqNorms = new Array[Double](n)
    /** Row `j` from `r`'s code, norm and square norm at `at`, `at+1`, `at+2`. */
    def put(j: Int, r: Row, at: Int): Unit = {
      IndexCodec.put(r.getAs[AnyRef](at), codes, j, dim, "codes")
      norms(j) = r.getDouble(at + 1)
      sqNorms(j) = r.getDouble(at + 2)
    }
    def index(ids: Array[Long], dimMin: Array[Float], dimScale: Array[Float]): CorpusIndexSq8 =
      CorpusIndexSq8(ids, codes, n, dim, dimMin, dimScale, norms, sqNorms)
  }

  private def permuteSq8(s: CorpusIndexSq8, p: Array[Int], ids: Array[Long]): CorpusIndexSq8 =
    s.copy(ids = ids, codes = permute(s.codes, s.dim, p), norms = p.map(s.norms),
      sqNorms = p.map(s.sqNorms))

  /** SQ8-encode one row against a frozen grid: its codes and dequantized square norm. */
  private def sq8Encode(v: Array[Double], dimMin: Array[Float], dimScale: Array[Float])
      : (Array[Byte], Double) = {
    val codes = new Array[Byte](v.length)
    (codes, Similarity.sq8EncodeRow(v, 0, v.length, dimMin, dimScale, codes, 0))
  }

  private def rotated(rot: Array[Double], v: Array[Double]): Array[Double] =
    if (rot == null) v
    else {
      val out = new Array[Double](v.length)
      Similarity.rotateRow(rot, v, 0, v.length, out, 0)
      out
    }

  private def requireBounds(dim: Int, mn: Array[Float], sc: Array[Float], what: String): Unit =
    require(mn == null || (mn.length == dim && sc != null && sc.length == dim),
      s"corrupt index meta: dim=$dim but $what ${mn.length}/${if (sc == null) 0 else sc.length}")

  private val Sq8Payload = Seq(
    field("code", BinaryType), field("norm", DoubleType), field("sq_norm", DoubleType))

  private val SidecarPayload = Seq(field("sq8_code", BinaryType, nullable = true),
    field("sq8_norm", DoubleType, nullable = true),
    field("sq8_sq_norm", DoubleType, nullable = true))

  // ---------------------------------------------------------------- SQ8

  final case class Sq8Meta(n: Int, dim: Int, dimMin: Array[Float], dimScale: Array[Float])
      extends Stored

  object Sq8 extends Layout[Sq8Meta] {
    private val metaSchema = StructType(Seq(field("n", IntegerType), field("dim", IntegerType),
      field("dim_min", arrayOf(FloatType), nullable = true),
      field("dim_scale", arrayOf(FloatType), nullable = true)))

    def writeMeta(spark: SparkSession, dir: String, m: Sq8Meta): Unit =
      writeMetaRow(spark, dir, metaSchema, Seq(m.n, m.dim, m.dimMin, m.dimScale))

    def readMeta(spark: SparkSession, dir: String): Sq8Meta = {
      val r = readMetaRow(spark, dir)
      val m = Sq8Meta(r.int("n"), r.int("dim"), r.arr[Float]("dim_min"), r.arr[Float]("dim_scale"))
      requireBounds(m.dim, m.dimMin, m.dimScale, "bounds")
      m
    }

    def grown(m: Sq8Meta, n: Int): Sq8Meta = m.copy(n = n)
    def widths(m: Sq8Meta): Widths = Seq(m.dim.toLong -> "codes")
    val payload: Seq[StructField] = Sq8Payload

    def write(spark: SparkSession, cx: CorpusIndexSq8, dir: String): Unit = {
      writeVectors(spark, cx, cx.n, cx.dim, schema(Pos, payload, loose = true), dir) { (c, j) =>
        Row(j, c.ids(j), slice(c.codes, j, c.dim), c.norms(j), c.sqNorms(j))
      }
      writeMeta(spark, dir, Sq8Meta(cx.n, cx.dim, cx.dimMin, cx.dimScale))
    }

    def read(spark: SparkSession, dir: String): CorpusIndexSq8 = {
      val m = readMeta(spark, dir)
      val rows = collectRows(spark, dir, m.n, widths(m), "idx", "id", "code", "norm", "sq_norm")
      val ids = new Array[Long](m.n)
      val sq8 = new Sq8Rows(m.n, m.dim)
      rows.foreach { r => val j = pos(r, 0, m.n); ids(j) = r.getLong(1); sq8.put(j, r, 2) }
      val p = idOrder(ids)
      val cx = sq8.index(ids, m.dimMin, m.dimScale)
      if (p == null) cx else permuteSq8(cx, p, p.map(ids))
    }

    /** The frozen grid: codes, norm and square norm of a new row. */
    final case class Enc(m: Sq8Meta) extends Encode {
      def dim: Int = m.dim
      def payload(v: Array[Double]): Seq[Any] = {
        val (codes, sq) = sq8Encode(v, m.dimMin, m.dimScale)
        Seq(codes, math.sqrt(sq), sq)
      }
    }
  }

  // ----------------------------------------------------------------- BQ

  /** A corpus' BQ cut: the exact integer column totals of its SQ8 codes
    * and its row count. Integer sums are order-independent, so every
    * fold over every split of a corpus yields the same cut.
    */
  final case class BqCut(colSum: Array[Long], n: Long) {
    def +(o: BqCut): BqCut =
      BqCut(Array.tabulate(colSum.length)(d => colSum(d) + o.colSum(d)), n + o.n)

    /** Per dim, the smallest code whose bit is set: ⌊Σcode/n⌋ + 1
      * (code·n > Σcode exactly, whether or not n divides Σcode).
      */
    def bitCut: Array[Int] = colSum.map(s => (s / n + 1L).toInt)

    /** The same cut as f64 on the raw-value grid, for the query side. */
    def thresholds(dimMin: Array[Float], dimScale: Array[Float]): Array[Double] =
      Array.tabulate(colSum.length)(d => dimMin(d) + (colSum(d).toDouble / n) * dimScale(d))
  }

  object BqCut {
    /** Add the `acc.length` codes of `codes` at `off` to the totals. */
    def add(acc: Array[Long], codes: Array[Byte], off: Int): Unit = {
      var d = 0
      while (d < acc.length) { acc(d) += (codes(off + d) & 0xFF).toLong; d += 1 }
    }

    def of(sq8: CorpusIndexSq8): BqCut = {
      val acc = new Array[Long](sq8.dim)
      var j = 0
      while (j < sq8.n) { add(acc, sq8.codes, j * sq8.dim); j += 1 }
      BqCut(acc, sq8.n)
    }

    /** The corpus-global cut over shards' envelopes, one at a time. */
    def global(sq8s: Iterator[CorpusIndexSq8]): BqCut = sq8s.map(of).reduce(_ + _)
  }

  /** `bitCut` is null for a pre-`bit_cut` layout. */
  final case class BqMeta(n: Int, dim: Int, nWords: Int, thresholds: Array[Double],
      dimMin: Array[Float], dimScale: Array[Float], bitCut: Array[Int]) extends Stored

  object Bq extends Layout[BqMeta] {
    private val metaSchema = StructType(Seq(field("n", IntegerType), field("dim", IntegerType),
      field("n_words", IntegerType), field("thresholds", arrayOf(DoubleType), nullable = true),
      field("dim_min", arrayOf(FloatType), nullable = true),
      field("dim_scale", arrayOf(FloatType), nullable = true),
      field("bit_cut", arrayOf(IntegerType), nullable = true)))

    def writeMeta(spark: SparkSession, dir: String, m: BqMeta): Unit =
      writeMetaRow(spark, dir, metaSchema,
        Seq(m.n, m.dim, m.nWords, m.thresholds, m.dimMin, m.dimScale, m.bitCut))

    def readMeta(spark: SparkSession, dir: String): BqMeta = {
      val r = readMetaRow(spark, dir)
      check(BqMeta(r.int("n"), r.int("dim"), r.int("n_words"), r.arr[Double]("thresholds"),
        r.arr[Float]("dim_min"), r.arr[Float]("dim_scale"), r.opt[Int]("bit_cut")))
    }

    /** `m`, refused by name when its widths disagree with `dim`. */
    private[IndexCodec] def check(m: BqMeta): BqMeta = {
      require(m.nWords == (m.dim + 63) >>> 6,
        s"corrupt index meta: dim=${m.dim} implies ${(m.dim + 63) >>> 6} words, got ${m.nWords}")
      require(m.thresholds.length == m.dim && (m.bitCut == null || m.bitCut.length == m.dim),
        s"corrupt index meta: dim=${m.dim} but thresholds=${m.thresholds.length}" +
          (if (m.bitCut != null) s" bit_cut=${m.bitCut.length}" else ""))
      requireBounds(m.dim, m.dimMin, m.dimScale, "bounds")
      m
    }

    def grown(m: BqMeta, n: Int): BqMeta = m.copy(n = n)
    def widths(m: BqMeta): Widths = rowWidths(m.dim)
    /** The words and codes of one row of `dim` dims. */
    def rowWidths(dim: Int): Widths =
      Seq(((dim + 63) >>> 6).toLong -> "words", dim.toLong -> "codes")
    val payload: Seq[StructField] = field("words", arrayOf(LongType)) +: Sq8Payload

    /** `m`, refused by name when it predates `bit_cut`: an append
      * needs the frozen integer cut. `upgrade` says how to re-persist.
      */
    def appendable(m: BqMeta, family: String, path: String, upgrade: String): BqMeta = {
      require(m.bitCut != null, s"the $family index at $path predates the bit_cut meta " +
        s"column — appends need the frozen integer threshold; $upgrade")
      m
    }

    /** How a refused sharded BQ (`family` "Bq") or IVF-BQ ("IvfBq")
      * index at `path` upgrades. The build must carry the manifest's
      * routing identity: a build that dropped an empty hash shard does
      * not route by directory number, and no reader returns the identity.
      */
    def shardedUpgrade(family: String, path: String): String =
      s"to upgrade the layout, read the shards and tombstones with " +
        s"read${family}ShardedIndexWithTombstones, build a Sharded${family}Build from those " +
        s"shards and the hash_modulus and shard_hash_vals columns of $path/manifest, " +
        s"re-persist it with write${family}ShardedIndex and re-apply any tombstones with " +
        s"deleteFrom${family}ShardedIndex"

    /** Refuse by name shards' metas that do not all cut on shard 0's
      * grid and threshold: a sharded BQ or IVF-BQ index's frozen encode
      * artifacts are corpus-global, so a mixed-grid index is corrupt.
      */
    def requireOneCut(metas: IndexedSeq[BqMeta]): Unit = {
      val b = metas(0)
      metas.zipWithIndex.foreach { case (a, i) =>
        require(a.dim == b.dim && a.nWords == b.nWords && a.bitCut.sameElements(b.bitCut) &&
          a.thresholds.sameElements(b.thresholds) && a.dimMin.sameElements(b.dimMin) &&
          a.dimScale.sameElements(b.dimScale),
          s"shard $i cuts on a different grid/threshold than shard 0 — corrupt index")
      }
    }

    /** Set the bits of the `cut.length` codes at `off`: bit `d` iff `code(d) >= cut(d)`. */
    def setBits(codes: Array[Byte], off: Int, cut: Array[Int], words: Array[Long],
        wOff: Int): Unit = {
      var d = 0
      while (d < cut.length) {
        if ((codes(off + d) & 0xFF) >= cut(d)) words(wOff + (d >>> 6)) |= 1L << (d & 63)
        d += 1
      }
    }

    def write(spark: SparkSession, bx: CorpusIndexBq, dir: String): Unit = {
      writeVectors(spark, bx, bx.n, 8L * bx.nWords + bx.dim, schema(Pos, payload, loose = true),
        dir) { (x, j) =>
        Row(j, x.ids(j), slice(x.words, j, x.nWords), slice(x.sq8.codes, j, x.dim),
          x.sq8.norms(j), x.sq8.sqNorms(j))
      }
      writeMeta(spark, dir, BqMeta(bx.n, bx.dim, bx.nWords, bx.thresholds, bx.sq8.dimMin,
        bx.sq8.dimScale, bx.bitCut))
    }

    /** A pre-`bit_cut` index restores with the cut derived from its
      * stored codes: exact for any written index (the build cut on
      * exactly these codes, and no append accepts the old layout); a
      * compacted one gets its own mean cut, which leaves the stored
      * bits and query thresholds, and so every serve, untouched.
      */
    def read(spark: SparkSession, dir: String): CorpusIndexBq = {
      val m = readMeta(spark, dir)
      val rows = collectRows(spark, dir, m.n, widths(m), "idx", "id", "words", "code", "norm",
        "sq_norm")
      val ids = new Array[Long](m.n)
      val words = new Array[Long](m.n * m.nWords)
      val sq8 = new Sq8Rows(m.n, m.dim)
      rows.foreach { r =>
        val j = pos(r, 0, m.n)
        ids(j) = r.getLong(1)
        put(r.getSeq[Long](2).toArray, words, j, m.nWords, "words")
        sq8.put(j, r, 3)
      }
      val env = sq8.index(ids, m.dimMin, m.dimScale)
      val bx = CorpusIndexBq(ids, words, m.n, m.dim, m.nWords, m.thresholds,
        if (m.bitCut != null) m.bitCut else BqCut.of(env).bitCut, env)
      val p = idOrder(ids)
      if (p == null) bx
      else {
        val pIds = p.map(ids)
        bx.copy(ids = pIds, words = permute(words, m.nWords, p), sq8 = permuteSq8(env, p, pIds))
      }
    }

    /** The frozen grid and cut: bits, codes, norm and square norm of a new row. */
    final case class Enc(m: BqMeta) extends Encode {
      def dim: Int = m.dim
      /** A row's codes, dequantized square norm and bits. */
      def encode(v: Array[Double]): (Array[Byte], Double, Array[Long]) = {
        val (codes, sq) = sq8Encode(v, m.dimMin, m.dimScale)
        val words = new Array[Long](m.nWords)
        setBits(codes, 0, m.bitCut, words, 0)
        (codes, sq, words)
      }
      def payload(v: Array[Double]): Seq[Any] = {
        val (codes, sq, words) = encode(v)
        Seq(words, codes, math.sqrt(sq), sq)
      }
    }
  }

  // ------------------------------------------------------------- IVF-BQ

  /** `bitCut` is null for a pre-`bit_cut` layout; `slotStart` is the
    * `cell_start` of the slot-keyed layout (null for the current one),
    * read only: see [[IvfBq.read]].
    */
  final case class IvfBqMeta(n: Int, dim: Int, nWords: Int, nCells: Int, centroids: Array[Double],
      thresholds: Array[Double], dimMin: Array[Float], dimScale: Array[Float],
      bitCut: Array[Int], slotStart: Array[Int]) extends Stored {
    def bq: BqMeta = BqMeta(n, dim, nWords, thresholds, dimMin, dimScale, bitCut)
  }

  object IvfBq extends Layout[IvfBqMeta] {
    private val metaSchema = StructType(Seq(field("n", IntegerType), field("dim", IntegerType),
      field("n_words", IntegerType), field("n_cells", IntegerType),
      field("centroids", arrayOf(DoubleType), nullable = true),
      field("thresholds", arrayOf(DoubleType), nullable = true),
      field("dim_min", arrayOf(FloatType), nullable = true),
      field("dim_scale", arrayOf(FloatType), nullable = true),
      field("bit_cut", arrayOf(IntegerType), nullable = true)))

    def writeMeta(spark: SparkSession, dir: String, m: IvfBqMeta): Unit =
      writeMetaRow(spark, dir, metaSchema, Seq(m.n, m.dim, m.nWords, m.nCells, m.centroids,
        m.thresholds, m.dimMin, m.dimScale, m.bitCut))

    def readMeta(spark: SparkSession, dir: String): IvfBqMeta = {
      val r = readMetaRow(spark, dir)
      val m = IvfBqMeta(r.int("n"), r.int("dim"), r.int("n_words"), r.int("n_cells"),
        r.arr[Double]("centroids"), r.arr[Double]("thresholds"), r.arr[Float]("dim_min"),
        r.arr[Float]("dim_scale"), r.opt[Int]("bit_cut"), r.opt[Int]("cell_start"))
      Bq.check(m.bq)
      require(m.centroids.length == m.nCells.toLong * m.dim,
        s"corrupt index meta: ${m.centroids.length} centroid values for " +
          s"nCells=${m.nCells} dim=${m.dim}")
      val ss = m.slotStart
      require(ss == null || (ss.length == m.nCells + 1 && ss(0) == 0 && ss(m.nCells) == m.n &&
          (0 until m.nCells).forall(c => ss(c) <= ss(c + 1))),
        s"corrupt index meta: n=${m.n} nCells=${m.nCells} but cell_start=${ss.mkString(",")}")
      m
    }

    def grown(m: IvfBqMeta, n: Int): IvfBqMeta = m.copy(n = n)
    def widths(m: IvfBqMeta): Widths = Bq.widths(m.bq)
    /** A row's cell, then its BQ payload. */
    val payload: Seq[StructField] = field("cell", IntegerType) +: Bq.payload

    /** `m`, refused by name when it is the slot-keyed layout: appends
      * and compaction rewrite rows by pack position and meta by `n`.
      */
    def current(m: IvfBqMeta, path: String): IvfBqMeta = {
      require(m.slotStart == null, s"the IVF+BQ index at $path stores one row per CSR slot " +
        "with cell_start in meta (the layout before rows carried their cell); " +
        Bq.shardedUpgrade("IvfBq", path))
      m
    }

    /** `m`, refused by name unless an append can grow it. */
    def appendable(m: IvfBqMeta, path: String): IvfBqMeta = {
      Bq.appendable(current(m, path).bq, "IVF+BQ", path, Bq.shardedUpgrade("IvfBq", path))
      m
    }

    def write(spark: SparkSession, ix: CorpusIndexIvfBq, dir: String): Unit = {
      val slotOf = new Array[Int](ix.n) // row -> its CSR slot, where its bits sit
      var p = 0
      while (p < ix.n) { slotOf(ix.cellMembers(p)) = p; p += 1 }
      writeVectors(spark, (ix, slotOf), ix.n, 8L * ix.nWords + ix.dim,
        schema(Pos, payload, loose = true), dir) { case ((x, slot), j) =>
        Row(j, x.ids(j), x.cellOf(j), slice(x.words, slot(j), x.nWords),
          slice(x.sq8.codes, j, x.dim), x.sq8.norms(j), x.sq8.sqNorms(j))
      }
      writeMeta(spark, dir, IvfBqMeta(ix.n, ix.dim, ix.nWords, ix.nCells, ix.centroids,
        ix.thresholds, ix.sq8.dimMin, ix.sq8.dimScale, ix.bitCut, null))
    }

    /** Restored id-ascending, the CSR rebuilt from the per-row cells and
      * the bits repacked into CSR-slot order ([[Similarity.ivfBqIndex]]).
      * The slot-keyed layout (rows keyed `(slot, row, id)`, each with the
      * bits of its slot, and `cell_start` in meta) reads to the same
      * index, a row's cell taken from its slot's bracket; a pre-`bit_cut`
      * layout derives the cut as [[Bq.read]] does.
      */
    def read(spark: SparkSession, dir: String): CorpusIndexIvfBq = {
      val m = readMeta(spark, dir)
      // the slot-keyed layout: the cell of each CSR slot
      val slotCell = if (m.slotStart == null) null
        else Array.tabulate(m.nCells)(c => Array.fill(m.slotStart(c + 1) - m.slotStart(c))(c))
          .flatten
      val rows = collectRows(spark, dir, m.n, widths(m),
        (if (slotCell == null) Seq("idx", "id", "cell") else Seq("row", "id", "slot")) ++
          Seq("words", "code", "norm", "sq_norm"): _*)
      val ids = new Array[Long](m.n)
      val cellOf = new Array[Int](m.n)
      val words = new Array[Long](m.n * m.nWords)
      val sq8 = new Sq8Rows(m.n, m.dim)
      rows.foreach { r =>
        val j = pos(r, 0, m.n)
        ids(j) = r.getLong(1)
        cellOf(j) = if (slotCell == null) r.getInt(2) else slotCell(pos(r, 2, m.n))
        put(r.getSeq[Long](3).toArray, words, j, m.nWords, "words")
        sq8.put(j, r, 4)
      }
      val p = idOrder(ids)
      val env = sq8.index(ids, m.dimMin, m.dimScale)
      val (fIds, fWords, fCellOf, fEnv) =
        if (p == null) (ids, words, cellOf, env)
        else {
          val pIds = p.map(ids)
          (pIds, permute(words, m.nWords, p), p.map(cellOf), permuteSq8(env, p, pIds))
        }
      Similarity.ivfBqIndex(fEnv, m.nCells, m.centroids, fWords, m.nWords, m.thresholds,
        if (m.bitCut != null) m.bitCut else BqCut.of(env).bitCut, fCellOf)
    }

    /** Row `off` of SQ8 `codes` decoded and unit-normalized into `out`
      * (zero-norm rows stay zero): what IVF-BQ cells train and assign on.
      */
    def decodeUnit(codes: Array[Byte], off: Int, dimMin: Array[Float], dimScale: Array[Float],
        nrm: Double, out: Array[Double], outOff: Int): Unit =
      if (nrm > 1e-10) {
        var d = 0
        while (d < dimMin.length) {
          out(outOff + d) = (dimMin(d) + (codes(off + d) & 0xFF) * dimScale(d).toDouble) / nrm
          d += 1
        }
      }

    /** The frozen grid, cut and cells of one shard: a new row's cell
      * (decoded, unit-normalized, strict-max dot, ties to the lowest
      * cell — the build's rule), then its BQ payload.
      */
    final case class Enc(m: IvfBqMeta) extends Encode {
      private val bq = Bq.Enc(m.bq)
      def dim: Int = m.dim
      def payload(v: Array[Double]): Seq[Any] = {
        val (codes, sq, words) = bq.encode(v)
        val nrm = math.sqrt(sq)
        val unit = new Array[Double](dim)
        decodeUnit(codes, 0, m.dimMin, m.dimScale, nrm, unit, 0)
        Seq(Similarity.assignCell(unit, 0, m.centroids, m.nCells, dim), words, codes, nrm, sq)
      }
    }
  }

  // ----------------------------------------------------------------- PQ

  /** `sq8Min`/`sq8Scale` are null without the rerank sidecar; `k` is
    * the trained codebook count an append recorded (`pq_k`), 0 when
    * none did.
    */
  final case class PqMeta(n: Int, dim: Int, m: Int, codebooks: Array[Float],
      sq8Min: Array[Float], sq8Scale: Array[Float], k: Int) extends Stored {
    /** The build trains `min(256, n)` entries and leaves the rest of
      * each 256-slot block zero; encoding against those would corrupt
      * a code, so every append records the build's count.
      */
    def trained: Int = if (k > 0) k else math.max(1, math.min(256, n))
  }

  object Pq extends Layout[PqMeta] {
    private val metaSchema = StructType(Seq(field("n", IntegerType), field("dim", IntegerType),
      field("m", IntegerType), field("codebooks", arrayOf(FloatType), nullable = true),
      field("sq8_dim_min", arrayOf(FloatType), nullable = true),
      field("sq8_dim_scale", arrayOf(FloatType), nullable = true), field("pq_k", IntegerType)))

    def writeMeta(spark: SparkSession, dir: String, m: PqMeta): Unit = {
      val values = Seq(m.n, m.dim, m.m, m.codebooks, m.sq8Min, m.sq8Scale)
      if (m.k > 0) writeMetaRow(spark, dir, metaSchema, values :+ m.k)
      else writeMetaRow(spark, dir, StructType(metaSchema.init), values)
    }

    def readMeta(spark: SparkSession, dir: String): PqMeta = {
      val r = readMetaRow(spark, dir)
      val m = PqMeta(r.int("n"), r.int("dim"), r.int("m"), r.arr[Float]("codebooks"),
        r.opt[Float]("sq8_dim_min"), r.opt[Float]("sq8_dim_scale"),
        if (r.has("pq_k")) r.int("pq_k") else 0)
      require(m.m >= 1 && m.dim % m.m == 0 && m.codebooks.length == m.m * 256 * (m.dim / m.m),
        s"corrupt index meta: ${m.codebooks.length} codebook values for dim=${m.dim} m=${m.m}")
      requireBounds(m.dim, m.sq8Min, m.sq8Scale, "sidecar bounds")
      m
    }

    def grown(m: PqMeta, n: Int): PqMeta = m.copy(n = n, k = m.trained)
    def widths(m: PqMeta): Widths = pqWidths(m.m, m.dim, m.sq8Min)
    val payload: Seq[StructField] =
      Seq(field("code", BinaryType), field("norm", FloatType), field("sq_norm", FloatType)) ++
        SidecarPayload

    def write(spark: SparkSession, px: CorpusIndexPq, dir: String): Unit = {
      writeVectors(spark, px, px.n, px.m + px.sq8.map(_ => px.dim).getOrElse(0),
        schema(Pos, payload, loose = true), dir) { (x, j) =>
        Row.fromSeq(Seq(j, x.ids(j), slice(x.codes, j, x.m), x.norms(j), x.sqNorms(j)) ++
          sidecarAt(x.sq8, j))
      }
      writeMeta(spark, dir, PqMeta(px.n, px.dim, px.m, px.codebooks,
        px.sq8.map(_.dimMin).orNull, px.sq8.map(_.dimScale).orNull, 0))
    }

    def read(spark: SparkSession, dir: String): CorpusIndexPq = {
      val m = readMeta(spark, dir)
      val rows = collectRows(spark, dir, m.n, widths(m), "idx", "id", "code", "norm", "sq_norm",
        "sq8_code", "sq8_norm", "sq8_sq_norm")
      val ids = new Array[Long](m.n)
      val codes = new Array[Byte](m.n * m.m)
      val norms = new Array[Float](m.n)
      val sqNorms = new Array[Float](m.n)
      val sq8 = Option(m.sq8Min).map(_ => new Sq8Rows(m.n, m.dim))
      rows.foreach { r =>
        val j = pos(r, 0, m.n)
        ids(j) = r.getLong(1)
        put(r.getAs[AnyRef](2), codes, j, m.m, "codes")
        norms(j) = r.getFloat(3)
        sqNorms(j) = r.getFloat(4)
        sq8.foreach(_.put(j, r, 5))
      }
      val px = CorpusIndexPq(ids, codes, m.n, m.dim, m.m, m.codebooks, norms, sqNorms,
        sq8.map(_.index(ids, m.sq8Min, m.sq8Scale)))
      val p = idOrder(ids)
      if (p == null) px
      else {
        val pIds = p.map(ids)
        px.copy(ids = pIds, codes = permute(codes, m.m, p), norms = p.map(norms),
          sqNorms = p.map(sqNorms), sq8 = px.sq8.map(permuteSq8(_, p, pIds)))
      }
    }

    /** The frozen rotation (OPQ; null for PQ), codebooks over the trained
      * entries and sidecar grid: a new row's PQ codes, its exact norms
      * (stored f32), and its sidecar on the dequantized grid — all in
      * rotated space, where the build quantized.
      */
    final case class Enc(m: PqMeta, rot: Array[Double]) extends Encode {
      def dim: Int = m.dim
      def payload(raw: Array[Double]): Seq[Any] = {
        val v = rotated(rot, raw)
        val code = new Array[Byte](m.m)
        Similarity.pqEncodeRow(v, 0, dim, m.m, dim / m.m, m.trained, m.codebooks, code, 0)
        var sq = 0.0
        var d = 0
        while (d < dim) { sq += v(d) * v(d); d += 1 }
        Seq(code, math.sqrt(sq).toFloat, sq.toFloat) ++ sidecar(v, m.sq8Min, m.sq8Scale)
      }
    }
  }

  private def pqWidths(m: Int, dim: Int, sq8Min: Array[Float]): Widths =
    Seq(m.toLong -> "codes") ++ Option(sq8Min).map(_ => dim.toLong -> "rerank codes")

  private def sidecarAt(sq8: Option[CorpusIndexSq8], j: Int): Seq[Any] = sq8 match {
    case Some(s) => Seq(slice(s.codes, j, s.dim), s.norms(j), s.sqNorms(j))
    case None => Seq(null, null, null)
  }

  /** The rerank sidecar of `v` on a frozen grid (nulls without one). */
  private def sidecar(v: Array[Double], mn: Array[Float], sc: Array[Float]): Seq[Any] =
    if (mn == null) Seq(null, null, null)
    else {
      val (codes, sq) = sq8Encode(v, mn, sc)
      Seq(codes, math.sqrt(sq), sq)
    }

  // ------------------------------------------------------------- IVF-PQ

  /** One shard's trained model. `sq8Min`/`sq8Scale` are null without
    * the residual rerank sidecar; `kPq` is the trained codebook count
    * an append recorded (`k_pq`), 0 when none did.
    */
  final case class IvfPqMeta(n: Int, dim: Int, m: Int, nCells: Int, centroids: Array[Double],
      codebooks: Array[Float], sq8Min: Array[Float], sq8Scale: Array[Float], kPq: Int)
      extends Stored {
    /** A build's `n` is its training corpus, so `min(256, n)` is its
      * trained count until an append records it.
      */
    def trained: Int = if (kPq > 0) kPq else math.min(256, n)
  }

  object IvfPq extends Layout[IvfPqMeta] {
    private val metaSchema = StructType(Seq(field("n", IntegerType), field("dim", IntegerType),
      field("m", IntegerType), field("n_cells", IntegerType),
      field("centroids", arrayOf(DoubleType), nullable = true),
      field("codebooks", arrayOf(FloatType), nullable = true),
      field("sq8_dim_min", arrayOf(FloatType), nullable = true),
      field("sq8_dim_scale", arrayOf(FloatType), nullable = true), field("k_pq", IntegerType)))

    def writeMeta(spark: SparkSession, dir: String, m: IvfPqMeta): Unit = {
      val values = Seq(m.n, m.dim, m.m, m.nCells, m.centroids, m.codebooks, m.sq8Min, m.sq8Scale)
      if (m.kPq > 0) writeMetaRow(spark, dir, metaSchema, values :+ m.kPq)
      else writeMetaRow(spark, dir, StructType(metaSchema.init), values)
    }

    def readMeta(spark: SparkSession, dir: String): IvfPqMeta = {
      val r = readMetaRow(spark, dir)
      val m = IvfPqMeta(r.int("n"), r.int("dim"), r.int("m"), r.int("n_cells"),
        r.arr[Double]("centroids"), r.arr[Float]("codebooks"), r.opt[Float]("sq8_dim_min"),
        r.opt[Float]("sq8_dim_scale"), if (r.has("k_pq")) r.int("k_pq") else 0)
      require(m.centroids.length == m.nCells.toLong * m.dim,
        s"corrupt index meta: ${m.centroids.length} centroid values for " +
          s"nCells=${m.nCells} dim=${m.dim}")
      require(m.m >= 1 && m.dim % m.m == 0 && m.codebooks.length == m.m * 256 * (m.dim / m.m),
        s"corrupt index meta: ${m.codebooks.length} codebook values for dim=${m.dim} m=${m.m}")
      requireBounds(m.dim, m.sq8Min, m.sq8Scale, "sidecar bounds")
      m
    }

    def grown(m: IvfPqMeta, n: Int): IvfPqMeta = m.copy(n = n, kPq = m.trained)
    def widths(m: IvfPqMeta): Widths = pqWidths(m.m, m.dim, m.sq8Min)
    val payload: Seq[StructField] =
      Seq(field("code", BinaryType), field("cell", IntegerType)) ++ SidecarPayload

    def write(spark: SparkSession, ix: CorpusIndexIvfPq, dir: String): Unit = {
      writeVectors(spark, ix, ix.n, ix.m + ix.sq8.map(_ => ix.dim).getOrElse(0),
        schema(Pos, payload, loose = true), dir) { (x, j) =>
        Row.fromSeq(Seq(j, x.ids(j), slice(x.codes, j, x.m), x.cellOf(j)) ++ sidecarAt(x.sq8, j))
      }
      writeMeta(spark, dir, IvfPqMeta(ix.n, ix.dim, ix.m, ix.nCells, ix.centroids, ix.codebooks,
        ix.sq8.map(_.dimMin).orNull, ix.sq8.map(_.dimScale).orNull, 0))
    }

    /** Restored id-ascending, the CSR rebuilt from the per-row cells. */
    def read(spark: SparkSession, dir: String): CorpusIndexIvfPq = {
      val m = readMeta(spark, dir)
      val rows = collectRows(spark, dir, m.n, widths(m), "idx", "id", "code", "cell", "sq8_code",
        "sq8_norm", "sq8_sq_norm")
      val ids = new Array[Long](m.n)
      val codes = new Array[Byte](m.n * m.m)
      val cellOf = new Array[Int](m.n)
      val sq8 = Option(m.sq8Min).map(_ => new Sq8Rows(m.n, m.dim))
      rows.foreach { r =>
        val j = pos(r, 0, m.n)
        ids(j) = r.getLong(1)
        put(r.getAs[AnyRef](2), codes, j, m.m, "codes")
        cellOf(j) = r.getInt(3)
        sq8.foreach(_.put(j, r, 4))
      }
      val p = idOrder(ids)
      val env = sq8.map(_.index(ids, m.sq8Min, m.sq8Scale))
      val (fIds, fCodes, fCellOf, fSq8) =
        if (p == null) (ids, codes, cellOf, env)
        else {
          val pIds = p.map(ids)
          (pIds, permute(codes, m.m, p), p.map(cellOf), env.map(permuteSq8(_, p, pIds)))
        }
      val (cellStart, cellMembers) = Similarity.buildCsr(fCellOf, m.nCells)
      CorpusIndexIvfPq(fIds, m.n, m.dim, m.m, m.nCells, m.centroids, fCodes, m.codebooks,
        fCellOf, cellStart, cellMembers, fSq8)
    }

    /** One shard's frozen model (and the OPQ rotation, or null): a new
      * row rotates, unit-normalizes, takes its strict-max cell, and its
      * residual PQ-encodes over the trained codebook entries with the
      * sidecar on the frozen residual grid — the build's arithmetic
      * through the same helpers.
      */
    final case class Enc(m: IvfPqMeta, rot: Array[Double]) extends Encode {
      def dim: Int = m.dim

      /** The row's cell and its residual from that cell's centroid. */
      def residual(raw: Array[Double]): (Int, Array[Double]) = {
        val u = Sink.unitVec(rotated(rot, raw))
        val cell = Similarity.assignCell(u, 0, m.centroids, m.nCells, dim)
        val res = new Array[Double](dim)
        var d = 0
        while (d < dim) { res(d) = u(d) - m.centroids(cell * dim + d); d += 1 }
        (cell, res)
      }

      def payload(raw: Array[Double]): Seq[Any] = {
        val (cell, res) = residual(raw)
        val code = new Array[Byte](m.m)
        Similarity.pqEncodeRow(res, 0, dim, m.m, dim / m.m, m.trained, m.codebooks, code, 0)
        Seq(code, cell) ++ sidecar(res, m.sq8Min, m.sq8Scale)
      }
    }
  }
}
