package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Read-side of the pipeline — the reference's scan surface
  * (read_parquet / read_csv / read_ndjson) with the defaults a 100 TB
  * job needs:
  *
  *  - **Schema is EXPLICIT for text formats.** Inference is a full
  *    extra pass over the input before the real job starts — fine for
  *    a laptop CSV, catastrophic for a petabyte of JSONL. Callers
  *    declare the schema once; every scan is single-pass.
  *  - **Malformed rows are visible, not silent.** Default mode is
  *    PERMISSIVE with a `_corrupt_record` column the caller can count
  *    / quarantine (a curation pipeline WANTS the bad rows — they are
  *    a data-quality signal); `failFast = true` turns ingest errors
  *    into job failures for contexts where partial data is worse than
  *    no data.
  *  - **Parquet stays self-describing** — its footer IS the schema,
  *    so [[parquet]] takes none and scans get row-group pruning,
  *    predicate pushdown, and column projection from the format
  *    (asserted in SourceSpec / PlanAuditSpec).
  */
object Source {

  val CorruptCol = "_corrupt_record"

  /** Parquet scan — thin by design: pushdown/pruning come from the
    * format, and the schema from the footer. Exists so pipeline code
    * reads every format through one namespace.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — same contract as [[parquet]]: columnar, self-described
    * schema, predicate pushdown + partition pruning from the format.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-explicit JSONL scan. The declared schema is widened with
    * [[CorruptCol]] unless `failFast`; unparseable lines land there
    * whole, parseable lines leave it null.
    */
  def jsonl(
      spark: SparkSession,
      path: String,
      schema: StructType,
      failFast: Boolean = false): DataFrame = {
    val reader = spark.read
      .schema(withCorrupt(schema, failFast))
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
    reader.json(path)
  }

  /** Schema-explicit CSV scan. Same corrupt-record contract as
    * [[jsonl]]; `header = true` only VALIDATES the first line against
    * the declared schema (it never infers).
    */
  def csv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      delimiter: String = ",",
      failFast: Boolean = false): DataFrame = {
    spark.read
      .schema(withCorrupt(schema, failFast))
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)
  }

  /** Split a PERMISSIVE scan into (clean rows, quarantined raw lines)
    * — the ingest-time triage every curation pipeline starts with.
    * Clean rows drop the corrupt column; quarantine keeps only it.
    *
    * The parse is materialized ONCE (lazy checkpoint): Spark refuses
    * raw-file plans whose referenced columns are only the corrupt
    * column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and its documented
    * contract is "save the parsed results and then query" — which a
    * real ingest job does anyway (the triage's next step is landing
    * both sides; one parse feeding two filtered writes beats two full
    * raw scans of the same bytes).
    */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    require(df.columns.contains(CorruptCol),
      s"no $CorruptCol column — scan was failFast or schema already stripped it")
    val parsed = df.localCheckpoint(eager = false)
    val bad = parsed.filter(parsed(CorruptCol).isNotNull).select(CorruptCol)
    val good = parsed.filter(parsed(CorruptCol).isNull).drop(CorruptCol)
    (good, bad)
  }

  private def withCorrupt(schema: StructType, failFast: Boolean): StructType =
    if (failFast || schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(CorruptCol, org.apache.spark.sql.types.StringType, nullable = true)

  /** Restore an SQ8 index persisted by
    * [[graft.sources.Sink.writeSq8Index]] — byte-identical to the
    * written [[graft.operators.Similarity.CorpusIndexSq8]], so a
    * serving session (batch or `topkServe` streaming driver) loads
    * the trained index instead of re-collecting + re-quantizing raw
    * embeddings. The collect is bounded by the same broadcast
    * envelope the index lives in everywhere else.
    */
  def readSq8Index(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexSq8 = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val n = meta.getInt(0)
    val dim = meta.getInt(1)
    val dimMin = meta.getSeq[Float](2).toArray
    val dimScale = meta.getSeq[Float](3).toArray
    require(dimMin.length == dim && dimScale.length == dim,
      s"corrupt index meta: dim=$dim but ${dimMin.length}/${dimScale.length} bounds")
    val ids = new Array[Long](n)
    val codes = new Array[Byte](n * dim)
    val norms = new Array[Double](n)
    val sqNorms = new Array[Double](n)
    val rows = spark.read.parquet(s"$path/vectors")
      .select("idx", "id", "code", "norm", "sq_norm").collect()
    require(rows.length == n, s"corrupt index: meta n=$n but ${rows.length} vector rows")
    rows.foreach { r =>
      val j = r.getInt(0)
      ids(j) = r.getLong(1)
      val c = r.getAs[Array[Byte]](2)
      require(c.length == dim, s"corrupt index: row $j has ${c.length} codes, dim=$dim")
      System.arraycopy(c, 0, codes, j * dim, dim)
      norms(j) = r.getDouble(3)
      sqNorms(j) = r.getDouble(4)
    }
    graft.operators.Similarity.CorpusIndexSq8(
      ids, codes, n, dim, dimMin, dimScale, norms, sqNorms)
  }

  /** Restore an OPQ index persisted by
    * [[graft.sources.Sink.writeOpqIndex]] — byte-identical rotation
    * and PQ payload, so serving restores the trained alignment
    * instead of re-running the Procrustes alternation.
    */
  def readOpqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexOpq = {
    val (dim, rot) = ShardedLayout.readRotation(spark, path)
    val pq = readPqIndex(spark, s"$path/pq")
    require(pq.dim == dim,
      s"corrupt OPQ index: rotation dim=$dim but PQ payload dim=${pq.dim}")
    graft.operators.Similarity.CorpusIndexOpq(rot, pq)
  }

  /** Restore an IVF+BQ index persisted by
    * [[graft.sources.Sink.writeIvfBqIndex]] — byte-identical bits (in
    * the sequential CSR-position layout), routing, thresholds, and
    * SQ8 envelope. A pre-`bit_cut` layout loads with the integer cut
    * re-derived from the stored codes — [[readBqIndex]]'s exactness
    * argument verbatim (exact unless the pre-`bit_cut` index was
    * compacted; the sharded reader patches the corpus-GLOBAL cut).
    */
  def readIvfBqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexIvfBq = {
    val metaDf = spark.read.parquet(s"$path/meta")
    val hasBitCut = metaDf.schema.fieldNames.contains("bit_cut")
    val meta = metaDf
      .selectExpr("n" :: "dim" :: "n_words" :: "n_cells" :: "centroids" ::
        "thresholds" :: "cell_start" :: "dim_min" :: "dim_scale" ::
        (if (hasBitCut) List("bit_cut") else Nil): _*)
      .head()
    val n = meta.getInt(0)
    val dim = meta.getInt(1)
    val nWords = meta.getInt(2)
    val nCells = meta.getInt(3)
    val centroids = meta.getSeq[Double](4).toArray
    val thresholds = meta.getSeq[Double](5).toArray
    val cellStart = meta.getSeq[Int](6).toArray
    val dimMin = meta.getSeq[Float](7).toArray
    val dimScale = meta.getSeq[Float](8).toArray
    val storedCut = if (hasBitCut) meta.getSeq[Int](9).toArray else null
    require(storedCut == null || storedCut.length == dim,
      s"corrupt index meta: dim=$dim but bit_cut=${storedCut.length}")
    require(nWords == (dim + 63) >>> 6,
      s"corrupt index meta: dim=$dim implies ${(dim + 63) >>> 6} words, got $nWords")
    require(n.toLong * nWords <= Int.MaxValue && n.toLong * dim <= Int.MaxValue,
      s"index holds $n rows × $nWords words / $dim codes — past the JVM " +
        "array cap; this index must be read as shards")
    require(centroids.length == nCells.toLong * dim && thresholds.length == dim &&
        cellStart.length == nCells + 1 && cellStart(nCells) == n,
      s"corrupt index meta: n=$n dim=$dim nCells=$nCells but " +
        s"centroids=${centroids.length} thresholds=${thresholds.length} " +
        s"cellStart=${cellStart.length}/${if (cellStart.nonEmpty) cellStart.last else -1}")
    val ids = new Array[Long](n)
    val words = new Array[Long](n * nWords)
    val codes = new Array[Byte](n * dim)
    val norms = new Array[Double](n)
    val sqNorms = new Array[Double](n)
    val cellMembers = new Array[Int](n)
    val cellOf = new Array[Int](n)
    val rows = spark.read.parquet(s"$path/vectors")
      .select("slot", "row", "id", "words", "code", "norm", "sq_norm").collect()
    require(rows.length == n, s"corrupt index: meta n=$n but ${rows.length} vector rows")
    rows.foreach { r =>
      val p = r.getInt(0)
      val g = r.getInt(1)
      cellMembers(p) = g
      ids(g) = r.getLong(2)
      val w = r.getSeq[Long](3)
      require(w.length == nWords, s"corrupt index: slot $p has ${w.length} words")
      var wi = 0
      while (wi < nWords) { words(p * nWords + wi) = w(wi); wi += 1 }
      val c = r.getAs[Array[Byte]](4)
      require(c.length == dim, s"corrupt index: row $g has ${c.length} codes, dim=$dim")
      System.arraycopy(c, 0, codes, g * dim, dim)
      norms(g) = r.getDouble(5)
      sqNorms(g) = r.getDouble(6)
    }
    // rebuild cellOf from the CSR offsets (slot p lies in the cell
    // whose [start, end) bracket contains p)
    var cell = 0
    var p2 = 0
    while (p2 < n) {
      while (cell < nCells && cellStart(cell + 1) <= p2) cell += 1
      cellOf(cellMembers(p2)) = cell
      p2 += 1
    }
    val sq8 = graft.operators.Similarity.CorpusIndexSq8(
      ids, codes, n, dim, dimMin, dimScale, norms, sqNorms)
    val bitCut =
      if (storedCut != null) storedCut
      else {
        val colSum = graft.operators.Similarity.bqColSums(sq8)
        val cut = new Array[Int](dim)
        var d = 0
        while (d < dim) { cut(d) = (colSum(d) / n + 1L).toInt; d += 1 }
        cut
      }
    graft.operators.Similarity.CorpusIndexIvfBq(
      ids, n, dim, nCells, centroids, words, nWords, thresholds, bitCut,
      cellOf, cellStart, cellMembers, sq8)
  }

  /** Restore a binary-quantized index persisted by
    * [[graft.sources.Sink.writeBqIndex]] — byte-identical bits,
    * thresholds, and SQ8 envelope, so a serving session loads the
    * built index instead of re-collecting + re-binarizing.
    *
    * An index persisted BEFORE the `bit_cut` meta column still loads:
    * the integer cut is re-derived from the restored SQ8 codes —
    * the build's cut is ⌊Σ_j code(j,d) / n⌋ + 1 over exactly the
    * stored codes ([[graft.operators.Similarity.bqFromSq8]]), and a
    * pre-`bit_cut` index can never have been appended to (both append
    * paths refuse the old layout by name), so the derivation
    * reproduces the build's cut bit-for-bit for any single written
    * index. The one approximate case is a pre-`bit_cut` index whose
    * rows were later DROPPED by a sharded compaction (the meta is
    * carried through, codes are not the build corpus anymore) — the
    * derived cut is then the compacted corpus' own mean cut; the
    * stored bits and f64 query thresholds are untouched either way,
    * so serving is unaffected. Re-persist once with the current
    * writer to upgrade the layout.
    */
  def readBqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexBq = {
    val metaDf = spark.read.parquet(s"$path/meta")
    val hasBitCut = metaDf.schema.fieldNames.contains("bit_cut")
    val meta = metaDf
      .selectExpr("n" :: "dim" :: "n_words" :: "thresholds" :: "dim_min" ::
        "dim_scale" :: (if (hasBitCut) List("bit_cut") else Nil): _*)
      .head()
    val n = meta.getInt(0)
    val dim = meta.getInt(1)
    val nWords = meta.getInt(2)
    val thresholds = meta.getSeq[Double](3).toArray
    val dimMin = meta.getSeq[Float](4).toArray
    val dimScale = meta.getSeq[Float](5).toArray
    val storedCut = if (hasBitCut) meta.getSeq[Int](6).toArray else null
    require(nWords == (dim + 63) >>> 6,
      s"corrupt index meta: dim=$dim implies ${(dim + 63) >>> 6} words, got $nWords")
    require(thresholds.length == dim && dimMin.length == dim &&
      dimScale.length == dim && (storedCut == null || storedCut.length == dim),
      s"corrupt index meta: dim=$dim but thresholds=${thresholds.length} " +
        s"bounds=${dimMin.length}/${dimScale.length}" +
        (if (storedCut != null) s" bit_cut=${storedCut.length}" else ""))
    // Long multiplies: an append that grew n past Int.MaxValue/dim
    // must refuse by name here, not crash in new Array with a
    // negative size (the append paths guard the same products)
    require(n.toLong * nWords <= Int.MaxValue && n.toLong * dim <= Int.MaxValue,
      s"index holds $n rows × $nWords words / $dim codes — past the JVM " +
        "array cap; this index must be read as shards")
    val ids = new Array[Long](n)
    val words = new Array[Long](n * nWords)
    val codes = new Array[Byte](n * dim)
    val norms = new Array[Double](n)
    val sqNorms = new Array[Double](n)
    val rows = spark.read.parquet(s"$path/vectors")
      .select("idx", "id", "words", "code", "norm", "sq_norm").collect()
    require(rows.length == n, s"corrupt index: meta n=$n but ${rows.length} vector rows")
    rows.foreach { r =>
      val j = r.getInt(0)
      ids(j) = r.getLong(1)
      val w = r.getSeq[Long](2)
      require(w.length == nWords, s"corrupt index: row $j has ${w.length} words, expected $nWords")
      var wi = 0
      while (wi < nWords) { words(j * nWords + wi) = w(wi); wi += 1 }
      val c = r.getAs[Array[Byte]](3)
      require(c.length == dim, s"corrupt index: row $j has ${c.length} codes, dim=$dim")
      System.arraycopy(c, 0, codes, j * dim, dim)
      norms(j) = r.getDouble(4)
      sqNorms(j) = r.getDouble(5)
    }
    val sq8 = graft.operators.Similarity.CorpusIndexSq8(
      ids, codes, n, dim, dimMin, dimScale, norms, sqNorms)
    val bitCut =
      if (storedCut != null) storedCut
      else {
        // pre-bit_cut layout: re-derive the exact integer cut from the
        // stored codes (see the scaladoc's exactness argument)
        val colSum = graft.operators.Similarity.bqColSums(sq8)
        val cut = new Array[Int](dim)
        var d = 0
        while (d < dim) { cut(d) = (colSum(d) / n + 1L).toInt; d += 1 }
        cut
      }
    graft.operators.Similarity.CorpusIndexBq(
      ids, words, n, dim, nWords, thresholds, bitCut, sq8)
  }

  /** Restore a SHARDED BQ index persisted by
    * [[graft.sources.Sink.writeBqShardedIndex]] (layout:
    * [[ShardedLayout]]) — per-shard byte-identical restores,
    * manifest-validated totals, and the tombstone refusal
    * ([[readIvfPqShardedIndex]]'s contract: a deleted row must never
    * serve through the plain reader).
    */
  def readBqShardedIndex(
      spark: SparkSession,
      path: String): IndexedSeq[graft.operators.Similarity.CorpusIndexBq] = {
    refuseTombstoned(spark, path, "readBqShardedIndexWithTombstones",
      "topkBqShardedTombstoned", "compactBqShardedIndex")
    readBqShardedIndexShards(spark, path)
  }

  /** Restore a sharded BQ index TOGETHER with its tombstone id set —
    * the serve pair for [[graft.operators.Similarity
    * .topkBqShardedTombstoned]] / the wave serves' `deniedIds`.
    */
  def readBqShardedIndexWithTombstones(
      spark: SparkSession,
      path: String): (IndexedSeq[graft.operators.Similarity.CorpusIndexBq], Array[Long]) =
    (readBqShardedIndexShards(spark, path), ShardedLayout.readTombstones(spark, path))

  /** The tombstone id set of a persisted sharded BQ index — empty
    * when `tombstones/` is absent.
    */
  def readBqShardedIndexTombstones(
      spark: SparkSession, path: String): Array[Long] =
    ShardedLayout.readTombstones(spark, path)

  private def readBqShardedIndexShards(
      spark: SparkSession,
      path: String): IndexedSeq[graft.operators.Similarity.CorpusIndexBq] =
    withGlobalBitCut(spark, path,
      ShardedLayout.restoreShards(spark, path)(readBqIndex(spark, _))(_.n))(
      _.sq8, (sx, cut) => sx.copy(bitCut = cut))

  /** Restore a SHARDED IVF+BQ index persisted by
    * [[graft.sources.Sink.writeIvfBqShardedIndex]] (layout:
    * [[ShardedLayout]]) — per-shard byte-identical restores,
    * manifest-validated totals, tombstone refusal on the plain reader.
    */
  def readIvfBqShardedIndex(
      spark: SparkSession,
      path: String): IndexedSeq[graft.operators.Similarity.CorpusIndexIvfBq] = {
    refuseTombstoned(spark, path, "readIvfBqShardedIndexWithTombstones",
      "topkIvfBqShardedTombstoned", "compactIvfBqShardedIndex")
    readIvfBqShardedIndexShards(spark, path)
  }

  /** Restore a sharded IVF+BQ index TOGETHER with its tombstone id
    * set — the serve pair for the deny-masked forms.
    */
  def readIvfBqShardedIndexWithTombstones(
      spark: SparkSession,
      path: String): (IndexedSeq[graft.operators.Similarity.CorpusIndexIvfBq], Array[Long]) =
    (readIvfBqShardedIndexShards(spark, path), ShardedLayout.readTombstones(spark, path))

  /** The tombstone id set of a persisted sharded IVF+BQ index —
    * empty when `tombstones/` is absent.
    */
  def readIvfBqShardedIndexTombstones(
      spark: SparkSession, path: String): Array[Long] =
    ShardedLayout.readTombstones(spark, path)

  private def readIvfBqShardedIndexShards(
      spark: SparkSession,
      path: String): IndexedSeq[graft.operators.Similarity.CorpusIndexIvfBq] =
    withGlobalBitCut(spark, path,
      ShardedLayout.restoreShards(spark, path)(readIvfBqIndex(spark, _))(_.n))(
      _.sq8, (sx, cut) => sx.copy(bitCut = cut))

  /** The plain sharded readers' tombstone refusal: a tombstoned index
    * must NOT serve through them — every row it returns would include
    * the deleted ones. Named refusal instead of a silent wrong serve.
    */
  private def refuseTombstoned(spark: SparkSession, path: String,
      withTombstones: String, serve: String, compact: String): Unit = {
    val ts = ShardedLayout.readTombstones(spark, path)
    require(ts.isEmpty,
      s"index at $path carries ${ts.length} tombstoned ids — read through " +
        s"$withTombstones and serve with $serve, or rewrite with " +
        s"Sink.$compact first")
  }

  /** Pre-`bit_cut` SHARDED BQ/IVF+BQ layouts: each per-shard restore
    * derived its own cut, but the build cut on the corpus-GLOBAL column
    * totals — re-derive those exactly (integer sums over all shards'
    * stored codes = the build corpus, since the old layout predates
    * appends) and patch every shard with the global cut.
    */
  private def withGlobalBitCut[T](spark: SparkSession, path: String,
      shards: IndexedSeq[T])(sq8: T => graft.operators.Similarity.CorpusIndexSq8,
      patch: (T, Array[Int]) => T): IndexedSeq[T] =
    if (shards.size == 1 || spark.read.parquet(s"${ShardedLayout.shardDir(path, 0)}/meta")
        .schema.fieldNames.contains("bit_cut")) shards
    else {
      val dim = sq8(shards.head).dim
      val colSum = new Array[Long](dim)
      shards.foreach { sx =>
        val cs = graft.operators.Similarity.bqColSums(sq8(sx))
        var d = 0
        while (d < dim) { colSum(d) += cs(d); d += 1 }
      }
      val n = shards.map(sq8(_).n.toLong).sum
      val cut = new Array[Int](dim)
      var d = 0
      while (d < dim) { cut(d) = (colSum(d) / n + 1L).toInt; d += 1 }
      shards.map(patch(_, cut))
    }

  /** Restore a persisted PCA model byte-identically (see
    * [[graft.sources.Sink.writePcaModel]]).
    */
  def readPcaModel(
      spark: SparkSession, path: String): graft.operators.Ann.PcaModel = {
    val meta = spark.read.parquet(s"$path/meta")
      .select("dim", "k", "n", "mean", "basis",
        "eigenvalues", "total_variance", "variance_captured")
      .head()
    val dim = meta.getInt(0)
    val k = meta.getInt(1)
    val mean = meta.getSeq[Double](3).toArray
    val basis = meta.getSeq[Double](4).toArray
    val eig = meta.getSeq[Double](5).toArray
    require(mean.length == dim && basis.length == k * dim && eig.length == k,
      s"corrupt PCA model: dim=$dim k=$k but mean=${mean.length} " +
        s"basis=${basis.length} eigenvalues=${eig.length}")
    graft.operators.Ann.PcaModel(dim, k, meta.getLong(2), mean, basis, eig,
      meta.getDouble(6), meta.getDouble(7))
  }

  /** Restore a flat PQ index persisted by
    * [[graft.sources.Sink.writePqIndex]] — byte-identical to the
    * written [[graft.operators.Similarity.CorpusIndexPq]], so a
    * serving session loads the trained codebooks + codes instead of
    * re-collecting and re-quantizing the corpus.
    */
  def readPqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexPq = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val n = meta.getInt(0)
    val dim = meta.getInt(1)
    val m = meta.getInt(2)
    val codebooks = meta.getSeq[Float](3).toArray
    val sq8Min = if (meta.isNullAt(4)) None else Some(meta.getSeq[Float](4).toArray)
    val sq8Scale = if (meta.isNullAt(5)) None else Some(meta.getSeq[Float](5).toArray)
    require(dim % m == 0 && codebooks.length == m * 256 * (dim / m),
      s"corrupt index meta: ${codebooks.length} codebook values for dim=$dim m=$m")
    val ids = new Array[Long](n)
    val codes = new Array[Byte](n * m)
    val norms = new Array[Float](n)
    val sqNorms = new Array[Float](n)
    val sq8Codes = sq8Min.map(_ => new Array[Byte](n * dim))
    val sq8Norms = sq8Min.map(_ => new Array[Double](n))
    val sq8Sq = sq8Min.map(_ => new Array[Double](n))
    val rows = spark.read.parquet(s"$path/vectors")
      .select("idx", "id", "code", "norm", "sq_norm",
        "sq8_code", "sq8_norm", "sq8_sq_norm")
      .collect()
    require(rows.length == n, s"corrupt index: meta n=$n but ${rows.length} vector rows")
    rows.foreach { r =>
      val j = r.getInt(0)
      ids(j) = r.getLong(1)
      val c = r.getAs[Array[Byte]](2)
      require(c.length == m, s"corrupt index: row $j has ${c.length} codes, m=$m")
      System.arraycopy(c, 0, codes, j * m, m)
      norms(j) = r.getFloat(3)
      sqNorms(j) = r.getFloat(4)
      sq8Codes.foreach { dst =>
        System.arraycopy(r.getAs[Array[Byte]](5), 0, dst, j * dim, dim) }
      sq8Norms.foreach(_(j) = r.getDouble(6))
      sq8Sq.foreach(_(j) = r.getDouble(7))
    }
    val sq8 = sq8Min.map { mn =>
      graft.operators.Similarity.CorpusIndexSq8(
        ids, sq8Codes.get, n, dim, mn, sq8Scale.get, sq8Norms.get, sq8Sq.get)
    }
    graft.operators.Similarity.CorpusIndexPq(
      ids, codes, n, dim, m, codebooks, norms, sqNorms, sq8)
  }

  /** Restore an IVF+PQ index persisted by
    * [[graft.sources.Sink.writeIvfPqIndex]] — byte-identical, CSR
    * rebuilt from the per-vector cells in original row order.
    */
  def readIvfPqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexIvfPq = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val n = meta.getInt(0)
    val dim = meta.getInt(1)
    val m = meta.getInt(2)
    val nCells = meta.getInt(3)
    val centroids = meta.getSeq[Double](4).toArray
    val codebooks = meta.getSeq[Float](5).toArray
    val sq8Min = if (meta.isNullAt(6)) None else Some(meta.getSeq[Float](6).toArray)
    val sq8Scale = if (meta.isNullAt(7)) None else Some(meta.getSeq[Float](7).toArray)
    require(centroids.length == nCells * dim,
      s"corrupt index meta: ${centroids.length} centroid values for nCells=$nCells dim=$dim")
    val ids = new Array[Long](n)
    val codes = new Array[Byte](n * m)
    val cellOf = new Array[Int](n)
    val sq8Codes = sq8Min.map(_ => new Array[Byte](n * dim))
    val sq8Norms = sq8Min.map(_ => new Array[Double](n))
    val sq8Sq = sq8Min.map(_ => new Array[Double](n))
    val rows = spark.read.parquet(s"$path/vectors")
      .select("idx", "id", "code", "cell", "sq8_code", "sq8_norm", "sq8_sq_norm")
      .collect()
    require(rows.length == n, s"corrupt index: meta n=$n but ${rows.length} vector rows")
    rows.foreach { r =>
      val j = r.getInt(0)
      ids(j) = r.getLong(1)
      System.arraycopy(r.getAs[Array[Byte]](2), 0, codes, j * m, m)
      cellOf(j) = r.getInt(3)
      sq8Codes.foreach { dst =>
        System.arraycopy(r.getAs[Array[Byte]](4), 0, dst, j * dim, dim) }
      sq8Norms.foreach(_(j) = r.getDouble(5))
      sq8Sq.foreach(_(j) = r.getDouble(6))
    }
    // Canonicalize to id-ASCENDING pack order. Build-written packs are
    // already sorted (this is a no-op there — byte parity holds);
    // APPENDED packs are a sorted old block followed by a sorted new
    // block, which would break every binary-search consumer of the
    // sorted-ids invariant (Sq8Score.cosineAt, the pairs kernel) if
    // served as-is (round-10 ADVICE). Pack position is purely an
    // in-memory array index — permuting rows with their codes/cells/
    // sidecar is content-preserving.
    var sortedIds = true
    var chk = 1
    while (sortedIds && chk < n) { sortedIds = ids(chk - 1) < ids(chk); chk += 1 }
    val (fIds, fCodes, fCellOf, fSq8Codes, fSq8Norms, fSq8Sq) =
      if (sortedIds) (ids, codes, cellOf, sq8Codes, sq8Norms, sq8Sq)
      else {
        val perm = Array.range(0, n).sortBy(ids(_))
        val pIds = new Array[Long](n)
        val pCodes = new Array[Byte](n * m)
        val pCellOf = new Array[Int](n)
        val pSq8Codes = sq8Codes.map(_ => new Array[Byte](n * dim))
        val pSq8Norms = sq8Norms.map(_ => new Array[Double](n))
        val pSq8Sq = sq8Sq.map(_ => new Array[Double](n))
        var j = 0
        while (j < n) {
          val s = perm(j)
          pIds(j) = ids(s)
          System.arraycopy(codes, s * m, pCodes, j * m, m)
          pCellOf(j) = cellOf(s)
          pSq8Codes.foreach(dst =>
            System.arraycopy(sq8Codes.get, s * dim, dst, j * dim, dim))
          pSq8Norms.foreach(_(j) = sq8Norms.get(s))
          pSq8Sq.foreach(_(j) = sq8Sq.get(s))
          j += 1
        }
        (pIds, pCodes, pCellOf, pSq8Codes, pSq8Norms, pSq8Sq)
      }
    val (cellStart, cellMembers) =
      graft.operators.Similarity.buildCsr(fCellOf, nCells)
    val sq8 = sq8Min.map { mn =>
      graft.operators.Similarity.CorpusIndexSq8(
        fIds, fSq8Codes.get, n, dim, mn, sq8Scale.get, fSq8Norms.get, fSq8Sq.get)
    }
    graft.operators.Similarity.CorpusIndexIvfPq(
      fIds, n, dim, m, nCells, centroids, fCodes, codebooks,
      fCellOf, cellStart, cellMembers, sq8)
  }

  /** Restore a SHARDED IVF+PQ index persisted by
    * [[graft.sources.Sink.writeIvfPqShardedIndex]]: the manifest
    * names the shard count, each `shard_NNNN/` restores through
    * [[readIvfPqIndex]] (byte-identical per shard), and the total row
    * count is validated against the manifest so a truncated copy
    * fails with a named error instead of silently serving a partial
    * corpus.
    */
  def readIvfPqShardedIndex(
      spark: SparkSession,
      path: String): IndexedSeq[graft.operators.Similarity.CorpusIndexIvfPq] = {
    refuseTombstoned(spark, path, "readIvfPqShardedIndexWithTombstones",
      "topkIvfPqShardedTombstoned", "compactIvfPqShardedIndex")
    // an OPQ-rotated index must not serve rotation-unaware either:
    // unrotated queries against rotated codebooks are silently wrong
    require(!hasOpqRotation(spark, path),
      s"index at $path carries an OPQ rotation — read through " +
        "readIvfOpqShardedIndex and serve with topkIvfOpqSharded")
    readIvfPqShardedIndexShards(spark, path)
  }

  /** Restore a sharded IVF+OPQ index persisted by
    * [[graft.sources.Sink.writeIvfOpqShardedIndex]] — the rotation
    * plus the byte-identical shards. Serve with
    * [[graft.operators.Similarity.topkIvfOpqSharded]].
    */
  def readIvfOpqShardedIndex(
      spark: SparkSession,
      path: String): (Array[Double], IndexedSeq[graft.operators.Similarity.CorpusIndexIvfPq]) = {
    require(hasOpqRotation(spark, path),
      s"index at $path has no rot/ — it is a plain sharded IVF+PQ " +
        "index; read through readIvfPqShardedIndex")
    val ts = ShardedLayout.readTombstones(spark, path)
    require(ts.isEmpty,
      s"index at $path carries ${ts.length} tombstoned ids — serve the " +
        "shards with the deniedIds form after reading them, or compact first")
    val (dim, rot) = ShardedLayout.readRotation(spark, path)
    val shards = readIvfPqShardedIndexShards(spark, path)
    require(shards.forall(_.dim == dim),
      s"corrupt index: rotation dim $dim != shard dim ${shards.map(_.dim).distinct}")
    (rot, shards)
  }

  private[graft] def hasOpqRotation(spark: SparkSession, path: String): Boolean =
    ShardedLayout.exists(spark, s"$path/rot")

  /** Restore a sharded IVF+PQ index TOGETHER with its tombstone id
    * set (empty for a never-deleted or compacted index) — the serve
    * pair for [[graft.operators.Similarity
    * .topkIvfPqShardedTombstoned]]. Shards restore byte-identically;
    * tombstoned rows stay in the pack (their bytes are untouched by
    * design — [[graft.sources.Sink.deleteFromIvfPqShardedIndex]] is a
    * metadata-only operation) and the deny mask excludes them at
    * serve.
    */
  def readIvfPqShardedIndexWithTombstones(
      spark: SparkSession,
      path: String): (IndexedSeq[graft.operators.Similarity.CorpusIndexIvfPq], Array[Long]) = {
    // same rotation refusal as the plain reader — a tombstoned OPQ
    // index served rotation-unaware is just as silently wrong
    require(!hasOpqRotation(spark, path),
      s"index at $path carries an OPQ rotation — read through " +
        "readIvfOpqShardedIndexWithTombstones and serve with " +
        "topkIvfOpqShardedWaves(deniedIds = ...)")
    (readIvfPqShardedIndexShards(spark, path), ShardedLayout.readTombstones(spark, path))
  }

  /** Restore a sharded IVF+OPQ index TOGETHER with its tombstone id
    * set — the serve pair for [[graft.operators.Similarity
    * .topkIvfOpqShardedWaves]] with `deniedIds`.
    */
  def readIvfOpqShardedIndexWithTombstones(
      spark: SparkSession,
      path: String): (Array[Double], IndexedSeq[graft.operators.Similarity.CorpusIndexIvfPq], Array[Long]) = {
    require(hasOpqRotation(spark, path),
      s"index at $path has no rot/ — it is a plain sharded IVF+PQ " +
        "index; read through readIvfPqShardedIndexWithTombstones")
    val (_, rot) = ShardedLayout.readRotation(spark, path)
    (rot, readIvfPqShardedIndexShards(spark, path), ShardedLayout.readTombstones(spark, path))
  }

  /** The tombstone id set of a persisted sharded index — empty when
    * the `tombstones/` directory is absent (never-deleted index or
    * post-compaction).
    */
  def readIvfPqShardedIndexTombstones(
      spark: SparkSession, path: String): Array[Long] =
    ShardedLayout.readTombstones(spark, path)

  private def readIvfPqShardedIndexShards(
      spark: SparkSession,
      path: String): IndexedSeq[graft.operators.Similarity.CorpusIndexIvfPq] =
    ShardedLayout.restoreShards(spark, path)(readIvfPqIndex(spark, _))(_.n)
}
