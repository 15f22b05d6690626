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
    * written [[graft.operators.Similarity.CorpusIndexSq8]] (an appended
    * pack restores id-ascending, like a build), so a serving session
    * (batch or `topkServe` streaming driver) loads the trained index
    * instead of re-collecting + re-quantizing raw embeddings. The
    * collect is bounded by the same broadcast envelope the index lives
    * in everywhere else; layout and refusals: [[IndexCodec.Sq8]].
    */
  def readSq8Index(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexSq8 =
    IndexCodec.Sq8.read(spark, path)

  /** Restore an OPQ index persisted by
    * [[graft.sources.Sink.writeOpqIndex]] — byte-identical rotation
    * and PQ payload, so serving restores the trained alignment
    * instead of re-running the Procrustes alternation.
    */
  def readOpqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexOpq = {
    val (dim, rot) = ShardedLayout.readRotation(spark, path)
    val pq = IndexCodec.Pq.read(spark, s"$path/pq")
    require(pq.dim == dim,
      s"corrupt OPQ index: rotation dim=$dim but PQ payload dim=${pq.dim}")
    graft.operators.Similarity.CorpusIndexOpq(rot, pq)
  }

  /** Restore an IVF+BQ index persisted by
    * [[graft.sources.Sink.writeIvfBqIndex]] — byte-identical bits (in
    * the sequential CSR-position layout), routing, thresholds, and
    * SQ8 envelope. A pre-`bit_cut` layout loads with the integer cut
    * re-derived from the stored codes, as [[readBqIndex]] does (the
    * sharded reader patches the corpus-GLOBAL cut). Layout and
    * refusals: [[IndexCodec.IvfBq]].
    */
  def readIvfBqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexIvfBq =
    IndexCodec.IvfBq.read(spark, path)

  /** Restore a binary-quantized index persisted by
    * [[graft.sources.Sink.writeBqIndex]] — byte-identical bits,
    * thresholds, and SQ8 envelope (an appended pack restores
    * id-ascending, like a build), so a serving session loads the
    * built index instead of re-collecting + re-binarizing.
    *
    * An index persisted BEFORE the `bit_cut` meta column still loads:
    * the integer cut is re-derived from the restored SQ8 codes, which
    * reproduces the build's cut bit-for-bit for any single written
    * index (see [[IndexCodec.Bq.read]]: both append paths refuse the
    * old layout, so its codes are the build corpus). Re-persist once
    * with the current writer to upgrade the layout.
    */
  def readBqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexBq =
    IndexCodec.Bq.read(spark, path)

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
      val cut = IndexCodec.BqCut.global(shards.iterator.map(sq8)).bitCut
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
    * written [[graft.operators.Similarity.CorpusIndexPq]] (an appended
    * pack restores id-ascending, like a build), so a serving session
    * loads the trained codebooks + codes instead of re-collecting and
    * re-quantizing the corpus. Layout and refusals: [[IndexCodec.Pq]].
    */
  def readPqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexPq =
    IndexCodec.Pq.read(spark, path)

  /** Restore an IVF+PQ index persisted by
    * [[graft.sources.Sink.writeIvfPqIndex]] — byte-identical, in
    * id-ascending pack order (an appended pack is canonicalized), CSR
    * rebuilt from the per-vector cells. Layout and refusals:
    * [[IndexCodec.IvfPq]].
    */
  def readIvfPqIndex(
      spark: SparkSession, path: String): graft.operators.Similarity.CorpusIndexIvfPq =
    IndexCodec.IvfPq.read(spark, path)

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
