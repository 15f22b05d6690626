package graft.sources

import graft.sources.ShardedLayout.{Manifest, ShardKey, carry, copyDir, shardDir, shardDirs}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

/** Write-side of the pipeline (SURVEY §2.3 capstones produce datasets
  * someone has to persist). Two shapes matter at 100 TB:
  *
  *  - [[writePartitioned]]: hive-style partition directories (e.g.
  *    `split=train/`) so downstream readers get partition PRUNING for
  *    free, with files sorted on a locality key so parquet row-group
  *    min/max stats give data SKIPPING within each partition.
  *  - [[writeBucketed]]: a bucketed+sorted table, so every later
  *    equi-join/aggregation on the bucket key runs with NO shuffle —
  *    the write pays the exchange once, every consumer skips it.
  */
object Sink {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Z-ORDERED parquet write — multi-dimensional data skipping
    * ([[graft.operators.Relational.zValue]] is the layout key): rows
    * close in BOTH `colA` and `colB` land in the same files, so a
    * reader filtering on either or both dimensions touches a small
    * file subset (file- and row-group-level min-max stats both
    * discriminate, where a single-column sort only ever prunes its
    * own column). `numFiles` range-partitions on z — the same
    * parallel sampled sort every global orderBy uses — and rows sort
    * by z within each file. SinkSpec proves the pruning: a two-dim
    * box filter touches strictly fewer files than the natural-order
    * layout of the same data.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      numFiles: Int = 32,
      overwrite: Boolean = false): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("__z", graft.operators.Relational.zValue(col(colA), col(colB)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .parquet(path)
  }

  /** Partitioned parquet write.
    *
    * The explicit `repartition(partitionCols)` before the write is
    * the small-files guard: without it every one of the N upstream
    * tasks opens a file in every partition directory (N × |partitions|
    * files of a few KB — the classic tiny-file explosion that makes
    * the NEXT job's scan planning the bottleneck). With it, each
    * partition's rows are co-located first; `maxRecordsPerFile` then
    * re-splits anything too big, bounding file size from above while
    * the repartition bounds file count from below.
    *
    * `sortCols` orders rows WITHIN each file (`sortWithinPartitions`
    * — a local sort, no extra exchange) so parquet row-group min/max
    * statistics actually discriminate on the sort key: a reader
    * filtering on it skips whole row groups.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L,
      overwrite: Boolean = false,
      format: String = "parquet"): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(Set("parquet", "orc").contains(format),
      s"format must be parquet or orc, got $format") // both columnar with stats+pushdown
    val arranged = {
      val co = df.repartition(partitionCols.map(col): _*)
      if (sortCols.nonEmpty)
        co.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else co
    }
    arranged.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)
  }

  /** Bucketed + sorted table write (`saveAsTable` — bucketing needs
    * the catalog; a bare path write can't record bucket metadata).
    * Join/agg queries keyed on `bucketCol` against another table with
    * the SAME bucket count then plan with zero exchanges on both
    * sides (asserted in SinkSpec) — at 100 TB this converts every
    * recurring join on the key into a map-side merge.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      overwrite: Boolean = false): Unit = {
    require(numBuckets > 0, s"numBuckets must be > 0, got $numBuckets")
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Small-files COMPACTION — the standing maintenance job of any
    * long-lived table: N tiny files (streaming sinks, over-parallel
    * writes, many incremental batches) become ⌈rows/target⌉ full-size
    * files. Rewrites into a sibling temp dir, then installs it with
    * two directory renames. Returns (rowCount, data files written).
    *
    * OFFLINE maintenance only: there is no table-format transaction
    * log here, so rows appended between the read and the swap would
    * be lost with the old directory — quiesce writers first (pause
    * the stream / run between batches), exactly as for any
    * path-based table rewrite. Crash window: if the process dies
    * between the two renames, the live path is absent and the intact
    * pre-compaction data sits at `<path>.compact-bak` — restore is a
    * single rename back, and the error messages name the location.
    *
    * Hive-partitioned ROOTS are rejected (compact each partition
    * directory instead — rewriting the root would flatten the layout
    * and break partition-pruned readers). `sortCols` re-sorts rows
    * within each output file so parquet/ORC min-max stats keep
    * discriminating after the rewrite (a bare round-robin shuffle
    * would destroy the skipping order `writePartitioned` set up).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetRecordsPerFile: Long = 5000000L,
      format: String = "parquet",
      sortCols: Seq[String] = Nil): (Long, Int) = {
    require(targetRecordsPerFile > 0)
    require(Set("parquet", "orc").contains(format), s"unsupported format $format")
    val hPath0 = new org.apache.hadoop.fs.Path(path)
    val fs = hPath0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hPath = fs.resolvePath(hPath0) // normalized: no trailing-slash children
    val partitionDirs = fs.listStatus(hPath)
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.contains("="))
    require(partitionDirs.isEmpty,
      s"$path is a hive-partitioned root (${partitionDirs.head}, ...): compact each " +
        "partition directory, not the root — a flat rewrite would drop the layout")
    val df = spark.read.format(format).load(hPath.toString)
    val n = df.count()
    val numFiles = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    val parent = hPath.getParent
    val tmp = new org.apache.hadoop.fs.Path(parent, hPath.getName + ".compact-tmp")
    val bak = new org.apache.hadoop.fs.Path(parent, hPath.getName + ".compact-bak")
    fs.delete(tmp, true); fs.delete(bak, true)
    val arranged = {
      val r = df.repartition(numFiles)
      if (sortCols.nonEmpty) r.sortWithinPartitions(sortCols.map(col): _*) else r
    }
    arranged.write.mode(SaveMode.Overwrite).format(format).save(tmp.toString)
    val written = fs.listStatus(tmp)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    // swap: old -> bak, tmp -> live, drop bak
    if (!fs.rename(hPath, bak)) throw new java.io.IOException(s"cannot move $hPath aside")
    if (!fs.rename(tmp, hPath)) {
      val restored = fs.rename(bak, hPath)
      throw new java.io.IOException(
        s"cannot install compacted $hPath; original data " +
          (if (restored) "restored" else s"is at $bak — restore it with a rename"))
    }
    fs.delete(bak, true)
    (n, written)
  }

  /** JSON-lines export — the interchange format most annotation /
    * inspection tools speak. Pass `numFiles > 0` to engage the same
    * repartition-first small-files guard as [[writePartitioned]]
    * (the default 0 writes one file per upstream task — fine after a
    * narrow scan, a tiny-file explosion after a wide shuffle);
    * compression defaults to gzip (JSONL is 3-5× the parquet
    * footprint uncompressed).
    */
  def writeJsonl(
      df: DataFrame,
      path: String,
      numFiles: Int = 0,
      compression: String = "gzip",
      overwrite: Boolean = false): Unit = {
    val arranged = if (numFiles > 0) df.repartition(numFiles) else df
    arranged.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .option("compression", compression)
      .json(path)
  }

  /** Publish an index directory ATOMICALLY: run `write` against a
    * hidden temp sibling of `path`, then rename the finished temp
    * into place. The index writers produce TWO datasets (vectors/ +
    * meta/); written directly, a failure between them leaves a
    * partial index that is both unreadable (one half missing) and
    * unretryable (with overwrite=false the retry trips ErrorIfExists
    * on the half that did land) — manual cleanup either way. With
    * the rename, `path` either does not exist or holds a complete
    * index. Same-directory rename is atomic on HDFS and a metadata
    * move on a posix FS; object stores degrade to copy+delete but
    * still publish both halves together. The temp dir is removed on
    * failure, so a retry always starts clean.
    *
    * CONCURRENCY CONTRACT: with overwrite=false, concurrent
    * publishers are safe — exactly one wins, the others fail loudly
    * and the winner's index is never touched (re-checked after the
    * write; nesting detected after the rename). With overwrite=true
    * the caller asserts SINGLE-CONCURRENT-PUBLISHER: two concurrent
    * overwriters race the aside-rename and the forward rename, and
    * while no interleaving loses the ORIGINAL index silently (it is
    * moved aside, never deleted, before the new one lands), which
    * writer's index ends up published — and whether the loser's
    * failure message can name the winner's actions — is undefined.
    * Serialize overwriting publishers externally.
    */
  private def publishAtomically(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      overwrite: Boolean)(write: String => Unit): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(dest)
    if (fs.exists(qualified) && !overwrite)
      throw new IllegalStateException(
        s"index path $path already exists; pass overwrite=true to replace it")
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(qualified.getParent,
      s".${qualified.getName}.__tmp__$stamp")
    val oldAside = new org.apache.hadoop.fs.Path(qualified.getParent,
      s".${qualified.getName}.__old__$stamp")
    var ok = false
    try {
      write(tmp.toString)
      // RE-CHECK the exclusivity contract after the (long) write: a
      // concurrent writer may have published while we wrote. With
      // overwrite=false that concurrent index must be left untouched
      // — proceeding would move IT aside and delete it as "the old
      // index", destroying data the caller promised not to replace.
      val hadOld = fs.exists(qualified)
      if (hadOld && !overwrite)
        throw new IllegalStateException(
          s"index path $path appeared during the write (concurrent publish); " +
            "overwrite=false refuses to replace it — the concurrent index is untouched")
      // overwrite: move the OLD index ASIDE (metadata op), never
      // delete it before the new one is in place — a failed publish
      // must not destroy the only complete copy. If this aside-rename
      // fails, nothing has been touched and the old index is intact.
      // failure here means THIS writer changed nothing — but under a
      // violated overwrite=true single-publisher contract a concurrent
      // mover may be why the rename failed, so the message claims only
      // our own actions, not the path's state
      if (hadOld) require(fs.rename(qualified, oldAside),
        s"publishing index: could not move the existing $qualified aside; " +
          "this writer has not modified it (a concurrent publisher may have — " +
          "overwrite=true assumes a single concurrent publisher)")
      // Any forward-rename failure — returning false OR throwing
      // (FileSystem.rename declares IOException) — lands here: try to
      // restore the old index, but ONLY if nothing else has claimed
      // the path meanwhile (restoring into an existing directory
      // would NEST the old index inside the other writer's). The
      // message states what actually happened either way.
      def publishFailed(what: String, cause: Throwable): Nothing = {
        val restored = hadOld && !fs.exists(qualified) &&
          fs.rename(oldAside, qualified)
        val msg = s"publishing index: $what" + (
          if (restored) "; the previous index was restored"
          else if (hadOld) s"; the previous index is at $oldAside — recover it manually"
          else "")
        throw (if (cause == null) new IllegalStateException(msg)
               else new IllegalStateException(msg, cause))
      }
      val renamed =
        try fs.rename(tmp, qualified)
        catch { case e: java.io.IOException =>
          publishFailed(s"rename $tmp -> $qualified threw", e)
        }
      if (!renamed) publishFailed(s"rename $tmp -> $qualified failed", null)
      // Hadoop rename into an EXISTING directory moves the source
      // INSIDE it and still returns true — a concurrent writer that
      // won the race would leave our temp nested in its published
      // index. Detect, clean our nesting, and fail loudly rather than
      // report an exclusive publish that never happened.
      val nested = new org.apache.hadoop.fs.Path(qualified, tmp.getName)
      if (fs.exists(nested)) {
        // the path now holds the OTHER writer's complete index — clean
        // only our nesting; if we had moved an old index aside, leave
        // it at oldAside (restoring would nest it the same way) and
        // name it so the operator can recover it deliberately
        fs.delete(nested, true)
        throw new IllegalStateException(
          s"publishing index: concurrent write detected at $qualified — " +
            "another process published this path during our write" +
            (if (hadOld) s"; the previous index was preserved at $oldAside" else ""))
      }
      // the new index is live; a failed cleanup of the superseded copy
      // must not fail the publish, but it must not be silent either —
      // the leaked copy can be the dominant storage cost
      if (hadOld && !fs.delete(oldAside, true))
        System.err.println(
          s"[sink] warning: could not remove the superseded index at $oldAside — " +
            "a complete copy of the previous index remains there")
      ok = true
    } finally if (!ok) fs.delete(tmp, true)
  }

  /** Persist an SQ8 index — train/quantize ONCE, serve every later
    * batch or stream without re-reading the raw embeddings (a real
    * index outlives the job that built it; today's alternative
    * re-collects and re-quantizes the corpus per session). Layout:
    * [[IndexCodec.Sq8]], vectors split so partitions stay near 64 MB.
    * The index is broadcast-envelope sized by contract, so driver-side
    * materialization here matches how it is built and shipped;
    * [[graft.sources.Source.readSq8Index]] restores a byte-identical
    * [[graft.operators.Similarity.CorpusIndexSq8]] (round-trip pinned
    * in SinkSpec).
    */
  def writeSq8Index(
      spark: org.apache.spark.sql.SparkSession,
      cx: graft.operators.Similarity.CorpusIndexSq8,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite)(IndexCodec.Sq8.write(spark, cx, _))

  /** Persist an OPQ index — the learned rotation plus the PQ index it
    * wraps (same train-once story as [[writePqIndex]]: the Procrustes
    * alternation + codebook training is the expensive step). Layout:
    * `path/rot/` ([[ShardedLayout.writeRotation]]) beside the
    * [[IndexCodec.Pq]] layout under `path/pq/`.
    * [[graft.sources.Source.readOpqIndex]] restores byte-identically.
    */
  def writeOpqIndex(
      spark: org.apache.spark.sql.SparkSession,
      ox: graft.operators.Similarity.CorpusIndexOpq,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite) { tmp =>
      ShardedLayout.writeRotation(spark, tmp, ox.dim, ox.rot)
      IndexCodec.Pq.write(spark, ox.pq, s"$tmp/pq")
    }

  /** Persist a binary-quantized index — bits + SQ8 envelope + the
    * integer-derived thresholds, same train-once story as
    * [[writeSq8Index]] (the build pays a full corpus collect; a
    * serving session restores instead). Layout: [[IndexCodec.Bq]].
    * [[graft.sources.Source.readBqIndex]] restores a byte-identical
    * [[graft.operators.Similarity.CorpusIndexBq]].
    */
  def writeBqIndex(
      spark: org.apache.spark.sql.SparkSession,
      bx: graft.operators.Similarity.CorpusIndexBq,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite)(IndexCodec.Bq.write(spark, bx, _))

  /** Persist a SHARDED BQ build ([[graft.operators.Similarity
    * .buildBqSharded]]) — one [[writeBqIndex]]-layout dir per shard
    * plus a manifest, the [[writeIvfPqShardedIndex]] shape: the
    * long-running serving session this exists for restores shards
    * one at a time (the wave/streaming serves page them) instead of
    * re-collecting + re-binarizing a corpus per session. Serve with
    * [[graft.operators.Similarity.topkBqShardedWaves]] or
    * [[graft.streaming.EventStream.topkServeBqShardedWaves]].
    */
  def writeBqShardedIndex(
      spark: org.apache.spark.sql.SparkSession,
      shards: Seq[graft.operators.Similarity.CorpusIndexBq],
      path: String,
      overwrite: Boolean = false,
      hashModulus: Int = 0,
      shardHashVals: Seq[Long] = Nil): Unit = {
    val (modulus, hashVals) = routingIdentity("writeBqShardedIndex", "ShardedBqBuild",
      shards.size, hashModulus, shardHashVals)
    publishAtomically(spark, path, overwrite) { tmp =>
      ShardedLayout.writeShards(spark, tmp, shards, modulus, hashVals)(
        _.n, IndexCodec.Bq.write(spark, _, _))
    }
  }

  /** The routing identity a shard-list persist records: the explicit
    * `hashModulus`/`shardHashVals`, or the IDENTITY layout. The
    * identity default is only correct when NO hash shard was compacted
    * away during the build — a collect build that dropped empties
    * would persist a confidently wrong routing identity, so the
    * layout-carrying build overloads are preferred (round-11 advisor).
    */
  private def routingIdentity(caller: String, buildType: String, numShards: Int,
      hashModulus: Int, shardHashVals: Seq[Long]): (Int, Seq[Long]) = {
    require(numShards > 0, "Empty shard list")
    val modulus = if (hashModulus > 0) hashModulus else numShards
    if (hashModulus <= 0)
      log.warn(s"$caller: recording the IDENTITY routing layout " +
        s"(hash_modulus=$numShards) — if this build compacted empty hash " +
        s"shards, appends will mis-route; pass the build's $buildType " +
        "or explicit hashModulus/shardHashVals")
    val hashVals =
      if (shardHashVals.nonEmpty) shardHashVals else (0 until numShards).map(_.toLong)
    require(hashVals.size == numShards,
      s"shardHashVals has ${hashVals.size} entries for $numShards shards")
    require(modulus >= numShards,
      s"hash_modulus $modulus < $numShards shard directories")
    (modulus, hashVals)
  }

  /** [[writeBqShardedIndex]] taking the build WITH its routing
    * identity — the non-footgun persist for
    * [[graft.operators.Similarity.buildBqShardedWithLayout]].
    */
  def writeBqShardedIndex(
      spark: org.apache.spark.sql.SparkSession,
      build: graft.operators.Similarity.ShardedBqBuild,
      path: String,
      overwrite: Boolean): Unit =
    writeBqShardedIndex(spark, build.shards, path, overwrite,
      build.hashModulus, build.shardHashVals)

  /** Build AND persist a sharded BQ index WITHOUT ever collecting the
    * corpus — the 100 TB build path for the measured-best serving
    * rung. [[graft.operators.Similarity.buildBqSharded]] funnels
    * every raw vector through the driver (the priced concurrent
    * collect of `buildSq8Sharded` — ~2 KB/vector through one JVM,
    * 366.8 s for the round-15 9M-row smoke, impossible at corpus
    * scale); this builder keeps the driver SAMPLE-FREE — nothing
    * row-shaped ever reaches it:
    *
    *  1. per-(shard, id) counts (narrow agg: two longs a row) serve
    *     the duplicate-id refusal and the per-shard size caps;
    *  2. the corpus-global SQ8 grid is ONE distributed min/max fold
    *     ([[graft.operators.Similarity.sq8GlobalBounds]] — the same
    *     function the collect-based build derives its grid from, and
    *     min/max are order-independent, so the grids are bit-equal);
    *  3. the bit threshold is the corpus-global INTEGER column total
    *     of the SQ8 codes — one more scan-stage fold of exact Long
    *     sums into the one [[IndexCodec.BqCut]] the collect build
    *     cuts on (order-independent again);
    *  4. one encode scan with the broadcast grid+cut — each row
    *     leaves its executor as (bit words, SQ8 codes, norms), ~8×
    *     narrower than the raw f64 vector — through ONE exchange
    *     (partition by shard, `row_number` by id assigns the dense
    *     pack position the persisted layout needs, matching the
    *     collect path's id-ascending pack) straight into the
    *     [[writeBqShardedIndex]] layout inside a single atomic
    *     publish. Raw vectors never shuffle and never collect.
    *
    * The result restores through
    * [[graft.sources.Source.readBqShardedIndex]] BYTE-IDENTICAL to
    * `writeBqShardedIndex(buildBqShardedWithLayout(...))` (SinkSpec
    * pins ids/words/codes/thresholds/bit_cut/norms equality; the
    * driver gate `ann_bq_dist_gate` re-pins it per round), because
    * every arithmetic step runs the same factored code on the same
    * values — the only reductions are integer sums and min/max, both
    * reduction-order-proof. Ids must be unique (they key the pack
    * order); ragged dims throw the kernel's "Dimension mismatch";
    * same shard split (`pmod(xxhash64(id), numShards)`), same
    * skip-empty-shards compaction, same routing-identity manifest.
    */
  def writeBqShardedIndexDistributed(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      numShards: Int,
      path: String,
      overwrite: Boolean = false): Unit = {
    import graft.operators.Similarity
    import IndexCodec.{Bq, BqCut}
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    requireEmbColType(corpus, embCol)
    val shardCol = ShardedLayout.hashOf(idCol, numShards)
    val counts = ShardedLayout.buildCounts(
      corpus.select(shardCol.as("shard"), col(idCol).cast(LongType).as("id")))
    val dim = corpus.select(col(embCol)).filter(col(embCol).isNotNull)
      .head().getSeq[Any](0).length
    val widths = Bq.rowWidths(dim)
    counts.foreach { case (s, c) =>
      require(IndexCodec.fits(widths, c), s"shard $s holds $c rows × " +
        s"${IndexCodec.describe(widths)} — one shard must fit an index; raise numShards")
    }
    // pass 2: the corpus-global SQ8 grid (shared fold — bit-equal to
    // the collect-based build's grid)
    val (gridMin, gridScale) = Similarity.sq8GlobalBounds(corpus, embCol, dim)
    // pass 3: exact integer column totals of the SQ8 codes
    val proj = corpus.select(col(embCol))
    val isF32 = proj.schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val bcGrid = spark.sparkContext.broadcast((gridMin, gridScale))
    val cut =
      try {
        org.apache.spark.sql.graft.InternalRowBridge.toInternalRdd(proj)
          .mapPartitions { it =>
            val (mn, scl) = bcGrid.value
            val acc = new Array[Long](dim)
            val v = new Array[Double](dim)
            val codes = new Array[Byte](dim)
            var n = 0L
            it.foreach { row =>
              val a = row.getArray(0)
              require(a.numElements() == dim,
                s"ragged embedding: ${a.numElements()} elements, corpus dim $dim")
              var d = 0
              while (d < dim) {
                v(d) = if (isF32) a.getFloat(d).toDouble else a.getDouble(d)
                d += 1
              }
              Similarity.sq8EncodeRow(v, 0, dim, mn, scl, codes, 0)
              BqCut.add(acc, codes, 0)
              n += 1
            }
            Iterator.single(BqCut(acc, n))
          }
          .treeReduce(_ + _)
      } finally bcGrid.destroy()
    val meta = IndexCodec.BqMeta(0, dim, (dim + 63) >>> 6, cut.thresholds(gridMin, gridScale),
      gridMin, gridScale, cut.bitCut)
    // pass 4: encode scan-stage, number by (shard | id) through the
    // one code-width exchange, land in the persisted layout
    val shardVals: Seq[Long] = counts.keys.toSeq.sorted
    val shardOut: Map[Long, Int] = shardVals.zipWithIndex.toMap
    publishAtomically(spark, path, overwrite) { tmp =>
      ShardedLayout.writeManifest(spark, tmp,
        Manifest(shardVals.size, counts.values.sum, ShardKey, numShards, shardVals))
      val withShard = corpus.select(shardCol.as("shard"),
        col(idCol).cast(LongType).as("id"), col(embCol).as("emb"))
      IndexCodec.encodeRouted(spark, withShard, shardVals.map(_ -> Bq.Enc(meta)).toMap,
        Bq.payload) { encoded =>
        ShardedLayout.writeShardParts(encoded, element_at(typedLit(shardOut), col("shard")),
          lit(0L), s"$tmp/__vectors__")
      }
      ShardedLayout.installBuiltShards(spark, tmp, s"$tmp/__vectors__", shardVals) {
        (s, dir) => Bq.writeMeta(spark, dir, meta.copy(n = counts(s).toInt))
      }
    }
  }

  /** APPEND new rows to a persisted SHARDED BQ index — the
    * [[appendBqIndex]] encode (frozen corpus-global grid/thresholds/
    * `bit_cut`, shard-INDEPENDENT because every BQ shard cuts on the
    * same global threshold) inside the [[ShardedLayout]] append
    * envelope: rows route by the manifest's build identity, old
    * vectors copy AS FILES, pack positions continue from each shard's
    * old `n`, tombstones carry forward, and the grown index publishes
    * atomically. Null/duplicate/clashing ids, null embeddings and
    * dimension mismatches refuse by name.
    */
  def appendBqShardedIndex(
      spark: SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    appendShardedCore(IndexCodec.Bq, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite)(dir => IndexCodec.Bq.appendable(IndexCodec.Bq.readMeta(spark, dir), "BQ",
      indexPath, IndexCodec.Bq.shardedUpgrade("Bq", indexPath))) { metas =>
      IndexCodec.Bq.requireOneCut(metas)
      metas.map(IndexCodec.Bq.Enc)
    }

  /** The one routed encode-only append of the [[ShardedLayout]]
    * families, which all pack rows by `idx` (BQ, IVF+BQ, IVF+PQ/OPQ):
    * the append prelude with the family's grow cap, the batch encoded
    * scan-stage with each destination shard's frozen encode, and the
    * append tail with each shard's grown meta.
    */
  private def appendShardedCore[M <: IndexCodec.Stored](
      layout: IndexCodec.Layout[M], spark: SparkSession, newRows: DataFrame, idCol: String,
      embCol: String, indexPath: String, outPath: String, overwrite: Boolean)(
      readMeta: String => M)(encodes: IndexedSeq[M] => IndexedSeq[IndexCodec.Encode]): Unit = {
    val ap = ShardedLayout.prepareAppend(spark, newRows, idCol, embCol, indexPath)(i =>
      readMeta(shardDir(indexPath, i)))(_.n.toLong,
      (m, grown) => IndexCodec.fits(layout.widths(m), grown))
    val es = encodes(ap.metas)
    publishAtomically(spark, outPath, overwrite) { tmp =>
      ShardedLayout.writeManifest(spark, tmp, ap.grown)
      IndexCodec.encodeRouted(spark, ap.narrow, es.indices.map(i => i.toLong -> es(i)).toMap,
        layout.payload) { encoded =>
        ShardedLayout.appendTail(spark, encoded, ap.metas.map(_.n), indexPath, tmp) {
          (i, dir) =>
            val m = ap.metas(i)
            layout.writeMeta(spark, dir, layout.grown(m, m.n + ap.newOf(i).toInt))
        }
      }
    }
  }

  /** TOMBSTONE delete from a persisted sharded BQ index — the one
    * [[ShardedLayout]] delete every sharded family shares: metadata-only
    * (file-level copy + the grown `tombstones/` id set), every
    * deleted id must be stored, double-delete refused, the plain
    * [[graft.sources.Source.readBqShardedIndex]] refuses a tombstoned
    * index, serving applies the set as an always-on deny mask
    * ([[graft.operators.Similarity.topkBqShardedTombstoned]] /
    * the wave serves' `deniedIds`), and
    * [[compactBqShardedIndex]] retires the masks.
    */
  def deleteFromBqShardedIndex(
      spark: SparkSession,
      deleteIds: DataFrame,
      idCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    deleteFromShardedIndexCore(spark, deleteIds, idCol, indexPath, outPath,
      overwrite)

  /** The one tombstone delete of the [[ShardedLayout]] families: the
    * stored-id / double-delete refusals, the file-level copy of
    * `manifest/`, `rot/` and every shard, and the grown tombstone set.
    */
  private def deleteFromShardedIndexCore(
      spark: SparkSession,
      deleteIds: DataFrame,
      idCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean): Unit = {
    val shards = shardDirs(indexPath,
      ShardedLayout.readManifest(spark, indexPath).numShards)
    val del = deleteIds.select(col(idCol).cast(LongType).as("id"))
      .na.drop().distinct()
    val storedIds = spark.read.parquet(shards.map(d => s"$d/vectors"): _*)
      .select(col("id"))
    val existing =
      if (ShardedLayout.exists(spark, s"$indexPath/tombstones"))
        spark.read.parquet(s"$indexPath/tombstones").select(col("id"))
      else spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)
    // ONE validation job for all three refusal contracts (empty set /
    // unknown id / double delete) — they were three sequential
    // actions, each re-scanning the delete set; stored and tombstone
    // ids are unique by the index contract, so the left joins
    // preserve the delete-set cardinality exactly. That uniqueness is
    // VERIFIED, not assumed (round-16 advisor): `del` is distinct, so
    // any join-row multiplication (n > distinct n) can only come from
    // a duplicated stored/tombstone id — a corrupt index — and
    // refuses by name instead of silently passing the count checks.
    val chk = del
      .join(storedIds.withColumn("__stored", lit(1)), Seq("id"), "left")
      .join(existing.withColumn("__ts", lit(1)), Seq("id"), "left")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("id")).as("nd"),
        min(when(col("__stored").isNull, col("id"))).as("unknown"),
        min(when(col("__ts").isNotNull, col("id"))).as("dbl"))
      .head()
    require(chk.getLong(0) > 0L, "empty delete set")
    require(chk.getLong(0) == chk.getLong(1),
      s"corrupt index at $indexPath: a stored or tombstone id is " +
        s"duplicated (delete validation saw ${chk.getLong(0)} rows for " +
        s"${chk.getLong(1)} distinct delete ids)")
    require(chk.isNullAt(2),
      s"cannot delete id ${chk.getLong(2)}: " +
        s"not stored in the index at $indexPath")
    require(chk.isNullAt(3),
      s"id ${chk.getLong(3)} is already " +
        "tombstoned (double delete)")
    publishAtomically(spark, outPath, overwrite) { tmp =>
      val dirs = Seq("manifest", "rot").filter(d => ShardedLayout.exists(spark, s"$indexPath/$d")) ++
        shards.indices.map(ShardedLayout.shardName)
      Par.shards(dirs)(d => copyDir(spark, s"$indexPath/$d", s"$tmp/$d"))
      existing.unionAll(del).repartition(1)
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$tmp/tombstones")
    }
  }

  /** Compact a tombstoned sharded BQ index — drop tombstoned rows,
    * renumber pack positions contiguously in original order, shrink
    * each shard meta's `n` and the manifest's `total_n`, emit NO
    * tombstone set (the [[ShardedLayout]] compact, shared with
    * [[compactIvfPqShardedIndex]]; the
    * frozen thresholds/grid/bit_cut are untouched — dropping rows
    * never moves the cut, exactly like [[appendBqIndex]] never moves
    * it when adding them).
    */
  def compactBqShardedIndex(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    compactShardedCore(spark, indexPath, outPath, overwrite)

  /** The one map-only compaction of the [[ShardedLayout]] families,
    * whose shards all pack rows by an `idx` position (BQ, IVF+BQ,
    * IVF+PQ/OPQ): drop the tombstoned rows of each shard's `vectors/`,
    * renumber positions contiguously in original order, rewrite meta's
    * `n` (by name, so every meta schema survives) and the manifest's
    * `total_n`, write no `tombstones/`, and carry `rot/` forward.
    */
  private def compactShardedCore(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      overwrite: Boolean): Unit = {
    val manifestDf = spark.read.parquet(s"$indexPath/manifest")
    val numShards = ShardedLayout.readManifest(spark, indexPath).numShards
    require(ShardedLayout.exists(spark, s"$indexPath/tombstones"),
      s"no tombstones at $indexPath — nothing to compact")
    val ts = spark.read.parquet(s"$indexPath/tombstones").select(col("id"))
      .localCheckpoint(eager = true)
    publishAtomically(spark, outPath, overwrite) { tmp =>
      // per-shard compactions are independent (distinct source and
      // destination dirs; the tombstone set is an eager checkpoint) —
      // fanned out per guide §2.6 so the B small rewrite jobs overlap
      val liveTotal = Par.shards(0 until numShards) { i =>
        val (src, dst) = (shardDir(indexPath, i), shardDir(tmp, i))
        val vecs = spark.read.parquet(s"$src/vectors")
        // pack positions are contiguous 0..n-1 per shard, so a kept
        // row's new position is its old one minus the count of
        // dropped positions below it — a MAP-ONLY renumber (zero
        // shuffle; the previous global-orderBy window funneled the
        // whole shard through one task, guide §2). The dropped set
        // is bounded by the tombstone batch, read off a two-column
        // pruned scan.
        val dropped = vecs.select("id", "idx")
          .join(ts, Seq("id"), "left_semi")
          .select("idx").collect().map(_.getInt(0)).sorted
        val bcDropped = spark.sparkContext.broadcast(dropped)
        val newIdx = udf { (p: Int) =>
          val d = bcDropped.value
          var lo = 0; var hi = d.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (d(mid) < p) lo = mid + 1 else hi = mid
          }
          p - lo
        }.asNonNullable()
        vecs.join(ts, Seq("id"), "left_anti")
          .withColumn("idx", newIdx(col("idx")))
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$dst/vectors")
        bcDropped.destroy()
        val liveN = spark.read.parquet(s"$dst/vectors").count()
        spark.read.parquet(s"$src/meta")
          .withColumn("n", lit(liveN).cast(IntegerType))
          .write.mode(SaveMode.ErrorIfExists).parquet(s"$dst/meta")
        liveN
      }.sum
      manifestDf.withColumn("total_n", lit(liveTotal))
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$tmp/manifest")
      // the compacted index keeps its geometry
      carry(spark, indexPath, tmp, "rot")
    }
  }

  /** APPEND new rows to a persisted BQ index — the encode-only daily
    * ingest of the flat binary-quantized family (the
    * [[appendIvfPqShardedIndex]] contracts, verbatim): NO retraining,
    * no raw-vector collect, and the source index is never mutated
    * (the grown index publishes atomically at `outPath`; a crash
    * leaves no torn state anywhere).
    *
    *  - The SQ8 grid, the f64 query thresholds, and the integer
    *    `bit_cut` are FROZEN: new rows SQ8-encode against the stored
    *    bounds (values outside the grid clamp to the edge — the
    *    rerank degrades gracefully for outliers instead of
    *    corrupting) and their bits cut at `code >= bit_cut`, exactly
    *    the build's integer contract, so an appended row's bits equal
    *    what a build over the same grid would set. The threshold is
    *    intentionally NOT re-derived from the grown corpus: moving
    *    the cut would flip OLD rows' bits (a rebuild, not an append);
    *    re-train on a schedule instead.
    *  - Old vectors are COPIED AS FILES (the bytes are already
    *    right); new rows land as additional parquet files in
    *    `vectors/` with pack positions continuing from the old `n`
    *    (encode is scan-stage; the dense numbering is a sort +
    *    zipWithIndex over the batch, never the corpus). Meta is
    *    rewritten with the grown `n`; everything else is copied
    *    through unchanged.
    *
    * Duplicate ids — within `newRows` or against the stored index —
    * REFUSE (ids key an index); dimension mismatches throw the
    * kernel's named error; an index persisted before the `bit_cut`
    * meta column refuses by name (re-persist once with the current
    * writer to upgrade). The result reads back through
    * [[graft.sources.Source.readBqIndex]] (id-ascending, like a
    * build) and serves like any built index (SinkSpec pins old-row
    * byte identity, new-row encode correctness, and search recall
    * over the grown corpus).
    */
  def appendBqIndex(
      spark: SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    appendFlatCore(IndexCodec.Bq, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite, "", "buildBqSharded")(dir => IndexCodec.Bq.appendable(
      IndexCodec.Bq.readMeta(spark, dir), "BQ", indexPath,
      "re-persist the index with writeBqIndex once to upgrade the layout"))(IndexCodec.Bq.Enc)

  /** Id hygiene shared by every encode-only append, flat and sharded:
    * refuse a null id, duplicate ids within the batch, and ids already
    * present in the stored index (ids key an index — a silent
    * double-insert would corrupt every downstream dedup/join on the
    * serve results). The null and duplicate refusals share one job.
    */
  private[sources] def requireFreshAppendIds(
      narrow: DataFrame, idCol: String, storedVectorDirs: Seq[String],
      indexPath: String): Unit = {
    val spark = narrow.sparkSession
    val bad = narrow.groupBy("id").count()
      .filter(col("id").isNull || col("count") > 1).limit(1).collect()
    require(bad.isEmpty || !bad.head.isNullAt(0),
      s"Null id: append batch column $idCol has a null; every row needs an id")
    require(bad.isEmpty, s"duplicate id in append batch: ${bad.head.getLong(0)}")
    val storedIds = spark.read.parquet(storedVectorDirs: _*).select(col("id"))
    val clash = narrow.select("id").join(storedIds, Seq("id"), "left_semi")
      .limit(1).collect()
    require(clash.isEmpty,
      s"id ${clash.headOption.map(_.getLong(0)).getOrElse(-1L)} already " +
        s"exists in the index at $indexPath")
  }

  /** The one flat encode-only append (SQ8, BQ, PQ, OPQ): the stored
    * meta under `indexPath + sub` (`/pq` for OPQ), the `(id, emb)`
    * batch id-checked by [[requireFreshAppendIds]] and held to the
    * family's array cap (`hint` names the sharded build to use past
    * it), then inside the publish: `rot/` carried forward when
    * present, the batch encoded scan-stage in id order with pack
    * positions continuing from the stored `n`, old vectors COPIED AS
    * FILES (their bytes are already right — no decode, no re-encode,
    * no shuffle) with the batch beside them as `append-part-*` files,
    * and the grown meta.
    */
  private def appendFlatCore[M <: IndexCodec.Stored](
      layout: IndexCodec.Layout[M], spark: SparkSession, newRows: DataFrame, idCol: String,
      embCol: String, indexPath: String, outPath: String, overwrite: Boolean, sub: String,
      hint: String)(readMeta: String => M)(encode: M => IndexCodec.Encode): Unit = {
    requireEmbColType(newRows, embCol)
    val m = readMeta(s"$indexPath$sub")
    val narrow = newRows.select(col(idCol).cast(LongType).as("id"), col(embCol).as("emb"))
    requireFreshAppendIds(narrow, idCol, Seq(s"$indexPath$sub/vectors"), indexPath)
    val oldN = m.n
    val grown = oldN + narrow.count()
    val widths = layout.widths(m)
    require(IndexCodec.fits(widths, grown), s"index would grow to $grown rows × " +
      s"${IndexCodec.describe(widths)} — past the JVM array cap; shard the corpus ($hint) " +
      "instead")
    val bc = spark.sparkContext.broadcast(encode(m))
    try publishAtomically(spark, outPath, overwrite) { tmp =>
      val dest = s"$tmp$sub"
      carry(spark, indexPath, tmp, "rot")
      val encoded = narrow.orderBy("id").rdd.zipWithIndex.mapPartitions { it =>
        val e = bc.value
        it.map { case (r, i) => e.row(Seq[Any](oldN + i.toInt, r.getLong(0)), r.getLong(0),
          r.getSeq[Any](1)) }
      }
      spark.createDataFrame(encoded, IndexCodec.schema(IndexCodec.Pos, layout.payload))
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$dest/__append__")
      val appDir = new org.apache.hadoop.fs.Path(s"$dest/__append__")
      val fs = appDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      copyDir(spark, s"$indexPath$sub/vectors", s"$dest/vectors")
      ShardedLayout.movePartsInto(fs, appDir, new org.apache.hadoop.fs.Path(s"$dest/vectors"))
      fs.delete(appDir, true)
      layout.writeMeta(spark, dest, layout.grown(m, grown.toInt))
    } finally bc.destroy()
  }

  /** APPEND new rows to a persisted flat SQ8 index — the
    * [[appendBqIndex]] contract for the plain scalar-quantized rung:
    * the per-dim grid is FROZEN (new rows encode against the stored
    * bounds, outliers clamp to the grid edge), old vectors copy as
    * files, the batch encodes scan-stage with pack positions
    * continuing from the stored `n`, and the grown index publishes
    * atomically at `outPath`. Duplicate ids (within the batch or vs
    * the index) and dimension mismatches refuse by name. The result
    * reads back through [[graft.sources.Source.readSq8Index]]
    * byte-identical on old rows and encode-exact on new ones
    * (SinkSpec pins both against the driver quantizer).
    */
  def appendSq8Index(
      spark: SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    appendFlatCore(IndexCodec.Sq8, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite, "", "buildSq8Sharded")(IndexCodec.Sq8.readMeta(spark, _))(IndexCodec.Sq8.Enc)

  /** APPEND new rows to a persisted flat PQ index — the
    * [[appendBqIndex]] contract for the product-quantized rung: the
    * trained codebooks (and the SQ8 rerank grid, when the index
    * carries one) are FROZEN, new rows encode to their nearest
    * trained centroid per subspace with the build's own strict-`<`
    * tie rule, old vectors copy as files, and the grown index
    * publishes atomically at `outPath`. Codebooks are intentionally
    * NOT re-trained: moving a centroid would change OLD rows'
    * decode (a rebuild, not an append); re-train on a schedule.
    * Encode runs over the TRAINED entries only: the first append
    * records the build's count as `pq_k` ([[IndexCodec.Pq]]).
    * Reads back through [[graft.sources.Source.readPqIndex]].
    */
  def appendPqIndex(
      spark: SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    appendFlatCore(IndexCodec.Pq, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite, "", "buildIvfPqSharded")(IndexCodec.Pq.readMeta(spark, _))(
      IndexCodec.Pq.Enc(_, null))

  /** APPEND new rows to a persisted flat OPQ index — [[appendPqIndex]]
    * with the index's learned rotation applied to each new row first
    * (frozen like the codebooks: re-learning the rotation would
    * re-align every OLD row's space — a rebuild; PQ codes, norms and
    * the sidecar are all computed in rotated space, where the build
    * quantized). The rotation block copies through unchanged; the
    * wrapped PQ payload grows by the encode-only contract. Reads back
    * through [[graft.sources.Source.readOpqIndex]].
    */
  def appendOpqIndex(
      spark: SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit = {
    val (_, rot) = ShardedLayout.readRotation(spark, indexPath)
    appendFlatCore(IndexCodec.Pq, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite, "/pq", "buildIvfPqSharded")(IndexCodec.Pq.readMeta(spark, _))(
      IndexCodec.Pq.Enc(_, rot))
  }

  /** Persist an IVF+BQ index — centroids, per-row cells, bits and SQ8
    * envelope, byte-exact. Layout: [[IndexCodec.IvfBq]] (one vectors
    * row per pack position carrying its cell, as IVF+PQ stores it).
    * [[graft.sources.Source.readIvfBqIndex]] restores byte-identically,
    * rebuilding the CSR and its sequential-bits layout from the cells.
    */
  def writeIvfBqIndex(
      spark: org.apache.spark.sql.SparkSession,
      ix: graft.operators.Similarity.CorpusIndexIvfBq,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite)(IndexCodec.IvfBq.write(spark, ix, _))

  /** Persist a SHARDED IVF+BQ build — the [[writeBqShardedIndex]]
    * shape over the routed rung (which the round-15 crossover probe
    * measured as the 50–100M-rows-per-shard form): one
    * [[writeIvfBqIndex]]-layout dir per shard plus a manifest
    * carrying the routing identity. Serve with
    * [[graft.operators.Similarity.topkIvfBqShardedWaves]] or
    * [[graft.streaming.EventStream.topkServeIvfBqShardedWaves]].
    */
  def writeIvfBqShardedIndex(
      spark: org.apache.spark.sql.SparkSession,
      build: graft.operators.Similarity.ShardedIvfBqBuild,
      path: String,
      overwrite: Boolean = false): Unit = {
    require(build.shards.nonEmpty, "Empty shard list")
    require(build.shardHashVals.size == build.shards.size,
      s"shardHashVals has ${build.shardHashVals.size} entries for " +
        s"${build.shards.size} shards")
    publishAtomically(spark, path, overwrite) { tmp =>
      ShardedLayout.writeShards(spark, tmp, build.shards, build.hashModulus,
        build.shardHashVals)(_.n, IndexCodec.IvfBq.write(spark, _, _))
    }
  }

  /** APPEND new rows to a persisted SHARDED IVF+BQ index — the
    * encode-only ingest for the ROUTED bit rung (the round-15
    * crossover probe's recommendation from ~50M rows/shard up), so a
    * user at the rung's own recommended scale no longer rebuilds the
    * index per ingest batch: the [[appendBqShardedIndex]] envelope
    * ([[appendShardedCore]]) with the IVF structure frozen per shard.
    *
    *  - rows route through the manifest's routing identity (any shard
    *    can host any row: the encode grid/cut are corpus-global and
    *    the cell is assigned within whichever shard the row lands in);
    *  - the SQ8 grid, f64 query thresholds, and integer `bit_cut`
    *    are FROZEN (corpus-global, validated identical across shard
    *    metas so a corrupt mixed-grid index refuses): new rows
    *    SQ8-encode with clamping, bits cut at `code >= bit_cut` —
    *    the build's exact integer contract;
    *  - cells are FROZEN per shard: each new row takes its cell
    *    through [[IndexCodec.IvfBq.Enc]] (decoded, unit-normalized,
    *    strict-max dot against the stored centroids, ties to the
    *    lowest cell — the build's rule). NO re-clustering: moving a
    *    centroid would re-route OLD rows (a rebuild, not an append);
    *  - old vectors copy as files; new rows land beside them with
    *    their cell, pack positions continuing from the shard's old
    *    `n`; meta rewrites `n`; tombstones carry forward; the grown
    *    index publishes atomically at `outPath` (the source index is
    *    never mutated). The reader rebuilds the CSR from the cells.
    *
    * Null, duplicate and stored ids, null embeddings and dim
    * mismatches refuse by name. A pre-`bit_cut` or slot-keyed IVF+BQ
    * layout refuses by name with a NON-circular upgrade: the readers
    * restore both, so read + re-persist (+ re-delete) upgrades the
    * layout. The result restores through the standard readers and
    * serves like any built index (SinkSpec pins old-row byte
    * identity, new-row re-encode equality, CSR validity, self-hit of
    * appended rows, and the grown-corpus recall floor via
    * `ann_ivfbq_append_gate`).
    */
  def appendIvfBqShardedIndex(
      spark: SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    appendShardedCore(IndexCodec.IvfBq, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite)(dir => IndexCodec.IvfBq.appendable(IndexCodec.IvfBq.readMeta(spark, dir),
      indexPath)) { metas =>
      IndexCodec.Bq.requireOneCut(metas.map(_.bq))
      metas.map(IndexCodec.IvfBq.Enc)
    }

  /** TOMBSTONE delete from a persisted sharded IVF+BQ index — the
    * [[ShardedLayout]] delete (a delete never
    * touches the CSR — it is metadata-only; serving deny-masks the
    * probed-cell scan via [[graft.operators.Similarity
    * .topkIvfBqShardedTombstoned]] / the wave serves' `deniedIds`).
    */
  def deleteFromIvfBqShardedIndex(
      spark: SparkSession,
      deleteIds: DataFrame,
      idCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    deleteFromShardedIndexCore(spark, deleteIds, idCol, indexPath, outPath,
      overwrite)

  /** Compact a tombstoned sharded IVF+BQ index — the
    * [[compactBqShardedIndex]] map-only compaction
    * ([[compactShardedCore]]): kept rows keep their cells and order,
    * the reader regroups the CSR stably, and the frozen
    * thresholds/grid/centroids never move. Serving the compacted index
    * is bit-identical to the deny-masked serve of the input (SinkSpec
    * pins it). A slot-keyed layout refuses by name with the upgrade
    * path.
    */
  def compactIvfBqShardedIndex(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit = {
    Par.shards(shardDirs(indexPath, ShardedLayout.readManifest(spark, indexPath).numShards))(
      dir => IndexCodec.IvfBq.current(IndexCodec.IvfBq.readMeta(spark, dir), indexPath))
    compactShardedCore(spark, indexPath, outPath, overwrite)
  }

  /** Persist a trained PCA model — the pretransform's train-once
    * artifact (same story as the SQ8/PQ codebooks: the distributed
    * moments pass + eigensolve is the expensive step, and two trains
    * agree only to floating-point reduction order, so a pipeline that
    * wants bit-stable projections across sessions/layouts MUST
    * restore rather than retrain). The model is tiny (k×dim doubles),
    * so the layout is a single meta row.
    * [[graft.sources.Source.readPcaModel]] restores it
    * byte-identically (round-trip + identical-projection pinned in
    * SinkSpec).
    */
  def writePcaModel(
      spark: org.apache.spark.sql.SparkSession,
      m: graft.operators.Ann.PcaModel,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite) { tmp =>
      import spark.implicits._
      Seq((m.dim, m.k, m.n, m.mean.toSeq, m.basis.toSeq,
          m.eigenvalues.toSeq, m.totalVariance, m.varianceCaptured))
        .toDF("dim", "k", "n", "mean", "basis",
          "eigenvalues", "total_variance", "variance_captured")
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$tmp/meta")
    }

  /** Persist a flat PQ index — same train-once story as
    * [[writeSq8Index]]/[[writeIvfPqIndex]] for the one index family
    * that previously could not persist (#9d): codebook training is the
    * expensive step, so a serving session should restore it rather
    * than retrain. Layout: [[IndexCodec.Pq]] (the SQ8 rerank sidecar
    * columns null without one). [[graft.sources.Source.readPqIndex]]
    * restores a byte-identical
    * [[graft.operators.Similarity.CorpusIndexPq]] (round-trip +
    * identical-search pinned in SinkSpec).
    */
  def writePqIndex(
      spark: org.apache.spark.sql.SparkSession,
      px: graft.operators.Similarity.CorpusIndexPq,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite)(IndexCodec.Pq.write(spark, px, _))

  /** Persist an IVF+PQ index — the composition whose whole point is
    * "train the expensive parts once" (coarse cells + residual
    * codebooks), so persistence matters more here than anywhere
    * else. Layout: [[IndexCodec.IvfPq]].
    * [[graft.sources.Source.readIvfPqIndex]] restores a
    * byte-identical index (CSR rebuilt from `cell`, deterministic:
    * original row order groups stably).
    */
  def writeIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      ix: graft.operators.Similarity.CorpusIndexIvfPq,
      path: String,
      overwrite: Boolean = false): Unit =
    publishAtomically(spark, path, overwrite)(IndexCodec.IvfPq.write(spark, ix, _))

  /** Persist a SHARDED IVF+PQ index (the
    * [[graft.operators.Similarity.buildIvfPqSharded]] family — the
    * past-the-broadcast-envelope composition): one `manifest/` row
    * recording the shard count + total n + the shard-key contract,
    * and each shard's full single-index layout under `shard_NNNN/`,
    * all inside ONE atomic publish — `path` either holds every shard
    * or nothing. Shard geometry may differ per shard (hash-mod split
    * sizes vary; nCells clamps to a small shard), which is why each
    * shard carries its own meta rather than hoisting one.
    * [[graft.sources.Source.readIvfPqShardedIndex]] restores the
    * byte-identical sequence (round-trip + identical sharded search
    * pinned in SinkSpec).
    */
  def writeIvfPqShardedIndex(
      spark: org.apache.spark.sql.SparkSession,
      shards: Seq[graft.operators.Similarity.CorpusIndexIvfPq],
      path: String,
      overwrite: Boolean = false,
      hashModulus: Int = 0,
      shardHashVals: Seq[Long] = Nil): Unit = {
    // the manifest records the BUILD's routing identity (see
    // ShardedLayout) so appends split new ids the way the build did
    // even after empty hash shards were compacted away (round-10
    // ADVICE); callers that dropped no shard can omit both
    val (modulus, hashVals) = routingIdentity("writeIvfPqShardedIndex",
      "ShardedIvfPqBuild", shards.size, hashModulus, shardHashVals)
    publishAtomically(spark, path, overwrite) { tmp =>
      writeIvfPqShardedInto(spark, shards, tmp, modulus, hashVals)
    }
  }

  /** The sharded layout body (manifest + shard dirs) written into an
    * already-owned tmp dir — shared by the plain persist and the
    * IVF+OPQ persist (which adds `rot/` beside it inside ONE atomic
    * publish).
    */
  private def writeIvfPqShardedInto(
      spark: SparkSession,
      shards: Seq[graft.operators.Similarity.CorpusIndexIvfPq],
      tmp: String,
      modulus: Int,
      hashVals: Seq[Long]): Unit =
    ShardedLayout.writeShards(spark, tmp, shards, modulus, hashVals)(
      _.n, IndexCodec.IvfPq.write(spark, _, _))

  /** Persist a sharded IVF+OPQ build — the rotation (`rot/`, one meta
    * row) beside the standard sharded layout, ONE atomic publish. The
    * plain [[graft.sources.Source.readIvfPqShardedIndex]] REFUSES an
    * index with a rotation (a rotation-unaware serve would silently
    * return wrong neighbors — scores computed in unrotated space
    * against rotated codebooks); read through
    * [[graft.sources.Source.readIvfOpqShardedIndex]] and serve with
    * [[graft.operators.Similarity.topkIvfOpqSharded]].
    */
  def writeIvfOpqShardedIndex(
      spark: SparkSession,
      build: graft.operators.Similarity.ShardedIvfOpqBuild,
      path: String,
      overwrite: Boolean = false): Unit = {
    require(build.shards.nonEmpty, "Empty shard list")
    publishAtomically(spark, path, overwrite) { tmp =>
      ShardedLayout.writeRotation(spark, tmp, build.shards.head.dim, build.rot)
      writeIvfPqShardedInto(spark, build.shards, tmp,
        build.build.hashModulus, build.build.shardHashVals)
    }
  }

  /** [[writeIvfPqShardedIndex]] taking the build WITH its routing
    * identity — the non-footgun persist for
    * [[graft.operators.Similarity.buildIvfPqShardedWithLayout]]: the
    * manifest records the modulus the build actually split on and the
    * hash value each surviving directory holds, so appends route
    * correctly even when the build compacted empty hash shards away.
    */
  def writeIvfPqShardedIndex(
      spark: org.apache.spark.sql.SparkSession,
      build: graft.operators.Similarity.ShardedIvfPqBuild,
      path: String,
      overwrite: Boolean): Unit =
    writeIvfPqShardedIndex(spark, build.shards, path, overwrite,
      build.hashModulus, build.shardHashVals)

  /** Schema contract mirror of `Similarity.collectCorpusOpt`: only
    * `array<float>`/`array<double>` embedding columns — the
    * distributed builder and the append path must refuse exactly what
    * the collect-based build refuses (an `array<int>` column would
    * otherwise silently widen through [[embDoubles]]'s Number case, a
    * parity deviation from the byte-identical contract).
    */
  private[sources] def requireEmbColType(df: DataFrame, embCol: String): Unit =
    df.schema(embCol).dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => ()
      case dt => throw new IllegalArgumentException(
        s"Corpus column $embCol must be array<float>/array<double>, got ${dt.simpleString}")
    }

  /** Element conversion mirror of `Similarity.collectCorpusOpt` — the
    * distributed builder must see the SAME doubles the driver path
    * packs, including the f32→f64 widening of `array<float>` corpora.
    * Refuses by name, as `collectCorpus` does, a null embedding or
    * element of row `id` and (with `dim >= 0`) a row of another
    * dimension.
    */
  private[graft] def embDoubles(id: Long, emb: Seq[Any], dim: Int = -1): Array[Double] = {
    if (emb == null) throw new IllegalArgumentException(
      s"Null embedding: corpus row id=$id has a null emb")
    if (dim >= 0 && emb.length != dim) throw new IllegalArgumentException(
      s"Dimension mismatch: corpus rows have $dim and ${emb.length} elements")
    val out = new Array[Double](emb.length)
    var d = 0
    val it = emb.iterator
    while (d < out.length) {
      out(d) = it.next() match {
        case f: java.lang.Float => f.toDouble
        case x: java.lang.Double => x.doubleValue
        case x: Number => x.doubleValue
        case null => throw new IllegalArgumentException(
          s"Null element: corpus row id=$id has a null at emb[$d]")
      }
      d += 1
    }
    out
  }

  /** Unit-normalize (zero-norm rows stay zero) — the same
    * d-ascending square accumulation `collectCorpusOpt` +
    * `quantizeIvfPq` run, so executor-side units are bit-identical
    * to the driver pack's.
    */
  private[graft] def unitVec(v: Array[Double]): Array[Double] = {
    var sq = 0.0; var d = 0
    while (d < v.length) { sq += v(d) * v(d); d += 1 }
    val nrm = math.sqrt(sq)
    val u = new Array[Double](v.length)
    if (nrm > 1e-10) { var d2 = 0; while (d2 < v.length) { u(d2) = v(d2) / nrm; d2 += 1 } }
    u
  }

  /** Build AND persist a sharded IVF+PQ index WITHOUT ever collecting
    * the corpus — the 100 TB build path.
    * [[graft.operators.Similarity.buildIvfPqSharded]] still funnels
    * every raw vector through the driver (one collect per shard:
    * fine at 10M×256 ≈ 20 GB of f64 through one JVM, impossible at
    * corpus scale). This builder keeps the driver sample-bounded:
    *
    *  1. per-shard counts (narrow agg: 8-byte ids + shard key);
    *  2. the SAME strided sample positions `quantizeIvfPq`/
    *     `quantizePq` use, resolved to ids by a narrow `row_number`
    *     window over (shard | id) — only ids ride that exchange;
    *  3. sample embeddings fetched by a broadcast semi-join and
    *     collected (≈ 2·trainSample rows per shard, the only raw
    *     vectors the driver ever holds); coarse centroids + residual
    *     codebooks train through the SHARED loops
    *     (`trainSphericalKmeans`/`trainPqCodebooks` — bit-identical to
    *     the driver build by construction);
    *  4. residual SQ8 bounds via an executor-side min/max fold with
    *     the scalar comparison semantics of `quantizeSq8` (skips NaN
    *     exactly like the driver loop; min/max are order-independent,
    *     so the distributed fold equals the driver scan);
    *  5. one encode scan with the broadcast models
    *     ([[IndexCodec.IvfPq.Enc]]) — each row leaves the executor as
    *     (cell, m-byte PQ code, SQ8 sidecar), ~6× narrower than the
    *     raw vector — through ONE exchange (partition by shard,
    *     `row_number` by id assigns the dense pack `idx` the persisted
    *     format needs) and straight into the `writeIvfPqShardedIndex`
    *     layout inside a single atomic publish. Raw vectors never
    *     shuffle and never collect.
    *
    * The result restores through
    * [[graft.sources.Source.readIvfPqShardedIndex]] BYTE-IDENTICAL to
    * `writeIvfPqShardedIndex(buildIvfPqSharded(...))` (IvfPqSpec +
    * SinkSpec pin ids/codes/centroids/codebooks/cells/SQ8 equality),
    * because every arithmetic step runs the same factored code on the
    * same values in the same order. Ids must be unique (they key the
    * pack order, as in any index); ragged dims throw the kernel's
    * "Dimension mismatch". Same shard split (`xxhash64(id) mod
    * numShards`), same skip-empty-shards compaction, same floors.
    */
  def writeIvfPqShardedIndexDistributed(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      numShards: Int,
      nCells: Int,
      m: Int,
      path: String,
      trainSample: Int = 16384,
      iters: Int = 10,
      withRerank: Boolean = true,
      overwrite: Boolean = false,
      rot: Array[Double] = null): Unit = {
    import graft.operators.Similarity
    import IndexCodec.IvfPq
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(trainSample >= 256, s"trainSample must be >= 256, got $trainSample")
    // same input contract as the collect-based build (collectCorpusOpt
    // rejects non-float embedding columns; byte parity demands the
    // distributed path refuse the same inputs — round-10 ADVICE)
    requireEmbColType(corpus, embCol)
    val sc = spark.sparkContext
    val shardCol = ShardedLayout.hashOf(idCol, numShards)
    val narrow = corpus.select(shardCol.as("shard"), col(idCol).cast(LongType).as("id"))
    // pass 1: per-shard counts + the duplicate-id refusal — ids key the
    // pack order (row_number over id) and the sample map silently
    // dedups, so duplicates would corrupt the pack with no error
    val counts = ShardedLayout.buildCounts(narrow)
    counts.foreach { case (s, c) => require(c <= Int.MaxValue,
      s"shard $s holds $c rows — one shard must fit an index; raise numShards") }
    // non-empty shards in ascending hash order = buildIvfPqSharded's
    // b-ascending loop with empties flattened out
    val shardVals: Seq[Long] = counts.keys.toSeq.sorted
    val kOf = shardVals.map(s => s -> math.min(nCells, counts(s).toInt)).toMap
    val step1 = shardVals.map(s =>
      s -> math.max(1, counts(s).toInt / math.max(trainSample, kOf(s)))).toMap
    val step2 = shardVals.map(s =>
      s -> math.max(1, counts(s).toInt / trainSample)).toMap

    // pass 2: strided sample positions → ids (narrow window; the
    // union of the coarse and PQ sample sets resolves in one pass)
    val wPos = Window.partitionBy("shard").orderBy("id")
    val s1Col = element_at(
      typedLit(step1.map { case (s, v) => s -> v.toLong }), col("shard"))
    val s2Col = element_at(
      typedLit(step2.map { case (s, v) => s -> v.toLong }), col("shard"))
    val sampled = narrow
      .withColumn("pos", row_number().over(wPos).cast(LongType) - 1)
      .filter(col("pos") % s1Col === 0 || col("pos") % s2Col === 0)
      .select("shard", "pos", "id").collect()
    val posBySh = sampled.groupBy(_.getLong(0))
    def sampleIds(s: Long, step: Int): Array[Long] =
      posBySh(s).filter(_.getLong(1) % step == 0).sortBy(_.getLong(1)).map(_.getLong(2))

    // pass 3: fetch ONLY the sampled embeddings (broadcast semi-join)
    import spark.implicits._
    val idsDf = sampled.map(_.getLong(2)).distinct.toSeq.toDF("id")
    val fetched = corpus
      .select(col(idCol).cast(LongType).as("id"), col(embCol).as("emb"))
      .join(broadcast(idsDf), "id").collect()
    val embOfRaw: Map[Long, Array[Double]] =
      fetched.map(r => r.getLong(0) -> embDoubles(r.getLong(0), r.getSeq[Any](1))).toMap
    val dim = embOfRaw.head._2.length
    embOfRaw.valuesIterator.foreach(v => require(v.length == dim,
      s"Dimension mismatch: corpus rows have $dim and ${v.length} elements"))
    require(m >= 1 && m <= dim && dim % m == 0, s"m must divide dim: dim=$dim, m=$m")
    require(rot == null || rot.length == dim.toLong * dim,
      s"rotation must be $dim×$dim, got ${if (rot == null) 0 else rot.length} values")
    // a non-null rot is the IVF+OPQ composition: every vector rotates
    // BEFORE unit-normalization/assignment/encoding — the same
    // rotate-then-build order as the collect path's rotateIndex, via
    // the shared per-row helper so the arithmetic is bit-identical
    val embOf: Map[Long, Array[Double]] =
      if (rot == null) embOfRaw
      else embOfRaw.map { case (id, v) =>
        val out = new Array[Double](dim)
        Similarity.rotateRow(rot, v, 0, dim, out, 0)
        id -> out
      }

    // train per shard on the driver — sample-bounded work, through the
    // SAME loops the collect-based build runs. Shard trainings are
    // independent pure computations over the shared read-only sample
    // map, so they fan out like the collect build's concurrent shard
    // builds (round-9 verdict #1; per-shard results are bit-identical
    // regardless of scheduling)
    val models: Map[Long, IndexCodec.IvfPqMeta] = Par.shards(shardVals) { s =>
      val n = counts(s).toInt
      val k = kOf(s)
      val ids1 = sampleIds(s, step1(s)); val sn1 = ids1.length
      val samp = new Array[Double](sn1 * dim)
      var i = 0
      while (i < sn1) {
        System.arraycopy(unitVec(embOf(ids1(i))), 0, samp, i * dim, dim); i += 1
      }
      val centroids = Similarity.trainSphericalKmeans(samp, sn1, dim, k, iters)
      val ids2 = sampleIds(s, step2(s)); val sn2 = ids2.length
      val resS = new Array[Double](sn2 * dim)
      var i2 = 0
      while (i2 < sn2) {
        val u = unitVec(embOf(ids2(i2)))
        val cell = Similarity.assignCell(u, 0, centroids, k, dim)
        var d = 0
        while (d < dim) { resS(i2 * dim + d) = u(d) - centroids(cell * dim + d); d += 1 }
        i2 += 1
      }
      val codebooks = Similarity.trainPqCodebooks(resS, Array.range(0, sn2), dim, m,
        math.min(256, n), iters)
      // a build meta records no k_pq: min(256, n) IS the trained count
      s -> IndexCodec.IvfPqMeta(n, dim, m, k, centroids, codebooks, null, null, 0)
    }.toMap

    val withShard = corpus.select(shardCol.as("shard"),
      col(idCol).cast(LongType).as("id"), col(embCol).as("emb"))

    // pass 4: corpus-wide residual SQ8 bounds (executor fold with the
    // quantizeSq8 comparison semantics — order-independent, so the
    // distributed fold equals the driver scan bit for bit)
    val finalModels: Map[Long, IndexCodec.IvfPqMeta] =
      if (!withRerank) models
      else {
        val bcE = sc.broadcast(models.map { case (s, mdl) => s -> IvfPq.Enc(mdl, rot) })
        try {
          val partials = withShard.rdd.mapPartitions { it =>
            val es = bcE.value
            val acc = scala.collection.mutable.Map.empty[Long, (Array[Double], Array[Double])]
            it.foreach { row =>
              val sh = row.getLong(0)
              val (_, r) = es(sh).residual(embDoubles(row.getLong(1), row.getSeq[Any](2), dim))
              val (mn, mx) = acc.getOrElseUpdate(sh,
                (Array.fill(dim)(Double.MaxValue), Array.fill(dim)(Double.MinValue)))
              var d = 0
              while (d < dim) {
                if (r(d) < mn(d)) mn(d) = r(d)
                if (r(d) > mx(d)) mx(d) = r(d)
                d += 1
              }
            }
            Iterator.single(acc)
          }.reduce { (a, b) =>
            b.foreach { case (sh, (bmn, bmx)) =>
              a.get(sh) match {
                case Some((amn, amx)) =>
                  var d = 0
                  while (d < dim) {
                    if (bmn(d) < amn(d)) amn(d) = bmn(d)
                    if (bmx(d) > amx(d)) amx(d) = bmx(d)
                    d += 1
                  }
                case None => a(sh) = (bmn, bmx)
              }
            }
            a
          }
          models.map { case (s, mdl) =>
            val (mn, mx) = partials(s)
            val dimMin = new Array[Float](dim)
            val dimScale = new Array[Float](dim)
            var d = 0
            while (d < dim) {
              dimMin(d) = mn(d).toFloat
              dimScale(d) = if (mx(d) > mn(d)) ((mx(d) - mn(d)) / 255.0).toFloat else 0.0f
              d += 1
            }
            s -> mdl.copy(sq8Min = dimMin, sq8Scale = dimScale)
          }
        } finally bcE.destroy()
      }

    // pass 5: encode scan-stage, number by (shard | id) through the
    // one code-width exchange, land in the persisted layout
    val shardOut: Map[Long, Int] = shardVals.zipWithIndex.toMap
    publishAtomically(spark, path, overwrite) { tmp =>
      // the rotation rides the index (the writeIvfOpqShardedIndex
      // layout) so the plain reader refuses and the OPQ reader +
      // append path restore it
      if (rot != null) ShardedLayout.writeRotation(spark, tmp, dim, rot)
      ShardedLayout.writeManifest(spark, tmp,
        Manifest(shardVals.size, counts.values.sum, ShardKey, numShards, shardVals))
      IndexCodec.encodeRouted(spark, withShard,
        finalModels.map { case (s, mdl) => s -> IvfPq.Enc(mdl, rot) }, IvfPq.payload) {
        encoded =>
          ShardedLayout.writeShardParts(encoded, element_at(typedLit(shardOut), col("shard")),
            lit(0L), s"$tmp/__vectors__")
      }
      ShardedLayout.installBuiltShards(spark, tmp, s"$tmp/__vectors__", shardVals) {
        (s, dir) => IvfPq.writeMeta(spark, dir, finalModels(s))
      }
    }
  }

  /** [[writeIvfPqShardedIndexDistributed]] with an OPQ rotation in
    * front — the 100 TB IVF+OPQ build: train R once on the
    * hash-sampled subset (the SAME sample + training loop the
    * collect-based [[graft.operators.Similarity
    * .buildIvfOpqShardedWithLayout]] uses, so the two builders'
    * rotations — and therefore their entire indexes — are
    * bit-identical), then the standard distributed build with every
    * vector rotated scan-stage before unit-normalization/assignment/
    * encoding. Raw vectors still never collect and never shuffle;
    * the rotation itself persists under `rot/` so the plain reader
    * refuses and [[graft.sources.Source.readIvfOpqShardedIndex]]
    * restores the serve pair.
    */
  def writeIvfOpqShardedIndexDistributed(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      numShards: Int,
      nCells: Int,
      m: Int,
      path: String,
      trainSample: Int = 16384,
      iters: Int = 10,
      opqIters: Int = 8,
      withRerank: Boolean = true,
      overwrite: Boolean = false): Unit = {
    import graft.operators.Similarity
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    require(trainSample >= 256, s"trainSample must be >= 256, got $trainSample")
    val totalN = corpus.count()
    require(totalN > 0L, "Empty corpus")
    val rot = Similarity.trainOpqRotation(
      Similarity.opqRotationSample(corpus, idCol, embCol, trainSample, totalN),
      m, trainSample, opqIters)
    writeIvfPqShardedIndexDistributed(spark, corpus, idCol, embCol,
      numShards, nCells, m, path, trainSample, iters, withRerank,
      overwrite, rot)
  }

  /** APPEND new rows to a persisted sharded IVF+PQ index — the daily
    * ingest of a growing corpus: encode-only, NO retraining, no
    * raw-vector collect, and the source index is never mutated (the
    * grown index publishes atomically at `outPath`; readers of
    * `indexPath` are undisturbed, and a crash leaves no torn state
    * anywhere).
    *
    *  - New rows route by the build's split, through the manifest's
    *    routing identity ([[ShardedLayout]]), so ingest stays
    *    balanced and deterministic; an OPQ rotation is applied first
    *    and carried forward with the tombstones.
    *  - Each row is encoded scan-stage with the destination shard's
    *    frozen model ([[IndexCodec.IvfPq.Enc]]) — the same arithmetic
    *    the build ran, against the codebooks as trained (`k_pq`);
    *    residuals outside the frozen SQ8 grid clamp to the grid edge
    *    (rerank degrades gracefully for outliers instead of
    *    corrupting).
    *  - Old vectors are COPIED AS FILES (no decode/re-encode — the
    *    bytes are already right); new rows land as additional parquet
    *    files in each shard's `vectors/` with pack positions
    *    continuing from the old `n`. Meta is rewritten with the grown
    *    `n` and an explicit `k_pq`; the manifest's `total_n` grows to
    *    match.
    *
    * Null and duplicate ids — within `newRows` or against the stored
    * index — throw (ids key an index; silent duplicates would serve
    * the same row twice). Null embeddings and dimension mismatches
    * throw the kernel's named errors. The result
    * reads back through
    * [[graft.sources.Source.readIvfPqShardedIndex]] and serves
    * through `topkIvfPqSharded` like any built index (SinkSpec pins
    * old-row byte identity, new-row encode correctness, and search
    * recall over the grown corpus).
    */
  def appendIvfPqShardedIndex(
      spark: org.apache.spark.sql.SparkSession,
      newRows: DataFrame,
      idCol: String,
      embCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit = {
    // an OPQ-rotated index appends fine — new rows must rotate with
    // the STORED R before encoding (frozen like the codebooks), and
    // the rotation is carried forward so the grown index serves
    // through the same OPQ reader
    val rot =
      if (graft.sources.Source.hasOpqRotation(spark, indexPath))
        ShardedLayout.readRotation(spark, indexPath)._2
      else null
    // routing with the BUILD's modulus (ShardedLayout): a hash value
    // whose shard was dropped at build time has no model, and any
    // shard's codebooks can encode any row
    appendShardedCore(IndexCodec.IvfPq, spark, newRows, idCol, embCol, indexPath, outPath,
      overwrite)(IndexCodec.IvfPq.readMeta(spark, _)) { metas =>
      metas.zipWithIndex.foreach { case (mdl, i) =>
        require(mdl.dim == metas(0).dim,
          s"shard $i dim ${mdl.dim} != ${metas(0).dim} — corrupt index")
        require((mdl.sq8Min != null) == (metas(0).sq8Min != null),
          "corrupt index: shards disagree on the SQ8 sidecar")
      }
      metas.map(IndexCodec.IvfPq.Enc(_, rot))
    }
  }

  /** TOMBSTONE delete from a persisted sharded IVF+PQ index — the
    * takedown/GDPR path that does NOT rebuild: the output index is a
    * file-level copy of the input (codes untouched, byte-identical)
    * plus the grown tombstone id set under `tombstones/`. Serving
    * applies the set as an always-on deny mask
    * ([[graft.operators.Similarity.topkIvfPqShardedTombstoned]] —
    * bit-identical results to the compacted index), and
    * [[compactIvfPqShardedIndex]] eventually rewrites the shards
    * dropping tombstoned rows so the masks retire.
    *
    * Contracts: every deleted id must be STORED in the index (a
    * takedown for a row that was never there is a caller bug, not a
    * no-op), and must not already be tombstoned (double-delete
    * refused — the caller's bookkeeping is broken if it deletes
    * twice). The plain [[graft.sources.Source.readIvfPqShardedIndex]]
    * REFUSES a tombstoned index so no reader can serve deleted rows
    * by accident; read through
    * [[graft.sources.Source.readIvfPqShardedIndexWithTombstones]].
    */
  def deleteFromIvfPqShardedIndex(
      spark: SparkSession,
      deleteIds: DataFrame,
      idCol: String,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    deleteFromShardedIndexCore(spark, deleteIds, idCol, indexPath, outPath,
      overwrite)

  /** Compact a tombstoned sharded IVF+PQ index: rewrite each shard's
    * `vectors/` DROPPING tombstoned rows (pack positions renumbered
    * contiguously in original order — a pure permutation-free
    * deletion, trained models untouched), shrink each shard meta's
    * `n` and the manifest's `total_n` to the live population, and
    * emit NO tombstone set — the compacted index serves through the
    * plain reader with zero masks, and freed ids become appendable
    * again. Serving the compacted index is bit-identical to serving
    * the tombstoned input through
    * [[graft.operators.Similarity.topkIvfPqShardedTombstoned]]
    * (same geometry, same surviving candidates — SinkSpec pins it).
    */
  def compactIvfPqShardedIndex(
      spark: SparkSession,
      indexPath: String,
      outPath: String,
      overwrite: Boolean = false): Unit =
    compactShardedCore(spark, indexPath, outPath, overwrite)
}
