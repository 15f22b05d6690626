package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The persisted SHARDED index layout, written once for the three
  * sharded families — BQ, IVF+BQ and IVF+PQ (with or without an OPQ
  * rotation). Each family keeps its own codec (encode, per-shard meta,
  * IVF+BQ's CSR remap); everything below is family-blind.
  *
  * Directories under an index root:
  *  - `manifest/` — one row: `num_shards` (directory count),
  *    `total_n` (rows stored, tombstoned ones included), `shard_key`
  *    (always `xxhash64_pmod`), `hash_modulus` (the BUILD's modulus)
  *    and `shard_hash_vals` (the raw `pmod(xxhash64(id), hash_modulus)`
  *    value each directory holds — a build drops empty hash shards, so
  *    directory `i` need not hold hash value `i`);
  *  - `shard_NNNN/vectors` + `shard_NNNN/meta` — one complete
  *    single-index layout of the family per shard, one `id` column per
  *    stored row;
  *  - `tombstones/` — the deleted ids (present only after a delete);
  *  - `rot/` — the IVF+OPQ rotation (OPQ indexes only).
  *
  * Routing: a row goes to directory `dirOfHash(pmod(xxhash64(id),
  * hash_modulus))`; a hash value whose shard was dropped at build maps
  * to `hash mod num_shards` (every shard can encode any row, so only
  * that placement is approximate). A legacy manifest without
  * `hash_modulus` reads as the identity layout it had: modulus
  * `num_shards`, directory `i` holding hash value `i`.
  *
  * Every verb publishes a NEW index atomically (`Sink.publishAtomically`)
  * and never mutates its input:
  *  - append copies old vectors as files, adds the encoded batch as
  *    `append-part-*` files, rewrites meta + manifest with the grown
  *    counts, and carries `tombstones/` and `rot/` forward (IVF+BQ
  *    rewrites a touched shard's vectors through its CSR remap instead
  *    of the file copy);
  *  - delete copies `manifest/`, `rot/` and every shard as files and
  *    writes the grown `tombstones/`;
  *  - compact drops tombstoned rows, shrinks `n`/`total_n`, writes no
  *    `tombstones/` and carries `rot/` forward.
  */
private[graft] object ShardedLayout {

  val ShardKey = "xxhash64_pmod"

  /** The `manifest/` row. */
  final case class Manifest(
      numShards: Int,
      totalN: Long,
      shardKey: String,
      hashModulus: Int,
      hashVals: Seq[Long]) {

    /** Raw hash value → shard directory (see the routing rule above). */
    def dirOfHash: Map[Long, Long] = {
      val built = hashVals.zipWithIndex.toMap
      (0L until hashModulus.toLong)
        .map(h => h -> built.getOrElse(h, (h % numShards).toInt).toLong).toMap
    }
  }

  def shardName(i: Int): String = f"shard_$i%04d"

  def shardDir(root: String, i: Int): String = s"$root/${shardName(i)}"

  def shardDirs(root: String, numShards: Int): Seq[String] =
    (0 until numShards).map(shardDir(root, _))

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Copy a directory tree as files — the one file copy every verb uses. */
  def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = new Path(src)
    val d = new Path(dst)
    require(FileUtil.copy(s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf),
      s"could not copy $s to $d")
  }

  /** Copy each of `dirs` that exists under `indexPath` into `tmp`. */
  def carry(spark: SparkSession, indexPath: String, tmp: String, dirs: String*): Unit =
    dirs.filter(d => exists(spark, s"$indexPath/$d"))
      .foreach(d => copyDir(spark, s"$indexPath/$d", s"$tmp/$d"))

  /** Read `manifest/` by column name, with the legacy fallback. */
  def readManifest(spark: SparkSession, path: String): Manifest = {
    val df = spark.read.parquet(s"$path/manifest")
    val r = df.head()
    val numShards = r.getInt(r.fieldIndex("num_shards"))
    require(numShards >= 1, s"corrupt sharded index manifest: num_shards=$numShards")
    val hasModulus = df.schema.fieldNames.contains("hash_modulus")
    Manifest(numShards, r.getLong(r.fieldIndex("total_n")),
      r.getString(r.fieldIndex("shard_key")),
      if (hasModulus) r.getInt(r.fieldIndex("hash_modulus")) else numShards,
      if (hasModulus) r.getSeq[Long](r.fieldIndex("shard_hash_vals"))
      else (0 until numShards).map(_.toLong))
  }

  /** Write `manifest/` plus one `shard_NNNN` per shard through the
    * family's single-index body `write(shard, dir)`; `n` is a shard's
    * row count.
    */
  def writeShards[T](spark: SparkSession, tmp: String, shards: Seq[T],
      hashModulus: Int, hashVals: Seq[Long])(n: T => Int, write: (T, String) => Unit): Unit = {
    writeManifest(spark, tmp, Manifest(shards.size, shards.map(n(_).toLong).sum,
      ShardKey, hashModulus, hashVals))
    Par.shards(shards.zipWithIndex) { case (sx, i) => write(sx, shardDir(tmp, i)) }
  }

  def writeManifest(spark: SparkSession, root: String, m: Manifest): Unit = {
    import spark.implicits._
    Seq((m.numShards, m.totalN, m.shardKey, m.hashModulus, m.hashVals))
      .toDF("num_shards", "total_n", "shard_key", "hash_modulus", "shard_hash_vals")
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$root/manifest")
  }

  /** The OPQ rotation under `path/rot` (one row: `dim`, the row-major
    * `dim`×`dim` matrix `rot`), validated.
    */
  def readRotation(spark: SparkSession, path: String): (Int, Array[Double]) = {
    val r = spark.read.parquet(s"$path/rot").select("dim", "rot").head()
    val rot = r.getSeq[Double](1).toArray
    require(rot.length == r.getInt(0).toLong * r.getInt(0),
      s"corrupt OPQ rotation: dim=${r.getInt(0)} but ${rot.length} values")
    (r.getInt(0), rot)
  }

  def writeRotation(spark: SparkSession, root: String, dim: Int, rot: Array[Double]): Unit = {
    import spark.implicits._
    Seq((dim, rot.toSeq)).toDF("dim", "rot")
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$root/rot")
  }

  /** The tombstone id set — empty when `tombstones/` is absent. */
  def readTombstones(spark: SparkSession, path: String): Array[Long] =
    if (!exists(spark, s"$path/tombstones")) Array.empty[Long]
    else spark.read.parquet(s"$path/tombstones").select("id").collect().map(_.getLong(0))

  /** Restore every shard (fanned out per guide §2.6) and check the
    * manifest's `total_n`, so a truncated copy fails by name instead
    * of serving a partial corpus.
    */
  def restoreShards[T](spark: SparkSession, path: String)(read: String => T)(
      n: T => Int): IndexedSeq[T] = {
    val m = readManifest(spark, path)
    val shards = Par.shards(0 until m.numShards)(i => read(shardDir(path, i)))
    val total = shards.map(n(_).toLong).sum
    require(total == m.totalN,
      s"corrupt sharded index: manifest total_n=${m.totalN} but shards hold $total rows")
    shards
  }

  /** A checked append batch: the source manifest, each shard's stored
    * meta, the routed `(shard, id, emb)` frame and its per-shard counts.
    */
  final case class Append[M](
      manifest: Manifest, metas: IndexedSeq[M], narrow: DataFrame,
      newCounts: Map[Long, Long]) {
    def newOf(i: Int): Long = newCounts.getOrElse(i.toLong, 0L)
    def grown: Manifest = manifest.copy(totalN = manifest.totalN + newCounts.values.sum)
  }

  /** `pmod(xxhash64(id), modulus)` — the raw hash value a row routes by. */
  def hashOf(idCol: String, modulus: Int): Column =
    pmod(xxhash64(col(idCol).cast(LongType)), lit(modulus)).cast(LongType)

  /** A distributed build's per-hash-shard row counts from `(shard, id)`
    * rows. ONE (shard, id) aggregation serves both these counts and the
    * duplicate-id refusal: equal ids land in the same shard, so
    * per-(shard, id) counts see every duplicate (a separate groupBy(id)
    * job cost the round-11 gate ~1.3 s, verdict #4). Cached because two
    * actions read it; narrow rows (two longs + a count) spill to disk
    * if a 100 TB corpus' distinct ids outgrow memory.
    */
  def buildCounts(narrow: DataFrame): Map[Long, Long] = {
    val perId = narrow.groupBy("shard", "id").count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts =
      try {
        val dupId = perId.filter(col("count") > 1).limit(1).collect()
        require(dupId.isEmpty,
          s"duplicate id in corpus: ${dupId.headOption.map(_.getLong(1)).getOrElse(-1L)}")
        perId.groupBy("shard").agg(sum("count").as("count"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally { perId.unpersist(); () }
    require(counts.nonEmpty, "Empty corpus")
    counts
  }

  /** The shared append prelude: the embedding column type, the
    * manifest (shard key `xxhash64_pmod` only), each shard's meta read
    * through `readMeta`, the batch routed by the manifest, its id
    * hygiene (null, duplicate, clash with a stored id), per-shard new
    * counts and the grow cap — `fits(meta, grown)` is the family's cap
    * on one shard's grown row count.
    */
  def prepareAppend[M](
      spark: SparkSession, newRows: DataFrame, idCol: String, embCol: String,
      indexPath: String)(readMeta: Int => M)(oldN: M => Long, fits: (M, Long) => Boolean)
      : Append[M] = {
    Sink.requireEmbColType(newRows, embCol)
    val m = readManifest(spark, indexPath)
    require(m.shardKey == ShardKey,
      s"cannot append to an index with shard key '${m.shardKey}'")
    // independent per-shard meta reads fanned out per guide §2.6
    val metas = Par.shards(0 until m.numShards)(readMeta)
    val narrow = newRows.select(
      element_at(typedLit(m.dirOfHash), hashOf(idCol, m.hashModulus)).as("shard"),
      col(idCol).cast(LongType).as("id"),
      col(embCol).as("emb"))
    Sink.requireFreshAppendIds(narrow, idCol, shardDirs(indexPath, m.numShards)
      .map(d => s"$d/vectors"), indexPath)
    val newCounts = narrow.groupBy("shard").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    metas.indices.foreach { i =>
      val grown = oldN(metas(i)) + newCounts.getOrElse(i.toLong, 0L)
      require(fits(metas(i), grown),
        s"shard $i would grow to $grown rows — one shard must fit an index")
    }
    Append(m, metas, narrow, newCounts)
  }

  /** Write `(shard, id, payload…)` encoded rows as per-shard parquet
    * parts under `dir/shard_out=<directory>`: `idx` numbers each
    * shard's rows by id from `base` (the pack position), and
    * `shardOut` names the directory a row lands in.
    */
  def writeShardParts(encoded: DataFrame, shardOut: Column, base: Column, dir: String): Unit =
    encoded
      .withColumn("idx", (base + row_number().over(
        Window.partitionBy("shard").orderBy("id")) - 1).cast(IntegerType))
      .withColumn("shard_out", shardOut)
      .select(("shard_out" +: "idx" +: encoded.columns.tail.toSeq).map(col): _*)
      .write.partitionBy("shard_out").mode(SaveMode.ErrorIfExists).parquet(dir)

  /** The shared append tail inside the publish `tmp`: the encoded
    * `(shard, id, payload…)` batch lands as per-shard parts numbered on
    * from each shard's stored row count `oldN(i)`; per shard, old
    * vectors copy as files and the parts move in beside them as
    * `append-part-*`; `writeMeta(i, shardDir)` writes the grown meta.
    * Then `tombstones/` and `rot/` carry forward (re-adding a
    * tombstoned id is refused by the stored-id clash — compact first).
    */
  def appendTail(spark: SparkSession, encoded: DataFrame, oldN: Seq[Int], indexPath: String,
      tmp: String)(writeMeta: (Int, String) => Unit): Unit = {
    val parts = s"$tmp/__append__"
    writeShardParts(encoded, col("shard").cast(IntegerType), element_at(
      typedLit(oldN.zipWithIndex.map { case (n, i) => i.toLong -> n.toLong }.toMap),
      col("shard")), parts)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-shard copy/move/meta tails are independent — guide §2.6
    Par.shards(oldN.indices) { i =>
      val dst = shardDir(tmp, i)
      copyDir(spark, s"${shardDir(indexPath, i)}/vectors", s"$dst/vectors")
      movePartsInto(fs, new Path(s"$parts/shard_out=$i"), new Path(s"$dst/vectors"))
      writeMeta(i, dst)
    }
    fs.delete(new Path(parts), true)
    carry(spark, indexPath, tmp, "tombstones", "rot")
  }

  /** Move every `part-*` file of `src` (if present) into `dstVec` as
    * `append-part-*`.
    */
  def movePartsInto(fs: org.apache.hadoop.fs.FileSystem, src: Path, dstVec: Path): Unit =
    if (fs.exists(src)) fs.listStatus(src).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("part-"))
        require(fs.rename(st.getPath, new Path(dstVec, s"append-$nm")),
          s"could not move ${st.getPath} into $dstVec")
    }

  /** The distributed builders' install step: move each written
    * `dir/shard_out=i` in as `shard_NNNN/vectors` (renames, no copy),
    * write its meta, and drop `dir`.
    */
  def installBuiltShards(spark: SparkSession, tmp: String, dir: String, shardVals: Seq[Long])(
      writeMeta: (Long, String) => Unit): Unit = {
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Par.shards(shardVals.zipWithIndex) { case (s, i) =>
      val dst = new Path(shardDir(tmp, i))
      require(fs.mkdirs(dst), s"could not create $dst")
      val src = new Path(s"$dir/shard_out=$i")
      require(fs.exists(src), s"encode pass produced no partition for shard $s at $src")
      require(fs.rename(src, new Path(dst, "vectors")), s"could not move $src into $dst")
      writeMeta(s, dst.toString)
    }
    fs.delete(new Path(dir), true)
  }
}
