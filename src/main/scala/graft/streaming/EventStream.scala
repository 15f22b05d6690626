package graft.streaming

import graft.operators.{DotKernel, QueryBatch, Similarity, TopSelector, TopkFrame}
import graft.sources.{ShardedLayout, Source}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.2 #20): the event stream
  * consumed as an unbounded source with event-time windowing + a
  * watermark. The batch query Relational.eventsWindow computes the
  * identical result — StreamingSpec asserts they agree when the
  * parquet file is replayed through the stream.
  */
object EventStream {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Parquet schema of events with `ts` as `tsType` — the generator's
    * ts encoding has varied across testdata drops (TIMESTAMP(NANOS),
    * which Spark reads as raw long under `nanosAsLong`, vs plain
    * TIMESTAMP micros), and a stream needs an explicit schema.
    */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Unbounded read of the events table (file-replay in tests; a real
    * deployment points this at a bucket/queue of arriving files).
    * One batch footer read discovers which ts encoding this drop
    * uses, then the stream normalizes to TimestampType exactly like
    * `Tables.events` — the streaming and batch halves of every
    * parity spec must see the same instants.
    */
  def read(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour event-time windows per event_type with a 1-hour
    * watermark bounding state. Same output shape (and rounding) as
    * the batch Relational.eventsWindow.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), (round(sum(col("value")), 4) + lit(0.0)).as("sum_value"))
      .select(col("window.start").as("w"), col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming exact dedup on the content hash — the built-in stateful
    * `dropDuplicates` with a watermark bounding the dedup state (at
    * scale, state stores one (hash, ts) per distinct document inside
    * the watermark horizon). First arrival wins, like the batch
    * `Dedup.exact` keep-min-id rule under an id-ordered replay.
    */
  def dedupDocs(docs: DataFrame, tsCol: String, textCol: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming document CURATION — the ingest-time form of
    * [[graft.operators.Curate.curate]]: language+quality gates and PII
    * redaction are stateless scan-stage expressions (they apply to a
    * stream unchanged), exact dedup is the watermark-bounded stateful
    * `dropDuplicates` of [[dedupDocs]]. First arrival per content
    * hash wins — equal to the batch min-id rule under an id-ordered
    * replay; gate-failing docs never enter the dedup state (the same
    * gates-before-dedup argument as the batch job: exact copies gate
    * identically).
    *
    * Decontamination against a static eval set stays a per-microbatch
    * `foreachBatch` call of [[graft.operators.Dedup.decontaminate]]
    * (stream-static LEFT ANTI joins aren't in Spark's supported
    * stream-static matrix; the eval side is static and broadcast, so
    * batch semantics per microbatch are exact) — demonstrated in
    * StreamingSpec.
    */
  def curateDocs(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      lang: String = "en",
      minWords: Long = 30L,
      minStopRatio: Double = 0.04): DataFrame = {
    dedupDocs(
      docs
        .filter(graft.operators.Curate.gatePasses(col(textCol), lang, minWords, minStopRatio))
        .withColumn("text_redacted",
          graft.operators.TextAnalysis.redactedText(col(textCol))),
      tsCol, textCol)
  }

  /** Streaming LINE CLEANUP — the ingest-time form of
    * [[graft.operators.TextAnalysis.removeBoilerplateLines]] +
    * [[graft.operators.TextAnalysis.dedupLinesWithinDoc]]: both are
    * stateless scan-stage transforms, so they apply to a stream
    * unchanged. The boilerplate set is trained ONCE on a static
    * reference corpus (the landed data — a stream can't see global
    * line frequencies) and broadcast; within-doc dedup needs no state
    * at all. StreamingSpec pins batch parity on the replayed stream.
    */
  def cleanLines(
      docs: DataFrame,
      textCol: String,
      boilerplate: org.apache.spark.broadcast.Broadcast[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]]): DataFrame = {
    val noBoiler = graft.functions.SketchFunctions
      .filter_boilerplate_lines(col(textCol), boilerplate)("clean")
    // keep-first via the same O(lines) hash-set expression the batch
    // pipeline uses (the positional array_position lambda it replaced
    // was O(lines²) — same pathology round-5 advice flagged in batch)
    docs.withColumn(textCol + "_clean",
      graft.functions.SketchFunctions.dedup_lines_within_doc(noBoiler)("clean"))
  }

  /** Streaming text hygiene — the ingest-time form of the
    * normalization front door: mojibake repair → Unicode NFC →
    * C4 line rules, all stateless codegen'd scan expressions
    * ([[graft.operators.TextAnalysis.fixMojibake]] /
    * `normalizeUnicode` / `c4Struct`), so the exact batch column
    * logic drops into an unbounded stream unchanged. Emits
    * `<textCol>_clean`, `n_kept`, and the C4 `keep_doc` flag;
    * StreamingSpec pins batch parity.
    */
  def hygiene(docs: DataFrame, textCol: String, minWords: Int = 3): DataFrame = {
    val fixed = graft.operators.TextAnalysis.normalizeUnicode(
      graft.operators.TextAnalysis.fixMojibake(col(textCol)), "NFC")
    docs
      .withColumn("__c4", graft.operators.TextAnalysis.c4Struct(fixed, minWords))
      .withColumn(textCol + "_clean", col("__c4.clean"))
      .withColumn("n_kept", col("__c4.n_kept"))
      .withColumn("keep_doc", col("__c4.keep_doc"))
      .drop("__c4")
  }

  /** Streaming point-in-interval enrichment: tag each streamed event
    * with the static intervals containing its timestamp (maintenance
    * windows, incident windows, campaign flights) — the streaming twin
    * of [[graft.operators.Relational.intervalJoin]]. The bucketed
    * rewrite matters MORE here: a stream-static join in Structured
    * Streaming must be an equi-join (a nested-loop range join is
    * unsupported against an unbounded side), so exploding the static
    * intervals into time buckets and equi-joining on the bucket is
    * what makes the range predicate streamable at all. The exploded
    * interval table is small and broadcast; each micro-batch pays a
    * scan-stage hash lookup, no state, no watermark.
    */
  def intervalEnrich(events: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketWidthMicros: Long, maxBucketsPerInterval: Int = 10000): DataFrame = {
    require(bucketWidthMicros > 0, s"bucketWidthMicros must be > 0, got $bucketWidthMicros")
    require(maxBucketsPerInterval > 0,
      s"maxBucketsPerInterval must be > 0, got $maxBucketsPerInterval")
    graft.operators.Relational.requireDisjoint(events, intervals)
    // the SAME unit rule as the batch joins (Relational.tsNumeric):
    // timestamps (tz or ntz — some testdata parquet carries ntz) via
    // unix_micros, numerics interpreted AS micros; containment
    // compares the micros forms, never mixed raw types. Bucket keys
    // are Relational.bucketKey's exact-long bucket-start micros (the
    // batch joins' arithmetic — shared so a long column means the
    // same bucket on both paths).
    val iv = broadcast(intervals
      .filter(col(startCol) <= col(endCol))
      .withColumn("__su", graft.operators.Relational.tsNumeric(intervals, startCol))
      .withColumn("__eu", graft.operators.Relational.tsNumeric(intervals, endCol))
      .withColumn("__ib", explode(graft.operators.Relational.bucketSeq(
        col("__su"), col("__eu"), bucketWidthMicros, maxBucketsPerInterval))))
    events.withColumn("__pu", graft.operators.Relational.tsNumeric(events, tsCol))
      .withColumn("__pb", graft.operators.Relational.bucketKey(
        col("__pu"), bucketWidthMicros))
      .join(iv, col("__pb") === col("__ib")
        && col("__pu") >= col("__su") && col("__pu") <= col("__eu"))
      .drop("__pb", "__ib", "__pu", "__su", "__eu")
  }

  /** Streaming trending tokens: per tumbling window, the Misra-Gries
    * frequent-items sketch ([[graft.functions.MisraGriesAgg]]) over a
    * token column — the "what is spiking right now" monitor a corpus
    * ingest pipeline runs. The sketch's bounded mergeable state is
    * exactly what a streaming aggregate needs: per-window state is ≤
    * `capacity` counters regardless of vocabulary, and the state
    * store serializes it through the aggregate's own serde between
    * micro-batches. Complete/update output modes (windowed agg);
    * StreamingSpec pins batch parity on file replay.
    */
  def trendingTokens(events: DataFrame, tsCol: String, tokenCol: String,
      windowMinutes: Int, k: Int, capacity: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => C, expression => E}
    val agg = graft.functions.MisraGriesAgg(E(col(tokenCol)), k, capacity)
    events
      .groupBy(window(col(tsCol).cast("timestamp"), s"$windowMinutes minutes"))
      .agg(C(agg.toAggregateExpression()).as("sk"))
      .select(col("window.start").as("w_start"),
        col("sk.items").as("items"), col("sk.max_err").as("max_err"))
  }

  /** Streaming URL dedup — the ingest-time form of
    * [[graft.operators.TextAnalysis.canonicalUrl]]: canonicalize the
    * URL (a stateless scan expression) and keep the FIRST doc per
    * canonical key inside the watermark horizon. The crawl-frontier
    * shape: state is one (key, ts) per distinct canonical URL in the
    * horizon, evicted by the watermark.
    */
  def dedupDocsByUrl(docs: DataFrame, tsCol: String, urlCol: String): DataFrame =
    docs
      .withColumn("canon_url",
        graft.operators.TextAnalysis.canonicalUrl(col(urlCol)))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("canon_url")

  /** Streaming SPAN scrub — the ingest-time form of
    * [[graft.operators.Dedup.decontaminateSpans]]: the eval window
    * set is static and broadcast (trained once from the benchmark
    * suite), so the scrub is a stateless scan-stage map — the same
    * [[graft.functions.RemoveDupSpans]] expression, applied to an
    * unbounded stream unchanged. StreamingSpec pins batch parity.
    */
  def scrubSpans(
      docs: DataFrame,
      textCol: String,
      l: Int,
      evalWindows: org.apache.spark.broadcast.Broadcast[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]]): DataFrame = {
    import graft.functions.TextFunctions.normalize
    docs.withColumn("__s", graft.functions.SketchFunctions
        .remove_dup_spans(normalize(col(textCol)), l, evalWindows))
      .withColumn(textCol + "_clean", col("__s.clean"))
      .withColumn("n_dropped", col("__s.n_dropped").cast("long"))
      .drop("__s")
  }

  /** Streaming NEAR-dup dedup on the 64-bit SimHash fingerprint: docs
    * whose fingerprint collides with one already seen inside the
    * watermark horizon are dropped — catches reformatted/lightly-
    * edited re-posts, not just byte-identical ones (identical
    * fingerprint ⇔ hamming distance 0, the strictest near-dup tier;
    * the banded LSH tiers need cross-row joins, which is batch
    * territory — `Dedup.minhashPairs` over a landed window). Same
    * bounded-state shape as [[dedupDocs]]: one (fingerprint, ts) per
    * distinct fingerprint inside the watermark.
    */
  def dedupDocsSimhash(docs: DataFrame, tsCol: String, textCol: String): DataFrame = {
    import graft.functions.SketchFunctions.simhash64
    import graft.functions.TextFunctions.{normalize, tokens}
    docs
      .withColumn("simhash", simhash64(tokens(normalize(col(textCol)))))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** Streaming AS-OF enrichment — the unbounded counterpart of
    * `Relational.asofJoin`: each left event is matched to the latest
    * right event with the same key and ts ≤ its own (inclusive).
    * Both streams arrive unioned with a side tag; per key,
    * `flatMapGroupsWithState` keeps ONLY the latest right (ts, value)
    * — O(1) state per key, no watermark-bounded buffer of right
    * history.
    *
    * Semantics note (inherent to single-pass streaming): within a
    * micro-batch, events are processed in (ts, side) order, so the
    * result matches the batch join exactly for data that arrives in
    * one batch (StreamingSpec asserts this) or per-key
    * ts-monotonically across batches. A right event arriving AFTER a
    * later-ts left event was already emitted cannot retroactively
    * re-match it — the batch operator is the replay path when exact
    * late-data semantics matter.
    */
  case class AsofEvent(key: Long, ts: java.sql.Timestamp, side: Int,
      leftId: Long, rightValue: Double)
  case class AsofState(ts: Long, value: Double)
  case class AsofMatch(key: Long, leftId: Long, ts: java.sql.Timestamp,
      matched_value: Option[Double])

  def asofEnrich(left: DataFrame, right: DataFrame): Dataset[AsofMatch] = {
    val spark = left.sparkSession
    import spark.implicits._
    def toUs(ts: java.sql.Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    val l = left.select(col("key"), col("ts"), lit(1).as("side"),
      col("left_id").as("leftId"), lit(0.0).as("rightValue"))
    val r = right.select(col("key"), col("ts"), lit(0).as("side"),
      lit(-1L).as("leftId"), col("value").as("rightValue"))
    l.unionAll(r).as[AsofEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, batch: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          // (ts, side) order: a right event at the same ts as a left
          // event is visible to it, like the batch join
          val evs = batch.toArray.sortBy(e => (toUs(e.ts), e.side))
          var cur = state.getOption
          val out = List.newBuilder[AsofMatch]
          evs.foreach { e =>
            if (e.side == 0) {
              val us = toUs(e.ts)
              if (cur.forall(_.ts <= us)) cur = Some(AsofState(us, e.rightValue))
            } else {
              val m = cur.filter(_.ts <= toUs(e.ts)).map(_.value)
              out += AsofMatch(key, e.leftId, e.ts, m)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** One closed session per (user, ≥`gapMinutes` silence) — custom
    * state via `flatMapGroupsWithState` (SURVEY §2.2 #20): the state
    * is the user's open session; an event inside the gap extends it,
    * an event beyond the gap closes+emits it, and the event-time
    * timeout (watermark passing session_end + gap) closes+emits the
    * final one. Batch equivalent: Relational.sessionize.
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(startUs: Long, endUs: Long, n: Long)
  case class ClosedSession(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  def sessionize(events: DataFrame, gapMinutes: Int): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // java.sql.Timestamp splits time into millis + nanos-of-second;
    // getTime alone drops the microsecond component the events carry
    def toUs(ts: java.sql.Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    def toTs(us: Long) = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    events.select(col("user_id"), col("ts")).as[SessionEvent]
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's horizon: flush it
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, toTs(s.startUs), toTs(s.endUs), s.n))
          } else {
            // merge this micro-batch's events (sorted; late events
            // inside the gap fold into the open session); emit
            // sessions a later event already closed
            val evs = batch.map(e => toUs(e.ts)).toArray.sorted
            var open = state.getOption
            val closed = List.newBuilder[ClosedSession]
            evs.foreach { us =>
              open = open match {
                case Some(cur) if us - cur.endUs <= gapUs =>
                  Some(OpenSession(math.min(cur.startUs, us), math.max(cur.endUs, us), cur.n + 1))
                case Some(cur) =>
                  closed += ClosedSession(userId, toTs(cur.startUs), toTs(cur.endUs), cur.n)
                  Some(OpenSession(us, us, 1))
                case None =>
                  Some(OpenSession(us, us, 1))
              }
            }
            open.foreach { cur =>
              state.update(cur)
              // flush once the watermark passes session_end + gap
              state.setTimeoutTimestamp(cur.endUs / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** STREAMING top-k serving over a PERSISTED SHARDED IVF+PQ index
    * with BOUNDED memory — the long-running form of
    * [[graft.operators.Similarity.topkIvfPqShardedWaves]] (round-11
    * verdict #1). The all-resident streaming shape (foreachBatch →
    * `topkIvfPqSharded`) re-pins every shard's broadcast on every
    * micro-batch, so per-executor memory equals the TOTAL compressed
    * index — the exact ceiling sharding exists to break. This serve
    * instead pages the persisted shards
    * ([[graft.sources.Source.readIvfPqShardedIndex]] layout) through
    * the driver in waves of `waveSize` per micro-batch, on
    * [[graft.operators.Similarity.topkShardedWavesCore]]: each wave
    * loads only its shards from `indexPath`, mints one broadcast of
    * them, merges them into each query row's running top-k carried
    * from the earlier waves (wave 0 reads the micro-batch itself, so
    * the batch is scanned once and never persisted), persists that
    * cut and destroys the broadcast before the next wave — peak DRIVER
    * and EXECUTOR index memory are both one wave, never Σ-shards,
    * measured by `meter` across the whole stream. Ranks are per query
    * row.
    *
    * The memory/IO trade is explicit: a bounded serve re-reads each
    * unpinned shard's parquet once per micro-batch (sequential
    * columnar scans of the compressed packs — the OS page cache
    * and/or shared-FS caching absorb most of it). `residentShards`
    * pins shards (the FIRST r, a deterministic prefix — under the
    * cyclic per-batch scan an LRU of r < B would evict exactly what
    * the next wave needs, so pinning beats LRU here) in the driver
    * across batches to dial paging down; pinning every shard recovers
    * the all-resident wall-clock while STILL bounding executor
    * broadcasts to one wave.
    *
    * RESIDENCY IS BUDGET-PRICED BY DEFAULT (`residentShards = -1`):
    * shards are loaded and `SizeEstimator`-sized in order at wiring
    * time and the longest prefix whose cumulative bytes fit
    * `residentBudgetBytes` (default driver heap/8, floor 64 MB) is
    * pinned — StreamServeProbe measured the re-read tax at ~2×
    * wall-clock (17.6 s unpinned vs 8.9 s all-pinned at 10M×16
    * shards), so free driver heap should buy paging down without the
    * caller hand-counting shard bytes (round-12 verdict #4). The
    * decision is observable: `meter.pinnedShards` /
    * `meter.pinnedShardBytes` record it. An explicit
    * `residentShards >= 0` overrides the budget entirely.
    *
    * Each micro-batch writes its wave cuts under
    * `<scratch>/batch_<id>` and deletes them after `onBatch` returns,
    * so `onBatch` MUST consume its DataFrame synchronously
    * (collect/write — anything that runs the plan). Scratch policy is
    * [[graft.operators.Similarity.topkIvfPqShardedWaves]]'s: the
    * temp-dir default refuses off local mode (wave cuts need a
    * filesystem every executor can read; with the local-mode default,
    * the cuts are in-memory checkpoints instead). The scratch is NAMESPACED
    * per serve instance (`serve_<uuid8>` under the resolved root):
    * two serves wired at the same explicit shared-FS root both start
    * at batch_0, and without the namespace serve A's overwrite-mode
    * wave writes and end-of-batch recursive delete would race serve
    * B's reads of the same `batch_0` dir — silent wrong/missing rows
    * (round-12 advisor).
    *
    * `allowedIds` (optional) restricts serving to an id subset — the
    * ID-selector mask of
    * [[graft.operators.Similarity.topkIvfPqFiltered]]: each shard's
    * mask is built at its wave, broadcast with it, and destroyed with
    * it, so the one-wave peak bound carries over to filtered serving
    * unchanged. The set is fixed at wiring time (tenant/collection
    * filters); per-query predicates belong in `onBatch`.
    *
    * A TOMBSTONED index ([[graft.sources.Sink
    * .deleteFromIvfPqShardedIndex]]) serves correctly without caller
    * action: the tombstone set is read once at wiring time and
    * applied as an always-on deny mask beside any `allowedIds`
    * (allow ∧ ¬deleted) — this serve reads shard dirs directly, so
    * it must enforce what the plain reader's refusal enforces.
    *
    * An index with `rot/` (IVF+OPQ) rotates every query with its
    * persisted rotation, read once at wiring time; it rides each
    * wave's broadcast. The wave, residency and kernel arguments
    * (`nProbe`, `shortlist`) are checked at wiring time, so a refused
    * call never starts a stream. Returns the configured
    * `DataStreamWriter` — the caller attaches trigger/checkpoint and
    * calls `start()`. The body ([[serveShardedWaves]]) is shared with
    * the BQ and IVF+BQ streaming serves.
    */
  def topkServeIvfPqShardedWaves(
      queries: DataFrame,
      embCol: String,
      qIdCol: String,
      indexPath: String,
      k: Int,
      nProbe: Int,
      shortlist: Int = 0,
      waveSize: Int = 2,
      residentShards: Int = -1,
      scratchDir: String = "",
      residentBudgetBytes: Long = 0L,
      meter: Similarity.ShardedServeMeter = Similarity.ShardedServeStats.default,
      allowedIds: Array[Long] = null)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveShardedWaves(queries, indexPath, waveSize, residentShards, scratchDir,
      residentBudgetBytes, meter, Similarity.validateIvfPqCall(k, nProbe, shortlist))(
      Source.readIvfPqIndex) { w =>
      Similarity.topkIvfPqWavesCore(w.batch, embCol, qIdCol, w.shards, k, nProbe, shortlist,
        waveSize, w.scratch, meter, w.memoryPartials, allowedIds, w.tombstones, rot = w.rot)
    }(onBatch)

  /** STREAMING bounded serve over a PERSISTED sharded BQ index — the
    * [[topkServeIvfPqShardedWaves]] serve ([[serveShardedWaves]]) for
    * the bit rung: shards page off
    * [[graft.sources.Sink.writeBqShardedIndex]]'s layout in waves per
    * micro-batch (peak per-executor broadcast memory = one wave's bits
    * + envelopes, metered), with the same residency policy, tombstone
    * deny mask and `allowedIds` filter (allow ∧ ¬deny).
    */
  def topkServeBqShardedWaves(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      indexPath: String,
      k: Int,
      metric: graft.operators.Metric,
      shortlist: Int,
      waveSize: Int = 2,
      residentShards: Int = -1,
      scratchDir: String = "",
      residentBudgetBytes: Long = 0L,
      meter: Similarity.ShardedServeMeter = Similarity.ShardedServeStats.default,
      allowedIds: Array[Long] = null)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveShardedWaves(queries, indexPath, waveSize, residentShards, scratchDir,
      residentBudgetBytes, meter, Similarity.validateBqArgs(k, shortlist))(
      Source.readBqIndex) { w =>
      Similarity.topkBqWavesCore(w.batch, qIdCol, embCol, w.shards, k, metric, shortlist,
        waveSize, w.scratch, meter, w.memoryPartials, allowedIds, w.tombstones)
    }(onBatch)

  /** STREAMING bounded serve over a PERSISTED sharded IVF+BQ index —
    * the [[topkServeBqShardedWaves]] serve ([[serveShardedWaves]]) for
    * the ROUTED bit rung (the 50–100M-rows-per-shard form the
    * round-15 crossover probe measured).
    */
  def topkServeIvfBqShardedWaves(
      queries: DataFrame,
      qIdCol: String,
      embCol: String,
      indexPath: String,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      waveSize: Int = 2,
      residentShards: Int = -1,
      scratchDir: String = "",
      residentBudgetBytes: Long = 0L,
      meter: Similarity.ShardedServeMeter = Similarity.ShardedServeStats.default,
      allowedIds: Array[Long] = null)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    serveShardedWaves(queries, indexPath, waveSize, residentShards, scratchDir,
      residentBudgetBytes, meter, Similarity.validateIvfBqArgs(k, nProbe, shortlist))(
      Source.readIvfBqIndex) { w =>
      Similarity.topkIvfBqWavesCore(w.batch, qIdCol, embCol, w.shards, k, nProbe, shortlist,
        waveSize, w.scratch, meter, w.memoryPartials, allowedIds, w.tombstones)
    }(onBatch)

  /** One micro-batch's inputs to a family's wave core: the batch, the
    * shard providers, its scratch dir (empty with in-memory cuts), the
    * tombstone deny set (null: none) and the OPQ rotation (null: no
    * `rot/`).
    */
  private final case class WaveBatch[I](
      batch: DataFrame,
      shards: Seq[() => I],
      scratch: String,
      memoryPartials: Boolean,
      tombstones: Array[Long],
      rot: Array[Double])

  /** The one streaming sharded wave serve behind
    * `topkServe{IvfPq,Bq,IvfBq}ShardedWaves` (contract on
    * [[topkServeIvfPqShardedWaves]]). At wiring time it checks the
    * wave arguments and the family's index-free kernel arguments
    * (`check`), so a bad `shortlist`/`nProbe` refuses before the
    * stream starts; picks the partial persistence and a per-serve
    * scratch namespace; reads the tombstones, the OPQ rotation and the
    * manifest ([[graft.sources.ShardedLayout]]); and walks the
    * residency policy, reading shards through the family's `read`.
    * Per micro-batch it runs the family's wave core `serve` (whose
    * wave 0 scans the batch once), hands the result to `onBatch`, then
    * deletes the batch scratch.
    */
  private def serveShardedWaves[I <: AnyRef](
      queries: DataFrame,
      indexPath: String,
      waveSize: Int,
      residentShards: Int,
      scratchDir: String,
      residentBudgetBytes: Long,
      meter: Similarity.ShardedServeMeter,
      check: => Unit)(
      read: (SparkSession, String) => I)(
      serve: WaveBatch[I] => DataFrame)(
      onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val spark = queries.sparkSession
    require(waveSize >= 1, s"waveSize must be >= 1, got $waveSize")
    require(residentShards >= -1,
      s"residentShards must be >= 0, or -1 for budget-priced auto, got $residentShards")
    check
    // default-scratch local-mode serves keep per-wave cuts as
    // eager localCheckpoints instead of parquet scratch (the
    // [[graft.operators.Similarity.memoryPartialsDefault]] policy:
    // two fewer materialization round-trips per wave, same shard
    // residency bound; an explicit scratchDir pins the durable
    // cluster path)
    val memParts = Similarity.memoryPartialsDefault(spark,
      memoryPartials = false, scratchDir = scratchDir)
    val scratchRoot = if (memParts) "" else
      Similarity.resolveWaveScratch(spark.sparkContext.isLocal, scratchDir) +
        s"/serve_${java.util.UUID.randomUUID().toString.take(8)}"
    // tombstones read once at wiring time and applied as an always-on
    // deny mask — a takedown-carrying index must never serve deleted
    // rows, and this serve reads shard dirs directly (it bypasses the
    // plain reader's tombstone refusal)
    val tombstones = {
      val ts = ShardedLayout.readTombstones(spark, indexPath)
      if (ts.isEmpty) null else ts
    }
    // an OPQ rotation is auto-applied the same way (this serve also
    // bypasses the plain reader's rotation refusal — serving rotated
    // codebooks against unrotated queries would be silently wrong)
    val rot =
      if (!ShardedLayout.exists(spark, s"$indexPath/rot")) null
      else ShardedLayout.readRotation(spark, indexPath)._2
    // manifest read once at wiring time; shards page per wave
    val numShards = ShardedLayout.readManifest(spark, indexPath).numShards
    def load(i: Int): I = read(spark, ShardedLayout.shardDir(indexPath, i))
    val pinned = new java.util.concurrent.ConcurrentHashMap[Int, I]
    // Residency decision at wiring time. Auto mode loads shards IN
    // ORDER, sizing each, and pins while the running total fits the
    // budget — one shard is read at a time, so peak driver memory
    // during the walk is pinned-so-far + one candidate, never
    // Σ-shards. Explicit mode pins exactly the requested prefix.
    val resident: Int = {
      var used = 0L
      var n = 0
      if (residentShards >= 0) {
        val target = math.min(residentShards, numShards)
        while (n < target) {
          val ix = load(n)
          pinned.put(n, ix)
          used += org.apache.spark.util.SizeEstimator.estimate(ix)
          n += 1
        }
      } else {
        val budget =
          if (residentBudgetBytes > 0L) residentBudgetBytes
          else math.max(64L << 20, Runtime.getRuntime.maxMemory() / 8)
        var stop = false
        while (n < numShards && !stop) {
          val ix = load(n)
          val bytes = org.apache.spark.util.SizeEstimator.estimate(ix)
          if (used + bytes <= budget) { pinned.put(n, ix); used += bytes; n += 1 }
          else stop = true
        }
        log.info(s"auto shard residency: pinned $n/$numShards shards " +
          s"($used bytes within budget $budget)")
      }
      meter.setPinned(n, used)
      n
    }
    def shardAt(i: Int): I =
      if (i < resident) pinned.computeIfAbsent(i, _ => load(i)) else load(i)
    val providers = (0 until numShards).map(i => () => shardAt(i))
    queries.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val batchScratch = if (memParts) "" else s"$scratchRoot/batch_$batchId"
      try {
        onBatch(serve(WaveBatch(batch.toDF(), providers, batchScratch, memParts, tombstones,
          rot)), batchId)
      } finally {
        if (!memParts) {
          val p = new org.apache.hadoop.fs.Path(batchScratch)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        }
        ()
      }
    }
  }

  /** STREAMING top-k serving: an unbounded stream of query embeddings
    * scored per micro-batch against a STATIC broadcast corpus index —
    * the online form of [[graft.operators.Similarity.topkFlat]].
    * Implemented as a stateless typed `mapPartitions` (stream-legal:
    * no shuffle, no state), batching rows through the same exact
    * kernel the batch path runs (`DotKernel`: an f64 FMA chain per
    * score, the same bits whatever the micro-batch), so serving
    * throughput matches the batch path per executor. Output: (qid,
    * rank, index, score), append mode. Same contract as the batch
    * kernel: ties to the lower corpus id, k clamped to [0, |corpus|],
    * null embeddings dropped (a serving stream has nothing to attach a
    * null result to). Works identically on a bounded DataFrame —
    * StreamingSpec asserts it equals `topkFlat` over f64 queries on
    * raw scores, and on the replayed stream.
    */
  def topkServe(
      queries: DataFrame,
      idCol: String,
      embCol: String,
      corpus: graft.operators.CorpusIndex,
      k: Int,
      metric: graft.operators.Metric,
      corpusTile: Int = 16384): DataFrame = {
    require(corpusTile >= 1, s"corpusTile must be >= 1, got $corpusTile")
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(corpus)
    val kk = math.min(math.max(k, 0), corpus.n)
    val higher = metric.higherIsBetter
    val m = metric
    val ct = corpusTile
    queries
      .filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cx = bc.value
        val dk = new DotKernel
        // the kernel keeps no batch × corpus score matrix; `corpusTile`
        // still bounds each pass over the corpus, the running top-k per
        // query carried across them (the scheme topkSq8 uses)
        val tw0 = math.min(ct, math.max(cx.n, 1))
        val sels = new Array[TopSelector](512)
        val b = new QueryBatch(cx.dim, TopkFrame.F64)
        it.grouped(512).flatMap { batch =>
          val mRows = batch.length
          b.ensure(mRows)
          b.m = mRows
          var i = 0
          batch.foreach { case (_, emb) =>
            if (emb.length != cx.dim) throw new IllegalArgumentException(
              s"Dimension mismatch: query has ${emb.length} elements, corpus has ${cx.dim}")
            System.arraycopy(emb, 0, b.q64, i * cx.dim, cx.dim)
            var d = 0; var sq = 0.0
            while (d < cx.dim) { val v = emb(d); sq += v * v; d += 1 }
            b.qSq(i) = sq; b.qNorm(i) = math.sqrt(sq); i += 1
          }
          TopkFrame.prepare(sels, mRows, kk, higher, cx.ids)
          var t0 = 0
          while (t0 < cx.n && kk > 0) {
            val tw = math.min(tw0, cx.n - t0)
            dk.topk(b, cx, t0, t0 + tw, m, 1e-10, sels)
            t0 += tw
          }
          batch.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
            val sel = sels(qi)
            (0 until sel.size).iterator.map(r => (qid, r + 1, cx.ids(sel.pos(r)), sel.score(r)))
          }
        }
      }
      .toDF("qid", "rank", "index", "score")
  }
}
