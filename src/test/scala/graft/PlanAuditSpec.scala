package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{udf, concat, lit, pmod, col}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit (SURVEY §4): the scale properties are asserted,
  * not assumed. Each test inspects the formatted explain of a driver
  * query and checks the plan shape that must survive a 100 TB
  * scale-up — filters and projections reaching the parquet scan,
  * small dimensions broadcast, partial aggregation before exchanges,
  * and no accidental cross products anywhere.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create("local[4]", 4)
  val dir = "/root/testdata/sf0.01"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_filter_project: predicate + projection pushed to parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters:"), "no pushdown section in scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("GreaterThan(l_discount"), "discount filter not pushed")
    // projection pruning: untouched wide columns never leave the scan
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "scan reads columns the query never uses")
  }

  test("q1_agg: scan-stage filter pushdown + partial aggregation before the shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    // simple-mode explain marks whole-stage-codegen stages with *(n);
    // under AQE those exist only in the final (post-execution) plan
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "aggregation fell out of whole-stage codegen")
  }

  test("q3_join_topn: dimension joins broadcast, no cartesian product") {
    val p = plan("q3_join_topn")
    assert(p.contains("BroadcastHashJoin"), "dimension join not broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian product in join plan")
  }

  test("similarity kernel: no |Q|x|C| join anywhere in the plan") {
    for (q <- Seq("topk_cosine", "matmul_flat", "topk_blocked",
      "vec_range_join", "q_asof_join", "q_asof_join_bucketed", "curate_full")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("topkBlocked: one job per block + the priced-admission passes — no id-universe collect") {
    import graft.operators.{Metric, Similarity}
    val emb = Tables.embeddings(spark, dir)
    val numBlocks = 4
    val group = "topk-blocked-audit"
    spark.sparkContext.setJobGroup(group, "audit", interruptOnCancel = false)
    try {
      // constructing the plan collects each hash-mod block once to build
      // its broadcast index; a driver-side collect of the corpus id
      // universe (the round-1 defect) would show up as an extra job.
      // Since round 13 the construction ALSO prices admission: one
      // narrow per-block count (AQE plans it as up to 2 jobs) and one
      // dim-probe head — a fixed +3 budget independent of block count,
      // so an id-universe collect (≥ +1 full-width job PER BLOCK)
      // still fails this audit at any realistic numBlocks.
      Similarity.topkBlocked(emb.limit(10), "embedding", "vec_id",
        emb, "vec_id", "embedding", 5, Metric.Cosine, numBlocks)
    } finally spark.sparkContext.clearJobGroup()
    // the listener bus is async; poll briefly for the job events
    def jobs() = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.currentTimeMillis() + 10000
    while (jobs() < numBlocks && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(jobs() >= numBlocks && jobs() <= numBlocks + 3,
      s"expected $numBlocks per-block collect jobs (+<=3 pricing passes), saw ${jobs()}")
  }

  test("ann paths: no embedding vector ever rides an exchange; one candidate shuffle") {
    // the scale property of the round-3 rerank: candidates cross
    // exactly one shuffle as (qid, index) ids — the query vector
    // attaches after that exchange, the corpus vector attaches by
    // broadcast, and the dedup aggregate + ranking window reuse the
    // same qid partitioning.
    for (q <- Seq("ann_lsh", "ann_ivf")) {
      val p = plan(q)
      // parse each "(n) Exchange" block's Input row and reject vector columns
      val exchanges = p.split("\\(\\d+\\) Exchange").drop(1).map(_.linesIterator
        .filter(_.trim.startsWith("Input")).take(1).mkString)
      val bad = exchanges.filter(in => in.contains("embedding") ||
        in.contains("ce#") || in.contains("qe#"))
      assert(bad.isEmpty, s"$q ships vectors through an exchange: ${bad.mkString(" | ")}")
    }
  }

  test("curate: native gate filters in the scan stage; exactly two exchanges") {
    val p = plan("curate")
    // the single-pass expression is present (gate + survivor projection)
    assert(p.contains("lang_marker_stats"), "curate lost the native gate expression")
    // plan shape: gate Filter sits directly on the parquet scan (its
    // condition references the raw text column), BEFORE the dedup
    // groupBy's exchange — the shuffle carries survivors only
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount == 2,
      s"curate should shuffle exactly twice (dedup groupBy + final sort), saw $exchangeCount")
    val scanIdx = p.indexOf("Scan parquet")
    val filterIdx = p.indexOf("lang_marker_stats")
    assert(scanIdx >= 0 && filterIdx >= 0)
    // winner selection is the partial-aggregatable groupBy-min(struct),
    // never a content-hash-keyed row_number window: a mass-duplicated
    // gate-passing page is a hot hash whose occurrence set a window
    // serializes into ONE AQE-unsplittable task (the dedupParagraphs
    // argument at document granularity, round 7)
    assert(!p.contains("Window"),
      s"curate must not plan a window (content-hash skew cliff):\n$p")
    assert(p.contains("partial_min"),
      "curate winner must partial-aggregate map-side")
  }

  test("round-7-late scan-stage claims: winsorize broadcast bounds, pseudonymize map-only, hygiene one scan") {
    // q_winsorize: the corpus side crosses no exchange — the bounds
    // table broadcasts back; the only exchanges are the percentile
    // agg's own (over the tiny bounds path) and the output sort
    val pw = plan("q_winsorize")
    assert(pw.contains("BroadcastHashJoin"),
      s"winsorize must broadcast its bounds:\n$pw")
    assert(!pw.contains("SortMergeJoin") && !pw.contains("ShuffledHashJoin"),
      "winsorize corpus side must not shuffle for the join")
    // q_pseudonymize: sha256 is a scan-stage projection; exchanges are
    // the groupBy (partial-aggregated) and the output sort only
    val pp = plan("q_pseudonymize")
    assert(pp.contains("partial_count") || pp.contains("HashAggregate"),
      "pseudonymize counts must partial-aggregate map-side")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"))
    // curate_hygiene: the whole repair→NFC→C4 chain is ONE projection
    // over the scan — no join, no window, no mid-chain exchange (the
    // only exchange is the final orderBy's range partitioning)
    val ph = plan("curate_hygiene")
    assert(!ph.contains("Join") && !ph.contains("Window"),
      s"hygiene chain must stay join/window-free:\n$ph")
    val hygieneExchanges = "\\(\\d+\\) Exchange".r.findAllIn(ph).length
    assert(hygieneExchanges <= 1,
      s"hygiene should only exchange for the output sort, saw $hygieneExchanges")
  }

  test("round-7 window-skew sweep: no content-keyed window anywhere in the dedup/ANN paths") {
    // The dedupParagraphs rule, applied everywhere a window used to
    // key on CONTENT (hash, paragraph, LSH bucket): the hot key such
    // windows serialize into one task is the expected case on a web
    // corpus (boilerplate pages, degenerate buckets), and AQE cannot
    // split a window partition. Every one of these paths now computes
    // its per-key stats with a partial-aggregatable groupBy. Windows
    // keyed on the QUERY or DOC id (per-query rank, per-doc gram
    // order) are bounded by construction and stay.
    for (q <- Seq("dedup_minhash", "dedup_incremental",
      "dedup_incremental_bloom", "dedup_exact", "curate")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q plans a window — content-keyed skew cliff:\n$p")
    }
    // ann_lsh keeps its per-QUERY rank window (bounded by candidates
    // per query); the (table, bucket) cap must not be one. The
    // optimized logical plan prints each Window with its partition
    // spec on one line.
    val annWindows = SparkEntry.queries("ann_lsh")(spark, dir)
      .queryExecution.optimizedPlan.toString
      .linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(annWindows.nonEmpty, "ann_lsh lost its per-query rank window")
    assert(annWindows.forall(l => !l.contains("bucket")),
      s"ann_lsh windows must not key on the LSH bucket: $annWindows")
  }

  test("dedup_paragraphs: winner selection is partial-aggregated, never a paragraph-keyed window") {
    val p = plan("dedup_paragraphs")
    // the round-6 shape — row_number over Window.partitionBy(p) — put a
    // universal boilerplate paragraph's ENTIRE occurrence set in one
    // task, and AQE cannot split a window partition (round-6 verdict
    // #2). The rebuilt winner is groupBy(p).agg(min(struct(id,pos))):
    // a partial aggregate that combines the hot key map-side, then an
    // AQE-splittable equi-join decides keep/drop.
    assert(!p.contains("Window"),
      s"dedup_paragraphs must not plan a window (skew cliff):\n$p")
    assert(p.contains("partial_min"),
      "paragraph winner must partial-aggregate map-side")
  }

  test("dedup_exact: only (hash, id) reaches the shuffle, with map-side combine") {
    val p = plan("dedup_exact")
    assert(p.contains("hashpartitioning(content_hash"),
      "shuffle is not keyed on the content hash")
    assert(p.contains("partial_min"), "no map-side partial aggregation")
    assert(!p.contains("hashpartitioning(text"), "raw text in shuffle key")
  }

  test("dedup_source_overlap: the row-scale shuffle carries 8-byte hashed gram keys") {
    val p = plan("dedup_source_overlap")
    // round-9: grams hash to xxhash64 longs IN THE SCAN STAGE, so the
    // one row-scale exchange (groupBy gram key for collect_set) and
    // its aggregation buffers carry fixed-width longs, not ~40-byte
    // gram strings — the dominant shuffle-byte win at corpus scale
    assert(p.contains("xxhash64"), "grams must hash scan-stage (xxhash64)")
    assert("hashpartitioning\\(h#\\d+L".r.findFirstIn(p).nonEmpty,
      s"gram exchange key must be a LONG (h#..L), got:\n$p")
    // the raw gram string must never be an exchange key
    assert("hashpartitioning\\(g#\\d+[,)]".r.findFirstIn(p).isEmpty,
      "raw gram string rides the shuffle key")
    // and the round-8 invariant stands: no second row-scale distinct
    // shuffle — exchanges are the gram agg, the bounded pair agg, and
    // the output sort only
    // formatted explain lists each node twice (tree + detail); count
    // the numbered detail entries
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 3,
      s"more exchanges than the minimal 3-stage shape:\n$p")
  }

  test("ann_lsh: corpus embeddings broadcast; candidate stages carry ids only") {
    val p = plan("ann_lsh")
    assert(p.contains("BroadcastHashJoin"), "corpus-embedding join not broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian product in LSH plan")
  }

  test("dedup LSH paths: candidate generation is equi-join only — no cartesian/NLJ") {
    for (q <- Seq("dedup_embedding_lsh", "dedup_minhash", "dedup_simhash")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("topk_join_meta: metadata attach is a broadcast join") {
    val p = plan("topk_join_meta")
    assert(p.contains("BroadcastHashJoin"), "metadata join not broadcast")
  }

  test("dedup_decontaminate: eval grams broadcast statically, bad-id anti-join broadcast by AQE") {
    // the eval side is small BY CONSTRUCTION (a benchmark suite), so
    // its semi-join is hint-broadcast in the static plan: the 100 TB
    // train side crosses no exchange keyed on gram strings
    val p = plan("dedup_decontaminate")
    assert("BroadcastHashJoin LeftSemi".r.findFirstIn(p).isDefined,
      "eval-gram semi-join not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the contaminated-id set is bounded only by |train| and is NOT
    // hint-forced (a forced broadcast dies on the 8 GB limit when
    // boilerplate contaminates a few percent of a multi-billion-doc
    // corpus); AQE must convert the anti-join to broadcast at runtime
    // when the set is actually small, as here
    val df = SparkEntry.queries("dedup_decontaminate")(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "AQE did not convert the small contaminated-id anti-join to broadcast")
  }

  test("new-op sweep: no cartesian/NLJ in semantic dedup, sampling, pivot, pii") {
    for (q <- Seq("dedup_semantic", "dedup_semantic_recall", "q_stratified_sample",
      "q_pivot", "text_pii", "text_repetition",
      "dedup_incremental", "dedup_incremental_recall", "q_hybrid_rrf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("dedup_incremental_recall: batch band rows broadcast — corpus bands never shuffle for the join") {
    val p = plan("dedup_incremental_recall")
    assert(p.contains("BroadcastHashJoin"),
      "batch-vs-corpus band join not broadcast")
  }

  test("round-5 sweep: no cartesian/NLJ in line cleanup, error gates, semantic decontamination") {
    // (text_winnow_gate / dedup_overlap_gate attach their 1-row
    // aggregate via crossJoin — the same accepted single-row NLJ the
    // older gates use — so they are exempt like their siblings)
    for (q <- Seq("text_boilerplate", "text_line_dedup", "dedup_decontaminate_semantic",
      "q_distinct_approx_gate", "q_quantiles_approx_gate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("dedup_decontaminate_semantic: train embeddings never cross an exchange") {
    // eval index is broadcast; the only shuffled rows are contaminated
    // ids and the final sort — same audit as the ann paths
    val p = plan("dedup_decontaminate_semantic")
    val exchanges = p.split("\\(\\d+\\) Exchange").drop(1).map(_.linesIterator
      .filter(_.trim.startsWith("Input")).take(1).mkString)
    val bad = exchanges.filter(_.contains("embedding"))
    assert(bad.isEmpty, s"train embeddings ride an exchange: ${bad.mkString(" | ")}")
  }

  test("round-4 sweep: no cartesian/NLJ in sq8, bloom, perplexity, bm25, cube, quota") {
    for (q <- Seq("ann_sq8_recall", "dedup_incremental_bloom", "text_perplexity",
      "text_bm25", "q_cube", "q_source_quota",
      // round 13: the filtered search (mask rides the broadcast, no
      // join), the keep-best drop, and the cluster split (CC +
      // semi-join/groupBy shapes — a cartesian here would mean the
      // pair graph leaked into a plan-level cross)
      "ann_ivfpq_filtered", "dedup_drop_best", "q_split_clusters")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("text_perplexity: the scoring side is zero-shuffle — exchanges only for sort/train") {
    // TokenNll scores inside the scan stage: the only exchanges in the
    // plan are the model-training aggregation (collected before this
    // plan exists) and the output ORDER BY. The scoring branch itself
    // (documents -> select id, size, token_nll) must not shuffle.
    val docs = Tables.documents(spark, dir)
    val model = graft.operators.TextAnalysis.unigramModel(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0), "text")
    val scored = graft.operators.TextAnalysis.unigramNll(docs, "doc_id", "text", model)
    val p = scored.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // one exchange: the deterministic output sort — nothing else
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 1, s"scoring should only shuffle for the sort, saw:\n$p")
    assert(!p.contains("Join"), s"scoring side must not join:\n$p")
  }

  test("bloom incremental: definitely-new branch carries no join; verify branch anti-joins") {
    val p = plan("dedup_incremental_bloom")
    // the bloom test is a scan-stage filter (shows up as the custom
    // expression in a Filter, not a join); exactly one anti-join total
    assert(p.toLowerCase.contains("bloom_might_contain"),
      s"bloom filter not in the plan:\n${p.take(2000)}")
    // count JOIN NODES (tree lines "...Join LeftAnti BuildSide (n)"),
    // not raw "LeftAnti" hits — the details section repeats the join
    // type ("Join type: LeftAnti") for every node
    val antiJoins = "Join LeftAnti".r.findAllIn(p).length
    assert(antiJoins == 1, s"expected exactly one anti-join (verify branch), saw $antiJoins")
  }

  test("text_bm25: stats inlined as literals — scoring plan is join-free, single sort") {
    val p = plan("text_bm25")
    assert(!p.contains("Join"), s"bm25 scoring should not join:\n$p")
    // one pass over the corpus + TakeOrdered — no full sort exchange
    assert(p.contains("TakeOrderedAndProject"), "top-N should be TakeOrdered, not sort+limit")
  }

  test("q_json_extract: exactly one get_json_object per row — filter can't re-push the parse") {
    val opt = SparkEntry.queries("q_json_extract")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val parses = "get_json_object".r.findAllIn(opt).length
    assert(parses == 1,
      s"expected exactly one JSON parse in the optimized plan, saw $parses:\n$opt")
  }

  test("q_pivot: explicit values avoid the distinct-values job; aggs stay partial") {
    val p = plan("q_pivot")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    // Spark plans .pivot as two aggregates — (year, status) pre-agg,
    // then the pivot-first agg on year — plus the final sort: three
    // exchanges, each carrying already-aggregated rows. The property
    // worth pinning is that EVERY aggregate is partial (map-side
    // combine) and no extra job runs to infer pivot values.
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount == 3,
      s"pivot should shuffle 3x (pre-agg, pivot agg, sort), saw $exchangeCount")
  }

  test("dedup_spans: the rebuild pass is a zero-shuffle scan (broadcast window set)") {
    // the df/recovery jobs run eagerly at construction; the RETURNED
    // plan is pass 2 only — corpus text must rebuild inside its scan
    // stage, one sort exchange for the deterministic output order
    val p = plan("dedup_spans")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 1,
      s"span rebuild should shuffle only for the output sort, saw $exchangeCount")
    assert(p.contains("remove_dup_spans"), "rebuild not using the scan-stage expression")
  }

  test("text_compress: deflate scoring is scan-stage — only the output sort shuffles") {
    val p = plan("text_compress")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 1,
      s"compression scoring should shuffle only for the sort, saw $exchangeCount")
    assert(p.contains("deflate_stats"), "not using the scan-stage deflate expression")
  }

  test("q_fuzzy_join: Ed-Join candidate generation is equi-join only — no cartesian/NLJ") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct"), "fuzzy join has a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "fuzzy join has a nested-loop join")
  }

  test("dedup_decontaminate_spans: train-side scrub is a zero-shuffle scan") {
    // the eval window set collects at construction; the RETURNED plan
    // scrubs the train corpus in its scan stage — one sort exchange
    val p = plan("dedup_decontaminate_spans")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 1,
      s"span scrub should shuffle only for the output sort, saw $exchangeCount")
    assert(p.contains("remove_dup_spans"), "scrub not using the scan-stage expression")
  }

  test("bigramModel: training reads the reference corpus exactly once (fused uni+bi pass)") {
    // round-7 verdict #2: unigram and bigram counts trained in two
    // separate jobs re-scanned the shared corpus. The fused pass must
    // touch each reference row ONCE — proven with a row-counting
    // accumulator planted in the reference's scan (no task retries in
    // a local test, so the count is exact; the pre-fix shape read 2n).
    val acc = spark.sparkContext.longAccumulator("bigram-train-scans")
    val bump = udf((s: String) => { acc.add(1); s })
    val n = 200
    val ref = spark.range(n)
      .select(bump(concat(lit("tok"), pmod(col("id"), lit(7)).cast("string"),
        lit(" alpha beta gamma"))).as("text"))
    graft.operators.TextAnalysis.bigramModel(ref, "text")
    assert(acc.value == n.toLong,
      s"training scanned ${acc.value} rows for an $n-row corpus — expected exactly one pass")
  }

  test("text_perplexity2: scoring side is a zero-shuffle scan under broadcast maps") {
    val p = plan("text_perplexity2")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 1,
      s"bigram scoring should shuffle only for the output sort, saw $exchangeCount")
    assert(p.contains("token_nll2"), "not scoring via the scan-stage bigram expression")
  }

  test("dedup_source_overlap: one row-scale shuffle — key aggregation only, no pre-distinct") {
    // collect_set dedups sources inside the key aggregation, so the
    // only ROW-SCALE exchange is the groupBy on the key; the pair
    // groupBy and the output sort shuffle |sources|²-bounded rows
    val p = plan("dedup_source_overlap")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 3,
      s"source overlap should shuffle for key-agg + pair-agg + sort only, saw $exchangeCount")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_url_dedup: one exchange for the canonical-key groupBy (plus sort)") {
    // canonicalization must stay inside the scan stage: the only data
    // shuffles are the groupBy on canon_url and the output sort
    val p = plan("text_url_dedup")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 2,
      s"url dedup should shuffle for groupBy + sort only, saw $exchangeCount")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_html_extract: extraction is a zero-shuffle scan (only the output sort exchanges)") {
    val p = plan("text_html_extract")
    val exchangeCount = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchangeCount <= 1,
      s"html extraction should shuffle only for the sort, saw $exchangeCount")
    assert(!p.contains("Generate"), "html extraction must not explode")
  }

  test("text_pmi: vocab-bounded shuffles, no cartesian, top-k via TakeOrdered") {
    val p = plan("text_pmi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"),
      "pmi top-k should be TakeOrdered, not a global sort")
  }

  test("emb_centroid_assign: no join in the assignment — centroids ride the broadcast kernel") {
    val p = plan("emb_centroid_assign")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"assignment should be kernel-side, not a join:\n$p")
  }

  test("flat top-k serves: the kernel frame emits the flat rows — no Generate in the executed plan") {
    import graft.operators.{Metric, Similarity}
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 600L).map(i => i -> Seq.fill(8)(rnd.nextGaussian())).toDF("id", "emb")
    val queries = (0L until 12L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()), s"q$i"))
      .toDF("qid", "emb", "tag")
    val cx = Similarity.collectCorpus(corpus, "id", "emb")
    val shards = Similarity.buildIvfPqSharded(corpus, "id", "emb", 2, nCells = 2, m = 4,
      trainSample = 256)
    Seq(
      "topkFlat" -> Similarity.topkFlat(queries, "emb", cx, 5, Metric.Cosine),
      "topkSq8Flat" -> Similarity.topkSq8Flat(queries, "emb", Similarity.quantizeSq8(cx), 5,
        Metric.Cosine),
      "topkIvfPqShardedTombstoned" -> Similarity.topkIvfPqShardedTombstoned(queries, "emb", "qid",
        shards, Array(3L, 4L), 5, nProbe = 2)).foreach { case (name, df) =>
      assert(df.collect().length == 12 * 5, name)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Generate"), s"$name plans a generator:\n$p")
    }
  }
}
