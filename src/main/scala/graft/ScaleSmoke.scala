package graft

import graft.operators.{Dedup, Metric, Relational, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manual scale smoke for the dedup family — NOT a driver gate.
  * Synthesizes a corpus orders of magnitude past the test SFs
  * entirely ON THE EXECUTORS (spark.range + hash expressions; the
  * driver never holds a row) and measures the operators whose 100 TB
  * claims SURVEY §4 makes: exact dedup (one digest shuffle), MinHash
  * signatures (scan-stage projection), and banded-LSH pair generation
  * with the bucket cap. Numbers land in BENCH_NOTES.md.
  *
  *   SPARK_GRAFT_SMOKE_DOCS=1000000 sbt "runMain graft.ScaleSmoke"
  *
  * Corpus shape: ~30 6-char pseudo-random words per doc; 1 % of docs
  * are EXACT copies of another doc, and a further 1 % are NEAR copies
  * (same text, one word replaced) — so both dedup forms have real
  * work and a known expected hit-rate to sanity-check against.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_DOCS", "1000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // a 64g+ driver heap under concurrent multi-GB collects can hit
      // multi-minute full-GC pauses; at the default 120 s network
      // timeout the local executor gets KICKED for missed heartbeats
      // and the context dies mid-stage (observed at the 10M ivfpq
      // point: a 177 s pause → "Removing executor driver"). A long
      // pause must stall the smoke, not kill it.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SMOKE_EMB_ONLY=1 skips the text-dedup family — the
    // embedding stages are independent, and a 4M full pass does not
    // fit one sitting when only the embedding envelopes are being
    // re-measured
    val embOnly = sys.env.get("SPARK_GRAFT_SMOKE_EMB_ONLY").contains("1")

    // SPARK_GRAFT_SMOKE_STAGES=<substring> re-measures one stage
    // without paying for the whole pass
    val stageFilter = sys.env.get("SPARK_GRAFT_SMOKE_STAGES")
    var stagesRan = 0
    def timed(name: String)(body: => Long): Unit = {
      if (stageFilter.forall(name.contains)) {
        stagesRan += 1
        // de-residue BEFORE the clock starts (round-8 verdict #5): a
        // full-pass row must measure the operator, not heap history —
        // DSIR read 99 s in the r8 full pass vs ~54 s isolated, the gap
        // being earlier stages' garbage + dead broadcast/shuffle refs
        // at a 48g heap. First gc() queues ContextCleaner work for the
        // dropped refs, the wait lets the async cleanup land, the
        // second gc() collects what the cleanup freed.
        System.gc(); Thread.sleep(300); System.gc()
        val t0 = System.nanoTime()
        val out = body
        println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($out rows)")
      }
    }

    if (!embOnly) {
    // materializing the text corpus is a prerequisite of the stages in
    // this block, not a stage: skip the ~1-2 min generation when the
    // filter selects none of them (e.g. an "ivfpq sharded"-only run)
    val textStages = Seq(
      "exact dedup (md5 groupBy)",
      "minhash signatures (scan-stage, 128 perms)",
      "minhash+LSH near-dup pairs (banded, capped, verified)",
      "stars CC labels over the pair graph",
      "dropDuplicatesByPairs (CC + keep min-id reps)",
      "simhash pairs (pigeonhole, hamming <= 3)",
      "simhash pairs WIDE (2x32-bit chunks + 1-bit probes)",
      "exact-substring dedup (ExactSubstr, L=8, df-cut + scan rebuild)",
      "dsir importance weights (4096 buckets, train 10% target + raw, score all)",
      "paragraph dedup, ONE paragraph planted in all docs (hot-key)",
      "interval join, incident storm (1h holds 10% of events, 5% of intervals)",
      "paragraph near-dup pairs, planted one-word variants",
      "mg_top_k guarantees under a 4M-token uniform tail (capacity 4096)",
      "decontaminate vs 10k-doc eval set (5-gram overlap)")
    val wantsText = stageFilter.forall(f => textStages.exists(_.contains(f)))
    if (wantsText) {
    val docs = synth(spark, nDocs).cache()
    val n = docs.count() // materialize generation outside the timings
    println(s"corpus: $n docs")

    timed("exact dedup (md5 groupBy)") {
      Dedup.exact(docs, "doc_id", "text").count()
    }
    timed("minhash signatures (scan-stage, 128 perms)") {
      Dedup.minhashSignatures(docs, "doc_id", "text").agg(max(hash(col("sig")))).head
      n
    }
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8).cache()
    if (sys.env.get("SPARK_GRAFT_PROBE_EXPLAIN").contains("1"))
      pairs.explain("formatted")
    timed("minhash+LSH near-dup pairs (banded, capped, verified)") {
      pairs.count()
    }
    // connected components + representative-keep over the real pair
    // graph at this scale: edge set is small (≈2 % of docs pair up)
    // but the label readout joins every id — the shape a 100 TB
    // "dedupe this corpus" run has. One action per star round.
    timed("stars CC labels over the pair graph") {
      Dedup.clusterPairsStars(docs.select("doc_id"), "doc_id", pairs).count()
    }
    timed("dropDuplicatesByPairs (CC + keep min-id reps)") {
      Dedup.dropDuplicatesByPairs(docs, "doc_id", pairs).count()
    }
    pairs.unpersist()
    timed("simhash pairs (pigeonhole, hamming <= 3)") {
      Dedup.simhashPairs(docs, "doc_id", "text").count()
    }
    timed("simhash pairs WIDE (2x32-bit chunks + 1-bit probes)") {
      Dedup.simhashPairsWide(docs, "doc_id", "text").count()
    }
    // exact-substring dedup at scale: the planted copies give ~380k
    // duplicated 8-token windows (~20 MB broadcast — well inside the
    // maxDupWindows valve); pass 1 shuffles only (hash, count), pass 2
    // is the zero-shuffle scan rebuild
    timed("exact-substring dedup (ExactSubstr, L=8, df-cut + scan rebuild)") {
      Dedup.removeDuplicatedSpans(docs, "doc_id", "text", l = 8)
        .agg(sum("n_dropped")).head
      n
    }
    // DSIR at scale: train bucket distributions on a 10 % "target"
    // carve + the full corpus (two nBuckets-bounded counts), then the
    // zero-shuffle scoring scan over all 1M docs
    timed("dsir importance weights (4096 buckets, train 10% target + raw, score all)") {
      val ratios = graft.operators.Curate.dsirLogRatios(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(10)) === 0), docs, "text")
      graft.operators.Curate.dsirWeights(docs, "doc_id", "text", ratios)
        .agg(sum("log_w")).head
      n
    }
    // paragraph dedup under the RefinedWeb hot key — the reason the
    // operator exists: EVERY doc carries the same boilerplate
    // paragraph (cookie banner), so the round-6 window-on-paragraph
    // shape would put all n occurrences of it in ONE task. The rebuilt
    // groupBy-min winner combines the hot key map-side (32 partial
    // rows cross the exchange, not n) and the keep/drop equi-join is
    // AQE-skew-splittable (round-6 verdict #2 done-criteria).
    timed("paragraph dedup, ONE paragraph planted in all docs (hot-key)") {
      val paraDocs = docs.select(col("doc_id"),
        concat(lit("This site uses cookies. All rights reserved.\n\n"),
          col("text"), lit("\n\nunique closing para "), col("doc_id")).as("text"))
      val r = graft.operators.TextAnalysis
        .dedupParagraphs(paraDocs, "doc_id", "text")
        .agg(sum("n_dropped")).head.getLong(0)
      require(r >= n - 1, s"hot paragraph must dedup to one keeper, dropped only $r")
      r
    }
    // bucketed interval join under an incident storm: 10% of events
    // and 5% of intervals collapse into ONE hour of a 30-day span —
    // the hot time buckets are ordinary equi-join skew (AQE splits
    // them), unlike the BroadcastNestedLoopJoin Spark would plan for
    // the raw BETWEEN predicate, which has no split at all. ~10M
    // containment pairs at 1M events; count() forces the full join.
    timed("interval join, incident storm (1h holds 10% of events, 5% of intervals)") {
      val us = 1000000L
      val hourUs = 3600L * us
      val spanUs = 30L * 24 * hourUs
      val storm = lit(100L * hourUs)
      val ev = spark.range(nDocs).select(col("id").as("event_id"),
        when(pmod(col("id"), lit(10)) < 1,
          storm + pmod(xxhash64(col("id")), lit(hourUs)))
          .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(spanUs))).as("ts"))
      val iv = spark.range(nDocs / 100).select(col("id").as("iv_id"),
        when(pmod(col("id"), lit(20)) < 1,
          storm + pmod(xxhash64(col("id"), lit(2)), lit(hourUs)))
          .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(spanUs))).as("s0"))
        .select(col("iv_id"), col("s0").as("istart"),
          (col("s0") + lit(600L * us)).as("iend"))
      Relational.intervalJoin(ev, "ts", iv, "istart", "iend", 600L * us).count()
    }
    // paragraph NEAR-dup at scale: every doc pair (2g, 2g+1) plants
    // the same long paragraph with ONE word substituted — 2M
    // paragraphs ride the doc-level minhash machinery (adaptive
    // banding, capped buckets, exact verify) under packed composite
    // keys; expect >= 0.9 x n/2 planted pairs plus the synth corpus's
    // own 1%+1% copy structure
    timed("paragraph near-dup pairs, planted one-word variants") {
      // md5-derived body per group: within-pair J ≈ 0.9, cross-group
      // ≈ 0.1 — a shared template varying only by the group NUMBER
      // made every group pair with every other (26.7M pairs at 100k
      // docs, quadratic), which is a corpus-design lesson, not an
      // operator bug: near-dup thresholds measure what you plant
      val g = floor(col("doc_id") / 2).cast("long").cast("string")
      val paraDocs = docs.select(col("doc_id"), concat(
        col("text"), lit("\n\nnotice "), md5(g), lit(" "),
        md5(concat(g, lit("b"))), lit(" "), md5(concat(g, lit("c"))),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" with")).otherwise(lit(" plus")),
        lit(" shared closing words")).as("text"))
      val c = graft.operators.TextAnalysis
        .paragraphNearDupPairs(paraDocs, "doc_id", "text", threshold = 0.7)
        .count()
      require(c >= (nDocs / 2) * 9 / 10, s"planted paragraph pairs missing: $c")
      c
    }
    // Misra-Gries at scale: the synth vocabulary is deliberately
    // UNIFORM (~7 occurrences per token — ALL below the err bound, so
    // "top-20" there is noise and no sketch can promise it); plant a
    // skewed 30-token family on top (count(v) = (2v+1)·n/900, 1.1k to
    // 65k) and assert exactly what the sketch GUARANTEES against the
    // ~30M-update stream: every planted token heavier than max_err is
    // retained, with true count inside [est, est + max_err] — while
    // the sketch's shuffle carries ≤ capacity rows per partition vs
    // the exact pass's one row per distinct token (~4M here)
    timed("mg_top_k guarantees under a 4M-token uniform tail (capacity 4096)") {
      val planted = docs.select(col("doc_id"),
        concat(col("text"), lit(" hh"),
          floor(sqrt(pmod(col("doc_id"), lit(900)).cast("double"))).cast("long").cast("string")
        ).as("text"))
      val exact = graft.operators.TextAnalysis
        .topTokens(planted.filter(col("text").contains(" hh")), "doc_id", "text", k = 4096)
        .filter(col("token").startsWith("hh"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sk = graft.operators.TextAnalysis
        .topTokensApprox(planted, "doc_id", "text", k = 4096, capacity = 4096)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val err = sk.head._3
      val est = sk.map(t => t._1 -> t._2).toMap
      val heavy = exact.filter(_._2 > err)
      require(heavy.nonEmpty, s"planted family all below err=$err — smoke miscalibrated")
      heavy.foreach { case (tok, truth) =>
        require(est.contains(tok), s"heavy '$tok' (count $truth > err $err) evicted")
        require(est(tok) <= truth && truth <= est(tok) + err,
          s"'$tok': est ${est(tok)} true $truth err $err — bound violated")
      }
      heavy.size.toLong
    }
    // decontamination at scale: a 10k-doc "benchmark suite" carved
    // from the corpus by hash; eval grams broadcast, the train side
    // streams through the scan-stage semi-join (SURVEY §4 claim)
    timed("decontaminate vs 10k-doc eval set (5-gram overlap)") {
      // clamp the carve-out modulus: below 20k docs nDocs/10000 is 0
      // (ANSI pmod-by-zero throws) or 1 (every doc eval, train empty)
      val evalMod = math.max(2L, nDocs / 10000L)
      val isEval = pmod(xxhash64(col("doc_id")), lit(evalMod)) === 0
      Dedup.decontaminate(docs.filter(!isEval), docs.filter(isEval),
        "doc_id", "text", n = 5).count()
    }
    docs.unpersist()
    } // wantsText
    }

    // embedding near-dup at the same corpus size: 64-dim vectors with
    // the same planted 1 % exact + 1 % near (one nudged coordinate →
    // cos ≈ 0.9999) dup structure. bits scale with log2(n) so expected
    // bucket size stays ≈ 1 and the verify shuffle stays O(n) — at
    // fixed bits the candidate count grows ~n²/2^bits and a 4M corpus
    // spilled ~200 GB of attached vectors (see embeddingPairsLsh doc).
    val embBits = math.min(24,
      (math.log(nDocs.toDouble.max(2)) / math.log(2)).ceil.toInt + 2)
    val nCellsSem = math.max(64L, math.ceil(math.sqrt(nDocs.toDouble)).toLong).toInt
    // materializing the 1M-row cache is a prerequisite of the two
    // stages below, not a stage — skip it when the filter skips both
    val wantsEmb = stageFilter.forall(f =>
      s"embedding LSH near-dup pairs (${nDocs} x 64d, bits=$embBits, verified cos >= 0.95)".contains(f) ||
        s"semantic dedup pairs ($nCellsSem k-means cells = ceil(sqrt(n)), assign=2, auto cell cap, verified cos >= 0.95)".contains(f))
    val emb = synthEmb(spark, nDocs).cache()
    if (wantsEmb) emb.count()
    timed(s"embedding LSH near-dup pairs (${nDocs} x 64d, bits=$embBits, verified cos >= 0.95)") {
      Dedup.embeddingPairsLsh(emb, "doc_id", "vec", threshold = 0.95, dim = 64,
        tables = 2, bits = embBits, probes = 2, maxBucketSize = 1000).count()
    }
    // cells follow the √n rule semanticPairs now defaults to (round-4
    // verdict #3): assignment is O(n·nCells) and within-cell GEMM
    // O(n²/nCells), so √n balances them at O(n^1.5) — the n/1000 rule
    // this smoke originally used made assignment O(n²/1000), the
    // measured O(n^1.9) envelope of the round-3/4 notes. assign stays
    // an explicit 2 here so the 1M→4M wall-clock ratio isolates the
    // cell-count scaling (the auto 2·ln(cells) rule adds a log factor
    // of candidate duplication on top).
    timed(s"semantic dedup pairs ($nCellsSem k-means cells = ceil(sqrt(n)), assign=2, auto cell cap, verified cos >= 0.95)") {
      Dedup.semanticPairs(emb, "doc_id", "vec", threshold = 0.95,
        nCells = nCellsSem, assign = 2, maxTrain = 8192).count()
    }
    // SQ8 top-k at a 1M-vector index: the f64 index would be
    // 1M×64×8 = 512 MB broadcast; SQ8 ships 64 MB. Throughput should
    // track the f32 kernel (tile-decode feeds the same sgemm).
    val sqN = math.min(nDocs, 1000000L)
    // the packs are prerequisites of the sq8/pq topk stages, not
    // stages themselves — but they cost ~40 s at 1M, so a filtered run
    // that skips every "sq8 topk"/"pq topk" stage must not pay them
    val wantsSq8 = stageFilter.forall(f =>
      s"sq8 topk (16k queries x $sqN x 64d, k=10, cosine)".contains(f))
    val wantsPq = stageFilter.forall(f =>
      s"pq topk ADC-only (16k queries x $sqN x 64d, k=10, cosine)".contains(f) ||
        s"pq topk + sq8 rerank, shortlist=100 (same shape)".contains(f))
    val sqCorpus = synthEmb(spark, sqN)
      .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
    val sqQueries = synthEmb(spark, 16000L)
      .select(col("doc_id").as("qid"), col("vec").cast("array<float>").as("vec"))
      .cache()
    if (wantsSq8 || wantsPq) sqQueries.count()
    if (wantsSq8) {
      val t0 = System.nanoTime()
      val cx8 = Similarity.collectCorpusSq8(sqCorpus, "doc_id", "vec")
      println(f"sq8 pack ($sqN x 64d -> ${cx8.codes.length / 1e6}%.0f MB codes): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      timed(s"sq8 topk (16k queries x $sqN x 64d, k=10, cosine)") {
        Similarity.topkSq8Flat(sqQueries, "vec", cx8, 10, Metric.Cosine).count()
      }
    }
    // PQ at the same index size: m=16 → 16 B codes + 8 B f32 norms
    // per vector (24 MB vs SQ8's 64 MB vs f64's 512 MB); ADC-only
    // search, then shortlist-100 rerank against the SQ8 sidecar
    if (wantsPq) {
      val t1 = System.nanoTime()
      val cxPq = Similarity.quantizePq(
        Similarity.collectCorpus(
          sqCorpus.select(col("doc_id"), col("vec").cast("array<double>").as("vec")),
          "doc_id", "vec"), m = 16)
      println(f"pq pack ($sqN x 64d -> ${cxPq.codes.length / 1e6}%.0f MB codes, m=16): " +
        f"${(System.nanoTime() - t1) / 1e9}%.2f s")
      timed(s"pq topk ADC-only (16k queries x $sqN x 64d, k=10, cosine)") {
        Similarity.topkPqFlat(sqQueries, "vec", cxPq, 10, Metric.Cosine).count()
      }
      timed(s"pq topk + sq8 rerank, shortlist=100 (same shape)") {
        Similarity.topkPqFlat(sqQueries, "vec", cxPq, 10, Metric.Cosine,
          shortlist = 100).count()
      }
    }
    sqQueries.unpersist()
    emb.unpersist()

    // SQ8 + blocked composition at the BROADCAST ENVELOPE (round-4
    // verdict #6): a 256-d corpus at 4M docs is 4.1 GB as f32 / 8.2 GB
    // as f64 — past any realistic per-executor broadcast budget —
    // while the 8 SQ8 blocks ship ~128 MB each. Ground truth for
    // recall is the blocked EXACT kernel on the same block split, so
    // the comparison isolates quantization loss. Opt-in — and it needs
    // a BIG driver heap: block collects materialize boxed rows before
    // packing, the exact pass holds every block's f64+f32 pack plus
    // its broadcast copy, and local-mode executors share the heap
    // (a 24g first attempt GC-thrashed to a standstill at 4M×256):
    //   SPARK_GRAFT_SMOKE_SQ8_DOCS=4000000 SPARK_DRIVER_MEM=64g \
    //     sbt "runMain graft.ScaleSmoke"
    // Dense-keyspace fuzzy-join degradation, QUANTIFIED (round-6
    // verdict #5): fixed-length zero-padded ids are the worst case for
    // Ed-Join gram selectivity — every string draws its q-grams from
    // one tiny digit alphabet, so even the RAREST prefix grams carry
    // high df and candidate fan-out (Σ df²) degrades toward the
    // length-band block. The zipfian-ish md5-word case alongside is
    // the shape the committed BASELINE numbers measure. Opt-in:
    //   SPARK_GRAFT_SMOKE_FUZZY=50000 sbt "runMain graft.ScaleSmoke"
    val fuzzyN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_FUZZY", "0").toLong
    if (fuzzyN > 0) {
      import graft.operators.Relational
      val zipf = spark.range(fuzzyN).select(col("id"),
        substring(md5(concat(col("id"), lit("-z"))), 1, 12).as("s")).cache()
      val dense = spark.range(fuzzyN).select(col("id"),
        concat(lit("doc-"), lpad(col("id").cast("string"), 8, "0")).as("s")).cache()
      zipf.count(); dense.count()
      for ((name, df) <- Seq("zipfian md5-words" -> zipf, "dense zero-padded ids" -> dense)) {
        timed(s"fuzzy-join candidates, $name ($fuzzyN strings, d=1)") {
          Relational.fuzzyJoinCandidates(df, "id", "s", maxDist = 1).count()
        }
        timed(s"fuzzy-join verified pairs, $name ($fuzzyN strings, d=1)") {
          Relational.fuzzyJoinPairs(df, "id", "s", maxDist = 1).count()
        }
      }
      zipf.unpersist(); dense.unpersist()
    }

    // NAME-SHAPED fuzzy join at scale (round-12 verdict #2's 1M-name
    // point): three syllables from a 14×5 consonant-vowel table + a
    // numeric suffix — letter-trigram df is human-name-like (rarest
    // prefix grams in the tens-to-hundreds at 1M), unlike the hex /
    // digit alphabets of the adversarial corpora above, so the
    // default candidate budget stays silent and the full verified
    // join runs. Opt-in:
    //   SPARK_GRAFT_SMOKE_FUZZY_NAMES=1000000 sbt "runMain graft.ScaleSmoke"
    val fuzzyNamesN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_FUZZY_NAMES", "0").toLong
    if (fuzzyNamesN > 0) {
      import graft.operators.Relational
      // cv + cvc syllable inventory over the full consonant set
      // (21×5 + 21×5×21 = 2310 forms), five syllables per name
      // (10-15 letters) — a human-name-like gram space where the
      // rarest-gram prefix blocks (specific cross-syllable 4-grams,
      // df in the tens-to-hundreds at 1M) stay well under the priced
      // cap. Numeric suffixes were tried and REFUSED correctly: a
      // 3-digit uniquifier concentrates every name's rarest grams
      // into ~1k digit patterns (df ~800-1000 at 1M) — keyspace
      // density is about the ALPHABET of the rare grams, not string
      // uniqueness.
      val sylC = "bcdfghjklmnpqrstvwxyz"
      val sylV = "aeiou"
      val syls = (for (c <- sylC; v <- sylV) yield s"$c$v") ++
        (for (c <- sylC; v <- sylV; c2 <- sylC) yield s"$c$v$c2")
      val sylArr = array(syls.map(lit(_)): _*)
      def syl(k: Int) =
        element_at(sylArr, (pmod(xxhash64(col("id"), lit(k)), lit(syls.length)) + 1).cast("int"))
      val baseNames = spark.range(fuzzyNamesN).select(col("id"),
        concat(syl(1), syl(2), syl(3), syl(4), syl(5)).as("s"))
      // plant a distance-1 typo twin for 1% of names ('9' is outside
      // the letter alphabet, so the edit is exactly one substitution)
      // — the verified join must FIND them, a zero-hit run would only
      // measure candidate cost
      val twins = baseNames.filter(pmod(col("id"), lit(100)) === 0)
        .select((col("id") + fuzzyNamesN).as("id"),
          concat(substring(col("s"), 1, 1), lit("9"),
            expr("substring(s, 3, length(s) - 2)")).as("s"))
      val names = baseNames.unionAll(twins).cache()
      names.count()
      // q=4 is the Ed-Join parameter for this scale (the paper tunes
      // q up with corpus size): 4-grams are ~15x rarer than trigrams
      // on this namespace, cutting candidate fan-out ~100x while the
      // pigeonhole guarantee (len >= q*(d+1) = 8, the generator's
      // minimum) keeps the join lossless.
      timed(s"fuzzy-join candidates, syllable names ($fuzzyNamesN strings, d=1, q=4, default budget)") {
        Relational.fuzzyJoinCandidates(names, "id", "s", maxDist = 1, q = 4).count()
      }
      timed(s"fuzzy-join verified pairs, syllable names ($fuzzyNamesN strings, d=1, q=4, default budget)") {
        Relational.fuzzyJoinPairs(names, "id", "s", maxDist = 1, q = 4).count()
      }
      names.unpersist()
    }

    // Fan-out REFUSAL point (round-12 verdict #2, corpus reshaped in
    // round 17): the d=1 path now blocks on 1-DELETION NEIGHBORHOODS,
    // under which the old zero-padded sequential keyspace is
    // legitimately computable (deletion-key df ≈ the true near-dup
    // family size, ~10-20 there), so the refusal point uses a corpus
    // with genuinely QUADRATIC families — 1M strings over 1000
    // distinct values (family 1000 ≫ the priced cap
    // maxCandidates / Σ(len+1) ≈ 300) — and must trip the guard in
    // the time of the PRICING stages, never the quadratic self-join.
    // Opt-in:
    //   SPARK_GRAFT_SMOKE_FUZZY_REFUSE=1000000 sbt "runMain graft.ScaleSmoke"
    val fuzzyRefuseN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_FUZZY_REFUSE", "0").toLong
    if (fuzzyRefuseN > 0) {
      import graft.operators.Relational
      val dense = spark.range(fuzzyRefuseN).select(col("id"),
        concat(lit("doc-"), lpad((col("id") % 1000).cast("string"), 8, "0")).as("s")).cache()
      dense.count()
      timed(s"fuzzy-join dense-keyspace REFUSAL ($fuzzyRefuseN strings, default budget)") {
        val refused =
          try { Relational.fuzzyJoinPairs(dense, "id", "s", maxDist = 1).count(); false }
          catch { case e: Exception =>
            def chain(t: Throwable): String =
              Option(t.getMessage).getOrElse("") +
                Option(t.getCause).map(c => " | " + chain(c)).getOrElse("")
            val m = chain(e)
            require(m.contains("fuzzy join candidate runaway"),
              s"expected the named refusal, got: $m")
            true
          }
        require(refused, s"dense keyspace at $fuzzyRefuseN must refuse under the default budget")
        1L
      }
      dense.unpersist()
    }

    // End-to-end CAPSTONE at 10M docs (round-6 verdict #7): the
    // curate_full shape — near-dup pair graph → stars CC → scan-stage
    // quality gates → deterministic split — with per-stage walls, so
    // superlinear creep vs the 1M per-operator numbers is visible.
    // Opt-in (needs ~20 min of one sitting):
    //   SPARK_GRAFT_SMOKE_CAPSTONE=10000000 sbt "runMain graft.ScaleSmoke"
    val capDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_CAPSTONE", "0").toLong
    if (capDocs > 0) {
      import graft.operators.Curate
      // same dup plan as synth, plus a constant English function-word
      // tail so the language/stop-ratio gate has real markers to count
      // (md5-hex words carry none) — the tail is identical everywhere,
      // so the planted exact/near dup structure is unchanged
      val docs = synth(spark, capDocs)
        .select(col("doc_id"),
          concat(col("text"), lit(" the of and to in is that it was")).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCap = docs.count()
      println(s"capstone corpus: $nCap docs")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      timed("capstone 1/4: minhash+LSH near-dup pairs") { pairs.count() }
      val keep = Dedup.dropDuplicatesByPairs(docs, "doc_id", pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      timed("capstone 2/4: stars CC + min-id representative keep") { keep.count() }
      val gated = Curate.gateDocs(keep, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      timed("capstone 3/4: language+quality gate over survivors (scan-stage)") {
        gated.count()
      }
      timed("capstone 4/4: deterministic split + per-split counts") {
        Curate.split(gated, "doc_id", trainPct = 80)
          .groupBy("split").count().count()
      }
      gated.unpersist(); keep.unpersist(); pairs.unpersist(); docs.unpersist()
    }

    // DEGENERATE hot-key corpus: every doc byte-identical — one
    // content hash, one (band, bh) bucket per band holding ALL n rows,
    // one LSH bucket per table. This is the corpus shape the round-7
    // window→groupBy sweep exists for: the old content-keyed window
    // forms (cappedBucketPairs, minIdReps, curate, Ann bucket cap)
    // each serialized all n occurrences into ONE task here; the
    // groupBy rebuilds combine the hot key map-side and the stats
    // joins broadcast/split. Expected results are exact: 1 exact
    // survivor, n−1 star pairs (all verified jaccard 1.0).
    //   SPARK_GRAFT_SMOKE_HOTKEY=1000000 sbt "runMain graft.ScaleSmoke"
    val hotDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_HOTKEY", "0").toLong
    if (hotDocs > 0) {
      val docs = spark.range(hotDocs).select(col("id").as("doc_id"),
        lit("identical boilerplate page body repeated verbatim across " +
          "the entire corpus the of and to in is that it was").as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      timed(s"HOTKEY exact dedup ($hotDocs identical docs -> 1 survivor)") {
        val n = Dedup.exact(docs, "doc_id", "text").count()
        require(n == 1, s"expected 1 exact survivor, got $n"); n
      }
      timed(s"HOTKEY incremental exact (all-identical batch, minIdReps hot path)") {
        val n = Dedup.exactIncremental(docs,
          Dedup.contentHashes(docs.limit(0), "text"), "doc_id", "text").count()
        require(n == 1, s"expected 1 incremental survivor, got $n"); n
      }
      timed(s"HOTKEY minhash+LSH pairs (star degrade -> n-1 pairs)") {
        val n = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8).count()
        // above the 1000-member bucket cap the bucket degrades to
        // n−1 star pairs; at or under it the small-bucket path emits
        // all C(n,2) pairs — both are complete true-dup pair sets
        val want = if (hotDocs > 1000) hotDocs - 1 else hotDocs * (hotDocs - 1) / 2
        require(n == want, s"expected $want pairs, got $n"); n
      }
      // ANN bucket cap under the same degeneracy: all corpus vectors
      // identical -> every table has ONE bucket of all n. Corpus kept
      // to 200k because rerank broadcasts corpus vectors by design
      // (~100 MB at 64-d f64); the capped candidate side is what this
      // stage exercises.
      val annN = math.min(hotDocs, 200000L)
      val vec = array((0 until 64).map(i => lit(math.sin(i + 1.0))): _*)
      val corpusV = spark.range(annN).select(col("id").as("vec_id"), vec.as("emb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpusV.count()
      timed(s"HOTKEY ann lsh topk ($annN identical corpus vectors, 100 queries)") {
        val queriesV = spark.range(100).select(col("id").as("qid"), vec.as("emb"))
        graft.operators.Ann.lshCosineTopK(
          queriesV, "qid", corpusV, "vec_id", "emb", k = 10, dim = 64).count()
      }
      // as-of join where ONE user owns every event (the bot-account
      // hot key): the single-pass window sorts all n rows in one
      // task; the bucketed two-pass bounds per-task work by
      // rows-per-bucket (1-minute buckets at 1 event/sec ≈ 60 rows).
      // Both timed — the delta IS the straggler the split removes.
      // Sized independently (SPARK_GRAFT_SMOKE_HOTKEY_ASOF, default =
      // the HOTKEY size): the crossover where the one-task sort
      // starts paying spill is far past where the text stages get
      // slow, so the asof stage wants its own, larger n.
      val asofN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_HOTKEY_ASOF",
        hotDocs.toString).toLong
      val ev = spark.range(asofN).select(
          col("id").as("event_id"), lit(7L).as("user_id"),
          timestamp_micros(col("id") * 1000000L).as("ts"),
          when(col("id") % 10 === 0, lit("purchase")).otherwise(lit("click"))
            .as("event_type"),
          (col("id") % 100).cast("double").as("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ev.count()
      val clicksH = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchasesH = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      // aggregate over the MATCHED payload: a bare count() lets
      // column pruning delete the unused window/join and times an
      // empty plan
      timed(s"HOTKEY asof SINGLE-PASS ($hotDocs events, one user -> one window task)") {
        graft.operators.Relational.asofJoin(
            clicksH, purchasesH, "user_id", "ts")
          .agg(count(col("value"))).head.getLong(0)
      }
      timed(s"HOTKEY asof BUCKETED two-pass (1-min buckets, same result)") {
        graft.operators.Relational.asofJoinBucketed(
            clicksH, purchasesH, "user_id", "ts", 60L * 1000000L)
          .agg(count(col("value"))).head.getLong(0)
      }
      // sessionize under the same bot-account hot key (1 event/sec
      // means a >30-min gap never fires: ONE session of n events —
      // the assert pins the exact island structure)
      timed(s"HOTKEY sessionize SINGLE-PASS ($asofN events, one user)") {
        val r = graft.operators.Relational.sessionizeEvents(
          ev.select("user_id", "ts", "event_id")).collect()
        require(r.length == 1 && r(0).getLong(2) == asofN,
          s"expected one $asofN-event session, got ${r.length} rows"); r.length
      }
      timed(s"HOTKEY sessionize BUCKETED two-pass (1-min buckets, same result)") {
        val r = graft.operators.Relational.sessionizeEventsBucketed(
          ev.select("user_id", "ts", "event_id"), 60L * 1000000L).collect()
        require(r.length == 1 && r(0).getLong(2) == asofN,
          s"expected one $asofN-event session, got ${r.length} rows"); r.length
      }
      ev.unpersist()
      corpusV.unpersist(); docs.unpersist()
    }

    val sq8EnvDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_SQ8_DOCS", "0").toLong
    if (sq8EnvDocs > 0) {
      val dim = 256
      // block count scales with the corpus so a block's f64 exact pack
      // stays ~2.5 GB: 8 blocks at the 4M point, 16+ at 10M (round-7
      // verdict #7 — the blocked+quantized composition past the
      // single-broadcast envelope at 10M×256)
      val blocks = sys.env.getOrElse("SPARK_GRAFT_SMOKE_SQ8_BLOCKS", "8").toInt
      // cached: both topkBlocked passes collect every hash-mod block,
      // and without the cache each of the 2·blocks collects re-runs
      // the 256-hash-per-row synthetic generation
      val corpus = synthEmb(spark, sq8EnvDocs, dim)
        .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      val queries = synthEmb(spark, 1000L, dim)
        .select((col("doc_id") + 1000000000L).as("qid"),
          col("vec").cast("array<double>").as("vec")).cache()
      queries.count()
      var t = System.nanoTime()
      val sq8Hits = Similarity.topkBlocked(queries, "vec", "qid", corpus,
          "doc_id", "vec", 10, Metric.Cosine, numBlocks = blocks, quantized = true)
        .select(col("qid"), col("index"), lit(1).as("hit"))
        .cache()
      val nSq8 = sq8Hits.count()
      println(f"sq8+blocked topk (1k q x $sq8EnvDocs x ${dim}d, $blocks blocks, " +
        f"build+search): ${(System.nanoTime() - t) / 1e9}%.2f s ($nSq8 rows)")
      t = System.nanoTime()
      val r = Similarity.topkBlocked(queries, "vec", "qid", corpus,
          "doc_id", "vec", 10, Metric.Cosine, numBlocks = blocks)
        .select(col("qid"), col("index"))
        .join(sq8Hits, Seq("qid", "index"), "left")
        .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0))).as("h")).head()
      println(f"blocked exact baseline (same split): ${(System.nanoTime() - t) / 1e9}%.2f s; " +
        f"sq8 recall@10 = ${r.getLong(1).toDouble / r.getLong(0)}%.4f")
      sq8Hits.unpersist()
      queries.unpersist()
      corpus.unpersist()
    }

    // Binary quantization past the broadcast envelope: the 1-bit
    // XOR+popcount pre-screen + SQ8 rerank at the same 10M×256 shape
    // as the other index rungs. Sharded build on the corpus-global
    // grid (bits bit-identical to a whole-corpus build by the integer
    // threshold contract), per-shard Hamming shortlists, row_number
    // merge. Opt-in:
    //   SPARK_GRAFT_SMOKE_BQ_DOCS=10000000 SPARK_DRIVER_MEM=64g \
    //     sbt "runMain graft.ScaleSmoke"
    val bqDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_BQ_DOCS", "0").toLong
    if (bqDocs > 0 && stageFilter.forall("bq sharded".contains)) {
      val dim = 256
      val blocks = sys.env.getOrElse("SPARK_GRAFT_SMOKE_BQ_BLOCKS", "16").toInt
      val shortlist = sys.env.getOrElse("SPARK_GRAFT_SMOKE_BQ_SHORTLIST", "512").toInt
      // clustered ~10-point families — the near-dup corpus shape the
      // ivfpq leg documents (its uniform control applies here too:
      // sign bits on structure-free vectors carry ~nothing)
      val nClusters = math.max(1L, bqDocs / 10L).toInt
      val corpus = synthEmbClustered(spark, bqDocs, dim, nClusters, 0.5, 0L)
        .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      val queries = synthEmbClustered(spark, 1000L, dim, nClusters, 0.5, 1000000000L)
        .select(col("doc_id").as("qid"),
          col("vec").cast("array<double>").as("vec")).cache()
      queries.count()
      val t0 = System.nanoTime()
      val truth = Similarity.topkBlocked(queries, "vec", "qid", corpus,
          "doc_id", "vec", 10, Metric.Cosine, numBlocks = blocks)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      println(f"bq: blocked exact ground truth: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // de-residue between the exact pass and the priced concurrent
      // collects: the ground truth's 16 exact-block broadcasts (f64 +
      // f32 mirrors, ~2 GB each) linger until ContextCleaner runs, and
      // sharing the heap high-water mark with 3-4 in-flight shard
      // collects OOMed a 100g heap — the same overlap the ivfpq leg
      // documents. gc → wait → gc lets the async cleanup land first,
      // and the explicit in-flight cap keeps the collect spike under
      // what the post-GT heap actually has free.
      System.gc(); Thread.sleep(2000); System.gc()
      val t1 = System.nanoTime()
      val shards = Similarity.buildBqSharded(corpus, "doc_id", "vec", blocks,
        maxInFlightBytes = 16L << 30)
      println(f"bq sharded build ($bqDocs x ${dim}d, $blocks shards, " +
        f"bits ${shards.map(_.words.length.toLong * 8).sum / (1 << 20)} MB + " +
        f"sq8 ${shards.map(_.sq8.codes.length.toLong).sum / (1 << 20)} MB): " +
        f"${(System.nanoTime() - t1) / 1e9}%.2f s")
      val t2 = System.nanoTime()
      val got = Similarity.topkBqSharded(queries, "qid", "vec", shards,
          10, Metric.Cosine, shortlist)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val hits = truth.map { case (q, ts) =>
        (ts & got.getOrElse(q, Set.empty)).size }.sum
      val nTruth = truth.map(_._2.size).sum
      println(f"bq sharded search (1k q, shortlist $shortlist/shard, " +
        f"popcount pre-screen + sq8 rerank): ${(System.nanoTime() - t2) / 1e9}%.2f s; " +
        f"recall@10 vs exact = ${hits.toDouble / nTruth}%.4f")
      // floor on the default family corpus (measured 0.9654 at 10M,
      // shortlist 512/shard): an encode/popcount/merge regression
      // craters this, clustering drift does not
      require(hits.toDouble / nTruth >= 0.9,
        f"bq recall floor violated: ${hits.toDouble / nTruth}%.4f < 0.9")
      // IVF+BQ: derive routed indexes from the SAME envelopes (no
      // second collect — decode-from-envelope cell training), probe
      // 25% of cells, same shortlist: the popcount pass drops ~4×
      val nCells = 256
      val nProbe = 64
      val t3 = System.nanoTime()
      val cutBq = graft.sources.IndexCodec.BqCut.global(shards.iterator.map(_.sq8))
      val ivfShards = shards.map(s => Similarity.ivfBqFromSq8(s.sq8, nCells, cut = cutBq))
      println(f"ivf+bq sharded build from the SAME envelopes " +
        f"($nCells cells/shard, decode-from-envelope): " +
        f"${(System.nanoTime() - t3) / 1e9}%.2f s")
      // two probe depths: 25% (first measurement: SLOWER than the
      // flat linear scan at this geometry — the CSR gather loses to a
      // sequential 4-word popcount sweep — and lower recall) and ~6%,
      // the regime where routing must pay or the rung's honest answer
      // at this dim is "use the flat scan"
      for (npr <- Seq(nProbe, nProbe / 4)) {
        val t4 = System.nanoTime()
        val gotIvf = Similarity.topkIvfBqSharded(queries, "qid", "vec", ivfShards,
            10, npr, shortlist)
          .select(col("qid"), col("index")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val hitsIvf = truth.map { case (q, ts) =>
          (ts & gotIvf.getOrElse(q, Set.empty)).size }.sum
        println(f"ivf+bq sharded search (1k q, nProbe $npr/$nCells, " +
          f"shortlist $shortlist/shard): ${(System.nanoTime() - t4) / 1e9}%.2f s; " +
          f"recall@10 vs exact = ${hitsIvf.toDouble / nTruth}%.4f")
        if (npr == nProbe)
          require(hitsIvf.toDouble / nTruth >= 0.85,
            f"ivf+bq recall floor violated: ${hitsIvf.toDouble / nTruth}%.4f < 0.85")
      }
      stagesRan += 1
      queries.unpersist()
      corpus.unpersist()
    }

    // BQ APPEND at scale: the encode-only ingest vs the rebuild it
    // replaces — build + persist the sharded BQ index on 90% of the
    // corpus, then append the remaining 10% with the frozen
    // grid/threshold/cut. The measured claim is COST (ingest should
    // be a small fraction of the rebuild: one encode scan + file
    // copies, no collect, no quantizer pass) plus a self-hit sanity
    // over the appended rows. Opt-in:
    //   SPARK_GRAFT_SMOKE_BQ_APPEND_DOCS=10000000 SPARK_DRIVER_MEM=100g \
    //     SPARK_GRAFT_SMOKE_EMB_ONLY=1 sbt "runMain graft.ScaleSmoke"
    val bqAppendDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_BQ_APPEND_DOCS", "0").toLong
    if (bqAppendDocs > 0 && stageFilter.forall("bq append".contains)) {
      val dim = 256
      val blocks = 16
      val nClusters = math.max(1L, bqAppendDocs / 10L).toInt
      val baseN = bqAppendDocs * 9L / 10L
      val full = synthEmbClustered(spark, bqAppendDocs, dim, nClusters, 0.5, 0L)
        .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      full.count()
      val baseDf = full.filter(col("doc_id") < baseN)
      val ingest = full.filter(col("doc_id") >= baseN)
      val root = java.nio.file.Files
        .createTempDirectory("smoke-bq-append").toString
      val t0 = System.nanoTime()
      val build = Similarity.buildBqShardedWithLayout(baseDf, "doc_id", "vec",
        blocks, maxInFlightBytes = 16L << 30)
      graft.sources.Sink.writeBqShardedIndex(spark, build, s"$root/ix",
        overwrite = false)
      val buildSec = (System.nanoTime() - t0) / 1e9
      println(f"bq append: base build+persist ($baseN x ${dim}d, $blocks shards): " +
        f"$buildSec%.2f s")
      System.gc(); Thread.sleep(2000); System.gc()
      val t1 = System.nanoTime()
      graft.sources.Sink.appendBqShardedIndex(spark, ingest, "doc_id", "vec",
        s"$root/ix", s"$root/grown")
      val appendSec = (System.nanoTime() - t1) / 1e9
      println(f"bq append: encode-only ingest of ${bqAppendDocs - baseN} rows: " +
        f"$appendSec%.2f s (${buildSec / appendSec}%.1fx cheaper than the " +
        "base build+persist)")
      // serve sanity: 200 appended rows, served as their own queries
      // over the grown index, must self-hit at rank 1 (the appended
      // bytes are real index content, not dead weight)
      val grown = graft.sources.Source.readBqShardedIndex(spark, s"$root/grown")
      require(grown.map(_.n.toLong).sum == bqAppendDocs,
        s"grown index holds ${grown.map(_.n.toLong).sum} rows, expected $bqAppendDocs")
      val qs = full.filter(col("doc_id") >= baseN && col("doc_id") < baseN + 200)
        .select(col("doc_id").as("qid"), col("vec").cast("array<double>").as("vec"))
      val top1 = Similarity.topkBqSharded(qs, "qid", "vec", grown, 1,
          Metric.Cosine, shortlist = 64)
        .select(col("qid"), col("index")).collect()
      val selfHits = top1.count(r => r.getLong(0) == r.getLong(1))
      println(f"bq append: appended-row self-hit@1 = ${selfHits}/200")
      require(selfHits >= 198, s"appended rows not serving: $selfHits/200 self-hits")
      stagesRan += 1
      full.unpersist()
      ()
    }

    // IVF+BQ END-TO-END at the rung's own recommended scale (round-16
    // verdict #3): the crossover probe measured the SCAN KERNELS at
    // 10M/50M/100M rows per shard, but the recommendation ("IVF+BQ
    // from ~50M rows/shard up") had never been driven through the
    // REAL serve path — distributed collect-free build → persisted
    // layout → wave paging (one shard resident at a time) → popcount
    // + SQ8-rerank serve with all its job floors. This stage is that
    // path, parameterized so three geometries tell the whole story:
    //
    //   - DOCS=9000000  DIM=256 SHARDS=16 — the round-15 collect
    //     build's exact geometry: re-cuts the 10M build point through
    //     writeBqShardedIndexDistributed (verdict #1's done
    //     condition) and re-reads the flat-serve band.
    //   - DOCS=100000000 DIM=128 SHARDS=8 — 12.5M rows/shard, near
    //     the 128-dim PER-SHARD CAP: a shard's SQ8 envelope is one
    //     JVM byte array, so rows/shard ≤ 2^31/dim ≈ 16.7M at 128
    //     dims — at this dim the "50M rows/shard" regime is
    //     UNREACHABLE by construction (the append caps refuse it by
    //     name) and this point measures the routed-vs-flat question
    //     inside the reachable band at 100M total rows.
    //   - DOCS=100000000 DIM=40 SHARDS=2 — 50M rows/shard WITHIN the
    //     cap (50M×40 = 2.0e9 < 2^31): the probe's recommended-scale
    //     regime, end to end.
    //
    // Ground truth is the FLAT wave serve over the same persisted
    // shards (both sides rerank identically on the shortlist, so the
    // overlap isolates what routing loses — the probe's own
    // methodology). Opt-in:
    //   SPARK_GRAFT_SMOKE_IVFBQ_E2E_DOCS=100000000 \
    //     SPARK_GRAFT_SMOKE_IVFBQ_E2E_DIM=40 \
    //     SPARK_GRAFT_SMOKE_IVFBQ_E2E_SHARDS=2 SPARK_DRIVER_MEM=100g \
    //     SPARK_GRAFT_SMOKE_EMB_ONLY=1 sbt "runMain graft.ScaleSmoke"
    val ivfbqE2eDocs =
      sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFBQ_E2E_DOCS", "0").toLong
    if (ivfbqE2eDocs > 0 && stageFilter.forall("ivfbq e2e".contains)) {
      val dim = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFBQ_E2E_DIM", "128").toInt
      val numShards =
        sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFBQ_E2E_SHARDS", "8").toInt
      val nCells =
        sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFBQ_E2E_NCELLS", "256").toInt
      val shortlist =
        sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFBQ_E2E_SHORTLIST", "512").toInt
      val nProbes = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFBQ_E2E_NPROBES",
        "16,4").split(",").map(_.trim.toInt).toSeq
      require(ivfbqE2eDocs / numShards * dim.toLong < Int.MaxValue.toLong,
        s"~${ivfbqE2eDocs / numShards} rows/shard × $dim dims exceeds the " +
          "per-shard envelope cap (2^31 bytes) — raise SHARDS or drop DIM")
      val nClusters = math.max(1L, ivfbqE2eDocs / 10L).toInt
      // NOT persisted: at 100M×128 the f32 corpus is ~51 GB — the
      // synth is deterministic hash math, so the distributed builder's
      // multiple passes just recompute it (~seconds per pass on 32
      // cores, cheaper than paging 51 GB through the block manager)
      val corpus = synthEmbClustered(spark, ivfbqE2eDocs, dim, nClusters, 0.5, 0L)
        .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
      val root = java.nio.file.Files
        .createTempDirectory("smoke-ivfbq-e2e").toString
      val t0 = System.nanoTime()
      graft.sources.Sink.writeBqShardedIndexDistributed(spark, corpus,
        "doc_id", "vec", numShards, s"$root/bq")
      println(f"ivfbq e2e: DISTRIBUTED bq build+persist ($ivfbqE2eDocs x " +
        f"${dim}d, $numShards shards, collect-free): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      val queries = synthEmbClustered(spark, 1000L, dim, nClusters, 0.5,
          1000000000L)
        .select(col("doc_id").as("qid"),
          col("vec").cast("array<double>").as("vec")).cache()
      queries.count()
      val manifest = graft.sources.ShardedLayout.readManifest(spark, s"$root/bq")
      val nDirs = manifest.numShards
      val hashModulus = manifest.hashModulus
      val hashVals = manifest.hashVals
      def bqDir(i: Int) = f"$root/bq/shard_$i%04d"
      val scratch = Similarity.resolveWaveScratch(isLocal = true, "")
      // FLAT serve: wave paging off the persisted layout, ONE shard
      // resident at a time — the bounded-memory path a 100 TB serve
      // session runs, not an all-resident shortcut
      System.gc(); Thread.sleep(2000); System.gc()
      val t1 = System.nanoTime()
      val flatRows = Similarity.topkBqWavesCore(queries, "qid", "vec",
          (0 until nDirs).map(i => () =>
            graft.sources.Source.readBqIndex(spark, bqDir(i))),
          10, Metric.Cosine, shortlist, waveSize = 1, scratch,
          Similarity.ShardedServeStats.default)
        .select(col("qid"), col("index")).collect()
      val flatSec = (System.nanoTime() - t1) / 1e9
      val flat = flatRows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      println(f"ivfbq e2e: FLAT wave serve (1k q, shortlist $shortlist/shard, " +
        f"waveSize 1): $flatSec%.2f s")
      // derive the ROUTED index from the SAME persisted envelopes —
      // two paged passes (global integer column totals, then
      // decode-from-envelope cell training per shard) — and persist
      // it with the bq layout's own routing identity
      val t2 = System.nanoTime()
      val cut = graft.sources.IndexCodec.BqCut.global((0 until nDirs).iterator
        .map(i => graft.sources.Source.readBqIndex(spark, bqDir(i)).sq8))
      val ivfShards = (0 until nDirs).map { i =>
        Similarity.ivfBqFromSq8(graft.sources.Source.readBqIndex(spark, bqDir(i)).sq8, nCells,
          cut = cut)
      }
      graft.sources.Sink.writeIvfBqShardedIndex(spark,
        Similarity.ShardedIvfBqBuild(ivfShards, hashModulus,
          hashVals.toIndexedSeq),
        s"$root/ivfbq")
      println(f"ivfbq e2e: ivf+bq derive+persist from the persisted envelopes " +
        f"($nCells cells/shard): ${(System.nanoTime() - t2) / 1e9}%.2f s")
      def ivfDir(i: Int) = f"$root/ivfbq/shard_$i%04d"
      for (npr <- nProbes) {
        System.gc(); Thread.sleep(2000); System.gc()
        val t3 = System.nanoTime()
        val gotRows = Similarity.topkIvfBqWavesCore(queries, "qid", "vec",
            (0 until nDirs).map(i => () =>
              graft.sources.Source.readIvfBqIndex(spark, ivfDir(i))),
            10, npr, shortlist, waveSize = 1, scratch,
            Similarity.ShardedServeStats.default)
          .select(col("qid"), col("index")).collect()
        val routedSec = (System.nanoTime() - t3) / 1e9
        val got = gotRows.map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val hits = flat.map { case (q, ts) =>
          (ts & got.getOrElse(q, Set.empty)).size }.sum
        val nFlat = flat.map(_._2.size).sum
        val r = hits.toDouble / nFlat
        println(f"ivfbq e2e: ROUTED wave serve (1k q, nProbe $npr/$nCells, " +
          f"shortlist $shortlist/shard, waveSize 1): $routedSec%.2f s " +
          f"(${flatSec / routedSec}%.2fx vs flat); routing recall@10 = $r%.4f")
        // the deepest probe must reproduce the flat serve closely —
        // a routing regression craters this, clustering drift doesn't
        if (npr == nProbes.max)
          require(r >= 0.9, f"ivfbq e2e routing recall floor: $r%.4f < 0.9")
      }
      stagesRan += 1
      queries.unpersist()
      ()
    }

    // Sharded-compact scale leg (round-17, verdict #1's done
    // condition): compaction renumbers each shard's live pack
    // positions — previously through a single-partition global-orderBy
    // window (the whole shard through ONE task regardless of cores),
    // now a map-only dropped-offset renumber (zero shuffle). sf0.1 is
    // job-floor bound, so the phase's core scaling is only measurable
    // at a 10M+ point; this stage isolates build / tombstone / compact
    // walls. Opt-in:
    //   SPARK_GRAFT_SMOKE_COMPACT_DOCS=10000000 SPARK_DRIVER_MEM=32g \
    //     SPARK_GRAFT_SMOKE_EMB_ONLY=1 sbt "runMain graft.ScaleSmoke"
    val compactDocs =
      sys.env.getOrElse("SPARK_GRAFT_SMOKE_COMPACT_DOCS", "0").toLong
    if (compactDocs > 0 && stageFilter.forall("sharded compact".contains)) {
      val dim = sys.env.getOrElse("SPARK_GRAFT_SMOKE_COMPACT_DIM", "128").toInt
      val numShards =
        sys.env.getOrElse("SPARK_GRAFT_SMOKE_COMPACT_SHARDS", "4").toInt
      val nClusters = math.max(1L, compactDocs / 10L).toInt
      val corpus = synthEmbClustered(spark, compactDocs, dim, nClusters, 0.5, 0L)
        .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
      val root = java.nio.file.Files
        .createTempDirectory("smoke-compact").toString
      val tb = System.nanoTime()
      graft.sources.Sink.writeBqShardedIndexDistributed(spark, corpus,
        "doc_id", "vec", numShards, s"$root/bq")
      println(f"sharded compact: distributed bq build+persist ($compactDocs x " +
        f"${dim}d, $numShards shards): ${(System.nanoTime() - tb) / 1e9}%.2f s")
      val td = System.nanoTime()
      graft.sources.Sink.deleteFromBqShardedIndex(spark,
        corpus.select("doc_id").filter(col("doc_id") % 10 === 0), "doc_id",
        s"$root/bq", s"$root/del")
      println(f"sharded compact: tombstone 10%% of ids: " +
        f"${(System.nanoTime() - td) / 1e9}%.2f s")
      System.gc(); Thread.sleep(2000); System.gc()
      val tc = System.nanoTime()
      graft.sources.Sink.compactBqShardedIndex(spark, s"$root/del", s"$root/comp")
      println(f"sharded compact: COMPACT (drop 10%%, renumber, republish): " +
        f"${(System.nanoTime() - tc) / 1e9}%.2f s")
      println(s"sharded compact: live total_n=" +
        s"${graft.sources.ShardedLayout.readManifest(spark, s"$root/comp").totalN}")
      stagesRan += 1
      ()
    }

    // IVF+PQ past the broadcast envelope (round-8 verdict #7): the 10M
    // ×256 composition point the blocked+SQ8 row already has. A 10M
    // f64 corpus is 20 GB — past the broadcast envelope AND past the
    // single-array limit (2.56e9 doubles > 2^31), so the honest scale
    // path is the one a 1000-executor cluster takes anyway: SHARD the
    // corpus hash-mod into blocks, train an independent IVF+PQ index
    // per shard, fan the query batch out to every shard, merge
    // per-shard top-k by score driver-side (scores approximate the
    // same cosine, so they merge directly). Ground truth is the
    // blocked EXACT kernel on the same f32 corpus (the SQ8-envelope
    // recipe). Geometry per 625k-vector shard: nCells=256 (≈ the √n
    // rule), nProbe=64 — 25% of cells probed; the gate's 0.6/0.75
    // ADC/rerank floors are ENFORCED only in the default
    // near-dup-family configuration (a custom IVFPQ_CLUSTERS run is a
    // declared control/experiment whose documented recalls sit BELOW
    // the floors — crashing a control behaving as documented would
    // make it indistinguishable from a broken smoke). Opt-in, and
    // honors the SPARK_GRAFT_SMOKE_STAGES filter like every other
    // stage (name: "ivfpq sharded"):
    //   SPARK_GRAFT_SMOKE_IVFPQ_DOCS=10000000 SPARK_DRIVER_MEM=64g \
    //     sbt "runMain graft.ScaleSmoke"
    val ivfpqDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_DOCS", "0").toLong
    if (ivfpqDocs > 0 && stageFilter.forall("ivfpq sharded".contains)) {
      val dim = 256
      val blocks = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_BLOCKS", "16").toInt
      val nProbe = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_NPROBE", "64").toInt
      val nCells = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_NCELLS", "256").toInt
      // default CLUSTERED with ~10-point clusters — the near-dup-family
      // corpus shape this library's ANN serves (SemDeDup / near-dup
      // retrieval: a query's true neighbors are its genuinely-close
      // family, separated from everything else by a wide cosine gap
      // that ADC resolves). Two measured negative controls pin the
      // regimes ADC-only CANNOT serve at this scale: uniform
      // no-structure vectors (ADC 0.12 / rerank 0.31 at 1M — nothing
      // beats brute force there) and huge diffuse clusters of ~250
      // points (ADC 0.06-0.18 / rerank 0.95 — cells found, intra-
      // cluster rank gaps below PQ resolution; the rerank sidecar is
      // the answer, which is why it exists).
      // SPARK_GRAFT_SMOKE_IVFPQ_CLUSTERS=0 → uniform control.
      val nClusters = sys.env.get("SPARK_GRAFT_SMOKE_IVFPQ_CLUSTERS")
        .map(_.toInt).getOrElse(math.max(1L, ivfpqDocs / 10L).toInt)
      // m follows the GATE's per-subspace resolution (ann_ivfpq_recall
      // runs m=16 at 64-d → 4 dims per subspace): at 256-d the same
      // geometry is m=64 — 64 B codes/vector, 32× under f64. m=16 at
      // 256-d (16-d subspaces, 128×) was measured as an ADC-resolution
      // cliff: rerank recall 0.95 but ADC 0.06 at 1M on clustered data
      // — the codes found the right cells and couldn't RANK inside them.
      val mSub = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_M", (dim / 4).toString).toInt
      // both branches shift ids BEFORE hashing: query batches are
      // fresh points, never byte-copies of corpus rows (a copied
      // query's guaranteed self-match inflates ground-truth recall)
      def emb(n: Long, idOffset: Long) =
        if (nClusters > 0)
          synthEmbClustered(spark, n, dim, nClusters, 0.5, idOffset)
        else
          synthEmb(spark, n, dim, idOffset)
      val corpus = emb(ivfpqDocs, 0L)
        .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      val queries = emb(1000L, 1000000000L)
        .select(col("doc_id").as("qid"),
          col("vec").cast("array<double>").as("vec")).cache()
      queries.count()
      // ground truth FIRST: at 10M×256 the exact blocked search's
      // concurrent block collects (~640 MB f32 each) must not share
      // the heap high-water mark with the finished sharded index
      // (codes + SQ8 sidecar ≈ 3.5 GB at 10M) — a par=8 run OOMed in
      // exactly that overlap with the index still referenced
      val t2 = System.nanoTime()
      val truth = Similarity.topkBlocked(queries, "vec", "qid", corpus,
          "doc_id", "vec", 10, Metric.Cosine, numBlocks = blocks)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      println(f"blocked exact ground truth (same shards): " +
        f"${(System.nanoTime() - t2) / 1e9}%.2f s")
      // round 10: the sequential driver loop this stage used through
      // round 9 (one shard collect+train at a time — 677 s of the 10M
      // point was that loop, round-9 verdict #1) is now the OPERATOR
      // Similarity.buildIvfPqSharded: shard builds run concurrently
      // on a small pool, and the search merges per-shard top-k in
      // topkIvfPqSharded's one-pass serve instead of a driver-side
      // sort. IvfPqSpec pins result parity with the old
      // sequential recipe (deterministic training → byte-identical
      // shards), so the recall machinery below measures the same
      // geometry, faster.
      val shardPar = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_PAR", "8").toInt
      // SPARK_GRAFT_SMOKE_IVFPQ_DIST=1 builds through the fully
      // DISTRIBUTED path instead (train-on-sample + scan-stage encode
      // straight into the persisted layout — zero raw-vector collect;
      // SinkSpec pins byte parity with the collect-based build, so the
      // recall machinery below measures the same geometry): the number
      // this variant cuts is the build wall of the path a 100 TB
      // corpus would HAVE to use.
      val distBuild = sys.env.get("SPARK_GRAFT_SMOKE_IVFPQ_DIST").contains("1")
      val corpusD = corpus.select(col("doc_id"),
        col("vec").cast("array<double>").as("vec"))
      var t = System.nanoTime()
      val shards = if (distBuild) {
        val ixDir = java.nio.file.Files
          .createTempDirectory("smoke-ivfpq-dist").toString + "/ix"
        graft.sources.Sink.writeIvfPqShardedIndexDistributed(spark, corpusD,
          "doc_id", "vec", numShards = blocks, nCells = nCells, m = mSub,
          path = ixDir)
        val tw = (System.nanoTime() - t) / 1e9
        val tr = System.nanoTime()
        val restored = graft.sources.Source.readIvfPqShardedIndex(spark, ixDir)
        println(f"ivfpq DISTRIBUTED build+persist (no raw-vector collect): " +
          f"$tw%.2f s; restore from parquet: ${(System.nanoTime() - tr) / 1e9}%.2f s")
        restored
      } else Similarity.buildIvfPqSharded(corpusD, "doc_id", "vec",
        numShards = blocks, nCells = nCells, m = mSub, parallelism = shardPar,
        // SPARK_GRAFT_SMOKE_IVFPQ_BUDGET overrides the throttle's
        // in-flight collected-bytes cap (default: driver heap / 4)
        maxInFlightBytes = sys.env
          .getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_BUDGET", "0").toLong)
      val buildSec = (System.nanoTime() - t) / 1e9
      def searchHits(shortlist: Int): (Map[Long, Set[Long]], Double) = {
        val t0 = System.nanoTime()
        val rows = Similarity.topkIvfPqSharded(queries, "vec", "qid", shards,
            10, nProbe = nProbe, shortlist = shortlist)
          .select(col("qid"), col("index")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val sec = (System.nanoTime() - t0) / 1e9
        (rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }, sec)
      }
      val (adcTop, adcSec) = searchHits(0)
      val (rerankTop, rerankSec) = searchHits(100)
      // round-11: the BOUNDED-MEMORY wave server — same rows, but peak
      // live broadcast bytes must be ONE wave's shards, not Σ shards
      // (the all-resident ceiling the round-10 verdict named). The
      // smoke measures the wall cost of the waves and the measured
      // peak vs the Σ-shards footprint the plain form pins.
      val waveSize = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_WAVE", "4").toInt
      Similarity.ShardedServeStats.reset()
      val tWave = System.nanoTime()
      val waveRows = Similarity.topkIvfPqShardedWaves(queries, "vec", "qid",
          shards, 10, nProbe = nProbe, shortlist = 100, waveSize = waveSize)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val waveSec = (System.nanoTime() - tWave) / 1e9
      val waveTop = waveRows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val perShardBytes = shards.map(ix =>
        org.apache.spark.util.SizeEstimator.estimate(ix))
      val peakWave = Similarity.ShardedServeStats.peakLiveBroadcastBytes
      println(f"ivfpq sharded WAVE serve (waveSize=$waveSize, shortlist=100): " +
        f"$waveSec%.2f s; peak live broadcast ${peakWave / 1e9}%.2f GB " +
        f"vs all-resident ${perShardBytes.sum / 1e9}%.2f GB " +
        f"(${perShardBytes.sum.toDouble / math.max(1L, peakWave)}%.1fx reduction)")
      require(waveTop == rerankTop,
        "wave serve rows diverge from the all-resident serve")
      require(peakWave <= perShardBytes.grouped(waveSize).map(_.sum).max,
        f"wave peak $peakWave exceeds one wave's shards")
      // A/B: the same wave serve with IN-MEMORY partials (eager
      // localCheckpoint, no parquet write+read per wave) — isolates
      // the scratch-persist share of the wave-serve overhead vs the
      // all-resident rerank (round-12 verdict #6)
      Similarity.ShardedServeStats.reset()
      val tWaveM = System.nanoTime()
      val waveRowsM = Similarity.topkIvfPqShardedWaves(queries, "vec", "qid",
          shards, 10, nProbe = nProbe, shortlist = 100, waveSize = waveSize,
          memoryPartials = true)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val waveSecM = (System.nanoTime() - tWaveM) / 1e9
      val peakWaveM = Similarity.ShardedServeStats.peakLiveBroadcastBytes
      val waveTopM = waveRowsM.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      require(waveTopM == rerankTop,
        "memory-partials wave serve rows diverge from the all-resident serve")
      require(peakWaveM <= perShardBytes.grouped(waveSize).map(_.sum).max,
        f"memory-partials wave peak $peakWaveM exceeds one wave's shards")
      println(f"ivfpq sharded WAVE serve, MEMORY partials (waveSize=$waveSize, " +
        f"shortlist=100): $waveSecM%.2f s (parquet-scratch form: $waveSec%.2f s)")
      // round 13: FILTERED serve at scale (the ID-selector mask).
      // Parity leg: an all-id mask must reproduce the rerank rows
      // exactly — the mask adds no behavior when it selects
      // everything. Subset leg: an even-id mask (50% selectivity) may
      // only return even ids, and since masked-out members skip their
      // ADC dot inside the scan, the filtered serve's wall should sit
      // AT OR UNDER the unfiltered serve's, not above it — the point
      // of pre-filter over post-filter+over-fetch. Driver-side mask
      // builds (sort each shard's ids once + binary-search the
      // allowed array per shard) are part of the measured wall.
      val allIds = Array.tabulate(ivfpqDocs.toInt)(_.toLong)
      val tFillAll = System.nanoTime()
      val filtAllTop = Similarity.topkIvfPqShardedFiltered(queries, "vec",
          "qid", shards, allIds, 10, nProbe = nProbe, shortlist = 100)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val filtAllSec = (System.nanoTime() - tFillAll) / 1e9
      require(filtAllTop == rerankTop,
        "all-id filtered serve diverges from the unfiltered rerank serve")
      val evenIds = allIds.filter(_ % 2 == 0)
      val tFillEven = System.nanoTime()
      val evenRows = Similarity.topkIvfPqShardedFiltered(queries, "vec",
          "qid", shards, evenIds, 10, nProbe = nProbe, shortlist = 100)
        .select(col("qid"), col("index")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val filtEvenSec = (System.nanoTime() - tFillEven) / 1e9
      require(evenRows.nonEmpty && evenRows.forall(_._2 % 2 == 0),
        "even-id mask leaked a disallowed id at scale")
      println(f"ivfpq sharded FILTERED serve (all-id parity leg): " +
        f"$filtAllSec%.2f s; even-id 50%% mask: $filtEvenSec%.2f s " +
        f"(unfiltered rerank: $rerankSec%.2f s)")
      // round 13: the COMPRESSED-PIPELINE leg — JL-project corpus and
      // queries to SPARK_GRAFT_SMOKE_IVFPQ_RP dims (scan-stage, no
      // training pass), build the sharded index on the projection,
      // serve, and grade recall against the FULL-dim exact truth:
      // every downstream cost (pack collects, codes, centroids, ADC
      // LUTs) scales with dim, so a 4× reduction compresses the whole
      // index pipeline if the corpus's neighbor structure survives —
      // which is the measured question. Pure-euclidean JL vs the
      // cosine metric: family gaps on this corpus are large enough
      // that the distinction washes out; the recall number is the
      // honest answer either way.
      val rpDim = sys.env.getOrElse("SPARK_GRAFT_SMOKE_IVFPQ_RP", "0").toInt
      if (rpDim > 0) {
        val tRp = System.nanoTime()
        val corpusRp = graft.operators.Ann.randomProject(
            corpusD, "vec", rpDim, seed = 20260816L)
          .select(col("doc_id"), col("rp").as("vec"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        corpusRp.count()
        val queriesRp = graft.operators.Ann.randomProject(
            queries, "vec", rpDim, seed = 20260816L)
          .select(col("qid"), col("rp").as("vec")).cache()
        queriesRp.count()
        val projSec = (System.nanoTime() - tRp) / 1e9
        val tRpBuild = System.nanoTime()
        val shardsRp = Similarity.buildIvfPqSharded(corpusRp, "doc_id", "vec",
          numShards = blocks, nCells = nCells, m = rpDim / 4,
          parallelism = shardPar)
        val rpBuildSec = (System.nanoTime() - tRpBuild) / 1e9
        val tRpSearch = System.nanoTime()
        val rpTop = Similarity.topkIvfPqSharded(queriesRp, "vec", "qid",
            shardsRp, 10, nProbe = nProbe, shortlist = 100)
          .select(col("qid"), col("index")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q2, rs) => q2 -> rs.map(_._2).toSet }
        val rpSearchSec = (System.nanoTime() - tRpSearch) / 1e9
        val rpRecall = {
          val per = truth.toSeq.map { case (q2, t) =>
            (t.intersect(rpTop.getOrElse(q2, Set.empty)).size, t.size) }
          per.map(_._1).sum.toDouble / math.max(1, per.map(_._2).sum)
        }
        println(f"ivfpq COMPRESSED pipeline (JL $dim->$rpDim, m=${rpDim / 4}): " +
          f"project $projSec%.2f s, build $rpBuildSec%.2f s (full-dim $buildSec%.2f s), " +
          f"rerank search $rpSearchSec%.2f s (full-dim $rerankSec%.2f s), " +
          f"recall@10 vs FULL-dim truth $rpRecall%.4f (full-dim rerank recall printed below)")
        // round 14: the FULL-DIM RERANK rung — the reduced index only
        // PROPOSES a 100-candidate shortlist; the final top-10 is the
        // full-dim SQ8 cosine against sharded SQ8 envelopes of the
        // ORIGINAL corpus (1 B/element, shared corpus-global grid).
        // This buys back most of the JL recall gap for one
        // O(shortlist·dim) decode-dot per query + the envelope build.
        val tEnv = System.nanoTime()
        val fullEnv = Similarity.buildSq8Sharded(corpusD, "doc_id", "vec",
          numShards = blocks)
        val envSec = (System.nanoTime() - tEnv) / 1e9
        // two shortlist depths: 100 (the recipe's default — cheapest)
        // and 400 (the depth that buys the reduced-dim proposal set
        // enough coverage to clear 0.9 on this corpus). The rerank's
        // recall ceiling is the shortlist's coverage of the true
        // top-10 — the knob is depth, priced per-query as
        // O(shortlist · full_dim) decode-dots.
        for (depth <- Seq(100, 400)) {
          val tRr = System.nanoTime()
          val proposals = Similarity.topkIvfPqSharded(queriesRp, "vec", "qid",
            shardsRp, depth, nProbe = nProbe, shortlist = 0)
          val rrTop = graft.operators.Ann.rerankFullDim(proposals, queries,
              "qid", "vec", fullEnv, 10)
            .select(col("qid"), col("index")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (q2, rs) => q2 -> rs.map(_._2).toSet }
          val rrSec = (System.nanoTime() - tRr) / 1e9
          val rrRecall = {
            val per = truth.toSeq.map { case (q2, t) =>
              (t.intersect(rrTop.getOrElse(q2, Set.empty)).size, t.size) }
            per.map(_._1).sum.toDouble / math.max(1, per.map(_._2).sum)
          }
          println(f"ivfpq COMPRESSED + FULL-DIM RERANK (shortlist=$depth): " +
            f"SQ8 envelope build $envSec%.2f s, propose+rerank $rrSec%.2f s, " +
            f"recall@10 vs FULL-dim truth $rrRecall%.4f " +
            f"(compressed-alone $rpRecall%.4f)")
          require(rrRecall >= rpRecall,
            f"full-dim rerank lost recall: $rrRecall%.4f < $rpRecall%.4f")
        }
        // EXACT rerank of the same depth-400 shortlist: the family
        // corpus's intra-cluster rank gaps sit BELOW the global 8-bit
        // SQ8 grid (measured: SQ8 rerank plateaus at ~0.867 from
        // depth 100 to 400 — precision-limited, not coverage-limited),
        // so the last recall points need f64 — distributed, candidate
        // ids joined back against the corpus TABLE, one corpus scan,
        // no vector broadcast, no collect.
        // the ≥0.9 recipe (measured at 200k: depth 400 → 0.878,
        // depth 2000 → 0.896, depth 2000 + 2×probes → 0.904): the
        // reduced-space ADC ordering loses true neighbors DEEP, so
        // coverage needs both a deep shortlist and a wider probe —
        // both priced at the reduced dim, where they are cheap
        val exDepth = sys.env
          .getOrElse("SPARK_GRAFT_SMOKE_EXACT_DEPTH", "2000").toInt
        val exProbe = sys.env
          .getOrElse("SPARK_GRAFT_SMOKE_EXACT_NPROBE", (2 * nProbe).toString).toInt
        val tEx = System.nanoTime()
        val proposalsEx = Similarity.topkIvfPqSharded(queriesRp, "vec", "qid",
          shardsRp, exDepth, nProbe = exProbe, shortlist = 0)
        val exTop = graft.operators.Ann.rerankExact(proposalsEx, queries,
            "qid", "vec", corpusD, "doc_id", "vec", 10)
          .select(col("qid"), col("index")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q2, rs) => q2 -> rs.map(_._2).toSet }
        val exSec = (System.nanoTime() - tEx) / 1e9
        val exRecall = {
          val per = truth.toSeq.map { case (q2, t) =>
            (t.intersect(exTop.getOrElse(q2, Set.empty)).size, t.size) }
          per.map(_._1).sum.toDouble / math.max(1, per.map(_._2).sum)
        }
        println(f"ivfpq COMPRESSED + EXACT RERANK (shortlist=$exDepth, " +
          f"nProbe=$exProbe, distributed f64 corpus join): " +
          f"propose+rerank $exSec%.2f s, " +
          f"recall@10 vs FULL-dim truth $exRecall%.4f")
        // the ≥0.9 floor binds the DEFAULT family corpus
        // (uniform/diffuse controls are declared experiments, like
        // the ADC floors above)
        if (sys.env.get("SPARK_GRAFT_SMOKE_IVFPQ_CLUSTERS").isEmpty)
          require(exRecall >= 0.9,
            f"exact-rerank floor violated: $exRecall%.4f < 0.9 at depth $exDepth")
        corpusRp.unpersist(); queriesRp.unpersist()
      }
      val mode = if (distBuild) "DISTRIBUTED train-on-sample + restore"
        else s"par=$shardPar, concurrent collect"
      println(f"ivfpq sharded build ($ivfpqDocs x ${dim}d, $blocks shards, " +
        f"nCells=$nCells m=$mSub, $mode): $buildSec%.2f s")
      println(f"ivfpq sharded ADC search (1k q, nProbe=$nProbe, merged top-10): " +
        f"$adcSec%.2f s")
      println(f"ivfpq sharded rerank search (shortlist=100): $rerankSec%.2f s")
      def recallOf(sel: Map[Long, Set[Long]]): Double = {
        val per = truth.toSeq.map { case (q, t) =>
          (t.intersect(sel.getOrElse(q, Set.empty)).size, t.size) }
        per.map(_._1).sum.toDouble / math.max(1, per.map(_._2).sum)
      }
      val (ra, rr) = (recallOf(adcTop), recallOf(rerankTop))
      println(f"ivfpq recall@10: ADC $ra%.4f (floor 0.6), rerank $rr%.4f (floor 0.75)")
      // floors bind only the default family corpus; an explicit
      // IVFPQ_CLUSTERS run is a declared control/experiment whose
      // documented recalls sit below them by design
      if (sys.env.get("SPARK_GRAFT_SMOKE_IVFPQ_CLUSTERS").isEmpty)
        require(ra >= 0.6 && rr >= 0.75,
          f"ivfpq floors violated on the default family corpus: ADC $ra%.4f rerank $rr%.4f")
      else println("ivfpq floors NOT enforced: explicit IVFPQ_CLUSTERS control run")
      stagesRan += 1
      queries.unpersist(); corpus.unpersist()
    }
    spark.stop()
    // a typo'd stage filter must not read as a green smoke that
    // verified nothing
    require(stagesRan > 0,
      s"SMOKE RAN ZERO STAGES — filter '${stageFilter.getOrElse("")}' matched nothing")
  }

  /** Executor-side CLUSTERED synthetic embeddings: vector = a planted
    * cluster center (deterministic from `pmod(xxhash64(id), nClusters)`)
    * plus per-id uniform noise scaled by `noise`. This is the corpus
    * shape IVF indexes exist for — real embedding corpora cluster;
    * [[synthEmb]]'s uniform vectors are the method's degenerate
    * no-structure case (at 256-d uniform, cell membership of a
    * query's true neighbors is nearly independent of the query's own
    * nearest cells, and NO cell-probing index beats brute force —
    * the 1M negative control measured ADC recall 0.12 there). At
    * noise=0.5 the within-cluster cosine is ≈0.9 and cross-cluster
    * ≈0, so a query's true top-10 are its cluster-mates.
    */
  private def synthEmbClustered(
      spark: SparkSession, nDocs: Long, dim: Int,
      nClusters: Int, noise: Double, idOffset: Long = 0L): DataFrame = {
    // idOffset shifts the id BEFORE hashing, so a query batch
    // generated at an offset is fresh points from the same cluster
    // family — never byte-copies of corpus rows (a copied query's
    // guaranteed self-match would inflate recall)
    val eid = col("id") + lit(idOffset)
    val cl = pmod(xxhash64(eid, lit("c")), lit(nClusters.toLong))
    spark.range(nDocs).select(eid.as("doc_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (pmod(xxhash64(cl * dim + i, lit("ctr")), lit(10000)).cast("double") / 5000.0 - 1.0)
          + (pmod(xxhash64(eid * dim + i, lit("nz")), lit(10000)).cast("double") / 5000.0 - 1.0)
            * noise).as("vec"))
  }

  /** Executor-side synthetic embeddings: deterministic uniform [-1, 1)
    * coordinates from xxhash64(seed·64 + i); same dup plan as [[synth]]
    * (1 % exact copies, 1 % near copies with coordinate 7 nudged).
    * `idOffset` shifts the id BEFORE hashing (as in
    * [[synthEmbClustered]]) so an offset batch is FRESH vectors, never
    * byte-copies of corpus rows — note the SQ8/blocked envelope stages
    * predate this and offset post-hoc (their query batches duplicate
    * the first 16k corpus vectors; their recall compares ANN against
    * EXACT on the same definition, so the self-matches cancel in the
    * quantization-loss measurement those stages make, but a
    * ground-truth-recall stage must pass an offset here instead).
    */
  private def synthEmb(
      spark: SparkSession, nDocs: Long, dim: Int = 64,
      idOffset: Long = 0L): DataFrame = {
    val eid = col("id") + lit(idOffset)
    val seed = when(eid % 100 === 7, eid - lit(7))
      .when(eid % 100 === 13, eid - lit(13))
      .otherwise(eid)
    val nudge = eid % 100 === 13
    spark.range(nDocs).toDF("id").withColumn("__seed", seed)
      .select(eid.as("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (pmod(xxhash64(col("__seed") * dim + i), lit(10000)).cast("double") / 5000.0 - 1.0)
            + when(nudge && i === 7, lit(0.05)).otherwise(lit(0.0))).as("vec"))
  }

  /** Executor-side synthetic corpus. Word w of doc d is the md5-hex
    * prefix of (seed(d), w); seed(d) redirects 1 % of docs to an
    * exact-copy source and 1 % to a near-copy source (one word of 30
    * replaced → shingle Jaccard ≈ 0.85 at 5-gram).
    */
  private[graft] def synth(spark: SparkSession, nDocs: Long): DataFrame = {
    val seed = when(col("id") % 100 === 7, col("id") - lit(7))   // exact copy of id-7
      .when(col("id") % 100 === 13, col("id") - lit(13))         // near copy of id-13
      .otherwise(col("id"))
    val mutate = col("id") % 100 === 13
    spark.range(nDocs).toDF("id")
      .withColumn("__seed", seed)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(30)), w =>
          when(mutate && w === 15, lit("mutated"))
            .otherwise(substring(md5(concat(col("__seed"), lit("-"), w)), 1, 6))))
          .as("text"))
  }
}
