package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make the headline
  * queries scale — predicate pushdown reaching the parquet scan, minimal
  * read schemas, broadcast joins for dimensions, partial (map-side)
  * aggregation, no cartesian products, and bounded top-k instead of global
  * windows — asserted on the real sf0.001 tables so a plan regression fails
  * CI even while results stay correct.
  */
class PlanSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Executed plan with AQE off: AdaptiveSparkPlanExec defers codegen and
    * join planning until runtime, which hides the static plan shape these
    * guards pin (the properties themselves hold either way).
    */
  private def executedPlan(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def plan(name: String): String = executedPlan(name).toString

  test("q02 filter is pushed into the parquet scan with a pruned schema") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), "filters must reach the scan")
    // projection pruning: the lineitem scan must not read all 16 columns
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1).count(_ == ',') + 1).toSeq
    assert(scanCols.nonEmpty, p)
    scanCols.foreach(n => assert(n <= 8, s"scan reads $n columns"))
  }

  test("q03 joins dimension tables by broadcast, aggregates partially") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(!p.contains("CartesianProduct"))
  }

  test("q01 aggregates partially before the exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), p)
  }

  test("q25 minhash-LSH plan has no cartesian product") {
    val p = plan("q25_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q27 ranks with a bounded aggregate, not a global window") {
    val p = plan("q27_cosine_topk")
    assert(!p.contains("Window"), "row_number window would shuffle all scored rows")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "bounded top-k aggregate expected:\n" + p)
  }

  test("q36 IVF plan is cartesian-free with no window") {
    val p = plan("q36_ann_ivf")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q06/q07/q12 per-key rankings aggregate partially, with no window") {
    for (q <- Seq("q06_first_per_group", "q07_latest_per_key",
        "q12_topk_per_group")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q should not use a window:\n$p")
      assert(p.contains("partial_"), s"$q should aggregate map-side:\n$p")
    }
  }

  test("clusterize value probe broadcasts the batch side, never shuffles values") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force-disable stats-based broadcast so only the explicit hints count:
    // at 100 TB the values side is far beyond any autoBroadcast threshold
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val values = spark.range(1000).select(
        concat(lit("v"), col("id")).as("value"),
        concat(lit("c"), col("id")).as("clusterId"))
      val batch = spark.range(10).select(
        concat(lit("r"), col("id")).as("recordId"),
        concat(lit("v"), col("id") * 7).as("value"))
      val p = graft.cluster.Clusterize.probeValues(values, batch)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), "values side must not shuffle:\n" + p)
      assert(!p.contains("ShuffledHashJoin"), "values side must not shuffle:\n" + p)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("q34 sessionize keeps whole-stage codegen around the windows") {
    // executedPlan.toString marks WholeStageCodegen stages with "*(n)"
    val p = plan("q34_sessionize")
    assert(p.contains("*("), p)
  }

  test("q44 decontamination broadcasts the benchmark gram set") {
    val p = plan("q44_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus gram side must not sort-merge against the benchmark
    assert(!p.contains("SortMergeJoin"), "corpus must stream past a broadcast:\n" + p)
  }

  test("q46 bm25 never shuffles the corpus: one broadcast of the 1-row stats") {
    val p = plan("q46_bm25")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row stats frame must broadcast:\n" + p)
  }

  test("q39/q43 sampling and repetition are pure per-row scans (no exchange before filter/project)") {
    val p39 = plan("q39_sample_hash")
    // deterministic hash sampling is a scan + filter + sort for output order:
    // exactly one exchange (the final global sort), nothing for the filter
    assert("Exchange".r.findAllIn(p39).size <= 1, p39)
    val p43 = plan("q43_repetition")
    assert(!p43.contains("Join"), "repetition stats must not self-join:\n" + p43)
  }

  test("q47 boilerplate mining takes a bounded top-k, not a global sort") {
    val p = plan("q47_boilerplate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), "doc-frequency count must partial-aggregate:\n" + p)
  }

  test("q49 profile aggregates partially before the exchange") {
    val p = plan("q49_profile")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
  }

  test("q51 as-of join is union + window, never a range join") {
    val p = plan("q51_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "no join operator — union + running last:\n" + p)
  }

  test("q52 range join is a binned equi-join, never a nested loop") {
    val p = plan("q52_range_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q55 rollup expands grouping sets with partial aggregation") {
    val p = plan("q55_rollup")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
  }

  test("q57 token entropy is a pure per-row scan, no explode-aggregate") {
    val p = plan("q57_token_entropy")
    assert(!p.contains("Generate"), "no explode — per-row fold:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("q61 session windows shuffle only by user, partial-agg the sessions") {
    val p = plan("q61_session_windows")
    assert(p.contains("Window"), p)
    assert(p.contains("partial_"), "session agg must combine map-side")
    assert(!p.contains("Join"), "no join in the session pipeline:\n" + p)
  }

  test("q62 unigram scoring broadcasts the vocabulary, never sort-merges") {
    val p = plan("q62_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), "vocab lookup must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q63 mixture sample plans as a pure per-row filter (rates pre-derived)") {
    val p = plan("q63_mixture_sample")
    assert(!p.contains("Join"), "thresholds are literals, not a joined table:\n" + p)
    assert(!p.contains("HashAggregate"), "no aggregate in the sampling plan:\n" + p)
  }

  test("q73 temperature mixture plans as a pure per-row filter") {
    val p = plan("q73_temperature_mixture")
    assert(!p.contains("Join"), "thresholds are literals, not a joined table:\n" + p)
    assert(!p.contains("HashAggregate"), "no aggregate in the sampling plan:\n" + p)
  }

  test("q64 KL drift joins marginals by broadcast") {
    val p = plan("q64_kl_drift")
    // the sf0.001 vocabulary fits the auto-broadcast threshold; at
    // web-vocabulary scale the (unhinted) token marginal degrades to a
    // token-keyed shuffle join by design — this pins the small-corpus plan
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  /** Executed plan (AQE off, as [[plan]]) as a tree for programmatic node
    * counts — string matching can't tell a live parquet scan from the
    * cache-build plan printed under an InMemoryRelation.
    */
  private def exec(name: String): org.apache.spark.sql.execution.SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q62/q64 persisted-token paths scan the documents text exactly once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // both gate queries persist the tokenized projection (q62) / the pair
    // counts (q64): every consumer must read the cache, so the raw text is
    // scanned and tokenized exactly once — at cache build
    Seq("q62_unigram_logprob", "q64_kl_drift").foreach { q =>
      val p = exec(q)
      val fileScans = p.collect { case f: FileSourceScanExec => f }
      assert(fileScans.isEmpty,
        s"$q: all branches must read the persisted frame, got " +
          s"${fileScans.size} direct parquet scans:\n$p")
      val cacheScans = p.collect { case c: InMemoryTableScanExec => c }
      assert(cacheScans.size >= 2, s"$q: expected >= 2 cache reads:\n$p")
    }
  }

  test("q119 containment audit derives shingles exactly once (one shared cache)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the audit threads ONE persisted (doc_id, sh) frame through the
    // containment join (prefix build + both verify probes) AND its own
    // signature pass: every branch must read that cache — zero direct
    // parquet scans, >= 4 cache reads, all of the SAME cached plan (a
    // second shingle derivation would surface as a second relation)
    val p = exec("q119_containment_estimate")
    val fileScans = p.collect { case f: FileSourceScanExec => f }
    assert(fileScans.isEmpty,
      s"q119: all branches must read the persisted shingle frame, got " +
        s"${fileScans.size} direct parquet scans:\n$p")
    val cacheScans = p.collect { case c: InMemoryTableScanExec => c }
    assert(cacheScans.size >= 4, s"q119: expected >= 4 cache reads:\n$p")
    val relations = cacheScans
      .map(c => System.identityHashCode(c.relation.cacheBuilder.cachedPlan))
      .distinct
    assert(relations.size == 1,
      s"q119: ${relations.size} distinct cached plans — shingles derived " +
        s"more than once:\n$p")
  }

  test("q181 edit join: candidates from the variant equi-join, never all pairs") {
    val p = plan("q181_edit_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on deletion variants:\n" + p)
  }

  test("q182 b-cubed: cluster-size joins partial-agg, no broadcast of cluster dims") {
    val p = plan("q182_bcubed")
    assert(p.contains("partial_"), "cell counts must partial-agg:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q183 pii scan is pure per-row work: no shuffle beyond the gate sort") {
    val p = plan("q183_pii_scan")
    // the gate's presentation orderBy adds ONE rangepartitioning exchange;
    // the scan/count/scrub itself must stay a per-row projection
    val kinds = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(kinds.forall(_ == "rangepartitioning"),
      s"regex count/scrub must stay a per-row projection (got $kinds):\n$p")
  }

  test("q188/q189 broadcast the bounded probe side; corpus is never shuffled into a join") {
    Seq("q188_knn_label_noise", "q189_mrl_fidelity").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"$q: probe side must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: no corpus-shuffling join allowed:\n$p")
    }
  }

  test("q194/q195 collapse events to the day grid in one partial agg") {
    Seq("q194_dow_seasonality", "q195_volume_anomaly").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: day counts must partial-agg:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q184/q185/q186 collapse the corpus in one partial agg before windows") {
    Seq("q184_emd_drift", "q185_shard_pack", "q186_waterfill").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: corpus reduce must partial-agg:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q68 tf-idf top-k is a bounded aggregate, not a global window") {
    val p = plan("q68_tfidf_topk")
    assert(!p.contains("Window"), "top-k must not window the vocabulary:\n" + p)
    assert(p.contains("partial_"), "bounded top-k partials expected:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q69 stratum overlap joins by gram, never all document pairs") {
    val p = plan("q69_stratum_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "distinct + count aggregate partials:\n" + p)
  }

  test("klByStratum convenience entry plans at most two pruned text scans") {
    // drop the gate queries' persisted frames: the pair-count subplan here
    // canonicalizes identically, so the cache manager would substitute the
    // cached data and this would no longer test the unpersisted shape
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p =
      try graft.curation.DistributionDrift.klByStratum(docs, "text", "lang")
        .queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // the marginal branches re-evaluate the pair-count subplan under
    // different column pruning, so exchange reuse dedupes only partially:
    // two pruned text scans is the documented ceiling for the unpersisted
    // path (klFromPairCounts over a persisted frame is the strict
    // single-pass shape, pinned above)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected at most two documents scans, got $scans:\n" + p)
  }

  test("q70 dup spans: persisted gram frame, no cartesian, partial agg") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val e = exec("q70_dup_spans")
    val p = e.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "gram-count partial agg expected:\n" + p)
    // both the dup-count agg and the coverage join read the persisted gram
    // frame: the documents text is scanned and gram-assembled exactly once
    assert(e.collect { case f: FileSourceScanExec => f }.isEmpty,
      "all branches must read the persisted gram frame:\n" + p)
    assert(e.collect { case c: InMemoryTableScanExec => c }.size >= 2, p)
  }

  test("q71 classifier: persisted token frame, broadcast weights") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val e = exec("q71_quality_classifier")
    val p = e.toString
    assert(p.contains("BroadcastHashJoin"), "weights must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "no token-keyed sort-merge:\n" + p)
    // the 1-row totals crossJoin must plan as a broadcast nested loop,
    // never a real (shuffled) cartesian over the token counts
    assert(!p.contains("CartesianProduct"), p)
    assert(e.collect { case f: FileSourceScanExec => f }.isEmpty,
      "all branches must read the persisted token frame:\n" + p)
    assert(e.collect { case c: InMemoryTableScanExec => c }.size >= 2, p)
  }

  test("q72 semdedup: bucket equi-join candidates, never all pairs") {
    // the final q72 plan is small (connectedComponents resolves the tiny
    // sf0.001 subgraph eagerly via the size-gated local path, so the pair
    // pipeline runs during planning) — pin the PAIR source's shape
    // directly: candidates must come from the bucket equi-join
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val pairs = try graft.similarity.Similarity
      .nearDupPairsLsh(emb, "vec_id", "embedding", 0.42)
      .queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(!pairs.contains("CartesianProduct"), pairs)
    assert(!pairs.contains("BroadcastNestedLoopJoin"), pairs)
    // candidate dedup is a two-level (map-side first) grouping aggregate
    assert("HashAggregate".r.findAllIn(pairs).size >= 2,
      "two-level candidate-distinct expected:\n" + pairs)
    // and the end-to-end gate plan still has no pair blow-up
    val p = plan("q72_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q80 CDC chunking is pure per-row: no exchange before the sort") {
    val p = plan("q80_cdc_chunks")
    // the chunker itself must not shuffle: the only exchanges allowed are
    // the gate's final global ORDER BY (rangepartitioning) and the
    // Parallelism.ensure roundrobin guard (a no-op on well-partitioned
    // large inputs; present here because sf0.001 is one row group)
    val exchanges = "Exchange \\w+".r.findAllIn(p).toSeq
    assert(exchanges.count(_ == "Exchange rangepartitioning") == 1 &&
        exchanges.forall(e => e == "Exchange rangepartitioning" ||
          e == "Exchange RoundRobinPartitioning"),
      s"unexpected exchanges $exchanges:\n" + p)
    // `*(n)` is the executedPlan rendering of a WholeStageCodegen span
    assert(p.contains("*("), "codegen spans expected:\n" + p)
  }

  test("q76 DSIR: persisted gram frame, broadcast lambda table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val e = exec("q76_dsir_weights")
    val p = e.toString
    // the 256-row λ table joins the gram stream by broadcast, never a
    // gram-keyed sort-merge; the 1-row totals crossJoin stays a broadcast
    // nested loop, not a real cartesian
    assert(p.contains("BroadcastHashJoin"), "λ table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), "bucket counts must partial-agg:\n" + p)
    // both the distribution estimate and the scoring join read the
    // persisted bucket frame: one scan + gram-hash of the corpus
    assert(e.collect { case f: FileSourceScanExec => f }.isEmpty,
      "all branches must read the persisted bucket frame:\n" + p)
    assert(e.collect { case c: InMemoryTableScanExec => c }.size >= 2, p)
  }

  test("q81 winnow decontamination broadcasts the benchmark fingerprint set") {
    val p = plan("q81_winnow_decontaminate")
    // the corpus fingerprint stream probes a broadcast benchmark set; the
    // only corpus shuffle is the per-document count (partial-agg'd)
    assert(p.contains("BroadcastHashJoin"), "bench fps must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), "per-doc counts must partial-agg:\n" + p)
  }

  test("q82 sq8 quantization is pure per-row: no exchange before the sort") {
    val p = plan("q82_sq8_quant")
    val exchanges = "Exchange \\w+".r.findAllIn(p).toSeq
    assert(exchanges == Seq("Exchange rangepartitioning"),
      s"per-row quantization must not shuffle, got $exchanges:\n" + p)
    assert(p.contains("*("), "codegen spans expected:\n" + p)
  }

  test("q83 zipf slope windows the vocabulary, not the corpus") {
    val p = plan("q83_zipf_slope")
    // corpus tokens partial-agg into (source, token) counts BEFORE any
    // exchange; the ranking window then sorts vocab-sized groups only
    assert(p.contains("partial_"), "token counts must partial-agg:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("partial_")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "window must consume the aggregated vocabulary:\n" + p)
  }

  test("q85 kneser-ney joins the model by broadcast, type total by BNLJ") {
    val p = plan("q85_kneser_ney")
    assert(p.contains("BroadcastHashJoin"), "model must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"),
      "1-row type total must broadcast, not cartesian:\n" + p)
    assert(p.contains("partial_"), "bigram counts must partial-agg:\n" + p)
  }

  test("q86 bpe fertility broadcasts the vocab lookup") {
    val p = plan("q86_bpe_fertility")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), "group counts must partial-agg:\n" + p)
  }

  test("q87 hard negatives broadcast the query side, rank via bounded top-k") {
    val p = plan("q87_hard_negatives")
    // non-equi label/id condition → broadcast nested loop over the corpus
    // scan (queries are the tiny side); ranking is the bounded aggregate,
    // never a global window sort
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), "bounded top-k, not a window:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("q88 centroid drift partial-aggs the explode, broadcasts the global dims") {
    val p = plan("q88_centroid_drift")
    assert(p.contains("partial_"), "per-dim sums must partial-agg:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "64-row global frame must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q89 mixture order is one per-stratum window, no join") {
    val p = plan("q89_mixture_order")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "weights are a literal CASE, not a join:\n" + p)
    val hashEx = "Exchange hashpartitioning\\(([^,]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.startsWith("lang")),
      s"only the stratum window may shuffle, got $hashEx:\n" + p)
  }

  test("q90 oov audit broadcasts the reference vocabulary") {
    val p = plan("q90_oov_rate")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), "per-group counts must partial-agg:\n" + p)
  }

  test("q91 CMS audit scans the corpus once (persisted vocab), joins broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val p = exec("q91_cms_audit")
    // the grid build and the top-k pick must BOTH read the persisted
    // vocabulary — the corpus-scale token aggregate runs once, at cache build
    assert(p.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"all branches must read the persisted vocab:\n$p")
    assert(p.collect { case c: InMemoryTableScanExec => c }.size >= 2, p.toString)
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), "grid must broadcast:\n" + s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q92 perplexity buckets: one text scan, broadcast vocab, group-keyed window") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val p = exec("q92_perplexity_buckets")
    assert(p.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"all branches must read the persisted token frame:\n$p")
    assert(p.collect { case c: InMemoryTableScanExec => c }.size >= 2, p.toString)
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), "vocab lookup must broadcast:\n" + s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("Window"), "per-group ntile window expected:\n" + s)
    assert(s.contains("partial_"), "doc-level partial aggregation expected:\n" + s)
  }

  test("q93 bloom decontamination never shuffles the corpus gram stream") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val p = exec("q93_bloom_decontaminate")
    val s = p.toString
    assert(!s.contains("SortMergeJoin"),
      "every probe join must broadcast:\n" + s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    // bench-side builds (gram sets, bit positions) may shuffle — they are
    // benchmark-sized and feed BroadcastExchanges; the CORPUS stream must
    // reach the per-document aggregate without any non-doc_id exchange
    val broadcastShuffleIds = p.collect { case b: BroadcastExchangeExec => b }
      .flatMap(_.collect { case e: ShuffleExchangeExec => e.id }).toSet
    val streamShuffles = p.collect {
      case e: ShuffleExchangeExec if !broadcastShuffleIds.contains(e.id) => e
    }
    streamShuffles.foreach { e =>
      assert(e.outputPartitioning.toString.contains("doc_id"),
        s"corpus-stream exchange not keyed by doc_id: ${e.outputPartitioning}\n$s")
    }
  }

  test("q94 ANN recall audit joins by broadcast, no cartesian anywhere") {
    val p = plan("q94_ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY nested loop allowed is the brute-force ground truth itself:
    // the bounded query set broadcast (BuildLeft) against the corpus scan
    val bnlj = "BroadcastNestedLoopJoin (\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(bnlj.forall(_ == "BuildLeft"),
      s"non-broadcast-built nested loop: $bnlj\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), "per-query counts must partial-agg:\n" + p)
  }

  test("q95 cluster-size histogram partial-aggs both collapse stages") {
    val p = plan("q95_cluster_sizes")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q84 incremental dedup broadcasts every batch-side frame") {
    val p = plan("q84_incremental_dedup")
    // the standing corpus streams through broadcast probes (hash, band,
    // candidate-verify); no corpus-keyed sort-merge join anywhere
    assert(p.contains("BroadcastHashJoin"), "batch side must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q96 prefix-filter jaccard: candidates from equi-joins, never all pairs") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val p = exec("q96_prefix_jaccard")
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on prefix shingles:\n" + s)
    assert(s.contains("partial_"), "df counts must partial-agg:\n" + s)
    // the shingle frame is persisted: prefix build + both verify probes
    // must reuse it instead of re-shingling the corpus
    assert(p.collect { case c: InMemoryTableScanExec => c }.size >= 3, s)
  }

  test("q97 hll audit: bounded register aggregate, broadcast summary") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val p = exec("q97_hll_audit")
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("partial_"),
      "register max-agg must partial-agg (m-bounded exchange):\n" + s)
    // the 64-row register frame is persisted; summary + histogram reuse it
    assert(p.collect { case c: InMemoryTableScanExec => c }.size >= 2, s)
  }

  test("q98 rrf fusion: TakeOrdered list cuts, no global corpus window") {
    val p = plan("q98_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      "per-list top-100 must plan as TakeOrdered (bounded heap), not a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q99 conditional entropy partial-aggs the bigram counts") {
    val p = plan("q99_cond_entropy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "bigram counts must partial-agg:\n" + p)
  }

  test("q100 covariance audit: one pass, constant-size partial state") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = exec("q100_embedding_cov")
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    // the ONLY exchange is the single-group merge of d+d(d+1)/2-long
    // aggregator states — never vector rows or exploded pairs
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected exactly one exchange:\n$s")
    assert(s.contains("partial_") || s.contains("ObjectHashAggregate") ||
      s.contains("SortAggregate"), s)
  }

  test("q104 passage dedup: owner via partial-agg groupBy, never a hash window") {
    val p = plan("q104_passage_dedup")
    assert(!p.contains("Window"),
      "first-occurrence ownership must not sort whole dup groups:\n" + p)
    assert(p.contains("partial_"), "owner min must partial-agg:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q106 JL projection is pure per-row: no exchange before the sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = exec("q106_jl_projection")
    // allowed exchanges: the final ORDER BY's range partitioner and
    // Parallelism.ensure's round-robin (single-row-group testdata parquet);
    // nothing may shuffle BY KEY — the projection itself is per-row
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      .filterNot(e => e.outputPartitioning.toString.contains("range") ||
        e.outputPartitioning.toString.contains("RoundRobin"))
    assert(shuffles.isEmpty,
      s"projection must not shuffle vectors by key:\n$p")
  }

  test("q107 containment join: candidates from equi-joins, never all pairs") {
    val p = plan("q107_containment_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q117 salted join: the join keys on the salt, not the raw key alone") {
    val p = plan("q117_salted_join")
    assert(p.contains("_graft_salt"),
      "the executed join must key on (orderkey, salt):\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q121 normalized dedup: hash-keyed partial aggs, no window") {
    val p = plan("q121_normalized_dedup")
    assert(p.contains("partial_"), "group sizes must partial-agg:\n" + p)
    assert(!p.contains("Window"), "canonical id must come from min(), not a window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q122 gram novelty: min-owner attribution, no window, no cartesian") {
    val p = plan("q122_gram_novelty")
    assert(p.contains("partial_"), "first-owner min must partial-agg:\n" + p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q123 cosine pairs: candidates from the token equi-join only") {
    val p = plan("q123_cosine_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "pair numerators must partial-agg:\n" + p)
  }

  test("q124 rule attribution: one partial-agg'd exchange, per-row rules") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = exec("q124_rule_attribution")
    val byKey = p.collect { case e: ShuffleExchangeExec => e }
      .filterNot(e => e.outputPartitioning.toString.contains("range") ||
        e.outputPartitioning.toString.contains("RoundRobin"))
    assert(byKey.size == 1,
      s"rules are per-row folds; only the source rollup may shuffle:\n$p")
    assert(p.toString.contains("partial_"), p.toString)
  }

  test("q126 keyness: bounded top-k aggregate, never a per-group sort window") {
    val p = plan("q126_keyness")
    assert(!p.contains("Window"),
      "top-k must be the bounded aggregate, not row_number:\n" + p)
    // the only nested-loop is the 1-row grand-total broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"),
      "group totals and the grand total must broadcast:\n" + p)
  }

  test("q128 LSH planner: no shuffle at all (grid broadcast, per-row folds)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = exec("q128_lsh_plan")
    val byKey = p.collect { case e: ShuffleExchangeExec => e }
      .filterNot(e => e.outputPartitioning.toString.contains("range"))
    assert(byKey.isEmpty, s"planner must not exchange by key:\n$p")
  }

  test("q134 weighted jaccard: banded candidates + shared-token equi-join only") {
    val p = plan("q134_weighted_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "pair sums must partial-agg:\n" + p)
  }

  test("q135 b-bit minwise: banded candidates only, no cartesian") {
    val p = plan("q135_bbit_minhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q129 sorted neighborhood: bucket equi-join, no empty-partition window") {
    val p = plan("q129_sorted_neighborhood")
    assert(!p.contains("Window"),
      "global positions must come from the PrefixSum scan, not a window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q136 funnel: the whole stage chain rides ONE user-keyed exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = exec("q136_funnel")
    val hashEx = e.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashEx.size <= 1,
      s"chained stage windows + per-user agg must reuse one exchange, " +
        s"got ${hashEx.size}:\n$e")
  }

  test("q137 cohort retention: cohort sizes broadcast onto the tiny result") {
    val p = plan("q137_cohort_retention")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q138 KMV: bounded sketch aggregate partial-aggs before the exchange") {
    val p = plan("q138_kmv_distinct")
    assert(p.contains("partial_"), "sketch must partial-agg:\n" + p)
    // the only join is the ALL row's 1-row exact-count broadcast; the
    // sketch side must never join at corpus scale
    assert(!p.contains("SortMergeJoin"), "no corpus-scale join expected:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q140 transition matrix: lag window by user, partial-agg'd counts, " +
      "broadcast marginals") {
    val p = plan("q140_transition_matrix")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q141 codebook: bounds broadcast back; components never sort-merge") {
    val p = plan("q141_equidepth_codebook")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q143 FS linkage: blocked equi-join, never a nested-loop all-pairs") {
    val p = plan("q143_fs_linkage")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "histogram must partial-agg:\n" + p)
  }

  test("q151 blocklist: single corpus pass — no join, no aggregation exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = exec("q151_blocklist_screen")
    val hashEx = e.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashEx.isEmpty, s"per-row screen must not shuffle:\n$e")
    val p = e.toString
    assert(!p.contains("Join"), "pattern dictionary must ride the UDF, not a join:\n" + p)
  }

  test("q152 margin knn: probe side broadcast; corpus never cartesian-joined") {
    val p = plan("q152_margin_knn")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "bounded probe side must broadcast:\n" + p)
  }

  test("q153 cusum: corpus collapses via partial agg before the tiny grid fold") {
    val p = plan("q153_cusum")
    assert(p.contains("partial_"), "daily counts must partial-agg:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q154 stylometry: word stats broadcast onto the bounded grid") {
    val p = plan("q154_stylometry")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q155 silhouette: cluster stats broadcast; never an all-pairs join") {
    val p = plan("q155_silhouette")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), "dim sums must partial-agg:\n" + p)
  }

  test("q156 semantic screen: eval set broadcast, no cartesian") {
    val p = plan("q156_semantic_screen")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "bounded eval side must broadcast:\n" + p)
  }

  test("q157 burstiness: lag window and aggregate ride ONE user-keyed exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = exec("q157_burstiness")
    val hashEx = e.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashEx.size <= 1,
      s"window + groupBy on the same key must reuse one exchange, got ${hashEx.size}:\n$e")
  }

  test("q158 cooccurrence: per-row pair expansion, one partial-agg'd exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = exec("q158_cooccurrence")
    assert(e.toString.contains("partial_"), "pair counts must partial-agg:\n" + e)
    val hashEx = e.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashEx.size <= 1, s"only the pair-count exchange expected:\n$e")
    assert(!e.toString.contains("Join"), "no join anywhere:\n" + e)
  }

  test("q159 KS drift: corpus collapses to the value grid via partial agg; " +
      "grid frames broadcast") {
    val p = plan("q159_ks_drift")
    assert(p.contains("partial_"), "grid counts must partial-agg:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "bounded grid frames must broadcast:\n" + p)
  }

  test("q160 Kaplan-Meier: per-user partial agg, horizon broadcast, no cartesian") {
    val p = plan("q160_kaplan_meier")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q161 correlation: one partial-agg'd exchange, no join at all") {
    val p = plan("q161_length_token_corr")
    assert(p.contains("partial_"), "sufficient sums must partial-agg:\n" + p)
    assert(!p.contains("Join"), "five-sums corr needs no join:\n" + p)
  }

  test("q163 modularity: vertex-keyed equi-joins only, edge count broadcast") {
    val p = plan("q163_modularity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q164 slice-word MI: one (slice,word) exchange, marginals broadcast") {
    val p = plan("q164_slice_word_mi")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "marginals must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q165 simpson: pure partial-agg chain, no join") {
    val p = plan("q165_simpson_index")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), "mergeable counts need no join:\n" + p)
  }

  test("q166 weight ESS: hash-group equi-join, no cartesian, partial aggs") {
    val p = plan("q166_weight_ess")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q167 langid confusion: per-row kernel + one partial-agg'd exchange, no join") {
    val p = plan("q167_langid_confusion")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), "confusion counts need no join:\n" + p)
  }

  test("q168 PSI: grid-bounded bin frames broadcast, partial aggs, no cartesian") {
    val p = plan("q168_psi_drift")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q169 LSH recall: shared-shingle and band-bucket equi-joins only") {
    val p = plan("q169_lsh_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q170 power iteration: one corpus-sized aggregate; iterations on the " +
      "d²-bounded frame with broadcast vectors") {
    val p = plan("q170_power_iteration")
    assert(p.contains("partial_"), "covariance must partial-agg:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "iteration vectors must broadcast:\n" + p)
  }

  test("q171 Mann-Whitney: one (slice,value) exchange, bounded-grid pair join") {
    val p = plan("q171_mann_whitney")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q172 autocorrelation: grid partial aggs, lag equi-join, no cartesian") {
    val p = plan("q172_autocorrelation")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q173 gini: slice-keyed rank window, one partial-agg'd reduction") {
    val p = plan("q173_gini_length")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), "rank + sums need no join:\n" + p)
  }

  test("q174 dedup agreement: hash-group + shared-shingle equi-joins only") {
    val p = plan("q174_dedup_agreement")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q175 Cramér's V²: contingency partial agg, bounded dense grid") {
    val p = plan("q175_cramers_v")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q176 RBO: k-bounded rank windows, token equi-join, depth broadcast") {
    val p = plan("q176_rbo_vocab")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "depth frame must broadcast:\n" + p)
  }

  test("q177 JS divergence: one (slice,word) exchange, totals broadcast, " +
      "shared-support equi-join only") {
    val p = plan("q177_js_divergence")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "totals must broadcast:\n" + p)
  }

  test("q203 gram exchange keys on the 16-byte xxhash64 struct, not strings") {
    // the r13 A/B winner: the corpus-sized gram exchange must carry the
    // two-seed xxhash64 struct — no md5/array_join string materialization
    // in the hot explode (md5 appears only in the bounded span re-slice)
    val p = plan("q203_substring_clusters")
    assert(p.contains("xxhash64"),
      "gram key must be the seeded xxhash64 pair:\n" + p)
    // the explode emits raw token slices; no md5/array_join string build
    // anywhere between it and the gram exchange
    val generates = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(generates.nonEmpty, p)
    assert(!generates.exists(_.contains("md5")),
      "no md5/string build inside the gram explode:\n" + generates.mkString("\n"))
  }

  test("q203/q204 substring dedup tokenizes the corpus exactly once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // one persisted token frame feeds gram build AND span re-slice: every
    // branch reads the cache, the raw text is tokenized only at cache
    // build, and all cache reads are of the SAME cached plan
    Seq("q203_substring_clusters", "q204_substring_dedup").foreach { q =>
      val p = exec(q)
      val fileScans = p.collect { case f: FileSourceScanExec => f }
      assert(fileScans.isEmpty,
        s"$q: all branches must read the persisted token frame, got " +
          s"${fileScans.size} direct parquet scans:\n$p")
      val cacheScans = p.collect { case c: InMemoryTableScanExec => c }
      assert(cacheScans.size >= 2, s"$q: expected >= 2 cache reads:\n$p")
      val rels = cacheScans
        .map(c => System.identityHashCode(c.relation.cacheBuilder.cachedPlan))
        .distinct
      assert(rels.size == 1,
        s"$q: ${rels.size} distinct cached plans — tokens derived twice:\n$p")
    }
  }

  test("sampled sweep + cross-source matrix share ONE cached pair frame") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // verdict item: q201/q202 are two reports off the same sampled pair
    // frame — both consumers must read the SAME persisted frame (a second
    // prefix-filter pair join would surface as a distinct cached plan)
    val t = Tables(spark, dir)
    val pairs = graft.dedup.SampledSweep.sampledPairs(t.documents,
      "doc_id", "text", shingleLen = 3, threshold = 0.5,
      fraction = 0.5, salt = "pspin")
    try {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val sweep = graft.dedup.SampledSweep.thresholdSweep(pairs,
          Seq(500000L, 700000L, 900000L), invFractionSq = 4L)
          .queryExecution.executedPlan
        val matrix = graft.dedup.SampledSweep.crossSourceMatrix(pairs,
          t.documents, "doc_id", "source", invFractionSq = 4L)
          .queryExecution.executedPlan
        def cacheIds(p: org.apache.spark.sql.execution.SparkPlan) =
          p.collect { case c: InMemoryTableScanExec =>
            System.identityHashCode(c.relation.cacheBuilder.cachedPlan)
          }.toSet
        val s = cacheIds(sweep)
        val m = cacheIds(matrix)
        assert(s.nonEmpty, s"sweep must read the persisted pairs:\n$sweep")
        assert(m.nonEmpty, s"matrix must read the persisted pairs:\n$matrix")
        assert((s intersect m).nonEmpty,
          s"the two reports read DIFFERENT cached frames:\n$sweep\n$matrix")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    } finally pairs.unpersist()
  }

  test("q162 bootstrap: all replicas in one scan, partial-agg'd, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = exec("q162_bootstrap_means")
    assert(e.toString.contains("partial_"), "replica sums must partial-agg:\n" + e)
    assert(!e.toString.contains("Join"), "weights are content-addressed, no join:\n" + e)
    val hashEx = e.collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashEx.size <= 1, s"one replica-keyed exchange expected:\n$e")
  }

  test("q206 Krippendorff: cell partial agg, bounded frames broadcast") {
    val p = plan("q206_krippendorff")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the bounded pooled-marginal frame must broadcast:\n" + p)
  }

  test("q207 conformal: |alphas|-row threshold frame broadcast against the " +
      "eval scan; no corpus-sized cartesian") {
    val p = plan("q207_conformal_screen")
    assert(!p.contains("CartesianProduct"),
      "threshold side must broadcast, not cartesian:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q208 BLEU profile: gram clipping is an equi-join, no cartesian") {
    val p = plan("q208_bleu_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "gram clipping must stay a (pair, n, gram) equi-join:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("q208 BLEU profile derives all n-gram orders in ONE explode per side") {
    // the round-11 shape exploded (and re-joined, re-shuffled) the pair
    // text once per n — 4 generators per side; the single-explode rewrite
    // tags each n's gram array and flattens before ONE generator per side
    val p = plan("q208_bleu_overlap")
    val gens = "Generate explode".r.findAllIn(p).length
    assert(gens == 2, s"expected exactly one generator per side, got $gens:\n$p")
  }

  test("q209 pack fragmentation: single-table prefix-sum window, no join") {
    val p = plan("q209_pack_fragmentation")
    assert(!p.contains("Join"), "one table, no join expected:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("q210 mixture assembly: bounded alloc frame broadcast, no cartesian") {
    val p = plan("q210_mixture_assembly")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the group-cardinality alloc frame must broadcast:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("q211 keep-one strip: every branch reads ONE persisted token frame") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // gram build, verdicts, and the strip re-slice all ride the same
    // persisted token frame — the corpus text is tokenized exactly once
    val p = exec("q211_substring_strip")
    val fileScans = p.collect { case f: FileSourceScanExec => f }
    assert(fileScans.isEmpty,
      s"all branches must read the persisted token frame, got " +
        s"${fileScans.size} direct parquet scans:\n$p")
    val cacheScans = p.collect { case c: InMemoryTableScanExec => c }
    assert(cacheScans.size >= 2, s"expected >= 2 cache reads:\n$p")
    val rels = cacheScans
      .map(c => System.identityHashCode(c.relation.cacheBuilder.cachedPlan))
      .distinct
    assert(rels.size == 1,
      s"${rels.size} distinct cached plans — tokens derived twice:\n$p")
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q212 curation v3: no cartesian, bounded MAD stats broadcast") {
    val p = plan("q212_curation_v3")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the per-source median/MAD stats frame must broadcast:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("q213 removal bootstrap: content-addressed weights, partial-agg'd, " +
      "no cartesian") {
    val p = plan("q213_removal_bootstrap")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"),
      "replica expansion must partial-agg before the exchange:\n" + p)
  }

  test("q214 conformal-calibrated pipeline: 1-row threshold broadcast, " +
      "no corpus cartesian") {
    val p = plan("q214_curation_conformal")
    assert(!p.contains("CartesianProduct"),
      "the threshold side must broadcast, not cartesian:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q215 mixture pack audit: bounded alloc frame broadcast, no cartesian") {
    val p = plan("q215_mixture_pack_audit")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the group-cardinality alloc frame must broadcast:\n" + p)
    assert(p.contains("partial_"), p)
  }

  test("q216 corpus store: committed-table read-back, partial-agg'd census, " +
      "no cartesian") {
    val p = plan("q216_corpus_store")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q217 curriculum: histogram boundaries broadcast to the corpus, " +
      "no global sort of documents") {
    val p = plan("q217_curriculum_phases")
    assert(!p.contains("CartesianProduct"),
      "the 1-row boundary frame must broadcast, not cartesian:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q218 vocab richness: one partial-agg'd token exchange, no cartesian") {
    val p = plan("q218_vocab_richness")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q219 k-anonymity: partial-agg'd QI exchange, no cartesian") {
    val p = plan("q219_k_anonymity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q220 SPRT: calendar grid broadcast, partial-agg'd counts, " +
      "no cartesian") {
    val p = plan("q220_sprt_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q221 substring crosstab: pairs within span_hash only, no cartesian") {
    val p = plan("q221_substring_crosstab")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q222 time travel: both pinned-version snapshots scanned, no cartesian") {
    val ep = executedPlan("q222_catalog_time_travel")
    val p = ep.toString
    assert(!p.contains("CartesianProduct"), p)
    // the census aggregated BEFORE each commit; the returned plan is the
    // union of the two pinned snapshot scans — pin exactly that, on the
    // scans' root paths (the plan string abbreviates long locations)
    val roots = ep.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName) }.flatten
    assert(roots.sorted == Seq("v=1", "v=2"),
      s"must read the two pinned versions: $roots\n" + p)
  }

  test("q223 curriculum pack: boundary + alloc frames broadcast, no cartesian") {
    val p = plan("q223_curriculum_pack")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q224 memorization risk: partial-agg'd gram exchange, no cartesian") {
    val p = plan("q224_memorization_risk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q225 strip exposure delta: two partial-agg'd censuses, no cartesian") {
    val p = plan("q225_strip_exposure_delta")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q226 curation waterfall: stage censuses partial-agg'd, no cartesian") {
    val p = plan("q226_curation_waterfall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q227 canonical policy: id-keyed joins only, no text in the CC frame, " +
      "no cartesian") {
    val p = plan("q227_canonical_policy")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q228 soft dedup: one group-size exchange, partial-agg'd census, " +
      "no cartesian") {
    val p = plan("q228_soft_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q229 curation lineage: id-keyed audit joins, no cartesian") {
    val p = plan("q229_curation_lineage")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q230 tokenizer fertility: one scan, partial-agg'd group exchange") {
    val p = plan("q230_tokenizer_fertility")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), "single-scan census must not join:\n" + p)
  }

  test("q232 store ingest probe: final census reads the committed store, " +
      "no cartesian") {
    val p = plan("q232_store_ingest_probe")
    assert(!p.contains("CartesianProduct"), p)
    // the census is a plain scan+sort over the committed table — the
    // writeDeduped/ingestBatch work ran eagerly inside the query fn; the
    // probe join's broadcast shape is pinned below on the operator itself
    assert(p.contains("FileScan parquet"), p)
  }

  test("q233 snapshot diff: one (id, source)-keyed co-shuffle, slim " +
      "projections, no cartesian") {
    val p = plan("q233_snapshot_diff")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    // the diff must scan pinned PARTITION data dirs (the copy-on-write
    // manifest layout), not whole-table paths
    assert(p.contains("/parts/"), p)
  }

  test("store gram probe: batch keys broadcast against the index scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the exact join ingestBatch builds: slim index scan ⋈ broadcast
    // batch gram keys — the per-batch cost must stay one index pass, so
    // the batch side must BROADCAST (a shuffled index would re-exchange
    // the store every micro-batch)
    val idx = Seq((1L, 2L, 10L, "web")).toDF("h1", "h2", "doc_id", "source")
    val keys = Seq((1L, 2L)).toDF("h1", "h2")
    val joined = idx.join(broadcast(keys), Seq("h1", "h2"))
      .select(col("doc_id"), col("source")).distinct()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

}
