package graft

/** Plan-shape regression gate (round-10 ask #5): PLANS.md documents, per
  * query, the physical plan that IS the feature — the broadcast that keeps
  * a 100 TB fact from shuffling for a dimension, the WindowGroupLimit that
  * caps a shuffle at k rows per group, the filter that reaches the parquet
  * scan before a row-multiplying explode. This spec pins the
  * load-bearing ones so a plan regression (a lost hint, a rewrite rule no
  * longer firing, an operator reordered behind the explode) fails the suite
  * instead of surfacing as a 100× scale-up surprise.
  *
  * Everything asserted here is STATIC — visible in the pre-execution
  * physical plan — so the sweep costs planning time only. AQE-dependent
  * shapes (runtime broadcast conversions, skew splits) are deliberately
  * not asserted: the initial plan doesn't carry them, and they are
  * environment-adaptive by design. Streaming gate queries are excluded:
  * their returned frame is a localCheckpoint scan of an already-drained
  * sink (constructing one RUNS the drain), and the drain harness's shape
  * is pinned by the streaming specs and in-gate require()s instead. */
class PlanAuditSpec extends SparkSpec {

  /** Pre-execution physical plan per query, built once for the suite.
    * Construction may build memoized session artifacts (index fits, staged
    * truths) shared with the other suites via the common session. */
  private lazy val plans: Map[String, String] =
    SparkEntry.queries.collect {
      case (n, fn) if !n.startsWith("q_stream_") =>
        n -> fn(spark, sf).queryExecution.executedPlan.toString
    }

  private def plan(n: String): String =
    plans.getOrElse(n, fail(s"$n is not in the audited plan set"))

  test("no registered query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.toSeq.sorted.mkString(", ")} — every " +
        "documented all-pairs baseline must ride a broadcast nested-loop join")
  }

  test("top-k-per-group queries keep their WindowGroupLimit prune") {
    // rank-filter shapes where InferWindowGroupLimit's map-side prune is
    // the difference between shuffling k rows per group and shuffling the
    // corpus (PLANS.md rows: q_mode_value, q_hard_negatives,
    // q_stratum_topk)
    for (n <- Seq("q_mode_value", "q_hard_negatives", "q_stratum_topk"))
      assert(plan(n).contains("WindowGroupLimit"),
        s"$n lost its WindowGroupLimit prune:\n${plan(n)}")
  }

  test("global top-k queries plan TakeOrderedAndProject, not a global sort") {
    // per-partition heaps + a k-row merge; a full Sort here would be a
    // single-task global order at corpus scale (PLANS.md rows: q_topk,
    // q_bm25, q_pmi_bigrams, q_pagination_keyset)
    for (n <- Seq("q_topk", "q_bm25", "q_pmi_bigrams", "q_pagination_keyset"))
      assert(plan(n).contains("TakeOrderedAndProject"),
        s"$n lost its TakeOrderedAndProject top-k:\n${plan(n)}")
  }

  test("documented small sides broadcast") {
    // explicit broadcast() sites where the other side is a fact table that
    // must never shuffle for the join (PLANS.md rows: q_join_dims dims,
    // q_tpch_q5 dims, q_length_deciles / q_value_histogram / q_cusum
    // 1-row bounds, q_interpolate type dim, q_seasonal_anomaly baseline)
    for (n <- Seq("q_join_dims", "q_tpch_q5", "q_length_deciles",
        "q_value_histogram", "q_cusum", "q_interpolate", "q_seasonal_anomaly"))
      assert(plan(n).contains("BroadcastExchange"),
        s"$n lost its broadcast small side:\n${plan(n)}")
  }

  test("fact-fact joins stay SortMergeJoin when nothing is broadcastable") {
    // The 100 TB shape (round-12 verdict #3): with the auto-broadcast
    // threshold OFF — at scale neither side of a fact-fact join fits an
    // executor — the orderkey joins must plan as SMJ on the one shuffle
    // both facts already need, and the EXPLICIT broadcast() dims must
    // STILL broadcast (that is what the hint is for; size estimation at
    // the test SF would otherwise broadcast the facts too and assert
    // nothing). A join reorder that turns the fact join into a nested
    // loop, or a lost dim hint, fails here. Child session: these three
    // queries read tables only, no session-cached artifacts.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (n <- Seq("q_ship_delay", "q_tpch_q3", "q_tpch_q5")) {
      val p = SparkEntry.queries(n)(iso, sf).queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"$n lost its fact-fact SMJ:\n$p")
    }
    val q5 = SparkEntry.queries("q_tpch_q5")(iso, sf).queryExecution.executedPlan.toString
    assert(q5.contains("BroadcastExchange"),
      s"q_tpch_q5's explicit dim broadcasts must survive threshold -1:\n$q5")
  }

  /** Queries whose plan legitimately carries a BroadcastNestedLoopJoin:
    * every site is a crossJoin(broadcast(...)) of a 1-row/model-sized
    * aggregate (totals, bounds, fitted models) or a documented bounded
    * all-pairs baseline (the Similarity.scala maxVecId=500 family, the
    * doc<80 containment/jaccard baselines — scale paths exist for each,
    * see PLANS.md "Known all-pairs queries"). ADDING a name here requires
    * the same documentation; an undocumented BNLJ is a cartesian-sized
    * scale hazard the moment the broadcast side stops being tiny. */
  private val AllowedBnlj: Set[String] = Set(
    // crossJoin(broadcast(1-row aggregate)) — totals/bounds/thresholds/
    // fitted-model frames joined under every row; the broadcast side is a
    // single row by construction
    "q_ab_test", "q_chi2_independence", "q_cms_hh", "q_cusum",
    "q_densify_hours", "q_dsir", "q_funnel", "q_funnel_ordered",
    "q_growth_accounting", "q_interpolate", "q_ks_test",
    "q_length_deciles", "q_mix_schedule", "q_pack_sequences",
    "q_pagination_keyset", "q_pareto", "q_psi_drift", "q_rfm",
    "q_temperature_mix", "q_token_alloc", "q_upsample_balance",
    "q_value_histogram", "q_wau",
    // model-/vocab-sized broadcast frames (fitted NB/LM/IDF tables,
    // codebooks, seeds) under a corpus scan
    "q_bigram_lm", "q_bm25", "q_hybrid_retrieval", "q_lang_source_mi",
    "q_naive_bayes", "q_tfidf_keywords", "q_unigram_logprob",
    // ANN probe family: |queries|-sized frame (vec_id < 5/10) against
    // centroids/cells — the query side is the tiny side by design
    "q_ann_brute", "q_ann_ivf", "q_ann_ivf_pq", "q_ann_ivf_q8",
    "q_ann_lsh", "q_ann_recall", "q_minhash_est", "q_semantic_dedup",
    // documented bounded all-pairs baselines + their bound/recall gates
    // (PLANS.md "Known all-pairs queries": doc<80 / vec<500 slices;
    // scale paths are the banded/bucketed variants)
    "q_containment", "q_cosine_near_dup", "q_cosine_near_dup_lsh",
    "q_dedup_canonical_lsh", "q_dedup_clusters_lsh", "q_edit_distance",
    // q_near_dup_incremental left this list in round 19: its bound payload
    // became ONE full-outer join + one aggregate (no 1-row crossJoin
    // assembly), so it no longer plans a BNLJ anywhere
    "q_edit_distance_scale", "q_hard_negatives",
    "q_near_dup_minhash", "q_near_dup_ml", "q_near_dup_simhash",
    "q_ngram_jaccard", "q_pmi_bigrams",
    // the explicit cross-join gate itself (5×5 dims, oracle-pinned)
    "q_join_cross",
    // cluster-split: leakage stats crossJoin the 1-row corpus totals
    "q_cluster_split")

  test("BroadcastNestedLoopJoin appears only at the documented bounded sites") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") => n
    }.toSet
    val undocumented = offenders -- AllowedBnlj
    val stale = AllowedBnlj -- offenders
    assert(undocumented.isEmpty,
      s"undocumented BroadcastNestedLoopJoin in: ${undocumented.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"allowlist entries no longer planning BNLJ (prune them): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("narrow-by-design token pipelines plan no Window operator") {
    // the round-13 bigram-LM rewrite made adjacent-pair extraction an
    // in-row arrays_zip over the token array — a narrow map off the scan.
    // A Window here means someone reintroduced the per-doc lag(1) shape,
    // which shuffles and sorts EVERY token by doc_id (the 2.4× ×50
    // regression this gate exists to prevent). topBigrams/PMI share the
    // array-pairing idiom but legitimately rank via an ordered window on
    // their AGGREGATED (vocab-sized) output, so only the LM — whose plan
    // is window-free end to end — is pinned.
    assert(!plan("q_bigram_lm").contains("Window"),
      s"q_bigram_lm reintroduced a Window (per-doc lag pairing?):\n${plan("q_bigram_lm")}")
  }

  test("filters reach the parquet scan where the scan order is the feature") {
    // the pushed filter must appear in the SCAN's PushedFilters list, not
    // as a post-scan Filter only (PLANS.md rows; q_explode_tokens is the
    // canonical prune-before-Generate case)
    val expected = Seq(
      "q_pending" -> "IsNotNull(doc_id)",
      "q_explode_tokens" -> "LessThan(doc_id,25)",
      "q_window_firstlast" -> "LessThan(o_custkey,50)",
      "q_scd2" -> "LessThan(user_id,30)")
    for ((n, pushed) <- expected) {
      val scanLines = plan(n).linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
      assert(scanLines.contains(pushed),
        s"$n: expected '$pushed' in PushedFilters, scan lines were:\n$scanLines\n" +
          s"full plan:\n${plan(n)}")
    }
  }
}
