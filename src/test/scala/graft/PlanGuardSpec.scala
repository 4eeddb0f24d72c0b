package graft

import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

/** Scale-invariant plan guards over the ENTIRE registered surface: the
  * anti-patterns that are survivable at sf0.1 but fatal at 100 TB must
  * never (re)appear in any query's physical plan. Most queries only
  * BUILD their plan here; the exceptions execute during construction
  * and their guarded string is the post-materialization plan:
  * q33/q34/q74 (GraphX drives jobs eagerly), q35/q75 (LPA iteration +
  * localCheckpoint), q95 (eager checkpoint), and the streaming
  * registrations q78/q98/q99 (a full Trigger.AvailableNow run each —
  * the bulk of this suite's wall time). Their internals are covered by
  * their own suites (GraphOpsSpec, FidelitySpec one-scan assert,
  * StreamingQueriesSpec), not this sweep.
  */
class PlanGuardSpec extends AnyFunSuite with SparkTestBase {

  /** Queries whose plan legitimately contains a broadcast nested-loop
    * join: a broadcast side that is a literal handful of rows (a single
    * query vector, k centroids, L hyperplane tables). Data-side never
    * builds; cost is O(n·small), not O(n²).
    */
  private val bnljSanctioned = Set(
    "q60_knn_bruteforce", "q63_ann_hyperplane_lsh", "q64_embedding_near_dups",
    "q65_ann_ivf",
    // modularity's crossJoin(broadcast(m2)): the broadcast side is the
    // single-row 2m total (q337 below carries the same tail)
    "q74_component_modularity", "q75_community_modularity",
    // PMI's crossJoin(broadcast(n)): the broadcast side is the
    // single-row corpus token total
    "q111_pmi_collocations",
    // round-8 batch: every crossJoin below broadcasts a SINGLE-ROW
    // frame (data-derived cutoff, quantile-boundary row or global
    // total) into the scan stage — the sanctioned
    // boundary-broadcast pattern, not a pair blowup
    "q135_cdc_merge",            // (min+max)/2 cutoff row
    "q137_rfm_segments",         // global last day + 3 quartile rows
    "q141_decile_lift",          // decile-boundary row
    "q142_distribution_drift",   // cutoff + boundary row + totals row
    "q143_revenue_concentration", // totals row
    // round-9 batch: same sanctioned single-row boundary broadcasts
    "q158_independence_lift",    // global event-count row
    "q160_hll_mergeability",     // global exact-distinct row
    "q161_table_stats",          // table row-count row
    // round-10: per-table row-count row (q161's string twin)
    "q169_string_stats",
    // round-10: single-row data-derived cutoffs (q135's pattern)
    "q174_retractable_rollup",   // (min+max)/2 rollup cutoff row
    "q177_incremental_dedup",    // doc_id batch-cutoff row
    "q181_negative_samples",     // item-key-domain row
    // round-10 second batch: (min+max)/2 shipdate cutoff row (q135's
    // pattern applied to the join-view delta split)
    "q183_incremental_join_view",
    // round-10: single-row (min_day, max_day) bounds broadcast feeding
    // the generated spine
    "q192_calendar_spine",
    // round-10 third batch: q192's bounds-spine pattern (q208) and the
    // bounded source×lang spine + single-row corpus-total broadcast
    // (q210) — every broadcast side is a vocabulary, never data-scale
    "q208_gap_fill_interpolate",
    "q210_source_mix_tv",
    // q192's bounds-spine broadcast again (the CUSUM panel IS the spine)
    "q216_cusum_changepoints",
    // q142's single-row midpoint-cutoff broadcast, reused for the KS
    // timeline split (q218) and CUPED's pre/post split (q223)
    "q218_ks_statistic",
    "q223_cuped_readout",
    // round-11: single-row (lo, hi) revenue-bounds broadcast feeding
    // the bin rule (q143's totals-row pattern)
    "q229_gini_binned",
    // round-11: single-row (N, T) corpus-statistics broadcast feeding
    // the BM25 score projection (q111's corpus-total pattern)
    "q231_bm25_topk",
    // round-12: same shared BM25 score frame (bm25ScoresCore), same
    // single-row stats broadcast, consumed by the rank fusion
    "q245_rrf_fusion",
    // round-12: same bm25ScoresCore single-row stats broadcast,
    // consumed by the rank-biased-overlap depth spine
    "q271_rbo_rank_overlap",
    // round-12: single-row (pe_num) marginal-cross-terms broadcast
    // joined to the single totals row (q229's totals-row pattern)
    "q276_cohens_kappa",
    // round-12: the contingency grid is margins × margins × total —
    // every broadcast side is vocabulary-sized (|segs|, |prios|) or the
    // single totals row, never data-scale
    "q253_chi_square_independence",
    // round-12: single-row grand-total-tokens broadcast feeding the
    // quota projection (q143's totals-row pattern)
    "q255_token_apportionment",
    // round-12: single-row (N_t, N_r, V) cohort-totals broadcast
    // feeding the likelihood-ratio projection (q111's pattern)
    "q267_importance_scores",
    // round-12: HITS' final L2 normalization — single-row norm
    // broadcast over each checkpointed score frame (the per-round
    // copies live behind localCheckpoint and never reach this plan)
    "q281_hits_bipartite",
    // round-12: q192's bounds-spine pattern — generate_series day range
    // crossed with the broadcast type VOCABULARY (never data-scale)
    "q288_fano_burstiness",
    // round-13: single-row global-count broadcast feeding the
    // target-rank projection (q143's totals-row pattern)
    "q293_quantile_normalize",
    // round-13: single-row pooled-marginal Σm² broadcast joined to the
    // single totals row (q276's pattern)
    "q294_krippendorff_alpha",
    // round-13: single-row S and tie-term broadcasts joined to the
    // single day-count row (q276's pattern); the day-frame pair join
    // itself is an equi-bounded self-join on the ≤10³-row spine
    "q298_mann_kendall",
    // round-13: q298's single-row pair-count and day-count broadcasts
    // feeding the median-rank filter
    "q301_theil_sen",
    // round-14: q301's pattern — the single-row (n_days, n_pairs,
    // var_num18, ranks) stats broadcast feeding the endpoint filter
    "q303_sens_slope_ci",
    // round-14: q298's pattern — single-row stratified S and variance
    // broadcasts joined to the single day-count row
    "q306_seasonal_mann_kendall",
    // round-14: q255's pattern — the single-row token-total broadcast
    // crossed into the bounded language grain
    "q309_temperature_mixture",
    // round-15: q65's centroid discipline — the broadcast side is the
    // k×d micro-centroid literal frame (k = 8), never data-scale
    "q317_kmeans_lloyd",
    // round-15: q60's pattern — the broadcast side is the single
    // quantized query row
    "q318_int8_knn_recall",
    // round-15: both embed q317's final assignment pass — the same
    // k×d micro-centroid literal broadcast
    "q320_semdedup_kmeans",
    "q321_kmeans_prototypes",
    // round-15: the PQ pair embeds the same Lloyd assignment pass over
    // subvector keys (16×8 codebook literal broadcast)
    "q323_pq_codes",
    "q324_pq_adc_recall",
    // round-15: q317's assignment pass under a k-row profile agg
    "q325_kmeans_profile",
    // round-15: single-row τ-threshold broadcast into the k sampled
    // rows (q143's totals-row pattern)
    "q326_priority_estimates",
    // round-15: q317's assignment pass + the single-row query-vector
    // broadcast (q60's pattern)
    "q327_ann_ivf_exact",
    // round-16: q326's single-row τ-threshold broadcast into the k
    // sampled manifest rows
    "q332_manifest_sample",
    // round-16: q281's pattern — a single-row max broadcast per
    // half-round rescale, each behind a localCheckpoint
    "q335_hits_exact",
    // round-17: modularity's single-row 2m broadcast (q74/q75's
    // pattern, over the q329 exact-LPA partition)
    "q337_lpa_modularity",
    // round-17: q160's single-row global exact-distinct broadcast on
    // the md5-register twin
    "q339_hll_md5")

  /** Queries whose reference input is absent: left out of the sweep. */
  private val leftOut = RefData.absent(RefData.queryReads)

  /** Each query's plan, built once per run. A query that does not plan is
    * kept as its failure, so it fails only the test below and the guards
    * still run over every query that planned.
    */
  private lazy val attempts: Seq[(String, Try[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => leftOut.contains(q._1))
      .map { case (name, fn) =>
        name -> Try(fn(spark, sf).queryExecution.executedPlan.toString)
      }

  private lazy val plans: Seq[(String, String)] =
    attempts.collect { case (n, Success(p)) => n -> p }

  test("every registered query plans successfully (no runtime-only registration errors)") {
    if (leftOut.nonEmpty) info(RefDataSpec.leftOutNote(leftOut))
    val failed = attempts.collect { case (n, Failure(e)) => s"$n: ${e.getMessage}" }
    assert(failed.isEmpty, s"queries that did not plan:\n${failed.mkString("\n")}")
  }

  test("no CartesianProduct anywhere in the registered surface") {
    val bad = plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(bad.isEmpty, s"cartesian products in: $bad")
  }

  test("BroadcastNestedLoopJoin only where the broadcast side is O(1) rows") {
    val bad = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !bnljSanctioned(n) => n
    }
    assert(bad.isEmpty, s"unsanctioned nested-loop joins in: $bad")
  }

  test("parquet scans prune columns: projection-only queries read only what they emit") {
    // q45 emits (doc_id, fp, fp_prefix) from text — the scan must not
    // haul the other document columns (embedding-sized at 100 TB)
    val q45 = plans.toMap.apply("q45_fingerprints")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(q45).map(_.group(1)).toSeq
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      val cols = s.split(",").map(_.trim.takeWhile(_ != ':')).toSet
      assert(cols == Set("doc_id", "text"), s"q45 scan reads $cols")
    }
  }

  test("filter pushdown reaches the scan on filtered parquet queries") {
    // q05 filters orders on o_totalprice — the predicate must appear in
    // PushedFilters, not only as a post-scan Filter
    val q05 = plans.toMap.apply("q05_big_spenders_semi")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(q05).map(_.group(1)).filter(_.nonEmpty).toSeq
    assert(pushed.exists(_.contains("o_totalprice")),
      s"no o_totalprice pushdown; pushed=$pushed")
  }

  test("star join q19 broadcasts its dimension sides") {
    val q19 = plans.toMap.apply("q19_star_join_revenue")
    assert(q19.contains("BroadcastHashJoin"), "dimensions should broadcast")
    assert(!q19.contains("CartesianProduct"))
  }

  test("custom-kernel hot paths run inside WholeStageCodegen spans") {
    // the codegen'd expressions (WsTokenize / shingles / SimHash64 /
    // WinnowFingerprint) must not fall back to interpreted projection.
    // Two subtleties (round-4 regression): (a) under AQE the unexecuted
    // plan is `AdaptiveSparkPlan isFinalPlan=false` and carries NO
    // codegen wrappers yet, so the plan must be built with AQE off;
    // (b) executedPlan.toString renders codegen stages as `*(n)` node
    // prefixes, not the literal word "WholeStageCodegen".
    // A whole-plan `contains("*(")` is too weak: other stages codegen
    // even when the kernel's own Project falls back, so the guard pins
    // the specific plan LINE carrying the kernel call — it must have a
    // `*(n)` codegen-stage prefix. (Verified: making WinnowFingerprint a
    // CodegenFallback produces an unstarred `Project [winnowfingerprint…`
    // line that this catches.)
    val hot = Seq(
      "q40_word_freq_topk" -> "wstokenize",
      "q48_winnow_fingerprints" -> "winnowfingerprint",
      "q51_shingle_stats" -> "ngramshingles",
      "q55_simhash" -> "simhash64")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val lost =
      try hot.collect { case (n, kernel)
          if {
            val lines = SparkEntry.queries(n)(spark, sf)
              .queryExecution.executedPlan.toString
              .linesIterator.filter(_.contains(s"$kernel(")).toSeq
            lines.isEmpty || lines.exists(!_.contains("*("))
          } => s"$n [$kernel]"
      }
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(lost.isEmpty, s"kernels outside whole-stage codegen spans: $lost")
  }
}
