package graft.ops

import graft.SparkSpec
import graft.tools.PlanReport
import graft.tools.PlanReport.PlanMetrics

/** Plan-drift tripwire: the physical-plan scale metrics of the most
  * load-bearing queries, pinned to the committed PLANS.md values. A
  * future change that loses a broadcast (star join degrading to
  * shuffle), adds a shuffle, or stops pushing filters/pruning columns
  * now fails the suite instead of silently editing a markdown table.
  * Metrics come from [[PlanReport.metrics]] — the same extractor that
  * generates PLANS.md — so guard and report cannot disagree. Plans are
  * built, not run through the sink (shape is size-independent) — except
  * connected components (q101/q123 and their compositions), whose
  * CONSTRUCTION runs the edge-list job and, at sf0.001, labels the graph
  * on the driver, so their pinned metrics cover the plan over that local
  * result (the distributed loop's per-round shape is documented in the
  * connectedComponents Scaladoc, not measurable from a single plan
  * string). After an intentional plan change, regenerate PLANS.md and
  * update the row here with it. */
class PlanDriftSpec extends SparkSpec {

  // (query, shuffles, broadcasts, pushedFilters, prunedSchema) — the
  // ~15 most expensive / most shape-critical queries per BENCH_r06 +
  // PlanSpec's structural assertions
  private val pinned: Seq[(String, PlanMetrics)] = Seq(
    "q02_projection"          -> PlanMetrics(1, 0, pushedFilters = false, prunedSchema = true),
    "q03_filter_pushdown"     -> PlanMetrics(1, 0, pushedFilters = true,  prunedSchema = true),
    "q08_star_join_revenue"   -> PlanMetrics(2, 5, pushedFilters = true,  prunedSchema = true),
    "q18_topk_orders"         -> PlanMetrics(0, 0, pushedFilters = false, prunedSchema = false),
    // 5/4 since round 9: bigrams zip map-side (arrays_zip with the
    // array's own tail), dropping the per-document window-sort shuffle
    // the old posexplode+lead form recomputed for all three consumers
    "q49_bigram_fluency"      -> PlanMetrics(5, 4, pushedFilters = true,  prunedSchema = true),
    "q53_minhash_lsh_pairs"   -> PlanMetrics(9, 5, pushedFilters = true,  prunedSchema = true),
    "q58_exact_corr"          -> PlanMetrics(2, 0, pushedFilters = false, prunedSchema = true),
    "q65_ann_ivf_topk"        -> PlanMetrics(3, 2, pushedFilters = true,  prunedSchema = true),
    // sf1-soak cost centers (BASELINE round 9): the LSH pair scans and
    // the multimodal codec boundary — pinned so a lost broadcast or an
    // extra exchange on these can't hide inside their already-heavy cost
    // 2/1 since round 10: q66 is now SIZED (suggestedLshBits) +
    // 2-band OR-amplified — the extra exchange is the (id_a, id_b)
    // aggregate that drops multi-band re-sightings; the bucket join
    // itself still keys on (band, bucket), one shuffle + broadcast
    "q66_embedding_near_dups" -> PlanMetrics(2, 1, pushedFilters = true,  prunedSchema = true),
    // sized via conf since round 10; the injected single bucket key
    // keeps the 1/1 shape (same geometry and oracle as q143)
    "q67_cosine_rewrite"      -> PlanMetrics(1, 1, pushedFilters = true,  prunedSchema = true),
    "q70_multimodal_meta"     -> PlanMetrics(1, 0, pushedFilters = false, prunedSchema = true),
    // two-pass bucket selection: the histogram's aggregate and rank
    // window (each counted once per consumer in the plan text, reused at
    // runtime), pass 2's aggregate and in-bucket window, the final
    // aggregate and output sort; the picked buckets are the broadcast.
    // Both scans read every row, so no filter is pushed
    "q85_percentiles"         -> PlanMetrics(8, 1, pushedFilters = false, prunedSchema = true),
    "q86_approx_percentiles"  -> PlanMetrics(3, 1, pushedFilters = true,  prunedSchema = true),
    "q87_json_extract"        -> PlanMetrics(1, 0, pushedFilters = false, prunedSchema = true),
    "q96_asof_presplit"       -> PlanMetrics(6, 0, pushedFilters = false, prunedSchema = true),
    "q98_decontaminate"       -> PlanMetrics(3, 2, pushedFilters = true,  prunedSchema = true),
    // components labelled on the driver: only the output sort is left
    "q101_dedup_clusters"     -> PlanMetrics(1, 0, pushedFilters = true,  prunedSchema = true),
    "q123_embedding_clusters" -> PlanMetrics(1, 0, pushedFilters = true,  prunedSchema = true),
    // 4/3 since round 10 (was 16/7): the tf-idf weight table is
    // materialized ONCE (localCheckpoint leaf) instead of re-planning
    // the tokenize→tf→df chain for all three consumers (norms + both
    // self-join sides). pushed/pruned are asserted through the LEAF
    // build plan since r11 (LeafPlanRegistry) — same for q101/q123.
    "q126_tfidf_cosine_pairs" -> PlanMetrics(4, 3, pushedFilters = true,  prunedSchema = true),
    // the wide near-dup family + sampled-train IVF: leaf-audited
    // pushdown (fingerprint/cell builds scan documents/embeddings with
    // pruned schemas inside their leaves)
    "q154_simhash_wide_near_dups" -> PlanMetrics(2, 1, pushedFilters = true, prunedSchema = true),
    // sharded execution (r11): 6 pass-joins over the ONE fingerprint
    // leaf; at sf0.001 every shard side broadcasts (they'd be SMJ at
    // scale — AQE's call per pass), the 2 shuffles are the pair
    // distinct + output sort
    "q159_simhash_wide_sharded" -> PlanMetrics(2, 6, pushedFilters = true, prunedSchema = true),
    "q157_ann_ivf_sampled"    -> PlanMetrics(3, 2, pushedFilters = true,  prunedSchema = true),
    // the recall composition (r11): q139's 3-window re-rank machinery
    // over the normalized corpus + the brute ranking + the metric join
    "q163_ann_recall_pq_rerank" -> PlanMetrics(7, 4, pushedFilters = true, prunedSchema = true),
    "q127_tpch_q5"            -> PlanMetrics(2, 5, pushedFilters = true,  prunedSchema = true),
    // 3 = gh-rank window + per-doc merge window + output range sort
    "q128_duplicate_spans"    -> PlanMetrics(3, 0, pushedFilters = false, prunedSchema = true),
    "q130_importance_resample" -> PlanMetrics(3, 3, pushedFilters = true, prunedSchema = true),
    // PQ ADC: 1 broadcast (per-query distance tables), top-k window +
    // output sort — the corpus code scan itself is shuffle-free
    "q133_ann_pq_adc"         -> PlanMetrics(2, 1, pushedFilters = true,  prunedSchema = true),
    // IVF∘PQ adds the probe-ranking window over queries×centroids
    "q134_ann_ivfpq"          -> PlanMetrics(3, 2, pushedFilters = true,  prunedSchema = true),
    "q136_semdedup"           -> PlanMetrics(3, 1, pushedFilters = true,  prunedSchema = true),
    // classifier: train agg + score agg + output sort; weights broadcast
    "q137_domain_classifier"  -> PlanMetrics(3, 1, pushedFilters = true,  prunedSchema = true),
    // re-rank: ADC window + re-rank window + sort; shortlist/query/dtab bcast
    "q139_pq_rerank"          -> PlanMetrics(3, 3, pushedFilters = true,  prunedSchema = true),
    "q140_training_order"     -> PlanMetrics(2, 0, pushedFilters = false, prunedSchema = true),
    // gap fill: observation window + span agg + fill window on one key
    "q141_gap_fill_forward"   -> PlanMetrics(3, 1, pushedFilters = true,  prunedSchema = true),
    // 5/3 since round 9: inherits q66's dropped pair-set distinct (the
    // dup mask consumes cosineNearDupPairs twice)
    "q142_hard_negatives"     -> PlanMetrics(5, 3, pushedFilters = true,  prunedSchema = true),
    // corpus-sized bits (suggestedLshBits from count): same 1/1 shape
    // as q66 — the sizing changes the bucket key's geometry, not the plan
    "q143_lsh_sized_near_dups" -> PlanMetrics(1, 1, pushedFilters = true, prunedSchema = true),
    // multi-table LSH (r12): the broadcast is the multiprobe-expanded
    // query side of the (tbl, bucket) join; the 3 shuffles are the
    // cross-table pair dedup, the top-k window, and the output sort —
    // the corpus contributes ONE exploded scan and no shuffle
    "q164_ann_lsh_multitable" -> PlanMetrics(3, 1, pushedFilters = true, prunedSchema = true),
    // sharded pairs → closure (r12): the pass-joins' exchanges live in
    // the edge-list checkpoint job (q159's shape); at sf0.001 the graph
    // is labelled on the driver, so the final plan is the output sort
    // over that local result
    "q167_dedup_clusters_wide_sharded" -> PlanMetrics(1, 0, pushedFilters = true, prunedSchema = true),
    // incremental clusters (r12): q167's output shape — the pass-joins
    // and the standing-table build execute inside checkpoint leaves
    "q170_incremental_components" -> PlanMetrics(1, 0, pushedFilters = true, prunedSchema = true),
    // the ladder queries (r13 collapse, r14 hygiene): ONE candidate
    // pass feeds each exact pair's first-qualifying step, the whole
    // ladder is one grouped aggregation (recallLadderAgg), and since
    // r14 the curve functions MATERIALIZE the ladder (≤ 16 rows) and
    // release their exact-set checkpoint — so the query-visible plan is
    // the LocalRelation-backed chosen-flag join. The calibration work
    // still runs (Bench times it — construction is inside the timed
    // region); a regression back to per-step plans would show in the
    // bench, not here. Pinned at the post-materialization shape.
    "q169_ann_lsh_tables_sized" -> PlanMetrics(1, 1, pushedFilters = true, prunedSchema = true),
    "q171_ann_shortlist_sized" -> PlanMetrics(1, 1, pushedFilters = true, prunedSchema = true),
    // BPE apply (r12): explode→explode→hash agg; ONE exchange (the
    // piece count), TakeOrderedAndProject caps the output — per-row
    // codegen'd encode, no join anywhere
    "q172_bpe_apply" -> PlanMetrics(1, 0, pushedFilters = true, prunedSchema = true),
    // residual IVF∘PQ (r12): q134's shape plus two broadcasts — the
    // centroid table rides into BOTH the residual-code projection and
    // the per-probe residual query/dtab build, and the probe set and
    // dtab table broadcast like q134's; 3 shuffles = probe ranking
    // window + ADC top-k window + output sort
    "q173_ann_ivfpq_residual" -> PlanMetrics(3, 4, pushedFilters = true, prunedSchema = true)
  )

  test("plan metrics of the load-bearing queries match the committed PLANS.md rows") {
    val drifted = pinned.flatMap { case (name, want) =>
      graft.plans.LeafPlanRegistry.drain() // discard a prior query's leaves
      val plan = graft.SparkEntry.queries(name)(spark, sf()).queryExecution
        .executedPlan.toString
      val got = PlanReport.metrics(plan, graft.plans.LeafPlanRegistry.drain())
      if (got != want) Some(s"$name: expected $want, got $got") else None
    }
    assert(drifted.isEmpty,
      "plan drift — if intentional, regenerate PLANS.md and update " +
        s"PlanDriftSpec:\n${drifted.mkString("\n")}")
  }
}
