package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Shuffle-count regression guard: every Exchange in a plan is a full
  * re-partition of its input — at 100 TB the dominant cost — so each
  * headline query carries an explicit BUDGET of shuffle exchanges (the
  * number its design needs, not merely "few"). A refactor that slips an
  * extra repartition/groupBy into one of these plans fails here with
  * the offending plan printed, the same way the no-cartesian gate
  * catches a lost blocking key. Broadcast exchanges are NOT counted:
  * they move the small side only, which is the point of broadcasting.
  *
  * Budgets are exact counts observed from the intended plan shape at
  * the time the query was tuned (AQE coalesces partitions inside a
  * shuffle but does not add or remove exchanges for these fixed-shape
  * plans; the assert is `<=` so plan IMPROVEMENTS don't fail the gate).
  */
class ExchangeBudgetSpec extends SparkTestBase {

  private def shuffleCount(name: String): (Int, String) = {
    val plan = SparkEntry.queries(name)(spark, sf())
      .queryExecution.executedPlan.toString
    // shuffle exchanges print as "Exchange hashpartitioning(...)" /
    // "Exchange rangepartitioning(...)" / "Exchange SinglePartition";
    // BroadcastExchange deliberately not matched.
    ("(?m)(?<!Broadcast)Exchange (hash|range|Single)".r
      .findAllIn(plan).size, plan)
  }

  // (query, budget, why that number)
  private val budgets: Seq[(String, Int, String)] = Seq(
    ("q1_pricing_summary", 2,
      "one hash partial->final agg + the output range sort"),
    ("q_join_broadcast", 2,
      "broadcast lookup joins shuffle nothing; one agg + the output sort"),
    ("q_dedup_exact", 2,
      "one digest hash agg + the output sort"),
    ("q_topk_per_group", 2,
      "one grouped window (WindowGroupLimit) + the output sort"),
    ("q_chunk_dedup", 4,
      "digest agg + digest join-back + doc agg + output sort"),
    ("q_window_running_sum", 2,
      "one user-keyed window partition + the output sort"),
    ("q_basket_rules", 5,
      "items distinct + ok-keyed pair self-join + pair agg + supp agg; " +
        "the top-100 cut precedes the support joins, so those are " +
        "100-row broadcasts, not pair-frame re-shuffles"),
    ("q_equidepth_hist", 7,
      "round-10 plan: the orders-scan dollar-domain agg now runs ONCE " +
        "inside the localCheckpoint (its exchange left the gated plan " +
        "along with the two duplicate re-derivations); the remaining " +
        "seven (rangeCumsum's bucket window/totals/offsets over the " +
        "checkpointed frame, the total, bucket agg, output sort) all " +
        "move the tiny domain frame"),
    // the 100×-heaviest class (SCALE.md): each budget is the count the
    // single-enumeration / bucketed-layout design needs
    ("q_ktruss", 7,
      "single triangle enumeration: degree agg + two deg-keyed orient " +
        "joins + one |E|-sized support-aggregate exchange + the small " +
        "dead-triangle distinct/decrement aggs + histogram sort; the " +
        "dead-edge probes and the recount joins are all broadcast " +
        "against the checkpointed oriented frame, so no triangle-sized " +
        "frame is ever shuffled (the 100x storage/GC killer)"),
    ("q_pagerank_bucketed", 3,
      "one src exchange per iteration moving the O(nodes) ranks frame " +
        "only; the edge side reads straight from its buckets and the " +
        "dst contribution aggregates reuse those exchanges"),
    ("q_item_cosine", 6,
      "post-MinKBy plan (round 9): per-customer min_k_by agg (partial-" +
        "combined, replaces the cap window + inverted self-join) + " +
        "co-occurrence pair agg + two supplier-size aggs + their two " +
        "join-back exchanges; the distinct purchase-pair agg runs " +
        "inside the localCheckpoint and the top-30 lands via " +
        "TakeOrdered, not a global sort"),
    ("q_link_predict", 2,
      "post-MinKBy plan (round 9): ONE per-center aggregate computes " +
        "the capped neighbor array AND the true degree (the old cap " +
        "window, capped self-join and deg join are gone) + the wedge-" +
        "pair count agg; the existing-edge anti-join broadcasts the " +
        "pairs side at gate scale and the top-100 lands via " +
        "TakeOrdered"),
    ("q_ivf_ann", 4,
      "round-10 plan: the scoring pass (probe nprobe-cell window) runs " +
        "ONCE inside the localCheckpoint'd assignment table, so its " +
        "exchanges left the gated plan; what remains is the per-cell " +
        "member-cap window + the cid-keyed probe-x-index join exchange " +
        "+ the per-probe top-5 window + output range sort — every " +
        "exchange moves (id, cid, cos) rows only; both embedding joins " +
        "ride the size-gated broadcast so the candidate frame never " +
        "re-shuffles"),
    ("q_kcore", 2,
      "checkpoint-terminal peel (round 8): the gated plan is the final " +
        "degree aggregate + output sort over the round-2 checkpoint; " +
        "per-round work is dead-set broadcast anti-joins, zero " +
        "edge-side exchange"),
    ("q_sssp", 1,
      "per-round relax/min exchanges materialize inside the round " +
        "checkpoints (O(nodes) frames); the gated plan is the final " +
        "top-25 TakeOrdered over the checkpointed distances"),
    ("q_triangle_count", 4,
      "shared support_b does the enumeration at CTAS time; the query " +
        "is three crossJoined 1-row aggregates — node-degree agg over " +
        "the pairs union + its global count, the support sum, and the " +
        "edge count — each a partial->final pair over tiny frames"),
    ("q_clustering_coeff", 4,
      "degree agg + per-node support-sum agg (both n-keyed, join " +
        "reuses their partitioning) + decile histogram agg + output " +
        "sort; the closing join lives in the shared support_b CTAS, " +
        "not in this plan"),
    ("q_dedup_survivor", 2,
      "labels read straight from the bucketed cc_b table (the CC loop " +
        "ran at CTAS time); one cluster-keyed window for the best-copy " +
        "pick + the output sort — the margin join rides the bucketed " +
        "doc_id side"),
    ("q_minhash_lsh_pairs", 5,
      "doc-keyed signature agg (map-side combined over the fused " +
        "shingle stream) + banded bucket agg + candidate-pair distinct " +
        "+ shingle join-back + output sort; candidates travel as id " +
        "pairs, texts never shuffle"),
    ("q_cosine_pairs", 4,
      "LSH probe/index meet on their (bucket) exchanges + ONE " +
        "undirected candidate distinct + the output sort; the " +
        "embedding sides ride the size-gated broadcast, so the " +
        "~n·TABLES·CAP candidate frame is never shuffled to meet them"),
    ("q_interpolate", 3,
      "segment form: ONE events bucket agg + the (user) lead window + " +
        "the output range sort; observation and gap rows explode from " +
        "one struct array per segment (a union shape planned a second " +
        "full events scan), and the dense grid exists only as " +
        "generated rows, never as a joined frame"),
    ("q_prefix_filter_join", 20,
      "the AllPairs pipeline end to end: digest collapse + shingle df " +
        "agg + frequency-order prefix window + posting self-join + " +
        "candidate distinct + two full-set join-backs + output sort — " +
        "each moves ids/digests, never document text"),
    // round-11 additions
    ("q_ewma", 2,
      "ONE user-keyed exchange shared by the 16-row frame list, the " +
        "per-user count and the latest-row rank, + the output range " +
        "sort; no self-join — the position weights come from a literal " +
        "array"),
    ("q_bpe_encode", 4,
      "(doc, word) multiset agg + per-doc token-sum agg + the doc-spine " +
        "left-join exchange + output sort; merge training lives behind " +
        "the 1-row top checkpoints and the vocab-side token-count join " +
        "rides the broadcast"),
    // AbLmScore: the join-shape A/B main added in e5d4914, since deleted;
    // the wording stays because it is part of the test's name
    ("q_doc_lm_score", 8,
      "c12 + c1 reductions over the checkpointed (doc, bigram) table, " +
        "the w1-keyed c12⋈c1 estimator join + its (w1,w2) re-shuffle " +
        "(both COUNT-TABLE grain — the point of the AbLmScore shape), " +
        "the doc-grain side's one bigram-keyed exchange, the per-doc " +
        "score agg, the doc-spine join exchange, + output sort — no " +
        "exchange ever moves document text"),
    // round-13 additions
    ("q_host_dedup", 3,
      "PARTIAL WindowGroupLimit top-3 per map partition, then ONE " +
        "domain-keyed exchange for the final cap + the domain-count " +
        "agg exchange (whose #domains-row output broadcasts back onto " +
        "the survivors) + the output range sort — a mega-host is " +
        "pre-capped before it can pile into one partition"),
    ("q_frame_phash_near", 4,
      "two (band, value)-keyed exchanges into the candidate equi-join " +
        "+ the pair distinct + the output sort; hamming verifies " +
        "inside the join condition, so only (uid, slice, hash) tuples " +
        "ever shuffle — never pixels"))

  for ((name, budget, why) <- budgets)
    test(s"$name stays within its shuffle budget of $budget ($why)") {
      val (n, plan) = shuffleCount(name)
      assert(n <= budget,
        s"$name plans $n shuffle exchanges, budget $budget:\n$plan")
    }
}
