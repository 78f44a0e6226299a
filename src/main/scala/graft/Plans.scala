package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for the flagship queries to
  * PLANS.md — the committed record of the plan-audit discipline (every
  * operator's plan is reviewed for pushdown, broadcast choice, codegen
  * spans and shuffle counts before it ships; the assertions live in
  * QueryLibrarySpec, this file is the human-readable snapshot).
  *
  * Usage: `sbt "runMain graft.Plans /root/testdata/sf0.01"`.
  */
object Plans {
  private val Flagships = Seq(
    "q1_pricing_summary" ->
      "scan→filter→hash-agg→sort; filters pushed to parquet, partial aggregation map-side",
    "q_join_broadcast" ->
      "dim joins stay BroadcastHashJoin — zero fact-side shuffle",
    "q_window_range_agg" ->
      "bounded-domain re-shape: tiny pre-aggregate window + broadcast join back (the 100 TB RANGE-frame path)",
    "q_minhash_lsh_pairs" ->
      "banded LSH: ids-only shuffle, capped buckets, no cartesian anywhere",
    "q_pq_ann" ->
      "native PqEncode/PqAdc kernels inside whole-stage codegen; bounded probe broadcast × linear code scan",
    "q_pagerank" ->
      "shared edge table read metadata-blind (no bucket info): per-iteration edge-side Exchange — the teaching contrast against q_pagerank_bucketed's zero-Exchange reads",
    "q_curation_pipeline" ->
      "gate→dedup→split→pack as ONE lazy plan: single source scan, broadcast joins, no intermediate materialization",
    "q_bloom_prune" ->
      "explicit runtime filter: scalar-subquery bloom sketch prunes the fact scan BEFORE its shuffle; exact semi-join mops up false positives",
    "q_triangle_count" ->
      "three 1-row aggregates over the SHARED bucketed tables (pairs_b + support_b): the degree-oriented closing join runs once per sf dir in the support CTAS; the gated plan is linear reads (Σsup/3 = triangles)",
    "q_sorted_neighborhood" ->
      "ONE Window operator computes all W neighbor leads after a single block-partitioned sort — candidate generation with no join",
    "q_bm25" ->
      "explode pre-filtered to query terms (work ∝ hits, not tokens); df and corpus stats broadcast; pivot avoids order-dependent double sums",
    "q_substr_dedup" ->
      "positional 8-gram hashes map-side; ONE gram-keyed shuffle for distinct-doc counts + join back on the same key — never pairwise in docs",
    "q_salted_join" ->
      "fact scattered over 8 salt buckets, dim replicated 8× — the explicit hot-key scatter; oracle twin proves value-invisibility",
    "q_khop_frontier" ->
      "3 bounded frontier⋈edges rounds, ids-only frontiers, checkpoint-truncated lineage (the DedupClusters iterative shape)",
    "q_prefix_filter_join" ->
      "AllPairs prefix filter: df-ranked postings (rarest first) halve the index; candidates ids-only; full arrays join back only for surviving pairs",
    "q_snapshot_diff" ->
      "ONE full-outer key join classifies the delta; unchanged rows never leave the join; both sides bucket-ready on the key",
    "q_semdedup" ->
      "broadcast centroid assignment (deliberate 16-row BNL) → cid-keyed capped pairing → ids-only candidates, embeddings join back for verify",
    "q_pagerank_bucketed" ->
      "edge list persisted bucketBy(src): per-iteration ranks⋈edges joins read the 100 TB side straight from buckets — zero edge-side Exchange (vs q_pagerank's one per iteration)",
    "q_basket_rules" ->
      "order-keyed pair self-join (baskets ≤7) → top-100 cut BEFORE the support joins, so confidence/lift join a 100-row broadcast, never re-shuffling the pair frame",
    "q_chunk_dedup" ->
      "sub-document dedup: 32-token windows → sha256 digest agg + join-back; the shuffle carries 32-byte digests, never chunk text",
    "q_link_predict" ->
      "WedgeCap-bounded wedge enumeration keyed on the center node; candidates aggregate BEFORE the edge anti-join; exact integer RA scores")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build()
    GraftSession.prepareFixtures(spark, sfDir)
    val sb = new StringBuilder
    sb.append("# PLANS — flagship physical plans (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$sfDir`. Regenerate: `sbt \"runMain graft.Plans $sfDir\"`.\n")
    sb.append("Things to read for in each plan: `PushedFilters`/`ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` vs shuffle joins, `*(n)` whole-stage-codegen spans,\n")
    sb.append("`Exchange` count (every one is a shuffle), `WindowGroupLimit` pushdown.\n\n")
    Flagships.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"## $name\n\n$note\n\n```\n$plan```\n\n")
    }
    Files.writeString(Paths.get("PLANS.md").toAbsolutePath, sb.toString)
    println(s"wrote PLANS.md (${Flagships.size} plans)")
    spark.stop()
  }
}
