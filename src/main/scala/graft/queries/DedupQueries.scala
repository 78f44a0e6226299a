package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryUtil._
import TextQueries.{phash, sqlPhash}

/** Deduplication operators for LLM-data pipelines — SURVEY.md §2.2 "LLM
  * ops" ([E]): exact (content-hash), MinHash-LSH near-dup, SimHash,
  * n-gram Jaccard.
  *
  * All hash functions route through the portable md5-prefix hash
  * (`TextQueries.phash`) so every stage — shingling, signatures, banding,
  * candidate pairs, verification — is hash-verified against the DuckDB
  * oracle, not just spot-checked.
  *
  * Scale notes (100 TB):
  *   - Exact dedup is a hash aggregate on a 256-bit digest — the shuffle
  *     carries (hash, min_id), never the text.
  *   - MinHash-LSH: signatures are map-side; the only shuffle is
  *     groupBy(band, bandKey), whose buckets are small by construction
  *     (that is the point of banding). The quadratic step runs only
  *     within buckets. Skewed buckets (boilerplate docs) would be salted
  *     or capped in production; the exact-Jaccard verify joins shingle
  *     sets back by doc_id — broadcast at test scale, shuffle-join at 100 TB.
  *   - SimHash is pure map-side; candidate search would bucket on
  *     fingerprint chunks (same banding idea) rather than all-pairs.
  */
object DedupQueries {

  private val NUM_HASHES = 8
  private val BANDS = 4 // rows-per-band = 2

  /** Distinct word-3-gram shingles of `text`. Guarded: Spark `sequence`
    * generates DESCENDING ranges when start > stop, so short docs need an
    * explicit empty (DuckDB's `range` is empty there — must agree). */
  private def shingles(c: Column): Column = {
    val toks = split(c, " ")
    when(size(toks) >= 3,
      array_distinct(
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", slice(toks, i + 1, lit(3))))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  private val sqlShingles =
    "list_distinct(list_transform(range(len(string_split(text,' ')) - 2), " +
      "i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))"

  /** 60-bit hashes of the shingle set — computed ONCE per doc; the 8
    * MinHash functions derive from it by universal hashing
    * (a_j·h+b_j mod P) instead of 8 separate md5 passes (the md5 was
    * ~8× of the signature cost at sf0.1). Collisions merge shingles
    * identically in both engines, so parity is unaffected. */
  /** Native fused form ([[graft.functions.HashedShingles]]) — value-
    * identical to `array_distinct(transform(shingles(c), phash(_, 0)))`
    * (CustomFunctionsSpec locks the equivalence in as a property test);
    * the composed chain ran five non-codegen higher-order functions per
    * document and dominated every shingle-fed query's profile. */
  private def hashedShingles(c: Column): Column =
    graft.functions.GraftFunctions.hashed_shingles(c)

  /** The composed reference form the native expression must equal —
    * kept for the CustomFunctionsSpec property test. */
  private[graft] def hashedShinglesComposed(c: Column): Column =
    array_distinct(transform(shingles(c), x => phash(x, 0)))

  private val sqlHashedShingles =
    s"list_distinct(list_transform($sqlShingles, x -> ${sqlPhash("x", 0)}))"

  /** Universal-hash constants — single source is the native expression
    * ([[graft.functions.MinHashSlots]]); the SQL twins and the
    * explode-form aggregate in q_minhash_signature interpolate the same
    * values. */
  private val P = graft.functions.MinHashSlots.P
  private def hashA(j: Int): Long = graft.functions.MinHashSlots.hashA(j)
  private def hashB(j: Int): Long = graft.functions.MinHashSlots.hashB(j)

  /** Full signature array in one fused codegen pass — value-identical
    * to `array((0 until n).map(j => array_min(transform(sh, h =>
    * (hashA(j) * (h % P) + hashB(j)) % P))))` (MinHashSlotsSpec pins
    * the equivalence as a property test; the composed form ran
    * 2·NUM_HASHES interpreted traversals per document). */
  private def minhashSlots(shh: Column): Column =
    graft.functions.GraftFunctions.min_hash_slots(shh, NUM_HASHES)

  /** The corpus through the fixture-level multi-file layout
    * ([[graft.Tables.documentsSpread]]) — a plain parquet scan that
    * parallelizes locally; no repartition operator in any gated plan. */
  private def docsSpread(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.documentsSpread(s, d)

  /** Exact-duplicate collapse to min-id class representatives, keyed on
    * sha2(text) so the collapse's pre-aggregate SHUFFLES 32-BYTE DIGESTS
    * instead of full documents (the q_containment 100 TB note, now
    * applied at every scale); the representative row (with its text)
    * re-attaches through a narrow doc_id equi-join. Output: the input
    * columns + n_members, one row per distinct text (per source when
    * `bySource`). */
  private def dupCollapsedReps(docs: DataFrame, bySource: Boolean): DataFrame = {
    val keys = (if (bySource) Seq(col("source")) else Nil) :+
      sha2(col("text"), 256).as("dg")
    val classes = docs.groupBy(keys: _*)
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_members"))
      .select(col("doc_id"), col("n_members"))
    docs.join(classes, Seq("doc_id"))
  }

  /** (doc_id, source, sh) — the per-doc shingle-hash map stage. */
  private[queries] def docShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), hashedShingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)

  private def docShingles(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    docShinglesOf(docsSpread(s, d))

  /** doc_id, band, band_key — the LSH bucketing stage (ids only; shingle
    * payloads are joined back AFTER candidate dedup so the shuffle never
    * carries arrays). */
  private[queries] def bandedSignaturesOf(docs: DataFrame): DataFrame = {
    docShinglesOf(docs)
      .withColumn("sig", minhashSlots(col("sh")))
      .select(col("doc_id"),
        explode(array((0 until BANDS).map(b => struct(
          lit(b).as("band"),
          concat_ws("_", element_at(col("sig"), 2 * b + 1),
            element_at(col("sig"), 2 * b + 2)).as("band_key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
  }

  private def bandedSignatures(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    bandedSignaturesOf(docsSpread(s, d))

  /** Bucket-size cap for LSH candidate generation (SCALE.md "skewed
    * buckets"): buckets at or under the cap do all-pairs; oversized
    * buckets (boilerplate/identical docs) STAR-link every member to the
    * bucket's min-id representative instead — O(n) pairs, and
    * connectivity within the bucket is preserved for the transitive
    * clustering. Mirrored exactly in the DuckDB twins so parity holds
    * whether or not the cap triggers (it does not on the driver data;
    * DedupSkewSpec exercises a degenerate band). Approximation note: a
    * star pair failing the Jaccard verify can split what all-pairs would
    * have joined — acceptable for near-dup buckets this size. */
  private[queries] val BUCKET_CAP = 64

  /** Per-id_a cap on the audited pair sample in q_minhash_jaccard_est —
    * bounds the audit frame to O(docs·AuditCap) on dup-saturated corpora
    * where the verified pair list itself is quadratic in cluster depth.
    * Hash-ordered (multiplicative, identical BIGINT arithmetic in the
    * twin) so the sample is spread, not the smallest ids. */
  private[queries] val AuditCap = 8

  /** Candidate pairs (id_a < id_b) from banded signatures with the
    * oversized-bucket star fallback. */
  private[queries] def cappedBucketPairs(banded: DataFrame): DataFrame = {
    // ONE partial-combinable aggregate per bucket (round 9, MinKBy)
    // replaces the two bucket windows + the in-bucket self-join: it
    // yields the bucket size, the representative (min doc_id) and —
    // via min_k_by at CAP+1, enough members to cover every small
    // bucket — the full membership of small buckets, from which
    // PairCombinations emits the id_a < id_b pairs inline. The skew
    // argument is the whole point for LSH: a HUB bucket (a massive
    // near-dup cluster sharing one band key) used to shuffle its
    // entire membership through the window exchange to one task;
    // the aggregate forwards at most CAP+1 rows per bucket per map
    // partition. Only the star path (large buckets need ALL members)
    // still touches the banded frame, through a join whose bucket-key
    // side AQE broadcasts when (as in every sane configuration) large
    // buckets are rare. Kept pair set identical (MinKPairsSpec pins
    // the kernel; doc_id is unique within a bucket), twins unchanged.
    //
    // Measured (same-JVM alternating A/B added in b1fbfe9, 32 threads):
    // on the flat 100x corpus (no bucket near the cap) the forms are
    // equivalent (window 1.4-2.0 s vs minkby 1.7-2.9 s of a ~6 s
    // query — the aggregate's interpreted update path costs slightly
    // more than the codegen'd windows when no skew exists); at a
    // 2M-member hub bucket they tie; at a 40M-member hub the window
    // form's single-task straggler dominates and MinKBy wins 57 vs
    // 86 s (-34%), a gap that grows with hub size — which is the
    // regime a 100 TB dup-saturated corpus actually presents.
    val agg = banded.groupBy(col("band"), col("band_key"))
      .agg(graft.functions.GraftFunctions.min_k_by(
          col("doc_id"), col("doc_id"), BUCKET_CAP + 1).as("ids"),
        count(lit(1)).as("bsz"),
        min(col("doc_id")).as("rep"))
    val smallPairs = agg.filter(col("bsz") <= BUCKET_CAP)
      .select(explode(graft.functions.GraftFunctions
        .pair_combinations(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
    val starPairs = banded
      .join(agg.filter(col("bsz") > BUCKET_CAP)
        .select(col("band"), col("band_key"), col("rep")),
        Seq("band", "band_key"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
    smallPairs.union(starPairs).distinct()
  }

  /** Verified near-dup pairs (id_a < id_b, jaccard >= 0.2) — shared by
    * the pairs query and the transitive clustering. */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    verifiedPairsOf(docsSpread(s, d))

  /** Shared connected-component labels (doc_id, cluster_rep) over the
    * verified MinHash pair graph, persisted bucketed on doc_id — the
    * round-8 amortization of the triangle family's support_b treatment
    * applied to the dedup family: q_dedup_clusters, q_cluster_stats and
    * q_dedup_survivor each need exactly this frame, and each was
    * re-running candidate generation + Jaccard verification + the full
    * iterative CC (~44 s of the 100× budget spent three times over).
    * The CC loop runs once, inside the CTAS; the consumers are O(docs)
    * rollups/joins over the labels. */
  private def ccLabels(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    QueryUtil.sharedTable(s, d, "cc_b", "doc_id", Seq("doc_id")) {
      val docs = docsSpread(s, d)
      val edges = verifiedPairsOf(docs)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val nodes = docs.select(col("doc_id").as("id"))
      graft.operators.DedupClusters.connectedComponents(nodes, edges)
        .select(col("id").as("doc_id"), col("cluster_rep"))
    }

  private[queries] def verifiedPairsOf(docs: DataFrame): DataFrame = {
    val pairs = cappedBucketPairs(bandedSignaturesOf(docs))
    val sh = docShinglesOf(docs).select(col("doc_id"), col("sh"))
    val joined = pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    // fused membership count — value-identical to
    // size(array_intersect(...)) on non-null arrays (SetIntersectSizeSpec)
    val inter = graft.functions.GraftFunctions.set_intersect_size(
      col("sh_a"), col("sh_b"))
    val uni = size(col("sh_a")) + size(col("sh_b")) - inter
    joined.select(col("id_a"), col("id_b"),
        (inter.cast(DoubleType) / uni.cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  val defs: Map[String, Q] = Map(
    // Multi-field entity-resolution scoring (Fellegi–Sunter shape with
    // fixed integer agreement weights): candidates come from the same
    // (nationkey, name-prefix) blocking as q_fuzzy_match — never
    // all-pairs — then each candidate pair is scored field-by-field:
    // bounded-band levenshtein on the name (+40), matching market
    // segment (+20), account balance within $100 (+15). Pairs scoring
    // ≥ 55 are links (name agreement is necessary but not sufficient).
    // All-integer contract; the per-block serve-side cap bounds the
    // worst block. Work ∝ Σ block² (capped), not n².
    "q_er_multifield" -> ((s, d) => {
      val cap = graft.queries.JoinQueries.ER_BLOCK_CAP
      val ents = Tables.customer(s, d)
        .groupBy(col("c_name"), col("c_nationkey"))
        .agg(min(col("c_custkey")).as("id"),
          min(round(col("c_acctbal") * 100).cast(LongType)).as("bal_cents"),
          min(col("c_mktsegment")).as("seg"))
      val block = struct(col("c_nationkey").as("bk_nat"),
        substring(col("c_name"), 1, 15).as("bk_prefix"))
      val a = ents.select(col("id").as("id_a"), col("c_name").as("name_a"),
        col("bal_cents").as("bal_a"), col("seg").as("seg_a"), block.as("blk"))
      val wBlk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("blk")).orderBy(col("id_b"))
      val b = ents.select(col("id").as("id_b"), col("c_name").as("name_b"),
        col("bal_cents").as("bal_b"), col("seg").as("seg_b"), block.as("blk"))
        .withColumn("brn", row_number().over(wBlk))
        .filter(col("brn") <= cap)
        .drop("brn")
      a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b"), 2))
        .filter(col("lev") >= 0)
        .withColumn("w_name", lit(40L))
        .withColumn("w_seg",
          when(col("seg_a") === col("seg_b"), 20L).otherwise(0L))
        .withColumn("w_bal",
          when(abs(col("bal_a") - col("bal_b")) <= 10000L, 15L)
            .otherwise(0L))
        .withColumn("score", col("w_name") + col("w_seg") + col("w_bal"))
        .filter(col("score") >= 55)
        .select(col("id_a"), col("id_b"), col("lev"), col("w_seg"),
          col("w_bal"), col("score"))
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Exact dedup on a content digest (sha256; min-id survivor policy).
    "q_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("survivor_id"))
    }),

    // Sketch-accuracy audit: for a bounded sample of LSH CANDIDATE
    // pairs, the 8-hash MinHash signature AGREEMENT (the streaming
    // estimate of Jaccard) rides next to the exact shingle Jaccard —
    // est = m/8 is an exact binary double, so sketch quality is a
    // HASH-GATED fact per pair, not a test-only claim (the
    // q_approx_count_distinct philosophy applied to MinHash). The cap
    // ([[AuditCap]] per id_a, multiplicative-hash order so the sample
    // is pseudo-random but twin-replayable) lands on the CANDIDATE
    // list, BEFORE the exact-Jaccard verify: an earlier shape capped
    // verified pairs, which still paid the full clusters·depth²
    // verification on dup-saturated corpora (26× at 100×, SCALE.md) —
    // here the shingle-intersect join touches only O(docs·AuditCap)
    // pairs, and the ≥0.2 verify filter runs on the sampled pairs.
    // Scale: signatures are the same O(doc) map-side pass the LSH
    // index already pays.
    "q_minhash_jaccard_est" -> ((s, d) => {
      val docs = docsSpread(s, d)
      // Shingle + minhash ONCE: the banding branch and both join-backs
      // read the checkpointed frame instead of re-tokenizing the whole
      // corpus per branch (3 full map passes → 1 at the 100× point).
      val sig = docShinglesOf(docs).select(col("doc_id"), col("sh"),
        minhashSlots(col("sh")).as("sig"))
        .localCheckpoint()
      val banded = sig
        .select(col("doc_id"),
          explode(array((0 until BANDS).map(b => struct(
            lit(b).as("band"),
            concat_ws("_", element_at(col("sig"), 2 * b + 1),
              element_at(col("sig"), 2 * b + 2)).as("band_key"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
      val capped = cappedBucketPairs(banded)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id_a"))
            .orderBy(expr("(id_a * 40503 + id_b * 2654435761) % 65536"),
              col("id_b"))))
        .filter(col("rn") <= AuditCap).drop("rn")
      val joined = capped
        .join(sig.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
          col("sig").as("sig_a")), Seq("id_a"))
        .join(sig.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
          col("sig").as("sig_b")), Seq("id_b"))
      // fused membership count — value-identical to
    // size(array_intersect(...)) on non-null arrays (SetIntersectSizeSpec)
    val inter = graft.functions.GraftFunctions.set_intersect_size(
      col("sh_a"), col("sh_b"))
      val uni = size(col("sh_a")) + size(col("sh_b")) - inter
      joined
        .withColumn("jaccard",
          inter.cast(DoubleType) / uni.cast(DoubleType))
        .filter(col("jaccard") >= 0.2)
        .withColumn("n_sig_match",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
            x => x)))
        .select(col("id_a"), col("id_b"), col("n_sig_match"),
          (col("n_sig_match").cast(DoubleType) / NUM_HASHES).as("jaccard_est"),
          col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Paragraph/chunk-level dedup (the RefinedWeb/Dolma sub-document
    // signal): docs cut into NON-overlapping 32-token windows, each
    // chunk keyed by its sha256 — the occurrence count and per-doc
    // duplicated-chunk ratio (exact micro-units, integer DIV) fall out
    // of one digest aggregate joined back to the chunk frame. The
    // shuffle carries 32-byte digests, never chunk text (the
    // q_dedup_exact contract at sub-document grain); work is O(tokens)
    // map-side plus two digest-keyed exchanges.
    "q_chunk_dedup" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val chunks = docsSpread(s, d)
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n_tok"))
        .select(col("doc_id"), col("toks"), col("n_tok"),
          explode(sequence(lit(0), greatest(col("n_tok") - 1, lit(0)),
            lit(32))).as("st"))
        .filter(col("st") < col("n_tok"))
        .select(col("doc_id"),
          sha2(array_join(slice(col("toks"), col("st") + 1, lit(32)), " "),
            256).as("dg"))
      val occ = chunks.groupBy(col("dg")).agg(count(lit(1)).as("n_occ"))
      chunks.join(occ, Seq("dg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("n_occ") > 1, lit(1))).as("n_dup_chunks"))
        .filter(col("n_dup_chunks") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          expr("n_dup_chunks * 1000000 DIV n_chunks").as("dup_ratio_micro"))
        .orderBy(col("doc_id"))
    }),

    // MinHash signatures (the map-side stage of LSH, fully oracle-checked).
    "q_minhash_signature" -> ((s, d) => {
      // Explode-then-aggregate, not transform-then-array_min: the 8
      // per-hash minima come from plain min aggregates over the
      // exploded shingle stream — zero per-row array allocation (the
      // array form materialized 8 transformed copies of every shingle
      // list; measured 18 s → ~3 s at the 10× replica). Each doc's
      // shingles sit in one scan partition, so the doc-keyed aggregate
      // collapses fully map-side and the exchange carries one partial
      // row per doc.
      val ex = docShingles(s, d)
        .select(col("doc_id"), explode(col("sh")).as("h"))
      ex.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(IntegerType).as("n_shingles"),
          (0 until NUM_HASHES).map(j =>
            min((lit(hashA(j)) * (col("h") % P) + hashB(j)) % P)
              .as(s"mh$j")): _*)
        .orderBy(col("doc_id"))
    }),

    // LSH candidate pairs: same band value in any band, then exact
    // Jaccard verification over the shingle sets — candidates travel as
    // (id, id) only; shingle arrays join back once per surviving pair.
    "q_minhash_lsh_pairs" -> ((s, d) =>
      minhashPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Transitive dedup clusters: connected components over the verified
    // MinHash pairs; survivor = min doc_id per component. Oracle is a
    // DuckDB recursive CTE computing the identical transitive closure.
    "q_dedup_clusters" -> ((s, d) =>
      ccLabels(s, d)
        .select(col("doc_id"), col("cluster_rep"),
          (col("doc_id") === col("cluster_rep")).as("is_survivor"))
        .orderBy(col("doc_id"))),

    // Dedup REPORTING: cluster-size histogram over the connected
    // components — how many k-size duplicate clusters exist, how many
    // docs they cover, and the removable-duplicate count the dedup
    // pass will save. Two O(clusters) aggregations on top of the same
    // CC operator; the twin extends the recursive-CTE closure with the
    // identical rollup.
    "q_cluster_stats" -> ((s, d) => {
      ccLabels(s, d)
        .groupBy(col("cluster_rep")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
        .select(col("csize"), col("n_clusters"),
          (col("csize") * col("n_clusters")).as("n_docs"),
          ((col("csize") - 1) * col("n_clusters")).as("n_removable"))
        .orderBy(col("csize"))
    }),

    // N-gram (token-3-gram) Jaccard within same-source buckets, as an
    // inverted-index set-similarity join: explode shingle hashes, join
    // on (source, shingle) to count the intersection per pair, then
    // derive Jaccard from the per-doc set sizes. Pairs sharing zero
    // shingles never materialize (they cannot pass a positive
    // threshold), so the work is proportional to actual overlap — the
    // textbook scalable shape vs the dense per-bucket cross join, which
    // benched 6× slower at sf0.1 and degrades quadratically.
    // Exact-duplicate texts COLLAPSE to their min-id rep first via the
    // digest-keyed [[dupCollapsedReps]] (class size rides as n_mem_*),
    // like q_simhash_near and q_containment:
    // replicated boilerplate is the input that makes true overlap —
    // and with it this join's work — quadratic (measured at 100×;
    // SCALE.md). Pairs are then between distinct texts only.
    "q_ngram_jaccard" -> ((s, d) => {
      val reps = dupCollapsedReps(docsSpread(s, d), bySource = true)
      val docs = docShinglesOf(reps)
        .join(reps.select(col("doc_id"), col("n_members")), Seq("doc_id"))
      val sizes = docs.select(col("doc_id"), size(col("sh")).as("n_sh"),
        col("n_members"))
      val inv = docs.select(col("source"), col("doc_id"), explode(col("sh")).as("h"))
      val inter = inv.toDF("source", "id_a", "h")
        .join(inv.toDF("source", "id_b", "h"), Seq("source", "h"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("source"), col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.toDF("id_a", "n_a", "n_mem_a"), Seq("id_a"))
        .join(sizes.toDF("id_b", "n_b", "n_mem_b"), Seq("id_b"))
        .select(col("source"), col("id_a"), col("id_b"),
          col("n_mem_a"), col("n_mem_b"),
          (col("n_common").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType)).as("jaccard"))
        .filter(col("jaccard") >= 0.15)
        .orderBy(col("source"), col("id_a"), col("id_b"))
    }),

    // SimHash: 48-bit sign-aggregated fingerprint over token hashes.
    // Single-pass shape: explode distinct tokens, one vectorized hash
    // aggregate with 48 conditional sums (bit p set iff 2*Σbit_p > n) —
    // vs 48 higher-order array traversals per doc, which benched 7×
    // slower at sf0.1. At 100 TB this is one map-side-combined shuffle
    // keyed by doc_id.
    "q_simhash" -> ((s, d) =>
      simhashFp(s, d).orderBy(col("doc_id"))),

    // SimHash near-dup candidate search, scale-shaped end to end:
    // 1. collapse identical fingerprints first (exact-dup classes — the
    //    step that stops replicated boilerplate from going quadratic:
    //    n identical docs are ONE node here, not n);
    // 2. band the 48-bit space into 4×12-bit chunks and equi-join on
    //    (chunk, value) — by pigeonhole, hamming ≤ 3 implies at least
    //    one chunk is identical, so candidate recall at the ≤3
    //    threshold is EXACT, not probabilistic;
    // 3. verify with bit_count(xor) on the candidates only.
    "q_simhash_near" -> ((s, d) => {
      val reps = simhashFp(s, d)
        .groupBy(col("simhash"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
      val chunks = reps.select(col("simhash"), col("rep_id"), col("n_docs"),
        explode(array((0 until 4).map(c => struct(
          lit(c).as("chunk"),
          shiftright(col("simhash"), c * 12).bitwiseAND(4095L).as("ck"))): _*))
          .as("b"))
        .select(col("simhash"), col("rep_id"), col("n_docs"),
          col("b.chunk").as("chunk"), col("b.ck").as("ck"))
      val a = chunks.toDF("fp_a", "rep_a", "n_a", "chunk", "ck")
      val b = chunks.toDF("fp_b", "rep_b", "n_b", "chunk", "ck")
      a.join(b, Seq("chunk", "ck"))
        .filter(col("fp_a") < col("fp_b"))
        .select(col("fp_a"), col("fp_b"), col("rep_a"), col("rep_b"),
          col("n_a"), col("n_b"))
        .distinct()
        .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
        .filter(col("hamming") <= 3)
        .select(col("rep_a"), col("rep_b"), col("hamming"),
          col("n_a"), col("n_b"))
        .orderBy(col("rep_a"), col("rep_b"))
    }),

    // Sorted-neighborhood blocking (SNM) — the third candidate-
    // generation family next to LSH banding and key-equality blocking:
    // sort once on a normalized key, compare each record only to its W
    // successors. Distributed form: a coarse 4-char block is the
    // shuffle key, the full key sorts WITHIN blocks, and the W leads
    // come out of ONE Window pass (single sort, no self-join, no
    // quadratic block expansion — candidate count is exactly ≤ W·n).
    // Cross-block boundary pairs are missed by design (the standard
    // SNM tradeoff; multi-pass with a second key is the recall fix).
    // At 100 TB: one range-shuffle + per-partition sort, candidate
    // verify (levenshtein on the 24-char keys) entirely map-side.
    "q_sorted_neighborhood" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val W = 3
      // Key derivation is the fused native prefix pass (round-13
      // optimization): the composed substring(regexp_replace(...),1,24)
      // regex-scans the whole document to keep 24 chars; the native
      // form stops at the 24th kept byte. Bit-parity with the regex
      // form pinned by SquashNonAlnumSpec; lower() stays the
      // built-in Unicode casefold.
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.strip_non_alnum_prefix(
            lower(col("text")), 24).as("snkey"))
        .withColumn("blk", substring(col("snkey"), 1, 4))
      val win = Window.partitionBy(col("blk")).orderBy(col("snkey"), col("doc_id"))
      keyed
        // leads materialize in ONE Window pass; the explode must sit in
        // a separate projection (window exprs can't feed a generator)
        .select(col("doc_id"), col("snkey"),
          array((1 to W).map(i => struct(
            lead(col("doc_id"), i).over(win).as("id_n"),
            lead(col("snkey"), i).over(win).as("key_n"))): _*).as("nbs"))
        .select(col("doc_id"), col("snkey"), explode(col("nbs")).as("nb"))
        .filter(col("nb.id_n").isNotNull)
        // bounded variant: early-exits the DP past the threshold and
        // returns -1 there; for kept rows the value IS the distance
        .withColumn("lev", levenshtein(col("snkey"), col("nb.key_n"), 6))
        .filter(col("lev") >= 0)
        .select(
          least(col("doc_id"), col("nb.id_n")).as("id_a"),
          greatest(col("doc_id"), col("nb.id_n")).as("id_b"),
          col("lev"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ASYMMETRIC containment join: |Sa∩Sb| / |Sa| over shingle sets —
    // the decontamination-grade similarity (a short eval doc fully
    // contained in a long train doc has low Jaccard but containment
    // 1.0; Jaccard misses exactly the pairs that matter). Same
    // inverted-index shape as q_ngram_jaccard — work ∝ true overlap,
    // zero-overlap pairs never materialize — with BOTH directions
    // derived from the one symmetric intersection count.
    //
    // Exact-duplicate texts are COLLAPSED to one representative first
    // (min-id; the q_simhash_near treatment) with the class size
    // carried as n_mem_*: replicated boilerplate is the one input that
    // makes overlap itself quadratic — measured 13 s → >10 min going
    // sf0.1 → 100× on the 100-deep duplicate corpus before the
    // collapse (SCALE.md), linear after. At 100 TB the group key is
    // sha2(text), not the text — implemented for every scale via
    // [[dupCollapsedReps]] (digest-keyed collapse, text re-attached by
    // id join).
    "q_containment" -> ((s, d) => {
      val reps = dupCollapsedReps(docsSpread(s, d), bySource = true)
      val docs = docShinglesOf(reps)
        .join(reps.select(col("doc_id"), col("n_members")), Seq("doc_id"))
      val sizes = docs.select(col("doc_id"), size(col("sh")).as("n_sh"),
        col("n_members"))
      val inv = docs.select(col("source"), col("doc_id"), explode(col("sh")).as("h"))
      val inter = inv.toDF("source", "id_a", "h")
        .join(inv.toDF("source", "id_b", "h"), Seq("source", "h"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("source"), col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.toDF("id_a", "n_a", "n_mem_a"), Seq("id_a"))
        .join(sizes.toDF("id_b", "n_b", "n_mem_b"), Seq("id_b"))
        .select(col("source"), col("id_a"), col("id_b"),
          col("n_common"), col("n_a"), col("n_b"),
          col("n_mem_a"), col("n_mem_b"),
          (col("n_common").cast(DoubleType) / col("n_a").cast(DoubleType)).as("cont_ab"),
          (col("n_common").cast(DoubleType) / col("n_b").cast(DoubleType)).as("cont_ba"))
        .filter(col("cont_ab") >= 0.5 || col("cont_ba") >= 0.5)
        .orderBy(col("source"), col("id_a"), col("id_b"))
    }),

    // Cross-document shared-substring coverage (the ExactSubstr dedup
    // signal of Lee et al. 2021, "Deduplicating Training Data Makes
    // Language Models Better", at token granularity): for every doc,
    // what fraction of its 8-token runs also occur verbatim in some
    // OTHER document. Production dedup then cuts those spans; here the
    // per-doc coverage is the gated output (span surgery is a trivial
    // map over the same positions).
    //
    // Scale shape: token-8-gram hashes are map-side (one phash per
    // position — positions, not distinct grams, because coverage is
    // positional); ONE shuffle keyed by gram hash computes the
    // distinct-doc count per gram (map-side partial after a per-doc
    // distinct); the join back to positions is on the same key — work
    // ∝ total tokens throughout, never pairwise in docs. This is the
    // relational form of the suffix-array pass: equality of fixed-L
    // runs instead of maximal repeats, the standard distributed
    // approximation.
    "q_substr_dedup" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n_tok"))
        .filter(col("n_tok") >= SubstrLen)
      val g = base
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("n_tok") - SubstrLen)).as("pos"))
        .select(col("doc_id"),
          phash(concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(SubstrLen))), 2)
            .as("gh"))
      val gramDocs = g.distinct()
        .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      g.join(gramDocs, Seq("gh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_grams"))
        .select(col("doc_id"), col("n_grams"), col("n_shared_grams"),
          (col("n_shared_grams").cast(DoubleType) / col("n_grams").cast(DoubleType))
            .as("shared_ratio"))
        .orderBy(col("doc_id"))
    }),

    // BEST-QUALITY survivor selection — the survivorship policy is
    // pluggable: q_dedup_clusters keeps the min-id copy; production
    // curation keeps the BEST copy. Same connected components, then one
    // window over (cluster, margin desc, id) picks the highest
    // hashed-classifier margin (TextQueries.classifierMargin — a stand-
    // in for any trained scorer) per near-dup cluster. Scale: adds one
    // O(docs) map-side margin column and one cluster-keyed window to
    // the CC operator; the policy change costs nothing structural.
    "q_dedup_survivor" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val cc = ccLabels(s, d)
      val margins = docs.select(col("doc_id"),
        TextQueries.classifierMargin(col("text")).as("margin_micro"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_rep"))
        .orderBy(col("margin_micro").desc, col("doc_id"))
      cc.join(margins, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("cluster_rep"), col("margin_micro"),
          (col("rn") === 1).as("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL dedup — the nightly-batch shape: a new slice of the
    // corpus (doc_id ≡ 0 mod 5 here) checked against the already-landed
    // base WITHOUT re-pairing the base against itself. Two gates, both
    // ids-only joins: exact (content digest semi-join) and near (any
    // shared LSH band with a base doc). At 100 TB the base's digest set
    // and band index are persisted artifacts of the previous run,
    // bucketed on their keys, so the nightly cost is O(batch), not
    // O(corpus) — the whole point of running dedup incrementally. The
    // batch side shuffles digests and (band, key) pairs only; texts
    // never move.
    "q_incremental_dedup" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val inc = docs.filter(col("doc_id") % 5 === 0)
      val baseDigests = base.select(sha2(col("text"), 256).as("th")).distinct()
      val exact = inc.select(col("doc_id"), sha2(col("text"), 256).as("th"))
        .join(baseDigests, Seq("th"), "left_semi")
        .select(col("doc_id")).withColumn("ke", lit(true))
      val baseBands = bandedSignaturesOf(base)
        .select(col("band"), col("band_key")).distinct()
      val near = bandedSignaturesOf(inc)
        .join(baseBands, Seq("band", "band_key"), "left_semi")
        .select(col("doc_id")).distinct().withColumn("kn", lit(true))
      inc.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("ke"), lit(false)).as("known_exact"),
          coalesce(col("kn"), lit(false)).as("known_near"))
        .withColumn("is_new", !col("known_exact") && !col("known_near"))
        .orderBy(col("doc_id"))
    }),

    // LOSSLESS prefix-filtered set-similarity self-join (the AllPairs /
    // PPJoin candidate family) over the 3-gram shingle-hash sets, in
    // one global canonical order (hash ascending): a doc of n shingles
    // indexes only its first n − ⌈t·n⌉ + 1, because two sets with
    // Jaccard ≥ t MUST share an element inside those prefixes (if all
    // common elements sat in the ⌈t·n⌉−1 suffix, the intersection
    // would be < t·n ≤ t·union — contradiction). So unlike MinHash
    // banding this candidate set has PERFECT recall at the threshold —
    // which is exactly what the DuckDB twin asserts: it builds the
    // ground truth from the FULL inverted index, no prefix math, and
    // the gate hashes equal. (Unigram token sets are deliberately NOT
    // the universe: the synthetic corpus shares a small vocabulary, so
    // nearly all doc pairs exceed any unigram threshold — 30k pairs at
    // t=0.8 — while shingle-set similarity is discriminative.)
    // Exact-duplicate texts collapse to a min-id rep first (the
    // q_containment treatment). Scale: the indexed volume per doc drops
    // from n to (1−t)·n+1 elements — and the canonical order is GLOBAL
    // DOCUMENT FREQUENCY ascending (rarest first, hash tiebreak), so
    // the surviving postings are the RARE elements: a shingle shared by
    // k docs sits in prefixes only when those docs have little else
    // that is rarer, which is what keeps posting buckets bounded at
    // corpus scale. (The first cut used plain hash order — valid for
    // losslessness, but frequent shingles then land in prefixes and
    // the candidate join exploded: 37 s at sf0.1 vs 7 s with the
    // frequency order, identical output by construction.)
    "q_prefix_filter_join" -> ((s, d) => {
      val reps = dupCollapsedReps(docsSpread(s, d), bySource = false)
      // localCheckpoint (round 14, verdict item 3): this digest frame is
      // referenced FOUR times downstream (the posting explode + both
      // full-set join-backs + sizes) and each reference re-planned the
      // whole dupCollapsedReps chain INCLUDING hashedShingles over the
      // full text — the fleet's biggest exchange budget was mostly
      // re-derivation. One materialization; texts never leave this
      // barrier (only doc_id, n, shingle hashes and class size cross).
      val sized = reps.select(col("doc_id"), col("n_members"),
        hashedShingles(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("n", size(col("toks")))
        .localCheckpoint()
      val ex = sized.select(col("doc_id"), col("n"), explode(col("toks")).as("h"))
      // global df per shingle: one map-side-combined aggregate (the
      // "training" pass of AllPairs; at 100 TB a sampled approximation
      // of this order works as well — any consistent total order keeps
      // recall exact, frequency order only buys pruning power)
      val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      // t = 1/2: prefix length ℓ = n − ⌈n/2⌉ + 1 (integer ceil)
      val inv = ex.join(dfreq, Seq("h"))
        .withColumn("rk", row_number().over(wDoc))
        .filter(col("rk") <= col("n") - expr("(n + 1) DIV 2") + 1)
        .select(col("doc_id"), col("h"))
      val cand = inv.toDF("id_a", "h")
        .join(inv.toDF("id_b", "h"), Seq("h"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val full = sized.select(col("doc_id"), col("toks"), col("n"), col("n_members"))
      cand
        .join(full.toDF("id_a", "toks_a", "n_a", "n_mem_a"), Seq("id_a"))
        .join(full.toDF("id_b", "toks_b", "n_b", "n_mem_b"), Seq("id_b"))
        .withColumn("n_common", graft.functions.GraftFunctions
          .set_intersect_size(col("toks_a"), col("toks_b")))
        .withColumn("jac_micro",
          expr("CAST(n_common AS BIGINT) * 1000000 DIV (n_a + n_b - n_common)"))
        .filter(col("jac_micro") >= 500000)
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
          col("n_common"), col("jac_micro"), col("n_mem_a"), col("n_mem_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Blocking-quality audit — the record-linkage evaluation that turns
    // "we use LSH banding" into a measured claim: pair completeness
    // (recall of the candidate generator against EXACT ground truth),
    // pairs quality (precision), and the candidate ratio vs all C(n,2)
    // pairs (the reduction the blocking buys). Ground truth = exact
    // shingle-Jaccard >= 0.2 pairs over dup-collapsed reps via the
    // inverted-index intersection (work ∝ true overlap, never all
    // pairs; the predicate cross-multiplies to 6·|∩| >= |A|+|B| so the
    // whole audit is integer-exact). Candidates = the SAME capped
    // banded-LSH generator the dedup pipeline runs ([[cappedBucketPairs]]).
    // At 100 TB both sides are the existing bucketed shapes; the audit
    // adds two count aggregates and a pair-keyed semi-join. The C(n,2)
    // denominator routes through DECIMAL(38,0): n² passes BIGINT at
    // ~3e9 docs, well inside a 100 TB corpus.
    "q_blocking_quality" -> ((s, d) => {
      val reps = dupCollapsedReps(docsSpread(s, d), bySource = false)
      val sh = docShinglesOf(reps).select(col("doc_id"), col("sh"))
      val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
      val inv = sh.select(col("doc_id"), explode(col("sh")).as("h"))
      val truth = inv.toDF("id_a", "h")
        .join(inv.toDF("id_b", "h"), Seq("h"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
        .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
        .filter(col("n_common") * 6 >= col("n_a") + col("n_b"))
        .select(col("id_a"), col("id_b"))
      val cand = cappedBucketPairs(bandedSignaturesOf(reps))
      val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      val counts = sizes.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      counts.select(col("n_docs"), col("n_true"), col("n_cand"), col("n_hit"),
        expr("n_hit * 1000000 DIV NULLIF(n_true, 0)").as("recall_micro"),
        expr("n_hit * 1000000 DIV NULLIF(n_cand, 0)").as("precision_micro"),
        expr("CAST(CAST(n_cand AS DECIMAL(38,0)) * 2000000" +
          " DIV (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)")
          .as("cand_ppm"))
    })
  )

  /** Run length (tokens) for cross-document exact-substring coverage. */
  private[queries] val SubstrLen = 8

  /** (doc_id, simhash) — shared by q_simhash and q_simhash_near. */
  private def simhashFp(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val bits = 48
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", phash(col("tok"), 7))
    val fp = (0 until bits).map { p =>
      when(sum(shiftright(col("h"), p).bitwiseAND(1L)) * 2 > count(lit(1)),
        shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(fp.as("simhash"))
  }

  private def sqlMinhash(j: Int): String =
    s"list_min(list_transform(sh, h -> (${hashA(j)} * (h % $P) + ${hashB(j)}) % $P))"

  /** CTE chain producing `verified(id_a, id_b, jaccard)` — shared by the
    * pairs oracle and the recursive-closure clusters oracle. */
  private val sqlVerifiedPairs: String = {
    val sigCols = (0 until NUM_HASHES).map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
    val bandStructs = (0 until BANDS)
      .map(b => s"(${b}, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR))")
      .mkString(", ")
    s"""t AS (SELECT doc_id, $sqlHashedShingles AS sh FROM documents),
       |sigs AS (SELECT doc_id, sh, $sigCols FROM t WHERE len(sh) > 0),
       |banded AS (
       |  SELECT doc_id, sh, unnest([$bandStructs]) AS bk FROM sigs),
       |sized AS (
       |  SELECT doc_id, bk,
       |    COUNT(*) OVER (PARTITION BY bk) AS bsz,
       |    MIN(doc_id) OVER (PARTITION BY bk) AS rep
       |  FROM banded),
       |pairs AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |    FROM sized a JOIN sized b
       |      ON a.bk = b.bk AND a.doc_id < b.doc_id
       |    WHERE a.bsz <= $BUCKET_CAP
       |    UNION ALL
       |    SELECT rep AS id_a, doc_id AS id_b FROM sized
       |    WHERE bsz > $BUCKET_CAP AND doc_id <> rep) u),
       |verified AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
       |      / CAST(len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) AS jaccard
       |  FROM pairs JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b)""".stripMargin
  }

  /** Banded-signature CTE chain for a doc subset (`pred` on documents):
    * yields `<p>bands(doc_id, bk)` — the per-doc LSH band keys. Mirrors
    * [[bandedSignaturesOf]] for the incremental twin. */
  private def sqlBandsFor(p: String, pred: String): String = {
    val sigCols = (0 until NUM_HASHES).map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
    val bandStructs = (0 until BANDS)
      .map(b => s"(${b}, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR))")
      .mkString(", ")
    s"""${p}t AS (SELECT doc_id, $sqlHashedShingles AS sh FROM documents WHERE $pred),
       |${p}sigs AS (SELECT doc_id, $sigCols FROM ${p}t WHERE len(sh) > 0),
       |${p}bands AS (
       |  SELECT doc_id, unnest([$bandStructs]) AS bk FROM ${p}sigs)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_er_multifield" ->
      s"""WITH ents AS (
         |  SELECT c_name, c_nationkey, MIN(c_custkey) AS id,
         |    MIN(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents,
         |    MIN(c_mktsegment) AS seg
         |  FROM customer GROUP BY c_name, c_nationkey),
         |b AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY c_nationkey, substring(c_name, 1, 15)
         |      ORDER BY id) AS brn
         |  FROM ents),
         |pairs AS (
         |  SELECT a.id AS id_a, bb.id AS id_b,
         |    levenshtein(a.c_name, bb.c_name) AS lev,
         |    CASE WHEN a.seg = bb.seg THEN 20 ELSE 0 END AS w_seg,
         |    CASE WHEN abs(a.bal_cents - bb.bal_cents) <= 10000
         |         THEN 15 ELSE 0 END AS w_bal
         |  FROM ents a JOIN b bb
         |    ON a.c_nationkey = bb.c_nationkey
         |   AND substring(a.c_name, 1, 15) = substring(bb.c_name, 1, 15)
         |   AND a.id < bb.id AND bb.brn <= ${JoinQueries.ER_BLOCK_CAP})
         |SELECT DISTINCT id_a, id_b, CAST(lev AS INTEGER) AS lev,
         |  CAST(w_seg AS BIGINT) AS w_seg, CAST(w_bal AS BIGINT) AS w_bal,
         |  CAST(40 + w_seg + w_bal AS BIGINT) AS score
         |FROM pairs WHERE lev <= 2 AND 40 + w_seg + w_bal >= 55
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_survivor" ->
      s"""WITH RECURSIVE $sqlVerifiedPairs,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified WHERE jaccard >= 0.2
         |  UNION ALL
         |  SELECT id_b, id_a FROM verified WHERE jaccard >= 0.2),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |cc AS (SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a),
         |m AS (SELECT doc_id, ${TextQueries.sqlClassifierMargin} AS margin_micro
         |      FROM documents),
         |r AS (
         |  SELECT cc.doc_id, cluster_rep, margin_micro,
         |    row_number() OVER (PARTITION BY cluster_rep
         |                       ORDER BY margin_micro DESC, cc.doc_id) AS rn
         |  FROM cc JOIN m ON m.doc_id = cc.doc_id)
         |SELECT doc_id, cluster_rep, margin_micro, rn = 1 AS is_survivor
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_incremental_dedup" ->
      s"""WITH ${sqlBandsFor("b", "doc_id % 5 <> 0")},
         |${sqlBandsFor("i", "doc_id % 5 = 0")},
         |exact AS (
         |  SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id % 5 = 0 AND sha256(text) IN (
         |    SELECT sha256(text) FROM documents WHERE doc_id % 5 <> 0)),
         |near AS (
         |  SELECT DISTINCT doc_id FROM ibands
         |  WHERE bk IN (SELECT bk FROM bbands))
         |SELECT d.doc_id,
         |  e.doc_id IS NOT NULL AS known_exact,
         |  n.doc_id IS NOT NULL AS known_near,
         |  e.doc_id IS NULL AND n.doc_id IS NULL AS is_new
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near n ON n.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Ground truth from the FULL inverted index — no prefix math. The
    // hash gate equals iff the prefix filter is lossless at t = 1/2.
    "q_prefix_filter_join" ->
      s"""WITH reps AS (
         |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_members, text
         |  FROM documents GROUP BY text),
         |t AS (
         |  SELECT doc_id, n_members,
         |    list_sort($sqlHashedShingles) AS toks
         |  FROM reps),
         |s AS (
         |  SELECT doc_id, n_members, toks, CAST(len(toks) AS INTEGER) AS n
         |  FROM t WHERE len(toks) > 0),
         |inv AS (SELECT doc_id, unnest(toks) AS h FROM s),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b,
         |    sa.n_members AS n_mem_a, sb.n_members AS n_mem_b,
         |    CAST(len(list_intersect(sa.toks, sb.toks)) AS INTEGER) AS n_common
         |  FROM cand
         |  JOIN s sa ON sa.doc_id = id_a
         |  JOIN s sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, n_a, n_b, n_common,
         |  CAST(CAST(n_common AS BIGINT) * 1000000 // (n_a + n_b - n_common) AS BIGINT)
         |    AS jac_micro,
         |  n_mem_a, n_mem_b
         |FROM v
         |WHERE CAST(n_common AS BIGINT) * 1000000 // (n_a + n_b - n_common) >= 500000
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_hash,
        |  MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY survivor_id""".stripMargin,

    "q_minhash_signature" -> {
      val cols = (0 until NUM_HASHES).map(j => s"  ${sqlMinhash(j)} AS mh$j").mkString(",\n")
      s"""WITH t AS (SELECT doc_id, $sqlHashedShingles AS sh FROM documents)
         |SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_shingles,
         |$cols
         |FROM t WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin
    },

    "q_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ch AS (
        |  SELECT doc_id, sha256(array_to_string(
        |    list_slice(toks, s1, least(s1 + 31, len(toks))), ' ')) AS dg
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks), 32)) AS s1 FROM t)),
        |occ AS (SELECT dg, COUNT(*) AS n_occ FROM ch GROUP BY dg),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    COUNT(CASE WHEN n_occ > 1 THEN 1 END) AS n_dup_chunks
        |  FROM ch JOIN occ USING (dg) GROUP BY doc_id)
        |SELECT doc_id, n_chunks, n_dup_chunks,
        |  n_dup_chunks * 1000000 // n_chunks AS dup_ratio_micro
        |FROM per WHERE n_dup_chunks > 0 ORDER BY doc_id""".stripMargin,

    // The cap samples CANDIDATE pairs (pre-verify) — the unused
    // `verified` CTE is non-materialized, so DuckDB never computes it.
    "q_minhash_jaccard_est" -> {
      val agree = (0 until NUM_HASHES)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $sqlVerifiedPairs,
         |capped AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, ROW_NUMBER() OVER (
         |      PARTITION BY id_a
         |      ORDER BY (id_a * 40503 + id_b * 2654435761) % 65536, id_b) AS rn
         |    FROM pairs) c
         |  WHERE rn <= $AuditCap),
         |est AS (
         |  SELECT v.id_a, v.id_b, ($agree) AS n_sig_match,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
         |             AS DOUBLE) AS jaccard
         |  FROM capped v JOIN sigs a ON a.doc_id = v.id_a
         |                JOIN sigs b ON b.doc_id = v.id_b)
         |SELECT id_a, id_b, CAST(n_sig_match AS INTEGER) AS n_sig_match,
         |  CAST(n_sig_match AS DOUBLE) / $NUM_HASHES AS jaccard_est, jaccard
         |FROM est WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin
    },

    "q_minhash_lsh_pairs" ->
      s"""WITH $sqlVerifiedPairs
         |SELECT id_a, id_b, jaccard FROM verified
         |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlVerifiedPairs,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified WHERE jaccard >= 0.2
         |  UNION ALL
         |  SELECT id_b, id_a FROM verified WHERE jaccard >= 0.2),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
         |SELECT a AS doc_id, MIN(b) AS cluster_rep, MIN(b) = a AS is_survivor
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "q_cluster_stats" ->
      s"""WITH RECURSIVE $sqlVerifiedPairs,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified WHERE jaccard >= 0.2
         |  UNION ALL
         |  SELECT id_b, id_a FROM verified WHERE jaccard >= 0.2),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |cc AS (SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a),
         |sizes AS (SELECT cluster_rep, COUNT(*) AS csize FROM cc GROUP BY cluster_rep)
         |SELECT csize, COUNT(*) AS n_clusters,
         |  CAST(csize * COUNT(*) AS BIGINT) AS n_docs,
         |  CAST((csize - 1) * COUNT(*) AS BIGINT) AS n_removable
         |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH reps AS (
         |  SELECT source, text, MIN(doc_id) AS doc_id, COUNT(*) AS n_members
         |  FROM documents GROUP BY source, text),
         |t AS (
         |  SELECT source, doc_id, n_members, $sqlHashedShingles AS sh FROM reps),
         |f AS (SELECT * FROM t WHERE len(sh) > 0)
         |SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.n_members AS n_mem_a, b.n_members AS n_mem_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         |FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.15
         |ORDER BY a.source, id_a, id_b""".stripMargin,

    "q_containment" ->
      s"""WITH reps AS (
         |  SELECT source, text, MIN(doc_id) AS doc_id, COUNT(*) AS n_members
         |  FROM documents GROUP BY source, text),
         |t AS (
         |  SELECT source, doc_id, n_members, $sqlHashedShingles AS sh FROM reps),
         |f AS (SELECT * FROM t WHERE len(sh) > 0),
         |p AS (
         |  SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
         |    CAST(len(a.sh) AS INTEGER) AS n_a, CAST(len(b.sh) AS INTEGER) AS n_b,
         |    a.n_members AS n_mem_a, b.n_members AS n_mem_b
         |  FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0)
         |SELECT source, id_a, id_b, n_common, n_a, n_b, n_mem_a, n_mem_b,
         |  CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS cont_ab,
         |  CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) AS cont_ba
         |FROM p
         |WHERE CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.5
         |   OR CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.5
         |ORDER BY source, id_a, id_b""".stripMargin,

    "q_simhash" ->
      s"""WITH $sqlSimhashCte
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,

    "q_simhash_near" ->
      s"""WITH $sqlSimhashCte,
         |reps AS (
         |  SELECT simhash, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
         |  FROM sims GROUP BY simhash),
         |chunks AS (
         |  SELECT simhash, rep_id, n_docs, u.c AS chunk,
         |    (simhash >> (u.c * 12)) & 4095 AS ck
         |  FROM reps, unnest([0, 1, 2, 3]) AS u(c)),
         |cand AS (
         |  SELECT DISTINCT a.simhash AS fp_a, b.simhash AS fp_b,
         |    a.rep_id AS rep_a, b.rep_id AS rep_b,
         |    a.n_docs AS n_a, b.n_docs AS n_b
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk = b.chunk AND a.ck = b.ck AND a.simhash < b.simhash)
         |SELECT rep_a, rep_b,
         |  CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming, n_a, n_b
         |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
         |ORDER BY rep_a, rep_b""".stripMargin,

    // DuckDB's regexp_replace needs the 'g' flag to match Spark's
    // replace-all; the three leads come from the same window spec.
    "q_sorted_neighborhood" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 24)
        |      AS snkey
        |  FROM documents),
        |b AS (SELECT doc_id, snkey, substring(snkey, 1, 4) AS blk FROM k),
        |l AS (
        |  SELECT doc_id, snkey,
        |    lead(doc_id, 1) OVER w AS id1, lead(snkey, 1) OVER w AS key1,
        |    lead(doc_id, 2) OVER w AS id2, lead(snkey, 2) OVER w AS key2,
        |    lead(doc_id, 3) OVER w AS id3, lead(snkey, 3) OVER w AS key3
        |  FROM b WINDOW w AS (PARTITION BY blk ORDER BY snkey, doc_id)),
        |p AS (
        |  SELECT doc_id AS ida, id1 AS idb,
        |    CAST(levenshtein(snkey, key1) AS INTEGER) AS lev FROM l WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, id2, CAST(levenshtein(snkey, key2) AS INTEGER) FROM l WHERE id2 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, id3, CAST(levenshtein(snkey, key3) AS INTEGER) FROM l WHERE id3 IS NOT NULL)
        |SELECT LEAST(ida, idb) AS id_a, GREATEST(ida, idb) AS id_b, lev
        |FROM p WHERE lev <= 6 ORDER BY id_a, id_b""".stripMargin,

    "q_substr_dedup" -> {
      val L = SubstrLen
      s"""WITH d2 AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE len(string_split(text, ' ')) >= $L),
         |g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(CAST(len(toks) AS INTEGER) - ${L - 1}),
         |      i -> ${sqlPhash(s"array_to_string(toks[i+1:i+$L], ' ')", 2)})) AS gh
         |  FROM d2),
         |gc AS (
         |  SELECT gh, COUNT(*) AS nd
         |  FROM (SELECT gh, doc_id FROM g GROUP BY gh, doc_id) GROUP BY gh),
         |per AS (
         |  SELECT g.doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN gc.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams
         |  FROM g JOIN gc ON g.gh = gc.gh GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, n_shared_grams,
         |  CAST(n_shared_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS shared_ratio
         |FROM per ORDER BY doc_id""".stripMargin
    },

    "q_blocking_quality" -> {
      val sigCols = (0 until NUM_HASHES)
        .map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
      val bandStructs = (0 until BANDS)
        .map(b => s"(${b}, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR))")
        .mkString(", ")
      s"""WITH reps AS (
         |  SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text),
         |t AS (SELECT doc_id, $sqlHashedShingles AS sh FROM reps),
         |f AS (SELECT * FROM t WHERE len(sh) > 0),
         |truth AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  WHERE 6 * len(list_intersect(a.sh, b.sh)) >= len(a.sh) + len(b.sh)),
         |sigs AS (SELECT doc_id, $sigCols FROM f),
         |banded AS (SELECT doc_id, unnest([$bandStructs]) AS bk FROM sigs),
         |sized AS (
         |  SELECT doc_id, bk, COUNT(*) OVER (PARTITION BY bk) AS bsz,
         |    MIN(doc_id) OVER (PARTITION BY bk) AS rep
         |  FROM banded),
         |cand AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |    FROM sized a JOIN sized b ON a.bk = b.bk AND a.doc_id < b.doc_id
         |    WHERE a.bsz <= $BUCKET_CAP
         |    UNION ALL
         |    SELECT rep AS id_a, doc_id AS id_b FROM sized
         |    WHERE bsz > $BUCKET_CAP AND doc_id <> rep) u),
         |hit AS (
         |  SELECT id_a, id_b FROM truth
         |  INTERSECT SELECT id_a, id_b FROM cand),
         |c AS (SELECT
         |  (SELECT COUNT(*) FROM f) AS n_docs,
         |  (SELECT COUNT(*) FROM truth) AS n_true,
         |  (SELECT COUNT(*) FROM cand) AS n_cand,
         |  (SELECT COUNT(*) FROM hit) AS n_hit)
         |SELECT n_docs, n_true, n_cand, n_hit,
         |  n_hit * 1000000 // NULLIF(n_true, 0) AS recall_micro,
         |  n_hit * 1000000 // NULLIF(n_cand, 0) AS precision_micro,
         |  CAST(CAST(n_cand AS HUGEINT) * 2000000
         |    // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) AS BIGINT) AS cand_ppm
         |FROM c""".stripMargin
    }
  )

  /** CTE chain producing `sims(doc_id, simhash)` — shared by the simhash
    * and simhash-near oracles. */
  private lazy val sqlSimhashCte: String = {
    val bitTerms = (0 until 48).map(p =>
      s"CASE WHEN CAST(SUM((h >> $p) & 1) AS BIGINT) * 2 > COUNT(*) THEN (CAST(1 AS BIGINT) << $p) ELSE 0 END")
      .mkString(" + ")
    s"""t AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, ${sqlPhash("tok", 7)} AS h FROM t),
       |sims AS (SELECT doc_id, $bitTerms AS simhash FROM h GROUP BY doc_id)""".stripMargin
  }
}
