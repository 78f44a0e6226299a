package graft.queries

import graft.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryUtil._
import TextQueries.{phash, sqlPhash}

/** Training-corpus preparation operators — the curation stages a
  * large-scale LLM data pipeline runs after text analysis
  * (SURVEY.md §2.2 "LLM ops", [E] mandated by BASELINE.json north_star):
  * repetition-based quality filters, deterministic corpus splitting and
  * stratified sampling, context-window chunking, sequence packing, and
  * PII/boilerplate scrubbing.
  *
  * Design rules shared by every operator here:
  *   - Determinism by hashing, never by RNG: sampling/splitting decisions
  *     come from the portable md5 hash ([[TextQueries.phash]]) so the
  *     DuckDB oracle reproduces them bit-for-bit and a re-run over
  *     re-partitioned data yields the same corpus (a seeded `rand()` is
  *     partitioning-dependent and would not).
  *   - Map-side where possible: repetition stats, splits, samples,
  *     chunking and scrubbing are per-row expression trees (codegen'd, no
  *     UDFs); the only shuffles are doc-keyed n-gram counts and the
  *     per-source packing window.
  *   - 100 TB notes inline per operator.
  */
object TrainPrepQueries {

  private def toks: Column = split(col("text"), " ")

  /** Per-doc repetition stats: (doc_id, n_tokens, dup_token_frac,
    * top_bigram, top_bigram_n, top_bigram_frac, keep) — shared by
    * q_repetition_filter and the composed curation pipeline. Documents
    * with fewer than 2 tokens have no bigrams: the per-bigram stats are
    * LEFT-joined back to the full document list so they still get a row
    * (trivially non-repetitive: frac 0, keep=true) instead of silently
    * vanishing from the filter's verdict. */
  private def repetitionStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.select(
      col("doc_id"), toks.as("toks"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"))
    val bigrams = base.select(
      col("doc_id"),
      explode(when(col("n_tokens") >= 2,
        expr("transform(sequence(0, n_tokens - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .otherwise(expr("CAST(array() AS array<string>)"))).as("bigram"))
    val counts = bigrams
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("bn"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("bn").desc, col("bigram"))
    val top = counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("bigram"), col("bn"))
    val dupFrac =
      lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType)
    val bgFrac = coalesce(
      (col("bn") * 2).cast(DoubleType) / col("n_tokens").cast(DoubleType), lit(0.0))
    base.select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        dupFrac.as("dup_token_frac"),
        col("bigram").as("top_bigram"),
        col("bn").as("top_bigram_n"),
        bgFrac.as("top_bigram_frac"),
        (dupFrac <= 0.3 && bgFrac <= 0.2).as("keep"))
  }

  val defs: Map[String, Q] = Map(
    // Missing-value imputation — the prep step before any model sees
    // the table: numeric nulls get their GROUP's exact median,
    // categorical nulls the group's mode (deterministic count-desc,
    // value-asc tie order). Nulls are introduced deterministically
    // (event_id ≡ 0 mod 13 loses value, ≡ 0 mod 17 loses type) so the
    // twin derives the identical corruption. Scale shape: the median
    // and mode tables are O(users) aggregates on the SAME user_id key
    // the join-back uses — one shuffle partitioning shared end to end;
    // at extreme group cardinality the exact median swaps for an
    // approx_percentile sketch with the same plan shape.
    "q_impute_missing" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        when(col("event_id") % 13 === 0, lit(null).cast(DoubleType))
          .otherwise(col("value")).as("v"),
        when(col("event_id") % 17 === 0, lit(null).cast(StringType))
          .otherwise(col("event_type")).as("t"))
      val med = e.filter(col("v").isNotNull).groupBy(col("user_id"))
        .agg(median(col("v")).as("med_v"))
      val wM = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n").desc, col("t"))
      val mode = e.filter(col("t").isNotNull)
        .groupBy(col("user_id"), col("t")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(wM))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("t").as("mode_t"))
      e.join(med, Seq("user_id"), "left")
        .join(mode, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          col("v").isNull.as("value_was_null"),
          coalesce(col("v"), col("med_v")).as("value_imputed"),
          col("t").isNull.as("type_was_null"),
          coalesce(col("t"), col("mode_t")).as("type_imputed"))
        .orderBy(col("event_id"))
    }),

    // Repetition quality filter (Gopher-style): fraction of duplicate
    // tokens + share of tokens covered by the single most common bigram.
    // Shuffle key is (doc_id, bigram) — cardinality ∝ corpus tokens,
    // perfectly parallel; no skew beyond single-document size, so at
    // 100 TB the only requirement is that one document's bigrams fit an
    // executor (documents are bounded; crawl shards are split upstream).
    "q_repetition_filter" -> ((s, d) =>
      repetitionStats(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Duplicate-trigram coverage (the Gopher "dup n-gram chars" filter,
    // token-granular): share of token positions covered by any trigram
    // that occurs >= 2 times in the document. Window count over
    // (doc_id, tri) instead of a self-join; covered positions are
    // de-duplicated before counting so overlapping repeats don't
    // double-count.
    "q_dup_ngram_cover" -> ((s, d) => {
      val base = Tables.documents(s, d).select(
        col("doc_id"), toks.as("toks"), size(toks).as("n_tokens"))
      val tris = base.select(col("doc_id"), col("n_tokens"),
        posexplode(when(col("n_tokens") >= 3,
          expr("transform(sequence(0, n_tokens - 3), " +
            "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))"))
          .otherwise(expr("CAST(array() AS array<string>)"))))
        .toDF("doc_id", "n_tokens", "pos", "tri")
      val dup = tris
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("doc_id"), col("tri"))))
        .filter(col("cnt") >= 2)
      val covered = dup
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(col("pos"), col("pos") + 2)).as("cpos"))
        .distinct()
        .groupBy(col("doc_id"), col("n_tokens"))
        .agg(count(lit(1)).as("n_covered"))
      base.select(col("doc_id"), col("n_tokens"))
        .join(covered, Seq("doc_id", "n_tokens"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          (coalesce(col("n_covered"), lit(0L)).cast(DoubleType)
            / col("n_tokens").cast(DoubleType)).as("dup_trigram_cover"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic train/val/test split: md5-bucket of the stable doc id
    // (80/10/10). Pure map-side; the assignment is a property of the row,
    // not of the partitioning, so executors can split shards
    // independently and a doc never migrates between splits across runs.
    // DSIR-style importance weights for data SELECTION (round 12) —
    // the hashed n-gram importance-resampling recipe of Xie et al.
    // 2023 ("Data Selection for Language Models via Importance
    // Resampling", public paper), in this library's all-integer form:
    // tokens hash into 4096 buckets (portable md5 hash, twin-exact);
    // the target distribution is the English sub-corpus, the source is
    // the whole corpus; each bucket's affinity is the difference of
    // add-one-smoothed MICRO-probabilities (c+1)·1e6 DIV (N+B) — the
    // q_doc_lm_score estimator family, log-free so the score is
    // hash-gated — and a doc's weight is the count-weighted sum.
    // keep = (weight > 0): docs that look more target than source.
    // Shape: ONE corpus-mass explode to (doc, lang, bucket, m) grain,
    // localCheckpoint'd (it is the persisted feature-count artifact);
    // the bucket tables (≤ 4096 rows) and the 1-row totals reduce from
    // it; the estimator attaches at BUCKET grain so the doc-grain rows
    // shuffle once on the bucket key — the exact q_doc_lm_score
    // join-shape argument (A/B added in e5d4914), with a 4096-row bound instead
    // of vocab². At 100 TB the bucket table is a broadcast constant.
    "q_dsir_weights" -> ((s, d) => {
      val B = 4096L
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(filter(split(col("text"), " "), t => length(t) > 0)).as("tok"))
        .select(col("doc_id"), col("lang"), (phash(col("tok"), 29) % B).as("b"))
      val dbc = toks.groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("m"))
        .localCheckpoint()
      val srcC = dbc.groupBy(col("b")).agg(sum(col("m")).as("c_s"))
      val tgtC = dbc.filter(col("lang") === "en")
        .groupBy(col("b")).agg(sum(col("m")).as("c_t"))
      val totals = dbc.agg(sum(col("m")).as("n_s"),
        sum(when(col("lang") === "en", col("m")).otherwise(0L)).as("n_t"))
      val ratio = srcC.join(tgtC, Seq("b"), "left")
        .crossJoin(broadcast(totals))
        .select(col("b"),
          (expr(s"(coalesce(c_t, CAST(0 AS BIGINT)) + 1) * 1000000 DIV (n_t + $B)") -
            expr(s"(c_s + 1) * 1000000 DIV (n_s + $B)")).as("dpm"))
      val scored = dbc.join(ratio, Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("m")).as("n_toks"),
          sum(col("m") * col("dpm")).as("dsir_micro"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("dsir_micro"), lit(0L)).as("dsir_micro"),
          (coalesce(col("dsir_micro"), lit(0L)) > 0L).as("keep"))
        .orderBy(col("doc_id"))
    }),

    "q_hash_split" -> ((s, d) => {
      val bucket = phash(col("doc_id").cast(StringType), 7) % 100L
      Tables.documents(s, d).select(
        col("doc_id"),
        bucket.as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),

    // Stratified (per-language) downsampling with hash thresholds:
    // dominant languages are kept at a lower rate, rare ones near-fully —
    // the standard corpus-rebalancing step. Map-side filter; no shuffle.
    "q_stratified_sample" -> ((s, d) => {
      val u = phash(col("doc_id").cast(StringType), 13) % 1000L
      val thresh = when(col("lang") === "en", 200L)
        .when(col("lang").isin("de", "es", "fr"), 500L)
        .when(col("lang") === "zh", 800L)
        .otherwise(1000L)
      Tables.documents(s, d)
        .filter(u < thresh)
        .select(col("doc_id"), col("lang"), u.as("u_bucket"))
        .orderBy(col("doc_id"))
    }),

    // Context-window chunking: fixed 32-token windows, stride 24
    // (8-token overlap) — the doc→training-example explosion step.
    // explode(sequence(...)) keeps it one codegen stage per row; output
    // size ∝ input tokens × (size/stride).
    "q_doc_chunks" -> ((s, d) => {
      val base = Tables.documents(s, d).select(
        col("doc_id"), toks.as("toks"), size(toks).as("n_tok"))
      val chunk = slice(col("toks"), col("chunk_start") + 1, lit(32))
      base
        .select(col("doc_id"), col("toks"), col("n_tok"),
          explode(sequence(lit(0), greatest(col("n_tok") - 1, lit(0)), lit(24)))
            .as("chunk_start"))
        .filter(col("chunk_start") < col("n_tok"))
        .select(
          col("doc_id"),
          expr("chunk_start div 24").cast(IntegerType).as("chunk_idx"),
          col("chunk_start"),
          size(chunk).as("chunk_len"),
          array_join(chunk, " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Sequence packing (concat-and-chunk, GPT-style): docs are laid out
    // contiguously per source shard in stable doc_id order and cut into
    // 512-token context windows; each doc reports its first bin, offset,
    // and how many bins it spans. One window shuffle on (source) — at
    // 100 TB the packing unit is the shard/file, which is exactly how
    // production packers bound state; the running sum is O(1) per row.
    "q_seq_packing" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), size(toks).as("n_tokens"))
        .withColumn("cum_excl",
          coalesce(sum(col("n_tokens").cast(LongType)).over(w), lit(0L)))
        .select(
          col("doc_id"), col("source"), col("n_tokens"),
          expr("cum_excl div 512").as("bin_start"),
          (col("cum_excl") % 512).cast(IntegerType).as("bin_offset"),
          (expr("(cum_excl + greatest(n_tokens, 1) - 1) div 512")
            - expr("cum_excl div 512") + 1).cast(IntegerType).as("bins_spanned"))
        .orderBy(col("doc_id"))
    }),

    // Eval-contamination check (GPT-3-style n-gram decontamination):
    // 5-gram hashes of every TEST document probed against the distinct
    // 5-gram set of the TRAIN split (same deterministic hash split as
    // q_hash_split). Work ∝ total grams: the join key is the gram hash,
    // the train side is deduplicated before the join, and only matching
    // grams materialize. A test doc with >10% of its grams in train is
    // flagged dirty.
    "q_decontaminate" -> ((s, d) => {
      val bucket = phash(col("doc_id").cast(StringType), 7) % 100L
      val grams = expr(
        "transform(sequence(0, size(toks) - 5), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 5)))")
      def gramsOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(grams).as("g"))
        .withColumn("gh", phash(col("g"), 5))
      val docs = Tables.documents(s, d)
      val trainGrams = gramsOf(docs.filter(bucket < 80))
        .select(col("gh")).distinct()
      val testGrams = gramsOf(docs.filter(bucket >= 90))
      val counts = testGrams
        .join(trainGrams.withColumn("hit", lit(1)), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(col("hit")).as("n_contaminated"))
      counts.select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("contamination"),
        (col("n_contaminated").cast(DoubleType) / col("n_grams").cast(DoubleType) > 0.1)
          .as("dirty"))
        .orderBy(col("doc_id"))
    }),

    // Source-mixing weights (DoReMi-lite): per-source token counts vs a
    // uniform target distribution → per-source resampling weight
    // (target share / actual share). One tiny aggregate + a broadcast
    // of the totals; the weights would drive a downstream weighted
    // sampler. Exact integer token sums; ratios in IEEE doubles.
    "q_mix_weights" -> ((s, d) => {
      val perSource = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks).cast(LongType)).as("n_tokens"))
      val totals = perSource.agg(
        sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).cast(DoubleType).as("n_sources"))
      perSource.crossJoin(broadcast(totals))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast(DoubleType) / col("total_tokens").cast(DoubleType))
            .as("actual_share"),
          ((lit(1.0) / col("n_sources")) /
            (col("n_tokens").cast(DoubleType) / col("total_tokens").cast(DoubleType)))
            .as("weight"))
        .orderBy(col("source"))
    }),

    // PII scrubbing: emails, phone numbers, IPv4 addresses replaced with
    // typed placeholders. The corpus is synthetic and PII-free, so the
    // query injects deterministic fake PII (doc_id-derived, documentation
    // address ranges) and then removes it — the oracle verifies the
    // actual regex behavior, not a no-op. Pure map-side regexp_replace
    // chain inside codegen; the regex subset (no backrefs, no lookaround)
    // is portable between Java regex and DuckDB's RE2.
    "q_pii_scrub" -> ((s, d) => {
      val emailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
      val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val aug = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com call +1-202-555-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
        lit(" from 192.0.2."), (col("doc_id") % 200) + 1)
      val scrubbed = regexp_replace(
        regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipRe, "<IP>")
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(aug, lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(aug, lit(phoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(regexp_replace(aug, emailRe, ""), lit(ipRe), lit(0)))
          .as("n_ips"),
        scrubbed.as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // The composed curation pipeline — the full training-data flow as
    // ONE lazy plan: repetition-quality gate → exact-dedup survivors
    // (min-id per content hash) → deterministic train split → sequence
    // packing of what remains. Proves the operators compose (a user
    // chains library stages, not hand-written queries) and that the
    // composition still has the scale shape of its parts: two doc-keyed
    // shuffles (bigrams, content hash), one broadcast-size semi-join
    // chain, one per-shard packing window.
    "q_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = repetitionStats(docs).filter(col("keep")).select(col("doc_id"))
      val survivors = docs
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val train = docs
        .filter(phash(col("doc_id").cast(StringType), 7) % 100L < 80)
        .select(col("doc_id"))
      val sel = docs.select(col("doc_id"), col("source"), size(toks).as("n_tokens"))
        .join(keepers, Seq("doc_id"))
        .join(survivors, Seq("doc_id"))
        .join(train, Seq("doc_id"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sel
        .withColumn("cum_excl",
          coalesce(sum(col("n_tokens").cast(LongType)).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("cum_excl div 512").as("bin_start"),
          (col("cum_excl") % 512).cast(IntegerType).as("bin_offset"))
        .orderBy(col("doc_id"))
    }),

    // URL / boilerplate strip: remove injected URLs, collapse the
    // whitespace they leave behind, count removals. Same injected-input
    // pattern as q_pii_scrub.
    "q_url_strip" -> ((s, d) => {
      val urlRe = "https?://[^ ]+"
      val aug = concat(
        lit("http://ref.example.org/a "), substring(col("text"), 1, 40),
        lit(" see https://docs.example.com/p/"), col("doc_id"), lit(" done"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(aug, lit(urlRe), lit(0))).as("n_urls"),
        trim(regexp_replace(regexp_replace(aug, urlRe, ""), " +", " "))
          .as("stripped"))
        .orderBy(col("doc_id"))
    }),

    // Exact-size quota sampling: draw EXACTLY N docs with per-source
    // quotas proportional to corpus share, rounded by largest remainder
    // (Hamilton apportionment — quotas always sum to N, no float
    // thresholds), then pick each stratum's quota deterministically by
    // hash order. Complements q_stratified_sample (per-row Bernoulli,
    // size only ≈ target) when the contract is an exact sample size.
    // All integer arithmetic. Scale shape: the quota table is
    // #sources rows (the two single-partition windows over it are
    // trivially small — the DATA-sized work is the per-source hash-rank
    // window, which shuffles once on source; a skewed giant source is
    // one sorted partition, handled like any top-k-per-group).
    "q_quota_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val N = 100L
      val cnts = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val tot = cnts.agg(sum(col("cnt")).as("tot"))
      val wAll = Window.partitionBy(lit(0))
      val wRem = Window.partitionBy(lit(0))
        .orderBy(col("rem_key").desc, col("source"))
      val quotas = cnts.crossJoin(broadcast(tot))
        .select(col("source"),
          expr(s"(cnt * $N) DIV tot").as("base"),
          expr(s"(cnt * $N) % tot").as("rem_key"))
        .withColumn("rnk", row_number().over(wRem))
        .withColumn("quota",
          col("base") + when(col("rnk") <= lit(N) - sum(col("base")).over(wAll), 1L)
            .otherwise(0L))
        .select(col("source"), col("quota"))
      val wPick = Window.partitionBy(col("source"))
        .orderBy(phash(col("doc_id").cast(StringType), 29), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(wPick))
        .join(broadcast(quotas), Seq("source"))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Weighted sampling without replacement via PRIORITY SAMPLING
    // (Duffield–Lund–Thorup): each doc gets priority w/u with u a
    // deterministic hash-uniform in (0, 1]; the global top-k by
    // priority is a weight-proportional sample. Chosen over the
    // classic Efraimidis–Spirakis u^(1/w) key because the priority
    // needs only +,*,/ — exactly-rounded IEEE in identical op order on
    // both engines — while pow/ln last-bit behavior differs between
    // Java and DuckDB (same no-transcendental contract as
    // TextQueries.q_bm25). Longer docs are proportionally likelier to
    // survive — the corpus-rebalancing step when the weight is
    // token/char count. Map-side priorities + one top-k (TakeOrdered
    // at this k; per-partition top-k then a merge — no global sort).
    "q_weighted_sample" -> ((s, d) => {
      val u = ((phash(col("doc_id").cast(StringType), 21) % 1000000L + 1L)
        .cast(DoubleType)) / lit(1000000.0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars").cast(DoubleType) / u).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(100)
    }),

    // Largest-remainder (Hamilton) apportionment: distribute a fixed
    // sampling budget of 100 000 slots across (source, lang) cells
    // exactly proportionally — floor(cnt·B/N) per cell, then one bonus
    // slot to the cells with the largest remainders until the budget is
    // exact. The integer-exact answer to "proportional rounding that
    // must sum to the total" (mix_weights' double shares can't promise
    // that). Shape: one cell aggregate, a 1-row totals broadcast, one
    // rank window over the CELL frame (dimension-bound: sources ×
    // langs), zero corpus-width shuffles beyond the aggregate.
    // Σ alloc = budget exactly (NewOpsSpec).
    "q_alloc_budget" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 100000L
      val cells = Tables.documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = cells.agg(sum(col("n_docs")).as("n_total"),
        count(lit(1)).as("n_cells"))
      val based = cells.crossJoin(broadcast(tot))
        .withColumn("fl", expr(s"n_docs * $budget DIV n_total"))
        .withColumn("rem", expr(s"n_docs * $budget % n_total"))
        .withColumn("bonus_rank", row_number().over(
          Window.orderBy(col("rem").desc, col("source"), col("lang"))))
      based
        .withColumn("floor_total",
          sum(col("fl")).over(Window.partitionBy(lit(1))))
        .withColumn("alloc",
          col("fl") + when(col("bonus_rank") <= lit(budget) - col("floor_total"),
            1L).otherwise(0L))
        .select(col("source"), col("lang"), col("n_docs"), col("fl"),
          col("rem"), col("bonus_rank"), col("alloc"))
        .orderBy(col("source"), col("lang"))
    }),

    // HOST-level dedup + reweighting — the RefinedWeb/C4 pipeline stage
    // between URL filtering and text dedup: a handful of hosts dominate
    // any crawl, so docs are capped per REGISTERED DOMAIN and the
    // survivors re-weighted to carry their domain's full original mass
    // (weight_micro = 1e6·n_dom DIV kept_n, integer math — dropped
    // near-copies are represented, corpus mass is preserved). The
    // documents table carries no URL, so one is synthesized
    // deterministically from (source, doc_id) — the q_url_strip
    // convention — and the host/domain extraction (authority regexp +
    // last-two-labels registered-domain rule, the public-suffix-list
    // simplification) is the real operator under test.
    // Scale shape (100 TB): the rank-cap is row_number + filter, which
    // Spark 3.5+ executes as WindowGroupLimit — partial top-k per map
    // partition BEFORE the domain shuffle, so a mega-host never
    // materializes as one giant sorted partition; the domain-count side
    // is a map-side-combined aggregate whose output is #domains rows,
    // broadcast back onto the capped survivors by AQE.
    "q_host_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val Cap = 3
      val url = concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("cdn.")),
        lower(col("source")), (col("doc_id") % 7).cast(StringType),
        lit(".org/p/"), col("doc_id").cast(StringType))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), url.as("url"))
        .withColumn("host",
          regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))
        .withColumn("domain",
          regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      val counts = base.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_dom"))
      base
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("domain"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rnk") <= Cap)
        .join(counts, Seq("domain"))
        .select(col("doc_id"), col("domain"), col("n_dom"), col("rnk"),
          expr(s"(1000000 * n_dom) DIV least(n_dom, $Cap)")
            .as("weight_micro"))
        .orderBy(col("doc_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_impute_missing" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v,
        |    CASE WHEN event_id % 17 = 0 THEN NULL ELSE event_type END AS t
        |  FROM events),
        |med AS (
        |  SELECT user_id, median(v) AS med_v FROM e
        |  WHERE v IS NOT NULL GROUP BY user_id),
        |mo AS (
        |  SELECT user_id, t, COUNT(*) AS n FROM e
        |  WHERE t IS NOT NULL GROUP BY user_id, t),
        |md AS (
        |  SELECT user_id, t AS mode_t FROM (
        |    SELECT user_id, t,
        |      row_number() OVER (PARTITION BY user_id ORDER BY n DESC, t) AS rn
        |    FROM mo)
        |  WHERE rn = 1)
        |SELECT e.event_id, e.user_id,
        |  v IS NULL AS value_was_null,
        |  COALESCE(v, med_v) AS value_imputed,
        |  t IS NULL AS type_was_null,
        |  COALESCE(t, mode_t) AS type_imputed
        |FROM e
        |LEFT JOIN med ON med.user_id = e.user_id
        |LEFT JOIN md ON md.user_id = e.user_id
        |ORDER BY e.event_id""".stripMargin,

    "q_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, n_tokens - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM t),
        |c AS (
        |  SELECT doc_id, bigram, COUNT(*) AS bn
        |  FROM bg GROUP BY doc_id, bigram),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bn DESC, bigram) AS rn
        |  FROM c),
        |top AS (SELECT doc_id, bigram, bn FROM r WHERE rn = 1)
        |SELECT t.doc_id, t.n_tokens,
        |  1.0 - CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS dup_token_frac,
        |  top.bigram AS top_bigram, top.bn AS top_bigram_n,
        |  COALESCE(CAST(top.bn * 2 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 0.0)
        |    AS top_bigram_frac,
        |  (1.0 - CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) <= 0.3
        |    AND COALESCE(CAST(top.bn * 2 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 0.0) <= 0.2
        |    AS keep
        |FROM t LEFT JOIN top ON top.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q_dup_ngram_cover" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, n_tokens, i - 1 AS pos,
        |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tri
        |  FROM (SELECT doc_id, toks, n_tokens,
        |          unnest(generate_series(1, n_tokens - 2)) AS i FROM t)),
        |dup AS (
        |  SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY doc_id, tri) AS cnt FROM tri)
        |  WHERE cnt >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, n_tokens, cpos FROM (
        |    SELECT doc_id, n_tokens, unnest(generate_series(pos, pos + 2)) AS cpos
        |    FROM dup)),
        |agg AS (SELECT doc_id, n_tokens, COUNT(*) AS n_covered
        |        FROM cov GROUP BY doc_id, n_tokens)
        |SELECT t.doc_id, t.n_tokens,
        |  CAST(COALESCE(agg.n_covered, 0) AS BIGINT) AS n_covered,
        |  CAST(COALESCE(agg.n_covered, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
        |    AS dup_trigram_cover
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q_dsir_weights" -> {
      val bkt = s"${sqlPhash("tok", 29)} % 4096"
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $bkt AS b
         |  FROM (
         |    SELECT doc_id, lang,
         |      unnest(list_filter(string_split(text, ' '),
         |        t -> len(t) > 0)) AS tok
         |    FROM documents)),
         |dbc AS (
         |  SELECT doc_id, lang, b, COUNT(*) AS m FROM toks GROUP BY 1, 2, 3),
         |src AS (SELECT b, CAST(SUM(m) AS BIGINT) AS c_s FROM dbc GROUP BY b),
         |tgt AS (
         |  SELECT b, CAST(SUM(m) AS BIGINT) AS c_t FROM dbc
         |  WHERE lang = 'en' GROUP BY b),
         |tot AS (
         |  SELECT CAST(SUM(m) AS BIGINT) AS n_s,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN m ELSE 0 END) AS BIGINT) AS n_t
         |  FROM dbc),
         |ratio AS (
         |  SELECT src.b,
         |    (COALESCE(c_t, 0) + 1) * 1000000 // (n_t + 4096)
         |      - (c_s + 1) * 1000000 // (n_s + 4096) AS dpm
         |  FROM src LEFT JOIN tgt ON src.b = tgt.b CROSS JOIN tot),
         |scored AS (
         |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_toks,
         |    CAST(SUM(m * dpm) AS BIGINT) AS dsir_micro
         |  FROM dbc JOIN ratio ON dbc.b = ratio.b GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_toks, 0) AS n_toks,
         |  COALESCE(dsir_micro, 0) AS dsir_micro,
         |  COALESCE(dsir_micro, 0) > 0 AS keep
         |FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_hash_split" -> {
      val b = s"${sqlPhash("CAST(doc_id AS VARCHAR)", 7)} % 100"
      s"""SELECT doc_id, $b AS bucket,
         |  CASE WHEN $b < 80 THEN 'train'
         |       WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_stratified_sample" -> {
      val u = s"${sqlPhash("CAST(doc_id AS VARCHAR)", 13)} % 1000"
      s"""SELECT doc_id, lang, $u AS u_bucket
         |FROM documents
         |WHERE $u < (CASE WHEN lang = 'en' THEN 200
         |                 WHEN lang IN ('de', 'es', 'fr') THEN 500
         |                 WHEN lang = 'zh' THEN 800 ELSE 1000 END)
         |ORDER BY doc_id""".stripMargin
    },

    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n FROM documents),
        |st AS (
        |  SELECT doc_id, toks, n, unnest(generate_series(1, n, 24)) AS s1 FROM t)
        |SELECT doc_id,
        |  CAST((s1 - 1) // 24 AS INTEGER) AS chunk_idx,
        |  CAST(s1 - 1 AS INTEGER) AS chunk_start,
        |  CAST(len(list_slice(toks, s1, least(s1 + 31, n))) AS INTEGER) AS chunk_len,
        |  array_to_string(list_slice(toks, s1, least(s1 + 31, n)), ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_excl
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  cum_excl // 512 AS bin_start,
        |  CAST(cum_excl % 512 AS INTEGER) AS bin_offset,
        |  CAST((cum_excl + greatest(n_tokens, 1) - 1) // 512
        |       - cum_excl // 512 + 1 AS INTEGER) AS bins_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_decontaminate" -> {
      val b = s"${sqlPhash("CAST(doc_id AS VARCHAR)", 7)} % 100"
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, $b AS bucket
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, bucket,
         |    unnest(list_transform(generate_series(1, len(toks) - 4),
         |      i -> array_to_string(toks[i:i+4], ' '))) AS g
         |  FROM d WHERE len(toks) >= 5),
         |gh AS (SELECT doc_id, bucket, ${sqlPhash("g", 5)} AS gh FROM g),
         |train AS (SELECT DISTINCT gh FROM gh WHERE bucket < 80),
         |test AS (SELECT doc_id, gh FROM gh WHERE bucket >= 90),
         |counts AS (
         |  SELECT t.doc_id, COUNT(*) AS n_grams, COUNT(train.gh) AS n_contaminated
         |  FROM test t LEFT JOIN train ON train.gh = t.gh
         |  GROUP BY t.doc_id)
         |SELECT doc_id, n_grams, n_contaminated,
         |  CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE) AS contamination,
         |  CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE) > 0.1 AS dirty
         |FROM counts ORDER BY doc_id""".stripMargin
    },

    "q_mix_weights" ->
      """WITH ps AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(COUNT(*) AS DOUBLE) AS n_sources
        |  FROM ps)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS actual_share,
        |  (1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS weight
        |FROM ps CROSS JOIN tot ORDER BY source""".stripMargin,

    "q_pii_scrub" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com call +1-202-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 192.0.2.' || CAST(doc_id % 200 + 1 AS VARCHAR) AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER)
        |    AS n_phones,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(aug, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS scrubbed
        |FROM a ORDER BY doc_id""".stripMargin,

    "q_curation_pipeline" -> {
      val b = s"${sqlPhash("CAST(doc_id AS VARCHAR)", 7)} % 100"
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, n_tokens - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |  FROM t),
         |c AS (
         |  SELECT doc_id, bigram, COUNT(*) AS bn
         |  FROM bg GROUP BY doc_id, bigram),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bn DESC, bigram) AS rn
         |  FROM c),
         |top AS (SELECT doc_id, bn FROM r WHERE rn = 1),
         |keepers AS (
         |  SELECT t.doc_id FROM t LEFT JOIN top ON top.doc_id = t.doc_id
         |  WHERE (1.0 - CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) <= 0.3
         |    AND COALESCE(CAST(top.bn * 2 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 0.0) <= 0.2),
         |survivors AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |train AS (SELECT doc_id FROM documents WHERE $b < 80),
         |sel AS (
         |  SELECT t.doc_id, t.source, t.n_tokens
         |  FROM t
         |  JOIN keepers ON keepers.doc_id = t.doc_id
         |  JOIN survivors ON survivors.doc_id = t.doc_id
         |  JOIN train ON train.doc_id = t.doc_id),
         |packed AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_excl
         |  FROM sel)
         |SELECT doc_id, source, n_tokens,
         |  cum_excl // 512 AS bin_start,
         |  CAST(cum_excl % 512 AS INTEGER) AS bin_offset
         |FROM packed ORDER BY doc_id""".stripMargin
    },

    "q_url_strip" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    'http://ref.example.org/a ' || substring(text, 1, 40)
        |      || ' see https://docs.example.com/p/' || CAST(doc_id AS VARCHAR)
        |      || ' done' AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, 'https?://[^ ]+')) AS INTEGER) AS n_urls,
        |  trim(regexp_replace(regexp_replace(aug, 'https?://[^ ]+', '', 'g'),
        |       ' +', ' ', 'g')) AS stripped
        |FROM a ORDER BY doc_id""".stripMargin,

    // Largest-remainder quotas replayed in SQL; window SUM over BIGINT
    // is CAST back (DuckDB widens to HUGEINT), and `//`/`%` match
    // Spark's DIV/% on the positive operands used here.
    "q_quota_sample" ->
      s"""WITH cnts AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM cnts),
         |q0 AS (SELECT source, (cnt * 100) // tot AS base, (cnt * 100) % tot AS rem_key
         |       FROM cnts, tot),
         |q1 AS (SELECT source, base,
         |         row_number() OVER (ORDER BY rem_key DESC, source) AS rnk,
         |         CAST(SUM(base) OVER () AS BIGINT) AS sumbase
         |       FROM q0),
         |quotas AS (SELECT source,
         |             base + CASE WHEN rnk <= 100 - sumbase THEN 1 ELSE 0 END AS quota
         |           FROM q1),
         |ranked AS (SELECT doc_id, source,
         |             row_number() OVER (PARTITION BY source
         |               ORDER BY ${sqlPhash("CAST(doc_id AS VARCHAR)", 29)}, doc_id) AS rn
         |           FROM documents)
         |SELECT doc_id, ranked.source
         |FROM ranked JOIN quotas ON ranked.source = quotas.source
         |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      s"""SELECT doc_id, lang, n_chars,
         |  CAST(n_chars AS DOUBLE)
         |    / (CAST(${sqlPhash("CAST(doc_id AS VARCHAR)", 21)} % 1000000 + 1 AS DOUBLE) / 1000000.0)
         |    AS priority
         |FROM documents
         |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,

    "q_alloc_budget" ->
      """WITH cells AS (
        |  SELECT source, lang, COUNT(*) AS n_docs
        |  FROM documents GROUP BY source, lang),
        |tot AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total, COUNT(*) AS n_cells
        |  FROM cells),
        |based AS (
        |  SELECT source, lang, n_docs,
        |    n_docs * 100000 // n_total AS fl,
        |    n_docs * 100000 % n_total AS rem,
        |    ROW_NUMBER() OVER (ORDER BY n_docs * 100000 % n_total DESC,
        |      source, lang) AS bonus_rank
        |  FROM cells CROSS JOIN tot),
        |ft AS (
        |  SELECT *, CAST(SUM(fl) OVER () AS BIGINT) AS floor_total FROM based)
        |SELECT source, lang, n_docs, fl, rem, bonus_rank,
        |  fl + CASE WHEN bonus_rank <= 100000 - floor_total
        |       THEN 1 ELSE 0 END AS alloc
        |FROM ft ORDER BY source, lang""".stripMargin,

    "q_host_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE 'cdn.' END
        |      || lower(source) || CAST(doc_id % 7 AS VARCHAR)
        |      || '.org/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    regexp_extract(regexp_extract(url, '^[a-z]+://([^/]+)', 1),
        |      '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM u),
        |r AS (
        |  SELECT doc_id, domain, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS rnk,
        |    CAST(COUNT(*) OVER (PARTITION BY domain) AS BIGINT) AS n_dom
        |  FROM h)
        |SELECT doc_id, domain, n_dom, rnk,
        |  (1000000 * n_dom) // least(n_dom, 3) AS weight_micro
        |FROM r WHERE rnk <= 3 ORDER BY doc_id""".stripMargin
  )
}
