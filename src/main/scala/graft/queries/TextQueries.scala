package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryUtil._

/** Text-analysis operators for LLM-data pipelines — SURVEY.md §2.2 "LLM
  * ops" ([E], mandated by BASELINE.json north_star): language-ID
  * heuristic, quality scoring, token counting, document fingerprinting.
  *
  * Everything is Catalyst built-ins over the `documents` table —
  * higher-order array functions (`transform`/`filter`/`aggregate`) keep
  * the per-document work inside codegen, no UDFs. Each query has an
  * exact DuckDB twin (same arithmetic, same regex subset), so these are
  * hash-verified, not spot-checked.
  *
  * Scale notes: all are embarrassingly parallel map-side operators — no
  * shuffle except the final tiny summary aggregates. At 100 TB the text
  * column dominates IO: the scan prunes to (doc_id, text) only.
  */
object TextQueries {

  /** Portable 60-bit string hash: identical in DuckDB via
    * `CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)`. Computed by the
    * native codegen expression [[graft.functions.PortableHash60]] (one
    * digest, no hex-string round-trip) — bit-identical to the composed
    * `conv(substring(md5(..), 1, 15), 16, 10)` form, which
    * CustomFunctionsSpec locks in as a property test. */
  private[queries] def phash(c: Column, seed: Int): Column =
    graft.functions.GraftFunctions.portable_hash60(
      concat_ws(":", lit(seed.toString), c))

  private[queries] def sqlPhash(x: String, seed: Int): String =
    s"CAST('0x' || substring(md5('$seed' || ':' || $x), 1, 15) AS BIGINT)"

  /** Hashed-classifier margin over a text column (shared by
    * q_quality_classifier and the best-quality dedup survivor policy):
    * token → 4096-bucket hash → hash-derived weight in micro-units,
    * exact BIGINT sum over token occurrences. */
  private[queries] def classifierMargin(text: Column): Column = {
    val toks = filter(split(text, " "), t => length(t) > 0)
    def weight(t: Column): Column =
      (phash((phash(t, 7) % 4096).cast(StringType), 11) % 2001) - 1000
    aggregate(toks, lit(0L), (acc, t) => acc + weight(t))
  }

  /** DuckDB twin of [[classifierMargin]] over a column named `text`. */
  private[queries] val sqlClassifierMargin: String = {
    val bucket = s"${sqlPhash("t", 7)} % 4096"
    val weight = s"(${sqlPhash(s"CAST($bucket AS VARCHAR)", 11)} % 2001) - 1000"
    "CAST(COALESCE(list_sum(list_transform(" +
      s"list_filter(string_split(text, ' '), t -> len(t) > 0), t -> $weight)), 0) AS BIGINT)"
  }

  /** BPE vocabulary cap (top words by count desc, word asc). */
  private[queries] val VocabCap = 2000

  /** The 3 BPE merge-training rounds on the VocabCap word frame: each
    * round counts adjacent segment pairs weighted by word frequency,
    * takes the top pair (count desc, pair asc), and applies it
    * exhaustively left-to-right (the delimiter-string `replace` IS that
    * semantic: non-overlapping, leftmost-first — both engines and
    * java.lang.String agree, which LmTokenizerSpec's sequential replay
    * pins). Returns the per-round 1-row (pa, pb, n, round) frames.
    * Shared by q_bpe_merges (reports the merge table) and q_bpe_encode
    * (applies it corpus-wide). localCheckpoint: the vocab is ≤ VocabCap
    * rows but every round's functional rebuild of `segs` otherwise
    * re-grows its lineage back to the corpus scan — 7 documents scans
    * for 3 rounds (ScanAudit round 10); iterative algorithms checkpoint
    * between rounds, and here once at the bounded root suffices. */
  private def bpeMergeRounds(
      s: SparkSession, d: String): Seq[DataFrame] = {
    val words = Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
      .orderBy(col("wn").desc, col("w")).limit(VocabCap)
      .localCheckpoint()
    val chars = expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    var segs = words.select(col("w"), col("wn"),
      array_join(chars, "  ").as("seg"))
    (1 to 3).map { r =>
      val arr = split(col("seg"), "  ")
      val pairs = segs
        .select(col("wn"), arr.as("a"))
        .select(col("wn"), explode(
          when(size(col("a")) >= 2,
            transform(sequence(lit(1), size(col("a")) - 1),
              i => struct(element_at(col("a"), i).as("pa"),
                element_at(col("a"), i + 1).as("pb"))))
            .otherwise(array().cast(ArrayType(StructType(Seq(
              StructField("pa", StringType), StructField("pb", StringType))))))).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("wn")).as("n"))
      // Each round's winner is a 1-ROW artifact (the trained merge) —
      // localCheckpoint it so consumers read the artifact instead of
      // re-deriving the whole training round inside their own lineage
      // (without this, q_bpe_encode's plan re-embedded the round-1 pair
      // aggregate SEVEN times across the top2/top3/apply chains —
      // 11 exchanges vs 4, and e5d4914's interleaved 10× A/B has the
      // checkpointed form faster in every rep, best-of 6.4 vs 9.2 s).
      val top = pairs.orderBy(col("n").desc, col("pa"), col("pb")).limit(1)
        .select(col("pa"), col("pb"), col("n"), lit(r).as("round"))
        .localCheckpoint()
      segs = applyMerge(segs, top, "wn")
      top
    }
  }

  /** Exhaustive left-to-right application of a trained merge to the
    * delimiter-joined segment string — THE definition of the
    * merge-apply semantics, in exactly one place (round-11 ADVICE):
    * shared by the training rounds ([[bpeMergeRounds]], which passes
    * the word count `wn` through) and q_bpe_encode's corpus-wide pass
    * (no passthrough). */
  private def applyMerge(segs: DataFrame, top: DataFrame,
      passThrough: String*): DataFrame =
    segs.crossJoin(broadcast(top.select(col("pa"), col("pb"))))
      .select((col("w") +: passThrough.map(col)) :+
        trim(expr("replace(' ' || seg || ' ', ' ' || pa || '  ' || pb || ' ', ' ' || pa || pb || ' ')"))
          .as("seg"): _*)

  /** DuckDB CTE chain that replicates [[bpeMergeRounds]] exactly —
    * hoisted from the q_bpe_merges oracle so q_bpe_encode's twin can
    * reuse the identical trained merge table (ends at `top3`). */
  private[queries] val bpeTrainCtes: String = {
    def pairsOf(segCte: String, i: Int) =
      s"""pr$i AS (
         |  SELECT a[i] AS pa, a[i + 1] AS pb, SUM(wn) AS n
         |  FROM (
         |    SELECT wn, a, unnest(range(1, len(a))) AS i
         |    FROM (SELECT wn, string_split(seg, '  ') AS a FROM $segCte))
         |  GROUP BY pa, pb),
         |top$i AS (SELECT pa, pb, n FROM pr$i ORDER BY n DESC, pa, pb LIMIT 1)"""
        .stripMargin
    def applyOf(prev: String, i: Int) =
      s"""seg$i AS (
         |  SELECT w, wn,
         |    trim(replace(' ' || seg || ' ',
         |                 ' ' || t.pa || '  ' || t.pb || ' ',
         |                 ' ' || t.pa || t.pb || ' ')) AS seg
         |  FROM $prev CROSS JOIN top$i t)""".stripMargin
    s"""words AS (
       |  SELECT w, COUNT(*) AS wn FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS w
       |    FROM documents)
       |  GROUP BY w ORDER BY wn DESC, w LIMIT $VocabCap),
       |seg0 AS (
       |  SELECT w, wn,
       |    array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> substr(w, i, 1)), '  ') AS seg
       |  FROM words),
       |${pairsOf("seg0", 1)},
       |${applyOf("seg0", 1)},
       |${pairsOf("seg1", 2)},
       |${applyOf("seg1", 2)},
       |${pairsOf("seg2", 3)}""".stripMargin
  }

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "de"),
    "es" -> Seq("el", "los", "y", "en", "de"))

  val defs: Map[String, Q] = Map(
    // Readability profiling — sentence counts from punctuation runs,
    // exact integer words-per-sentence / chars-per-word micro ratios,
    // fixed complexity tiers. The doc-quality signal that sits next to
    // q_quality_score; no log/float readability constant, so the score
    // is hash-gated. Pure map-side expression work + the output sort.
    "q_readability" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"),
          lit(0))), lit(1)).cast(LongType).as("n_sents"),
        length(col("text")).cast(LongType).as("n_chars"))
        .withColumn("wps_micro", expr("n_words * 1000000 DIV n_sents"))
        .withColumn("cpw_micro", expr("n_chars * 1000000 DIV n_words"))
        .withColumn("tier", when(col("wps_micro") <= 12000000L, "simple")
          .when(col("wps_micro") <= 20000000L, "medium")
          .otherwise("complex"))
        .orderBy(col("doc_id"))
    }),

    // Bigram-novelty quality score — the OOV/rare-ngram signal an LLM
    // data pipeline uses to rank documents against the corpus LM:
    // corpus frequency of every word bigram (one token-grain aggregate
    // over the exploded corpus), a bigram is "rare" when its corpus
    // count ≤ 2, per-doc novelty = rare-bigram occurrences per million
    // bigram tokens (exact integer DIV — no log-prob doubles, so the
    // score itself is hash-gated). Inverted-index shape: work is
    // O(total bigram tokens); the rare-flag join keys on the bigram
    // string at the (doc, bigram) grain, never on raw text.
    "q_bigram_novelty" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      // size(a) > 1 guards sequence()'s descending-when-start>stop trap.
      val bg = toks.filter(size(col("a")) > 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(a) - 1)," +
            " i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"))
          .as("bigram"))
      val occ = bg.groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("k"))
      val corpus = occ.groupBy(col("bigram")).agg(sum(col("k")).as("cf"))
      val perDoc = occ.join(corpus, "bigram")
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          sum(when(col("cf") <= 2, col("k")).otherwise(lit(0L)))
            .as("n_rare"))
        .withColumn("novelty_micro", expr("n_rare * 1000000 DIV n_bigrams"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_rare"), lit(0L)).as("n_rare"),
          coalesce(col("novelty_micro"), lit(0L)).as("novelty_micro"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID: stopword-hit scoring with deterministic argmax.
    "q_lang_id" -> ((s, d) => {
      val toks = split(col("text"), " ")
      def score(lang: String): Column =
        size(filter(toks, t => stop(lang).map(w => t === w).reduce(_ || _)))
      val scored = Tables.documents(s, d)
        .withColumn("s_en", score("en")).withColumn("s_de", score("de"))
        .withColumn("s_fr", score("fr")).withColumn("s_es", score("es"))
      val best = greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
      scored
        .withColumn("pred_lang",
          when(best === 0, "und")
            .when(col("s_en") === best, "en")
            .when(col("s_de") === best, "de")
            .when(col("s_es") === best, "es")
            .otherwise("fr"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Quality scoring: token stats + stopword ratio + length prior.
    // Ratios are pure IEEE double arithmetic (int->double exact, same op
    // order in the SQL twin) — decimal DOWN-scaling is avoided because
    // Spark rounds half-up while DuckDB rounds half-even at exact
    // midpoints like 3/32.
    "q_quality_score" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val sw = stop("en")
      val nStop = size(filter(toks, t => sw.map(w => t === w).reduce(_ || _)))
      val avgLen = length(col("text")).cast(DoubleType) / nTok.cast(DoubleType)
      val stopRatio = nStop.cast(DoubleType) / nTok.cast(DoubleType)
      val lenScore = when(nTok.between(20, 60), lit(1.0)).otherwise(lit(0.5))
      Tables.documents(s, d).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nStop.as("n_stopwords"),
        avgLen.as("avg_token_len"),
        (lenScore * (lit(1.0) - stopRatio)).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Hashed linear classifier (the fastText-shaped quality gate a
    // production corpus runs before training): tokens hash into D=4096
    // feature buckets; each bucket's weight (integer micro-units in
    // [-1000, 1000]) derives here from a second hash of the bucket id —
    // a TRAINED model would broadcast a 4096-entry weight array instead,
    // with the identical plan shape: a pure map-side lookup-and-sum, no
    // shuffle, no UDF. The margin is an exact BIGINT sum over token
    // OCCURRENCES (frequency-weighted bag of words); keep = margin > 0.
    // All-integer arithmetic end to end, so the twin is bit-exact.
    "q_quality_classifier" -> ((s, d) => {
      val toks = filter(split(col("text"), " "), t => length(t) > 0)
      val margin = classifierMargin(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        margin.as("margin_micro"),
        (margin > 0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // SEARCH-RELEVANCE EVALUATION (MRR + precision@5) — the metric
    // harness that scores a ranking function, run here over a term-
    // frequency ranker (the BM25 query's cheap cousin). Three queries
    // self-calibrate from the corpus: the top-6 document-frequency
    // terms pair into query term sets (rank 1-2 → q1, 3-4 → q2,
    // 5-6 → q3), so the query workload exists at every scale factor.
    // Relevance labels are synthetic-deterministic (doc_id ≡ 0 mod 7),
    // mirrored in the twin. Both metrics stay RATIONAL (reciprocal
    // rank and P@5 in integer micro-units) — NDCG's log2 discount is
    // exactly the transcendental the no-ln contract excludes. Scale:
    // one tf aggregation keyed (query, doc), one per-query window
    // rank, one metric rollup — O(tokens) end to end.
    "q_search_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d).select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => length(t) > 0)).as("tok"))
      val dfreq = toks.distinct().groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val top6 = dfreq
        .orderBy(col("df").desc, col("tok")).limit(6)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("df").desc, col("tok"))))
        .select(expr("(rn + 1) DIV 2").as("query_id"), col("tok"))
      val tf = toks.join(broadcast(top6), Seq("tok"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("tf").desc, col("doc_id"))
      tf.withColumn("rank", row_number().over(wRank))
        .withColumn("rel", col("doc_id") % 7 === 0)
        .groupBy(col("query_id"))
        .agg(
          count(lit(1)).as("n_ranked"),
          min(when(col("rel"), col("rank"))).as("first_rel_rank"),
          expr("1000000 DIV min(CASE WHEN rel THEN rank END)").as("mrr_micro"),
          (sum(when(col("rel") && col("rank") <= 5, 1L).otherwise(0L)) * 200000L)
            .as("p_at_5_micro"))
        .orderBy(col("query_id"))
    }),

    // BPE MERGE LEARNING — the tokenizer-TRAINING step (Sennrich et al.
    // 2016): start from character segmentation of the (weighted) word
    // vocabulary, count adjacent symbol pairs, merge the most frequent
    // pair, repeat. Three rounds unrolled — like q_pagerank's fixed
    // iterations — each one aggregate (pair counts, map-side combined)
    // + a 1-row broadcast of the winning pair + a map-side merge apply.
    // Segmentations live as TWO-SPACE-joined strings: each literal
    // `replace(' a  b ' → ' ab ')` consumes one separator space and the
    // remainder supplies the next, so non-overlapping occurrences merge
    // greedily left-to-right with IDENTICAL semantics in both engines
    // (and 'a a a' correctly becomes 'aa a'). Vocab capped to the top
    // VocabCap words by (count desc, word) — deterministic, mirrored.
    // Scale: pair counting shuffles (pair, weight) only; the apply step
    // is map-side; rounds are a driver-side constant — exactly how a
    // production BPE trainer distributes (the winning pair is the only
    // cross-partition fact per round).
    "q_bpe_merges" -> ((s, d) => {
      bpeMergeRounds(s, d).reduce(_ unionByName _)
        .select(col("round"), col("pa"), col("pb"), col("n"))
        .orderBy(col("round"))
    }),

    // Tokenizer APPLICATION — the missing half of the BPE story
    // (q_bpe_merges trains the merge table; this segments the corpus
    // with it). The scale design is the word-level tokenization cache
    // every production tokenizer uses: apply the merges once per
    // DISTINCT corpus word (vocab-sized frame, 3 broadcast-merge
    // rounds over a localCheckpoint'd root), then join the per-word
    // token counts back to per-doc word multiplicities — the corpus
    // text is never re-segmented per occurrence. Output is exact
    // integers (counts + a DIV ratio), hash-gated against a twin that
    // replays the identical trained merges. Shape: one WIDE-TEXT scan
    // for training (bounded by VocabCap), one for the per-doc word
    // multiset, a vocab-keyed join, one per-doc aggregate.
    "q_bpe_encode" -> ((s, d) => {
      val tops = bpeMergeRounds(s, d)
      val docWords = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), t => length(t) > 0)).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      val chars = expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
      val seg0 = docWords.select(col("w")).distinct()
        .localCheckpoint() // vocab-sized; 3 merge rounds otherwise re-grow lineage to the corpus scan
        .select(col("w"), array_join(chars, "  ").as("seg"))
      val segN = tops.foldLeft(seg0)((sg, t) => applyMerge(sg, t))
      val wtok = segN.select(col("w"), size(split(col("seg"), "  ")).as("n_tok"))
      val per = docWords.join(wtok, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_tok")).as("n_bpe_tokens"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
          when(coalesce(col("n_words"), lit(0L)) === 0, lit(0L))
            .otherwise(expr("n_bpe_tokens * 100 DIV n_words"))
            .as("tok_per_word_centi"))
        .orderBy(col("doc_id"))
    }),

    // Per-document bigram-LM quality scoring — the CCNet-style filter:
    // score each doc by its bigrams' add-one-smoothed conditional
    // probability under the corpus's OWN bigram counts (the estimator
    // is q_bigram_lm's (c12+1)·1000 DIV (c1+v), so the two queries
    // cross-check). All integer: sum/avg permille is the fluency
    // signal, min permille the rare-bigram signal, and docs too short
    // for a bigram surface as zeros. Shape: ONE (doc, bigram)-grain
    // explode+aggregate feeds everything — it is localCheckpoint'd
    // (the bigram count table IS the LM artifact a production scorer
    // persists) so the corpus-mass explode runs once, not three times;
    // then c12/c1 reduce the checkpointed frame and the scoring join
    // shuffles on the bigram key. The vocab size and doc spine are the
    // only other corpus touches.
    "q_doc_lm_score" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      val dbg = toks.filter(size(col("a")) > 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(a) - 1)," +
            " i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2))"))
          .as("p"))
        .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("m"))
        .localCheckpoint()
      val c12 = dbg.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val vocab = toks.select(explode(col("a")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      // Attach the estimator at c12-TABLE grain (c12 ⋈ c1 on w1, both
      // count tables), so the corpus-mass doc-grain frame joins ONCE on
      // the bigram key — the naive dbg⋈c12⋈c1 form re-shuffles the
      // doc-grain rows a second time on w1. The e5d4914 A/B (same-JVM,
      // interleaved, 10×): this form wins 6/8 reps, rep-mean −19%,
      // best-of tie — kept on the structural argument (the re-shuffled
      // frame is the count table, 10× smaller than dbg on the
      // dup-saturated corpus and vocab²-bounded in general).
      val ppt = c12.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          expr("(c12 + 1) * 1000 DIV (c1 + v)").as("pp"))
      val scored = dbg.join(ppt, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(sum(col("m")).as("n_bigrams"),
          sum(col("m") * col("pp")).as("sum_permille"),
          min(col("pp")).as("min_permille"))
      toks.select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("sum_permille"), lit(0L)).as("sum_permille"),
          coalesce(col("min_permille"), lit(0L)).as("min_permille"),
          when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0L))
            .otherwise(expr("sum_permille DIV n_bigrams")).as("avg_permille"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace words + a BPE-ish regex segmentation.
    "q_token_count" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("n_bpe_tokens"),
        length(col("text")).as("n_chars_computed"),
        col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Normalization pipeline: casefold, strip non-alphanumerics,
    // collapse whitespace, distinct-token stats — the canonicalization
    // step that feeds exact dedup. The strip+collapse+trim runs as the
    // fused native byte pass (graft.functions.SquashNonAlnum, round-13
    // optimization — bit-parity with the two-regex form pinned by
    // SquashNonAlnumSpec); lower() stays the built-in so the Unicode
    // casefold (K→k etc.) is byte-identical to the twin's.
    "q_text_normalize" -> ((s, d) => {
      val norm = graft.functions.GraftFunctions.squash_non_alnum(
        lower(col("text")))
      Tables.documents(s, d).select(
        col("doc_id"),
        norm.as("norm_text"),
        size(array_distinct(split(norm, " "))).as("n_distinct_tokens"),
        length(norm).as("n_norm_chars"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF term weighting: explode tokens, tf per (doc, term), df per
    // term, weight = tf · N/df (the idf kept as an exact ratio rather
    // than ln(N/df) — IEEE-exact in both engines, same ranking order);
    // top-3 terms per doc with deterministic tiebreaks.
    "q_tfidf_top_terms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = docs.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // N as a lazy 1-row aggregate broadcast into the plan — a driver-side
      // .count() here would run an eager extra job per invocation.
      val nDf = Tables.documents(s, d).agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("weight").desc, col("term"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(nDf))
        .withColumn("weight",
          col("tf").cast(DoubleType) * (col("n_docs") / col("df").cast(DoubleType)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"), col("weight"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Document fingerprint: polynomial rolling hash over token hashes
    // (order-sensitive — reordered docs get different prints).
    "q_fingerprint" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val tokHashes = transform(toks, t => phash(t, 0) % 1000003L)
      Tables.documents(s, d).select(
        col("doc_id"),
        aggregate(tokHashes, lit(0L),
          (acc, x) => (acc * 31L + x) % 1000000007L).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // BM25 relevance ranking (Robertson/Okapi, k1=1.2 b=0.75) of every
    // document against a fixed 3-term query — the retrieval-scoring step
    // of a data-curation search index. The IDF is kept as the RATIONAL
    // core (N-df+0.5)/(df+0.5) rather than its ln(): ln is the one
    // transcendental whose last bit differs between Java and DuckDB,
    // and dropping it keeps every arithmetic step exactly-rounded
    // IEEE in identical op order, so the twin is bit-identical (same
    // trade TfIdf makes above; per-term ranking order is unchanged,
    // ln being monotone). Per-doc totals avoid order-dependent double
    // sums by pivoting the 3 terms into columns and adding
    // left-to-right.
    //
    // Scale shape: tf is one shuffle on (doc_id, term) AFTER the
    // explode is pre-filtered to the query terms (work ∝ query hits,
    // not corpus tokens); df and the corpus stats are tiny broadcast
    // aggregates; everything downstream is map-side.
    "q_bm25" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("dl", size(col("toks")))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl").cast(LongType)).as("tot_tokens"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .filter(col("term").isin("spark", "query", "fast"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val tfD = col("tf").cast(DoubleType)
      val avgdl = col("tot_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType)
      val idfR = (col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
        (col("df").cast(DoubleType) + lit(0.5))
      val score = idfR * ((tfD * lit(2.2)) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / avgdl))))
      def termCol(t: String): Column =
        coalesce(max(when(col("term") === t, col("score"))), lit(0.0))
      tf.join(broadcast(df), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("score", score)
        .groupBy(col("doc_id"))
        .agg(termCol("spark").as("s_spark"),
          termCol("query").as("s_query"),
          termCol("fast").as("s_fast"))
        .withColumn("bm25", col("s_spark") + col("s_query") + col("s_fast"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
    }),

    // Token co-occurrence lift (the PMI core e^pmi = N·c(u,v)/(c(u)·c(v)),
    // kept as the exact integer ratio — same no-ln contract as q_bm25) —
    // the phrase/collocation-mining step of corpus analysis. Pairs are
    // generated per document from the SORTED DISTINCT token set capped
    // at CoocCap entries, so per-doc work is ≤ cap²/2 regardless of
    // document length (the same hub-bound treatment as
    // DedupQueries.BUCKET_CAP / GraphQueries.TriCap, mirrored exactly in
    // the twin); marginals come from the same capped sets so the ratio
    // is internally consistent. One shuffle on the pair key; the
    // marginal join is a broadcast (vocabulary-sized).
    "q_cooccur_pmi" -> ((s, d) => {
      val capped = slice(array_sort(array_distinct(split(col("text"), " "))), 1, CoocCap)
      val docToks = Tables.documents(s, d)
        .select(col("doc_id"), explode(capped).as("tok"))
      val marg = docToks.groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
      val nDf = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val pairs = docToks.as("a")
        .join(docToks.as("b"), col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
        .groupBy(col("a.tok").as("tok_u"), col("b.tok").as("tok_v"))
        .agg(count(lit(1)).as("c_uv"))
        .filter(col("c_uv") >= 5)
      pairs
        .join(broadcast(marg.withColumnRenamed("tok", "tok_u").withColumnRenamed("c_tok", "c_u")), Seq("tok_u"))
        .join(broadcast(marg.withColumnRenamed("tok", "tok_v").withColumnRenamed("c_tok", "c_v")), Seq("tok_v"))
        .crossJoin(broadcast(nDf))
        .select(col("tok_u"), col("tok_v"), col("c_uv"), col("c_u"), col("c_v"),
          ((col("n_docs") * col("c_uv")).cast(DoubleType) /
            (col("c_u") * col("c_v")).cast(DoubleType)).as("lift"))
        .orderBy(col("lift").desc, col("tok_u"), col("tok_v"))
        .limit(100)
    }),

    // Vocabulary construction: global counts of the BPE-ish subtoken
    // segmentation (same regex as q_token_count), top-200 by frequency
    // with per-token corpus share and the cumulative-coverage curve —
    // the statistic a tokenizer build reads to pick vocab size. The
    // top-k comes from sort+limit (TakeOrdered: per-partition top-200
    // then a driver merge — NO global-window rank over the full
    // vocabulary, which would sort every distinct token in one
    // partition); the rank/cumulative window then runs on the 200-row
    // result only.
    "q_token_vocab" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .select(explode(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      val top = counts.orderBy(col("n").desc, col("tok")).limit(200)
      val w = Window.orderBy(col("n").desc, col("tok"))
      top.crossJoin(broadcast(tot))
        .withColumn("rnk", row_number().over(w))
        .withColumn("cum",
          sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rnk"), col("tok"), col("n"),
          (col("n").cast(DoubleType) / col("total").cast(DoubleType)).as("share"),
          (col("cum").cast(DoubleType) / col("total").cast(DoubleType)).as("cum_share"))
        .orderBy(col("rnk"))
    }),

    // Per-source language-diversity via GINI IMPURITY 1 − Σp² — the
    // corpus-mix health metric. Entropy is the textbook choice but
    // needs ln (the engines' one last-bit-divergent primitive); Gini
    // ranks mixes identically and stays rational: Σp² = Σc²/n², so the
    // whole statistic is integer sums + ONE exact double division.
    // Two map-side-combined shuffles, output is O(sources).
    "q_source_gini" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(col("c") * col("c")).as("sumsq"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          (lit(1.0) - col("sumsq").cast(DoubleType) /
            (col("n_docs") * col("n_docs")).cast(DoubleType)).as("gini"))
        .orderBy(col("source"))
    }),

    // Add-one-smoothed bigram language model — the count-based LM a
    // curation pipeline trains for perplexity-ish filtering: for the
    // 20 most frequent context tokens, the top-3 next-token
    // continuations with their smoothed conditional probability
    // p(w2|w1) = (c12+1)/(c1+V) in exact per-mille. Shape: one
    // bigram-keyed aggregate (the LM "training" shuffle, ∝ corpus
    // tokens), one unigram aggregate, a 1-row vocab count broadcast,
    // and two rank windows over the AGGREGATED frame (vocab-bounded
    // domain, not corpus-bounded). All-integer contract.
    "q_bigram_lm" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      val bg = toks.filter(size(col("a")) > 1)
        .select(explode(expr(
          "transform(sequence(1, size(a) - 1)," +
            " i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2))"))
          .as("p"))
        .select(col("p.w1"), col("p.w2"))
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val vocab = toks.select(explode(col("a")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      val top20 = c1
        .withColumn("ctx_rank", row_number().over(
          Window.orderBy(col("c1").desc, col("w1"))))
        .filter(col("ctx_rank") <= 20)
      c12.join(broadcast(top20), Seq("w1"))
        .withColumn("nx_rank", row_number().over(
          Window.partitionBy(col("w1"))
            .orderBy(col("c12").desc, col("w2"))))
        .filter(col("nx_rank") <= 3)
        .crossJoin(broadcast(vocab))
        .select(col("ctx_rank"), col("w1"), col("nx_rank"), col("w2"),
          col("c12"), col("c1"),
          expr("(c12 + 1) * 1000 DIV (c1 + v)").as("p_permille"))
        .orderBy(col("ctx_rank"), col("nx_rank"), col("w2"))
    }),

    // Winnowing fingerprints (the MOSS scheme): hash every token
    // bigram, slide a w=4 window over the hash sequence, and keep the
    // window minimum (rightmost on ties) — the selection is position-
    // robust (local edits only disturb nearby windows) and its density
    // is guaranteed: at least one fingerprint per w consecutive grams
    // (the gap bound NewOpsSpec asserts). Encoding min-with-rightmost-
    // tie as ONE integer key (hash·2²⁰ + (2²⁰−1−pos)) makes the window
    // min a plain BIGINT min — no struct ordering dependence between
    // engines. Shape: explode ∝ tokens, one per-doc window, one
    // distinct + aggregate; all integer.
    "q_winnow" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val enc = 1048576L
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      val grams = toks.filter(size(col("a")) > 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(a) - 1)," +
            " i -> struct(i AS pos, concat(element_at(a, i), ' '," +
            " element_at(a, i + 1)) AS g))")).as("p"))
        .select(col("doc_id"), col("p.pos"),
          (phash(col("p.g"), 3) % 1000003L).as("h"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-3, 0)
      val sel = grams
        .withColumn("key", col("h") * enc + (lit(enc - 1) - col("pos")))
        .withColumn("mn", min(col("key")).over(w))
        .filter(col("pos") >= 4)
        .select(col("doc_id"),
          (lit(enc - 1) - (col("mn") % enc)).as("sel_pos"),
          expr(s"mn DIV $enc").as("sel_h"))
        .distinct()
      val perDoc = sel.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"), sum(col("sel_h")).as("fp_sum"),
          min(col("sel_h")).as("fp_min"), max(col("sel_h")).as("fp_max"))
      toks.select(col("doc_id"),
          greatest(size(col("a")) - 1, lit(0)).cast("long").as("n_grams"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          coalesce(col("fp_sum"), lit(0L)).as("fp_sum"),
          coalesce(col("fp_min"), lit(0L)).as("fp_min"),
          coalesce(col("fp_max"), lit(0L)).as("fp_max"))
        .orderBy(col("doc_id"))
    })
  )

  /** Per-doc distinct-token cap for co-occurrence pair generation. */
  private[queries] val CoocCap = 32

  private def sqlScore(lang: String): String = {
    val preds = stop(lang).map(w => s"t = '$w'").mkString(" OR ")
    s"len(list_filter(string_split(text, ' '), t -> $preds))"
  }

  val oracle: Map[String, String] = Map(
    "q_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_chars,
        |  n_words * 1000000 // n_sents AS wps_micro,
        |  n_chars * 1000000 // n_words AS cpw_micro,
        |  CASE WHEN n_words * 1000000 // n_sents <= 12000000 THEN 'simple'
        |       WHEN n_words * 1000000 // n_sents <= 20000000 THEN 'medium'
        |       ELSE 'complex' END AS tier
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_bigram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |bgidx AS (
        |  SELECT doc_id, a, unnest(range(1, len(a))) AS i
        |  FROM toks WHERE len(a) > 1),
        |bg AS (
        |  SELECT doc_id,
        |    a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1] AS bigram
        |  FROM bgidx),
        |occ AS (
        |  SELECT doc_id, bigram, COUNT(*) AS k FROM bg GROUP BY 1, 2),
        |corpus AS (
        |  SELECT bigram, CAST(SUM(k) AS BIGINT) AS cf FROM occ GROUP BY 1),
        |per AS (
        |  SELECT o.doc_id, CAST(SUM(o.k) AS BIGINT) AS n_bigrams,
        |    CAST(COALESCE(SUM(CASE WHEN c.cf <= 2 THEN o.k END), 0) AS BIGINT) AS n_rare
        |  FROM occ o JOIN corpus c USING (bigram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |  COALESCE(p.n_rare, CAST(0 AS BIGINT)) AS n_rare,
        |  COALESCE(p.n_rare * 1000000 // p.n_bigrams, CAST(0 AS BIGINT)) AS novelty_micro
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    ${sqlScore("en")} AS s_en, ${sqlScore("de")} AS s_de,
         |    ${sqlScore("fr")} AS s_fr, ${sqlScore("es")} AS s_es
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         |         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         |         ELSE 'fr' END AS pred_lang
         |  FROM scored)
         |SELECT lang, pred_lang, COUNT(*) AS n FROM pred
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "q_quality_score" -> {
      val sw = stop("en").map(w => s"t = '$w'").mkString(" OR ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |    CAST(len(list_filter(string_split(text, ' '), t -> $sw)) AS INTEGER) AS n_stopwords,
         |    CAST(length(text) AS INTEGER) AS n_len
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_stopwords,
         |  CAST(n_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
         |  (CASE WHEN n_tokens BETWEEN 20 AND 60 THEN 1.0 ELSE 0.5 END)
         |    * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "q_quality_classifier" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS INTEGER)
         |    AS n_tokens,
         |  $sqlClassifierMargin AS margin_micro,
         |  $sqlClassifierMargin > 0 AS keep
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_search_eval" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    t -> len(t) > 0)) AS tok
        |  FROM documents),
        |dfreq AS (
        |  SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks)
        |  GROUP BY tok),
        |top6 AS (
        |  SELECT (row_number() OVER (ORDER BY df DESC, tok) + 1) // 2 AS query_id,
        |    tok
        |  FROM dfreq ORDER BY df DESC, tok LIMIT 6),
        |tf AS (
        |  SELECT query_id, doc_id, COUNT(*) AS tf
        |  FROM toks JOIN top6 USING (tok)
        |  GROUP BY query_id, doc_id),
        |ranked AS (
        |  SELECT query_id, doc_id, tf,
        |    row_number() OVER (PARTITION BY query_id ORDER BY tf DESC, doc_id)
        |      AS rank,
        |    doc_id % 7 = 0 AS rel
        |  FROM tf)
        |SELECT query_id, COUNT(*) AS n_ranked,
        |  CAST(MIN(CASE WHEN rel THEN rank END) AS BIGINT) AS first_rel_rank,
        |  CAST(1000000 // MIN(CASE WHEN rel THEN rank END) AS BIGINT) AS mrr_micro,
        |  CAST(SUM(CASE WHEN rel AND rank <= 5 THEN 1 ELSE 0 END) * 200000
        |       AS BIGINT) AS p_at_5_micro
        |FROM ranked GROUP BY query_id ORDER BY query_id""".stripMargin,

    "q_bpe_merges" ->
      s"""WITH $bpeTrainCtes
         |SELECT * FROM (
         |  SELECT 1 AS round, pa, pb, CAST(n AS BIGINT) AS n FROM top1
         |  UNION ALL
         |  SELECT 2, pa, pb, CAST(n AS BIGINT) FROM top2
         |  UNION ALL
         |  SELECT 3, pa, pb, CAST(n AS BIGINT) FROM top3)
         |ORDER BY round""".stripMargin,

    "q_bpe_encode" -> {
      def applyOf(prev: String, next: String, i: Int) =
        s"""$next AS (
           |  SELECT w, trim(replace(' ' || seg || ' ',
           |                 ' ' || t.pa || '  ' || t.pb || ' ',
           |                 ' ' || t.pa || t.pb || ' ')) AS seg
           |  FROM $prev CROSS JOIN top$i t)""".stripMargin
      s"""WITH $bpeTrainCtes,
         |vocabw AS (
         |  SELECT DISTINCT w FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS w
         |    FROM documents)),
         |aseg0 AS (
         |  SELECT w, array_to_string(list_transform(range(1, len(w) + 1),
         |    i -> substr(w, i, 1)), '  ') AS seg
         |  FROM vocabw),
         |${applyOf("aseg0", "aseg1", 1)},
         |${applyOf("aseg1", "aseg2", 2)},
         |${applyOf("aseg2", "aseg3", 3)},
         |wtok AS (SELECT w, len(string_split(seg, '  ')) AS n_tok FROM aseg3),
         |dw AS (
         |  SELECT doc_id, w, COUNT(*) AS cnt FROM (
         |    SELECT doc_id,
         |      unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS w
         |    FROM documents)
         |  GROUP BY doc_id, w),
         |per AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
         |    CAST(SUM(cnt * n_tok) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN wtok USING (w) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_words, 0) AS n_words,
         |  COALESCE(n_bpe_tokens, 0) AS n_bpe_tokens,
         |  CASE WHEN COALESCE(n_words, 0) = 0 THEN 0
         |       ELSE n_bpe_tokens * 100 // n_words END AS tok_per_word_centi
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "q_doc_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |dbg AS (
        |  SELECT doc_id, a[CAST(i AS INTEGER)] AS w1,
        |    a[CAST(i AS INTEGER) + 1] AS w2, COUNT(*) AS m
        |  FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i
        |        FROM toks WHERE len(a) > 1) t
        |  GROUP BY doc_id, w1, w2),
        |c12 AS (SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c12 FROM dbg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |vocab AS (
        |  SELECT COUNT(DISTINCT w) AS v
        |  FROM (SELECT unnest(a) AS w FROM toks) u),
        |scored AS (
        |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(m * ((c12 + 1) * 1000 // (c1 + v))) AS BIGINT) AS sum_permille,
        |    CAST(MIN((c12 + 1) * 1000 // (c1 + v)) AS BIGINT) AS min_permille
        |  FROM dbg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(sum_permille, 0) AS sum_permille,
        |  COALESCE(min_permille, 0) AS min_permille,
        |  CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0
        |       ELSE sum_permille // n_bigrams END AS avg_permille
        |FROM toks t LEFT JOIN scored USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_computed,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_normalize" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |  CAST(len(list_distinct(string_split(norm_text, ' '))) AS INTEGER) AS n_distinct_tokens,
        |  CAST(length(norm_text) AS INTEGER) AS n_norm_chars
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |wt AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS weight
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, weight,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rn
        |  FROM wt)
        |SELECT doc_id, rn, term, tf, df, weight FROM ranked
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '),
         |        t -> ${sqlPhash("t", 0)} % 1000003)),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      """WITH d2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, SUM(CAST(len(toks) AS BIGINT)) AS tot_tokens FROM d2),
        |tf AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2)
        |  WHERE term IN ('spark', 'query', 'fast')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    ((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
        |      * ((CAST(tf.tf AS DOUBLE) * 2.2)
        |         / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / (CAST(s.tot_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s),
        |per AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN term = 'spark' THEN score END), 0.0) AS s_spark,
        |    coalesce(max(CASE WHEN term = 'query' THEN score END), 0.0) AS s_query,
        |    coalesce(max(CASE WHEN term = 'fast' THEN score END), 0.0) AS s_fast
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, s_spark, s_query, s_fast,
        |  (s_spark + s_query + s_fast) AS bm25
        |FROM per ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,

    "q_cooccur_pmi" ->
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, $CoocCap)) AS tok
         |  FROM documents),
         |marg AS (SELECT tok, COUNT(*) AS c_tok FROM dt GROUP BY tok),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.tok AS tok_u, b.tok AS tok_v, COUNT(*) AS c_uv
         |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY a.tok, b.tok HAVING COUNT(*) >= 5)
         |SELECT tok_u, tok_v, c_uv, mu.c_tok AS c_u, mv.c_tok AS c_v,
         |  CAST(n.n_docs * c_uv AS DOUBLE) / CAST(mu.c_tok * mv.c_tok AS DOUBLE) AS lift
         |FROM pairs
         |JOIN marg mu ON pairs.tok_u = mu.tok
         |JOIN marg mv ON pairs.tok_v = mv.tok
         |CROSS JOIN n
         |ORDER BY lift DESC, tok_u, tok_v LIMIT 100""".stripMargin,

    "q_token_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
        |top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 200),
        |r AS (
        |  SELECT tok, n,
        |    row_number() OVER (ORDER BY n DESC, tok) AS rnk,
        |    CAST(SUM(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM top)
        |SELECT rnk, tok, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM r CROSS JOIN tot ORDER BY rnk""".stripMargin,

    "q_source_gini" ->
      """WITH cl AS (
        |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_langs,
        |  1.0 - CAST(SUM(c * c) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE) AS gini
        |FROM cl GROUP BY source ORDER BY source""".stripMargin,

    "q_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |bg AS (
        |  SELECT a[CAST(i AS INTEGER)] AS w1, a[CAST(i AS INTEGER) + 1] AS w2
        |  FROM (SELECT a, unnest(range(1, len(a))) AS i
        |        FROM toks WHERE len(a) > 1) t),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |vocab AS (
        |  SELECT COUNT(DISTINCT w) AS v
        |  FROM (SELECT unnest(a) AS w FROM toks) u),
        |top20 AS (
        |  SELECT w1, c1, ctx_rank FROM (
        |    SELECT w1, c1,
        |      ROW_NUMBER() OVER (ORDER BY c1 DESC, w1) AS ctx_rank
        |    FROM c1) r WHERE ctx_rank <= 20),
        |nx AS (
        |  SELECT t.ctx_rank, c12.w1, c12.w2, c12.c12, t.c1,
        |    ROW_NUMBER() OVER (PARTITION BY c12.w1
        |      ORDER BY c12.c12 DESC, c12.w2) AS nx_rank
        |  FROM c12 JOIN top20 t ON c12.w1 = t.w1)
        |SELECT ctx_rank, w1, nx_rank, w2, c12, c1,
        |  (c12 + 1) * 1000 // (c1 + v) AS p_permille
        |FROM nx CROSS JOIN vocab
        |WHERE nx_rank <= 3
        |ORDER BY ctx_rank, nx_rank, w2""".stripMargin,

    "q_winnow" -> {
      val h = sqlPhash("g", 3) + " % 1000003"
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         |grams AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1] AS g
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i
         |        FROM toks WHERE len(a) > 1) t),
         |keyed AS (
         |  SELECT doc_id, pos, ($h) * 1048576 + (1048575 - pos) AS key
         |  FROM grams),
         |mins AS (
         |  SELECT doc_id, pos,
         |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mn
         |  FROM keyed),
         |sel AS (
         |  SELECT DISTINCT doc_id, 1048575 - (mn % 1048576) AS sel_pos,
         |    mn // 1048576 AS sel_h
         |  FROM mins WHERE pos >= 4),
         |per AS (
         |  SELECT doc_id, COUNT(*) AS n_fp, CAST(SUM(sel_h) AS BIGINT) AS fp_sum,
         |    CAST(MIN(sel_h) AS BIGINT) AS fp_min,
         |    CAST(MAX(sel_h) AS BIGINT) AS fp_max
         |  FROM sel GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(GREATEST(len(a) - 1, 0) AS BIGINT) AS n_grams,
         |  COALESCE(n_fp, 0) AS n_fp,
         |  COALESCE(fp_sum, 0) AS fp_sum,
         |  COALESCE(fp_min, 0) AS fp_min,
         |  COALESCE(fp_max, 0) AS fp_max
         |FROM toks t LEFT JOIN per USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    }
  )
}
