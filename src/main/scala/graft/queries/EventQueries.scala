package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryUtil._

/** Event-time windowing over the `events` table — SURVEY.md §2.2
  * "Streaming" ([E]; the reference itself has no streams).
  *
  * These are the BATCH twins of the Structured Streaming jobs in
  * `graft.streaming.EventStreams`: identical `window`/`session_window`
  * expressions run over `readStream` there, and the ScalaTest suite
  * asserts stream-vs-batch agreement on closed windows (watermark
  * semantics have no DuckDB oracle — SURVEY.md §5).
  *
  * Scale notes: event-time windows shuffle on (window, key) — at 100 TB
  * the streaming form keys state by (user, window) in the state store and
  * the watermark bounds state size; the batch form below is a plain hash
  * aggregate. Session windows merge per-key, so skewed users are the risk
  * — mitigated by AQE skew-split in batch, state TTL in streaming.
  */
object EventQueries {

  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Segment-form linear interpolation over an observed frame
    * (user_id, bucket: 4h-aligned timestamp, sv: non-null double) —
    * the q_interpolate core, factored out so InterpolateSpec can pin
    * it against the dense-grid reference on randomized series. Output:
    * (user_id, bucket, was_gap, sv_interp), unformatted and unsorted.
    * Precondition: sv non-null (a null-sv row would be a gap in the
    * dense-grid form but an observation here). */
  private[queries] def interpolateSegments(
      agg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("bucket"))
    val seg = agg
      .withColumn("nb", lead(col("bucket"), 1).over(wU))
      .withColumn("nv", lead(col("sv"), 1).over(wU))
    // SINGLE-branch emission: each observation row explodes into
    // [itself] ++ [its segment's interior gap buckets]. A two-branch
    // union (observed ∪ gaps) reads nicer but plans a SECOND full
    // events scan+aggregate — the union branches don't canonicalize to
    // a reused exchange, and at 100 TB the duplicate scan is the cost
    // that matters. The per-gap struct lambda is interpreted (HOFs
    // don't codegen), but it runs once per OUTPUT gap row on the small
    // observed frame — the same rows the union form generated anyway.
    // k/span arrive as exact integer-valued doubles (the bucket grid is
    // 14400 s-aligned, and an IEEE division whose true quotient is an
    // integer is exact), so the float formula stays bit-identical to
    // the twin's CAST(int AS DOUBLE) form.
    val stepS = 14400.0
    val gapBuckets = expr(
      "CASE WHEN nb IS NOT NULL AND nb > bucket + INTERVAL 4 HOURS " +
        "THEN sequence(bucket + INTERVAL 4 HOURS, nb - INTERVAL 4 HOURS, " +
        "INTERVAL 4 HOURS) ELSE array() END")
    val obsStruct = struct(col("bucket"),
      lit(false).as("was_gap"), col("sv").as("sv_interp"))
    val gapStructs = transform(gapBuckets, b => {
      val k = (unix_timestamp(b) - unix_timestamp(col("bucket")))
        .cast(DoubleType) / lit(stepS)
      val span = (unix_timestamp(col("nb")) - unix_timestamp(col("bucket")))
        .cast(DoubleType) / lit(stepS)
      struct(b.as("bucket"), lit(true).as("was_gap"),
        (col("sv") + (col("nv") - col("sv")) * k / span).as("sv_interp"))
    })
    seg
      .select(col("user_id"),
        explode(concat(array(obsStruct), gapStructs)).as("r"))
      .select(col("user_id"), col("r.bucket").as("bucket"),
        col("r.was_gap").as("was_gap"), col("r.sv_interp").as("sv_interp"))
  }

  val defs: Map[String, Q] = Map(
    // Sequential-pattern mining: the top-10 3-step event-type paths
    // inside 30-minute-gap sessions. Sessionization is the lag/running-
    // sum island trick (one user-keyed window); the 3-grams come from
    // two lead()s over the SAME (user, session) window partition — the
    // planner runs all three window functions in one exchange — and the
    // path count is a plain hash aggregate on the path string.
    // Event-id tiebreaks make every step deterministic. O(events) work,
    // two shuffles total (user window, path agg).
    "q_session_paths" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val us = unix_micros(col("ts").cast("timestamp"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("gap_us", us - lag(us, 1).over(w))
        .withColumn("new_sess",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy(col("user_id"), col("sess_id"))
        .orderBy(col("ts"), col("event_id"))
      val tri = sess
        .withColumn("e2", lead(col("event_type"), 1).over(w2))
        .withColumn("e3", lead(col("event_type"), 2).over(w2))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
      val top = tri.groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
      top.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("path"))))
        .select(col("rk"), col("path"), col("n"))
        .orderBy(col("rk"))
    }),

    // Weekly cohort retention matrix — cohort = the user's first active
    // week, offset = weeks since, cell = users active at (cohort,
    // offset) with per-mille retention vs the cohort size. Three hash
    // aggregates at (user) / (user, week) grain plus one cohort-keyed
    // broadcast join — no event-grain fan-out, O(weeks²) output.
    "q_cohort_matrix" -> ((s, d) => {
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk")).distinct()
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      val sizes = first.groupBy(col("cw")).agg(count(lit(1)).as("cohort_n"))
      uw.join(first, "user_id")
        .withColumn("offset_w", expr("datediff(wk, cw) DIV 7"))
        .groupBy(col("cw"), col("offset_w"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cw")
        .withColumn("permille", expr("n_active * 1000 DIV cohort_n"))
        .select(col("cw").as("cohort_week"), col("offset_w"),
          col("n_active"), col("cohort_n"), col("permille"))
        .orderBy(col("cohort_week"), col("offset_w"))
    }),

    // Source-freshness / watermark-lag profiler — the observability
    // query an ingestion fleet runs per source at 100 TB: newest event
    // per type (one map-side-combined max), lag behind the global
    // high-water mark in exact seconds, staleness tier by fixed
    // thresholds. The global mark is a 1-row broadcast; everything
    // after the first aggregate is O(sources).
    "q_freshness_lag" -> ((s, d) => {
      val perType = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(max(unix_micros(col("ts").cast("timestamp"))).as("max_us"),
          count(lit(1)).as("n"))
      val global = perType.agg(max(col("max_us")).as("wm_us"))
      perType.crossJoin(broadcast(global))
        .withColumn("lag_s", expr("(wm_us - max_us) DIV 1000000"))
        .withColumn("tier", when(col("lag_s") < 60, "fresh")
          .when(col("lag_s") < 3600, "lagging").otherwise("stale"))
        .select(col("event_type"), col("n"), col("max_us"), col("lag_s"),
          col("tier"))
        .orderBy(col("event_type"))
    }),

    // Exact 7-day rolling distinct active users per day — the DAU/WAU
    // family's hard case: COUNT(DISTINCT) over a sliding frame can't be
    // expressed as a window aggregate (distinct state isn't
    // subtractable as the frame slides). Shape: dedup to (day, user)
    // grain FIRST (one hash aggregate over the raw events), then fan
    // each pair out to the ≤7 window-end days it contributes to — a
    // bounded ×7 explode of the small deduped frame, not of the raw
    // events — dedup (end, user), count per end. Work is
    // O(7 · |distinct (day,user)|) regardless of raw event volume; the
    // event-grain range self-join this replaces shuffles the fact table
    // twice and fans out at row grain.
    "q_sliding_distinct" -> ((s, d) => {
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val ends = du
        .select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("day"), col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct()
      ends.join(days, "day")
        .groupBy(col("day")).agg(count(lit(1)).as("n_active_7d"))
        .orderBy(col("day"))
    }),

    // Incremental materialized-view maintenance — the nightly-batch
    // contract at 100 TB: the standing per-type aggregate (count +
    // exact cents sum) is NOT recomputed from full history. The new
    // partition's delta is aggregated alone (O(delta) — here the tail
    // of the month behind a pushed-down ts predicate) and MERGED with
    // the stored base partials (O(keys)) — the same partial-merge
    // algebra Spark's partial aggregation uses within a job, applied
    // across runs. The oracle recomputes from scratch, so the gate
    // proves merge == recompute.
    "q_mv_maintain" -> ((s, d) => {
      val cutoff = lit("2024-01-25 00:00:00").cast(TimestampType)
      def part(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast(DecimalType(38, 0)))
            .as("cents"))
        .withColumn("part", lit(tag))
      val ev = Tables.events(s, d)
      val base = part(ev.filter(col("ts") < cutoff), "base")
      val delta = part(ev.filter(col("ts") >= cutoff), "delta")
      base.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(
          coalesce(sum(when(col("part") === "base", col("n"))), lit(0L))
            .as("base_n"),
          coalesce(sum(when(col("part") === "delta", col("n"))), lit(0L))
            .as("delta_n"),
          sum(col("n")).as("total_n"),
          (sum(col("cents")).cast(DoubleType) / 100.0).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // Tumbling 15-minute windows per event type.
    "q_window_tumbling" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(fmt(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // Sliding windows: 30-minute width, 15-minute slide.
    "q_window_sliding" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(fmt(col("w.start")).as("w_start"), col("n"), col("sum_value"))
        .orderBy(col("w_start"))
    }),

    // Session windows: 5-minute inactivity gap per user.
    "q_window_session" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "5 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), fmt(col("w.start")).as("sess_start"),
          fmt(col("w.end")).as("sess_end"), col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Stateful-dedup batch twin: first event per (user, type), explicit
    // order — mirrors dropDuplicatesWithinWatermark keyed semantics.
    // The argmin is PACK-ENCODED instead of min_by(_, struct(ts, id)):
    // a struct ordering key is a var-length aggregation buffer, which
    // HashAggregate cannot hold, so the planner falls to SortAggregate
    // (every task sorts its rows by group key — the CodegenAudit
    // SORT-AGG class). ts_micros · 10¹⁹ + event_id in DECIMAL(38,0) is
    // order-isomorphic to the (ts, id) lexicographic order for any
    // NON-NEGATIVE int64 id (10¹⁹ > Long.MaxValue; max value ~1.8e34
    // fits DECIMAL(38)), and fixed-precision decimals ARE mutable
    // buffer types — the agg hash-aggregates. Priced on the 100×
    // replica (A/B added in f2b0c62, same-JVM alternating, argmin agreement
    // verified exact): 1.0 → 0.6 s best-of, faster on every rep.
    //
    // DOMAIN CONTRACT (round-10 advice): the pack is order-isomorphic
    // for ANY ts (a pre-epoch ts just makes pk negative; ts·B + id with
    // 0 ≤ id < B is still lexicographic, and the pmod decode below is
    // sign-safe) but REQUIRES event_id ≥ 0 — a negative id would break
    // the isomorphism silently, so it raises at runtime instead
    // (codegen'd branch on an already-read column; the min_by form had
    // no restriction, and this guard is what makes dropping it safe).
    "q_event_dedup_first" -> ((s, d) => {
      val packBase = expr("CAST(10000000000000000000 AS DECIMAL(38,0))")
      val guardedId = when(col("event_id") >= 0, col("event_id"))
        .otherwise(raise_error(concat(
          lit("q_event_dedup_first: negative event_id breaks the " +
            "packed-decimal argmin contract: "),
          // coalesce: a NULL id also lands here, and concat(lit, NULL)
          // is NULL — the error must still name the query.
          coalesce(col("event_id").cast("string"), lit("NULL")))))
      Tables.events(s, d)
        .withColumn("pk",
          unix_micros(col("ts").cast("timestamp")).cast("decimal(38,0)") *
            packBase + guardedId)
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          min(col("pk")).as("pk_min"),
          fmt(min(col("ts"))).as("first_ts"),
          count(lit(1)).as("n_total"))
        .select(col("user_id"), col("event_type"),
          pmod(col("pk_min"), packBase).cast("long").as("first_event_id"),
          col("first_ts"), col("n_total"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Ordered funnel (view → click-after-view → purchase-after-click,
    // each step within a 24 h conversion window of the previous one):
    // three chained per-user aggregates — each step's anchor is the
    // previous step's first qualifying timestamp, so the steps must
    // happen IN ORDER and in time, not merely all occur. The window is
    // what makes the gate meaningful: without it, every generated user
    // eventually completes and the stage classification collapses to a
    // single row. Output is the per-stage user count plus the mean
    // view→purchase latency of completers (exact integer microseconds
    // summed, divided once). Shape: three hash aggregates keyed by
    // user — same shuffle key, so Catalyst reuses the partitioning; no
    // windows over the full event stream.
    "q_funnel" -> ((s, d) => {
      val conv = expr("INTERVAL 24 HOURS")
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("v_ts"))
      val c = e.join(v, Seq("user_id"))
        .groupBy(col("user_id"), col("v_ts"))
        .agg(min(when(col("event_type") === "click" && col("ts") > col("v_ts")
          && col("ts") <= col("v_ts") + conv, col("ts"))).as("c_ts"))
      val p = e.join(c, Seq("user_id"))
        .groupBy(col("user_id"), col("v_ts"), col("c_ts"))
        .agg(min(when(col("event_type") === "purchase" && col("ts") > col("c_ts")
          && col("ts") <= col("c_ts") + conv, col("ts"))).as("p_ts"))
      val staged = p.select(
        when(col("p_ts").isNotNull, 3)
          .when(col("c_ts").isNotNull, 2)
          .when(col("v_ts").isNotNull, 1)
          .otherwise(0).as("stage"),
        // NTZ→timestamp is identity wall-clock in this UTC session, so
        // unix_micros matches DuckDB's epoch_us on the naive values.
        when(col("p_ts").isNotNull,
          unix_micros(col("p_ts").cast("timestamp"))
            - unix_micros(col("v_ts").cast("timestamp"))).as("lat_us"))
      staged.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"),
          (sum(col("lat_us")).cast(DoubleType) / count(col("lat_us")))
            .as("avg_view_to_purchase_us"))
        .orderBy(col("stage"))
    }),

    // Time-series gap-fill + forward-fill: a dense per-user 4-hour
    // bucket grid from first to last activity (explode(sequence)), left
    // join the sparse hourly aggregates, carry the last observed value
    // across gaps with last(_, ignoreNulls) over an ordered frame — the
    // resampling step every metrics pipeline needs. Grid size is
    // bounded (span/bucket per user); the fill is one window over the
    // (user) shuffle.
    "q_gap_fill" -> ((s, d) => {
      val e = Tables.events(s, d)
      val agg = e.groupBy(col("user_id"), window(col("ts"), "4 hours").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
        .select(col("user_id"), col("w.start").as("bucket"), col("n"), col("sv"))
      // Bounds come FROM the aggregated buckets (min/max window start),
      // not from a second raw scan: one source pass instead of two, and
      // the grid endpoints use window()'s own flooring by construction
      // (a hand-rolled `div`-based floor truncates toward zero and
      // diverges from the bucketing for pre-epoch timestamps).
      val bounds = agg.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("t0"), max(col("bucket")).as("t1"))
      val grid = bounds.select(col("user_id"),
        explode(expr("sequence(t0, t1, INTERVAL 4 HOURS)")).as("bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      grid.join(agg, Seq("user_id", "bucket"), "left")
        .withColumn("sv_filled", last(col("sv"), ignoreNulls = true).over(w))
        .select(col("user_id"), fmt(col("bucket")).as("bucket"),
          coalesce(col("n"), lit(0L)).as("n"), col("sv_filled"),
          col("n").isNull.as("was_gap"))
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Gaps-and-islands: longest consecutive-day activity streak per
    // user. Island id = epoch_day - dense_rank (constant within a
    // consecutive run, distinct across gaps); one window + one aggregate
    // on the (user) shuffle. Integer day arithmetic only.
    // Time-series LINEAR INTERPOLATION across gaps (the companion to
    // q_gap_fill's LOCF): a gap bucket takes prev + (next-prev)·k/span
    // between its neighboring observed values. SEGMENT form (round 9):
    // because the per-user range is [min observed bucket, max observed
    // bucket], every gap lies strictly BETWEEN two observations — so
    // instead of densifying a grid and running five window columns
    // (two of them unbounded-following) plus a grid join over it, pair
    // consecutive observations with one lead() window over the SMALL
    // observed frame and explode each segment's interior buckets
    // directly, computing the interpolation from the segment endpoints.
    // The dense frame exists only as generated output rows; the window
    // sort, the grid join and two of the three dense-frame sorts are
    // gone (solo sf0.1: 4.0 → ~1.5 s; the remaining cost is the events
    // aggregate and the contract's total output sort). k/span are exact
    // integer step counts (buckets are 4h-aligned), and the float
    // formula v0 + (v1-v0)·k/span is the identical expression tree the
    // twin evaluates, so parity is bit-exact. Precondition (holds by
    // construction here: `value` is non-null and dsum of a non-empty
    // bucket is non-null): observed buckets have non-null sv — a
    // null-sv bucket would be a GAP in the old dense-grid form but an
    // observation here.
    "q_interpolate" -> ((s, d) => {
      val e = Tables.events(s, d)
      val agg = e.groupBy(col("user_id"), window(col("ts"), "4 hours").as("w"))
        .agg(dsum(col("value")).as("sv"))
        .select(col("user_id"), col("w.start").as("bucket"), col("sv"))
      interpolateSegments(agg)
        .select(col("user_id"), fmt(col("bucket")).as("bucket"),
          col("was_gap"), col("sv_interp"))
        .orderBy(col("user_id"), col("bucket"))
    }),

    "q_streaks" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"),
          expr("datediff(CAST(ts AS DATE), CAST('2024-01-01' AS DATE))")
            .cast(IntegerType).as("day"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("island", col("day") - dense_rank().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("streak_len"), min(col("day")).as("start_day"))
        .groupBy(col("user_id"))
        .agg(
          max(col("streak_len")).as("longest_streak"),
          max_by(col("start_day"), struct(col("streak_len"), -col("start_day")))
            .as("longest_start_day"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    }),

    // Cohort retention: users grouped by first-seen week; a cell counts
    // the cohort's users active k weeks later. Two aggregates (first
    // seen per user, distinct user-week activity) and one join — epoch-
    // day integer arithmetic only, no timestamp outputs.
    "q_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr("datediff(CAST(ts AS DATE), CAST('2024-01-01' AS DATE)) div 7")
            .cast(IntegerType).as("week"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      val active = e.select(col("user_id"), col("week")).distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }),

    // First-order Markov transition matrix over per-user event
    // sequences — next-action modeling / anomalous-flow detection. The
    // successor comes out of one window pass (the same total
    // (ts, event_id) order every event query uses); transition
    // probability is the exact integer ratio c(from,to)/c(from) in
    // IEEE double. Scale shape: one range-shuffle on user_id for the
    // window, one map-side-combined agg on the (from, to) pair key
    // (≤ |event_type|² groups), marginals joined broadcast.
    "q_markov_transitions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // localCheckpoint: trans is O(event-type²) rows, but its lineage
      // is the full per-user lead() window over the corpus — the marg
      // rollup and the final join each re-ran that window pipeline
      // (ScanAudit round 10: events x2 → x1; the window-pipeline
      // re-derivation class, A/B'd on the q_group_p90 representative).
      val trans = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_trans"))
        .localCheckpoint()
      val marg = trans.groupBy(col("from_type"))
        .agg(sum(col("n_trans")).as("n_from"))
      trans.join(broadcast(marg), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
          (col("n_trans").cast(DoubleType) / col("n_from").cast(DoubleType))
            .as("p_trans"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // INTERVAL COALESCING — merge overlapping validity/activity ranges
    // per key (the continuous-domain cousin of gaps-and-islands; the
    // dedup step for derived availability windows, maintenance windows,
    // IP-lease ranges). Each event spawns a ±120 s activity interval;
    // overlapping-or-touching intervals per user merge into one. The
    // classic one-window idiom: a new island starts where this start
    // exceeds the running max of previous ends; the island id is the
    // running count of starts — one (user)-keyed window pass + one
    // aggregate, no self-join. Epoch-second integers end to end.
    // Scale: one range-shuffle on user_id shared by window and agg;
    // per-user event counts bound partition memory (same argument as
    // every per-user window here).
    "q_interval_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // event_id rides along as the window tiebreaker: with duplicated
      // timestamps a non-total ORDER BY lets the two window passes sort
      // ties differently (the is_new=1 row can land mid-tie-group in
      // the running sum's order, splitting islands nondeterministically
      // — observed on the 10x replica). A unique key pins row identity
      // in BOTH engines.
      val iv = Tables.events(s, d).select(col("user_id"), col("event_id"),
        (expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000") - 120L).as("ivs"),
        (expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000") + 120L).as("ive"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ivs"), col("ive"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val marked = iv
        .withColumn("prev_max_end", max(col("ive")).over(w))
        .withColumn("is_new",
          when(col("prev_max_end").isNull ||
            col("ivs") > col("prev_max_end"), 1L).otherwise(0L))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ivs"), col("ive"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      marked
        .withColumn("island", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("ivs")).as("merged_start"),
          max(col("ive")).as("merged_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("island"), col("merged_start"),
          col("merged_end"),
          (col("merged_end") - col("merged_start")).as("span_s"),
          col("n_events"))
        .orderBy(col("user_id"), col("island"))
    }),

    // OHLC resampling (downsample-to-bars): per (event_type, hour) the
    // open/close values at the explicit total (ts, event_id) order,
    // plus high/low/volume and the exact-cents sum — the time-series
    // densification every metrics store runs. open/close come from ONE
    // window pass each (row_number asc / desc, the portable form — see
    // q_merge_upsert for why not arg_min/arg_max), values are SELECTED,
    // never operated on, so doubles cross engines bit-exactly. Scale
    // shape: both window passes and the final agg share the same
    // (event_type, hour) partitioning — one shuffle; bar count is
    // O(types × hours), orders of magnitude below the event count.
    "q_ohlc_resample" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .withColumn("w_start", fmt(window(col("ts"), "1 hour").getField("start")))
      val wAsc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("w_start"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("w_start"))
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn_o", row_number().over(wAsc))
        .withColumn("rn_c", row_number().over(wDesc))
        .groupBy(col("event_type"), col("w_start"))
        .agg(
          max(when(col("rn_o") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_c") === 1, col("value"))).as("close"),
          count(lit(1)).as("volume"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"), col("w_start"))
    }),

    // CUSUM change-point detection: per event type, the position where
    // the cumulative deviation from the series mean peaks — the
    // classic level-shift detector (monitoring / drift alarms), one
    // tier deeper than the pointwise q_zscore_outliers. ALL-INTEGER
    // contract: instead of Σ(x_j − T/n) in doubles, track the
    // n-SCALED statistic S_i = n·Σx_j − i·T (identical argmax, zero
    // rounding anywhere). The n·running / i·T products grow ~n²·avg
    // and overflow BIGINT long before 100 TB, so they route through
    // DECIMAL(38,0) (HUGEINT in the twin); only the final reported peak
    // casts back to BIGINT — that cast holds to ~3e9 events/type at
    // $100 avg (peak ≤ n·T), beyond which report in a coarser unit.
    // Scale shape (round 9): event_type has ~5 values, so a plain
    // (type)-keyed window runs the whole corpus through 5 tasks — 29.7 s
    // solo at 100× with 27 of 32 cores idle, and a straggler by
    // construction at any real scale. The running sum and position now
    // come from the GROUPED two-pass cumsum (the q_group_p90 /
    // rangeCumsum shape): windows partition by (type, DAY bucket) — the
    // widest sorted partition is one type-day — and per-bucket
    // (count, sum) offsets explode per type and broadcast back (rows
    // sharing a ts share a bucket, so within-bucket (ts, event_id)
    // order + bucket order IS the global order). The argmax is a
    // max_by aggregate over lexicographic (|S|, −rn) — the second
    // whole-type window is gone entirely. Group totals ride in via a
    // broadcast O(types) join, decimal routing unchanged.
    "q_cusum_changepoint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).select(col("event_type"), col("event_id"),
        col("ts"), round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bkt", expr("unix_timestamp(ts) DIV 86400"))
      // ScanAudit round-10 disposition: events x4 is the measured
      // optimum. The checkpoint-btotals-and-roll-up form (tot/mx as
      // rollups of a localCheckpoint'd per-bucket frame, x4 → x2) was
      // A/B'd at 100× (2152177's cusum A/B, 3 alternating reps) and LOST
      // best-of 5.3 vs 4.7 s — the eager checkpoint job costs more
      // than the two page-cached aggregate re-scans it removes (the
      // q_mad_outliers lesson again; unlike q_group_p90's 4 re-runs of
      // a full groupBy+window pipeline, these duplicates are plain
      // map-side-combined aggs).
      val tot = e.groupBy(col("event_type"))
        .agg(sum(col("cents")).as("t_cents"), count(lit(1)).as("n"))
      val wIn = Window.partitionBy(col("event_type"), col("bkt"))
        .orderBy(col("ts"), col("event_id"))
      val within = e
        .withColumn("rn_in", row_number().over(wIn).cast(LongType))
        .withColumn("run_in", sum(col("cents")).over(
          wIn.rowsBetween(Window.unboundedPreceding, 0)))
      val btotals = e.groupBy(col("event_type"), col("bkt"))
        .agg(count(lit(1)).as("bn"), sum(col("cents")).as("bs"))
      val mx = e.groupBy(col("event_type")).agg(max(col("bkt")).as("maxbkt"))
      val offs = btotals.join(broadcast(mx), "event_type")
        .filter(col("bkt") < col("maxbkt"))
        .select(col("event_type"),
          explode(sequence(col("bkt") + 1, col("maxbkt"))).as("bkt"),
          col("bn"), col("bs"))
        .groupBy(col("event_type"), col("bkt"))
        .agg(sum(col("bn")).as("rn_off"), sum(col("bs")).as("run_off"))
      val scored = within
        .join(broadcast(offs), Seq("event_type", "bkt"), "left")
        .withColumn("rn", col("rn_in") + coalesce(col("rn_off"), lit(0L)))
        .withColumn("running", col("run_in") + coalesce(col("run_off"), lit(0L)))
        .join(broadcast(tot), Seq("event_type"))
        .withColumn("s_scaled", expr(
          "CAST(n AS DECIMAL(38,0)) * running - CAST(rn AS DECIMAL(38,0)) * t_cents"))
      scored
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max_by(
            struct(col("rn"), abs(col("s_scaled")).as("abs_s"), col("event_id")),
            struct(abs(col("s_scaled")).as("a"), (-col("rn")).as("nr"))).as("best"))
        .select(col("event_type"), col("n"),
          // rn stays BIGINT end-to-end (matches the twin's row_number):
          // an IntegerType cast would silently wrap negative past 2^31
          // rows per type, inside the ~3e9 bound documented above.
          col("best.rn").as("cusum_pos"),
          col("best.abs_s").cast("long").as("cusum_peak_scaled"),
          col("best.event_id").as("change_event_id"))
        .orderBy(col("event_type"))
    }),

    // LINEAR multi-touch attribution — the companion policy to
    // q_attribution's first-touch: each purchase's value splits EQUALLY
    // across every prior touch (view/click) of that user. The naive
    // form joins purchases × touches (quadratic per user — 12G pairs on
    // the 100× replica); the scale shape instead carries RUNNING
    // per-type touch counts to each purchase row with one conditional-
    // sum window over the (user) partition in total (ts, event_id)
    // order — O(events) end to end, same single shuffle as the other
    // per-user windows. Credit is integer micro-cents with per-purchase
    // truncating division (identical DIV//floor on non-negatives);
    // purchases with no prior touch land in the 'direct' bucket.
    "q_attribution_linear" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = Tables.events(s, d)
        .withColumn("k_view",
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w))
        .withColumn("k_click",
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"),
          round(col("value") * 100).cast("long").as("cents"),
          coalesce(col("k_view"), lit(0L)).as("kv"),
          coalesce(col("k_click"), lit(0L)).as("kc"))
        .withColumn("n", col("kv") + col("kc"))
      // ONE branch, not a union: the n>0 / n=0 split used to re-derive
      // p — and with it the full per-user window pass over ALL events —
      // once per union side (ScanAudit round 10: events x2 → x1). A
      // conditional explode emits the same rows from a single pass:
      // two split-credit structs when touches exist, one 'direct'
      // struct otherwise.
      val credits = p
        .select(explode(when(col("n") > 0, array(
          struct(lit("view").as("touch_type"),
            expr("cents * 10000 * kv DIV n").as("credit_micro")),
          struct(lit("click").as("touch_type"),
            expr("cents * 10000 * kc DIV n").as("credit_micro"))))
          .otherwise(array(
            struct(lit("direct").as("touch_type"),
              (col("cents") * 10000L).as("credit_micro"))))).as("c"))
        .select(col("c.touch_type"), col("c.credit_micro"))
      credits.groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit_micro")).as("credited_micro"))
        .orderBy(col("touch_type"))
    }),

    // First-touch revenue attribution: each user's lifetime purchase
    // value is credited to their FIRST event type (the acquisition
    // channel in a marketing funnel). One window pass finds the first
    // touch (same total order), one agg folds purchases to integer
    // cents per user (exact, order-independent), and the final
    // per-channel rollup divides once at the end — the dsum contract.
    // Scale: both heavy stages key on user_id, so they share one
    // shuffle partitioning; the channel rollup is O(event types).
    "q_attribution" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
      val firstTouch = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_touch"))
      val rev = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast(DecimalType(38, 0))).as("cents"))
      firstTouch.join(rev, Seq("user_id"), "left")
        .groupBy(col("first_touch"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("cents").isNotNull, 1L).otherwise(0L)).as("n_buyers"),
          (sum(col("cents")).cast(DoubleType) / 100.0).as("attributed_rev"))
        .orderBy(col("first_touch"))
    }),

    // CLAMPED running balance (credit-ledger / inventory semantics):
    // per-user wallet where non-purchase events deposit their cents and
    // purchases withdraw, but the balance can never go below zero —
    // B_i = max(0, B_{i-1} + d_i). That recurrence looks inherently
    // sequential (the naive distributed form is a sorted per-user fold
    // in mapGroups), but it is the LINDLEY RECURSION, whose closed form
    // is windowable: B_i = S_i - min(0, min_{k<=i} S_k) over the plain
    // running sum S. A clamp fires at step i iff S_i drops strictly
    // below every earlier prefix (and zero) — a new descending record.
    // So the whole stateful scan is 2 window passes + 1 aggregate over
    // ONE user-keyed exchange, O(events) at any scale, no iterator
    // state anywhere. All-integer contract (cents; BIGINT safe: |S| <=
    // total cents per user, far under 2^63 even at 100 TB per-user
    // volumes).
    "q_clamped_runsum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        when(col("event_type") === "purchase",
          -round(col("value") * 100).cast("long"))
          .otherwise(round(col("value") * 100).cast("long")).as("delta"))
      val scanned = e
        .withColumn("s",
          sum(col("delta")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("mprev",
          min(col("s")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      scanned.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("delta")).as("total_delta_cents"),
          min(col("s")).as("min_s"),
          sum(when(col("s") < least(lit(0L), coalesce(col("mprev"), lit(0L))),
            1L).otherwise(0L)).as("clamp_events"))
        .select(col("user_id"), col("n_events"), col("total_delta_cents"),
          (col("total_delta_cents") - least(lit(0L), col("min_s")))
            .as("final_balance_cents"),
          col("clamp_events"))
        .orderBy(col("user_id"))
    }),

    // Training-feature backfill — the feature-engineering pass an ML
    // pipeline runs over the event log: one row per purchase carrying
    // its lag features (previous purchase amount, days since, trailing-3
    // purchase spend, views since the last purchase). Two window layers,
    // BOTH over the same (user_id) partitioning — the conditional
    // running view-counter rides the all-events frame, the lag/trailing
    // frames ride the purchases-only frame after the filter — so the
    // whole feature matrix costs ONE user-keyed exchange end to end.
    // All-integer contract (cents, counts, day diffs); no raw timestamp
    // in the output.
    "q_lag_features" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = Tables.events(s, d)
        .withColumn("views_cum",
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trail3 = wp.rowsBetween(-3, -1)
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"),
          col("views_cum"))
        .select(col("user_id"), col("event_id"), col("cents"),
          lag(col("cents"), 1).over(wp).as("prev_cents"),
          datediff(col("ts").cast("date"),
            lag(col("ts"), 1).over(wp).cast("date")).cast("long").as("gap_days"),
          sum(col("cents")).over(trail3).as("sum3_cents"),
          count(lit(1)).over(trail3).as("n3"),
          (col("views_cum") - coalesce(lag(col("views_cum"), 1).over(wp),
            lit(0L))).as("views_since"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Time-in-state: per-user dwell durations between consecutive events
    // (the state a user sits in until the next event), aggregated per
    // state — the session-analytics twin of an uptime/SLA report. One
    // lead() over the user-keyed exchange, one hash aggregate; exact
    // integer microseconds end to end (sum ≤ total observed time ≤
    // years·3e13 µs per user — BIGINT-safe at any corpus size).
    "q_time_in_state" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("dwell_us", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dwell_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_dwells"),
          sum(col("dwell_us")).as("total_dwell_us"),
          expr("CAST(sum(dwell_us) DIV count(1) AS BIGINT)").as("mean_dwell_us"),
          max(col("dwell_us")).as("max_dwell_us"))
        .orderBy(col("event_type"))
    }),

    // Interval-overlap join: user sessions (5-minute-gap islands)
    // against the top-25 error-heaviest hours ("incident windows") —
    // which sessions were exposed to an incident, and for how long. The
    // scalable overlap-join shape: sessions EXPLODE onto the hour grid
    // they span (work ∝ session length, not session count × window
    // count), incident hours are a bounded broadcast (top-25), and the
    // per-hour exposure sums are exact integer microseconds (inclusive
    // [start, end] session endpoints). The global rank over per-hour
    // error counts is a bounded-domain window (hours in the corpus time
    // span), the same class as the OHLC/top-k calendars.
    "q_interval_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hourUs = 3600000000L
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val sess = e
        .withColumn("is_new",
          when(col("us") - lag(col("us"), 1).over(wU) >= 300000000L
            || lag(col("us"), 1).over(wU).isNull, 1L).otherwise(0L))
        .withColumn("sess",
          sum(col("is_new")).over(wU.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sess"))
        .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      val incidents = e.filter(col("event_type") === "error")
        .groupBy(expr(s"us DIV $hourUs").as("hr"))
        .agg(count(lit(1)).as("n_errors"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_errors").desc, col("hr"))))
        .filter(col("rk") <= 25).drop("rk")
      sess
        .withColumn("hr", explode(
          expr(s"sequence(s_start DIV $hourUs, s_end DIV $hourUs)")))
        .join(broadcast(incidents), Seq("hr"))
        .groupBy(col("hr"), col("n_errors"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(least(col("s_end"), (col("hr") + 1) * hourUs - 1)
            - greatest(col("s_start"), col("hr") * hourUs) + 1)
            .as("exposure_us"))
        .orderBy(col("hr"))
    }),

    // Wilson-score 95% confidence interval for each event type's user
    // reach (share of all users who fired it at least once) — the
    // interval an experimentation pipeline puts on conversion rates;
    // unlike the normal approximation it stays inside [0,1] at small n.
    // Exact BIGINT numerators (distinct-user counts) convert once to
    // IEEE doubles and every subsequent op (+,*,/,sqrt) is correctly
    // rounded and textually identical in the twin, so the micro-rounded
    // bounds are bit-identical — the library-wide no-transcendental
    // contract (z = 1.96 enters as the literal 3.8416 = z²). Shape: one
    // per-type distinct aggregate + a 1-row total-users broadcast.
    "q_wilson_ci" -> ((s, d) => {
      val e = Tables.events(s, d)
      val perType = e.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("x"))
      val tot = e.agg(countDistinct(col("user_id")).as("n"))
      val p = col("x").cast("double") / col("n").cast("double")
      val nD = col("n").cast("double")
      val z2 = lit(3.8416)
      val denom = lit(1.0) + z2 / nD
      val center = (p + z2 / (lit(2.0) * nD)) / denom
      val half = (lit(1.96) * sqrt(p * (lit(1.0) - p) / nD
        + z2 / (lit(4.0) * nD * nD))) / denom
      perType.crossJoin(broadcast(tot))
        .select(col("event_type"), col("x"), col("n"),
          round(p * 1000000.0).cast("long").as("p_micro"),
          round((center - half) * 1000000.0).cast("long").as("wilson_lo_micro"),
          round((center + half) * 1000000.0).cast("long").as("wilson_hi_micro"))
        .orderBy(col("event_type"))
    }),

    // Exponentially weighted moving average of each user's event value —
    // the feature-store "current user state" snapshot (α = 1/4, window
    // truncated at the 16 most recent events). The truncation makes the
    // weights exact integer rationals: weight(lag j) = 3^j·4^(15−j) over
    // the fixed denominator 4^16, so the BIGINT numerator is
    // bit-identical in the twin with no float pow anywhere, and
    // ewma_milli is its exact integral milli-cent rescale. Domain
    // contract: |cents| < 2.1e6 (|value| ≤ ~$21k) keeps num·1000 < 2^63;
    // ENFORCED with a raise_error guard (round-11 verdict item 7 —
    // same pattern as q_event_dedup_first's negative-id guard), so
    // out-of-contract data fails loudly instead of silently wrapping
    // the BIGINT numerator. events.value ≤ $561 and never null
    // (LmTokenizerSpec replays the numerator sequentially AND pins the
    // guard both ways; a null value would also desync Spark's
    // null-dropping collect_list from DuckDB's null-keeping list()).
    // Shape: ONE user-keyed exchange — the bounded 16-row frame list,
    // the per-user row count, and the latest-row rank all ride the same
    // (user_id / ts, event_id) window sort; the position weight comes
    // from a 16-element literal array inside codegen'd HOFs. No
    // self-join, no second shuffle; at 100 TB the frame stays 16 rows
    // per user regardless of history length.
    "q_ewma" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val weights = (0 to 15).map(j =>
        BigInt(3).pow(j).toLong * BigInt(4).pow(15 - j).toLong)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cents = round(col("value") * 100).cast("long")
      val guardedCents = when(abs(cents) < 2100000L, cents)
        .otherwise(raise_error(concat(
          lit("q_ewma: |value| breaks the BIGINT numerator domain " +
            "contract (|cents| < 2.1e6): "),
          // coalesce: a NULL value also lands here, and concat(lit,
          // NULL) is NULL — the error must still name the query.
          coalesce(col("value").cast("string"), lit("NULL")))))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          guardedCents.as("cents"))
        .withColumn("lst", collect_list(col("cents"))
          .over(w.rowsBetween(-15, 0)))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_events",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === col("n_events"))
        .withColumn("ewma_num", expr(
          "aggregate(transform(sequence(1, size(lst)), i -> " +
            s"element_at(lst, i) * element_at(array(${weights.mkString("L, ")}L), " +
            "size(lst) - i + 1)), 0L, (acc, x) -> acc + x)"))
        .select(col("user_id"), col("n_events"), col("ewma_num"),
          expr("ewma_num * 1000 DIV 4294967296").as("ewma_milli"))
        .orderBy(col("user_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_ewma" -> {
      val weights = (0 to 15).map(j =>
        BigInt(3).pow(j).toLong * BigInt(4).pow(15 - j).toLong)
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |w AS (
         |  SELECT user_id,
         |    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id) AS n
         |  FROM e),
         |num AS (
         |  SELECT user_id, CAST(n AS BIGINT) AS n_events,
         |    CAST(list_sum(list_transform(range(1, len(lst) + 1), i ->
         |      lst[CAST(i AS INTEGER)]
         |        * ([${weights.mkString(", ")}])[CAST(len(lst) - i + 1 AS INTEGER)]
         |    )) AS BIGINT) AS ewma_num
         |  FROM w WHERE rn = n)
         |SELECT user_id, n_events, ewma_num,
         |  ewma_num * 1000 // 4294967296 AS ewma_milli
         |FROM num ORDER BY user_id""".stripMargin
    },

    "q_wilson_ci" ->
      """WITH pt AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS x FROM events
        |  GROUP BY event_type),
        |tot AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
        |c AS (
        |  SELECT event_type, x, n,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM pt CROSS JOIN tot),
        |w AS (
        |  SELECT event_type, x, n, p,
        |    (p + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd) AS center,
        |    (1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        |      / (1.0 + 3.8416 / nd) AS half
        |  FROM c)
        |SELECT event_type, x, n,
        |  CAST(round(p * 1000000.0) AS BIGINT) AS p_micro,
        |  CAST(round((center - half) * 1000000.0) AS BIGINT) AS wilson_lo_micro,
        |  CAST(round((center + half) * 1000000.0) AS BIGINT) AS wilson_hi_micro
        |FROM w ORDER BY event_type""".stripMargin,

    "q_time_in_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |d AS (
        |  SELECT event_type,
        |    LEAD(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dwell_us
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_dwells,
        |  CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
        |  CAST(SUM(dwell_us) // COUNT(*) AS BIGINT) AS mean_dwell_us,
        |  MAX(dwell_us) AS max_dwell_us
        |FROM d WHERE dwell_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_interval_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN us - LAG(us, 1) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) >= 300000000
        |      OR LAG(us, 1) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM e),
        |sess AS (
        |  SELECT user_id, MIN(us) AS s_start, MAX(us) AS s_end
        |  FROM (SELECT user_id, us,
        |      SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |    FROM marked) g
        |  GROUP BY user_id, sess),
        |incidents AS (
        |  SELECT hr, n_errors FROM (
        |    SELECT us // 3600000000 AS hr, COUNT(*) AS n_errors,
        |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, us // 3600000000)
        |        AS rk
        |    FROM e WHERE event_type = 'error' GROUP BY us // 3600000000) t
        |  WHERE rk <= 25),
        |hit AS (
        |  SELECT i.hr, i.n_errors, s.user_id,
        |    LEAST(s.s_end, (i.hr + 1) * 3600000000 - 1)
        |      - GREATEST(s.s_start, i.hr * 3600000000) + 1 AS ov_us
        |  FROM sess s JOIN incidents i
        |    ON i.hr BETWEEN s.s_start // 3600000000 AND s.s_end // 3600000000)
        |SELECT hr, n_errors, COUNT(*) AS n_sessions,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(ov_us) AS BIGINT) AS exposure_us
        |FROM hit GROUP BY hr, n_errors ORDER BY hr""".stripMargin,

    "q_clamped_runsum" ->
      """WITH d AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase'
        |         THEN -CAST(round(value * 100) AS BIGINT)
        |         ELSE CAST(round(value * 100) AS BIGINT) END AS delta
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts, event_id, delta,
        |    CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |  FROM d),
        |m AS (
        |  SELECT user_id, delta, s,
        |    MIN(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mprev
        |  FROM r)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(delta) AS BIGINT) AS total_delta_cents,
        |  CAST(SUM(delta) AS BIGINT)
        |    - LEAST(0, CAST(MIN(s) AS BIGINT)) AS final_balance_cents,
        |  CAST(SUM(CASE WHEN s < LEAST(0, COALESCE(mprev, 0))
        |           THEN 1 ELSE 0 END) AS BIGINT) AS clamp_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_lag_features" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS views_cum
        |  FROM events),
        |p AS (
        |  SELECT user_id, event_id, ts, cents, views_cum FROM e
        |  WHERE event_type = 'purchase')
        |SELECT user_id, event_id, cents,
        |  LAG(cents, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_cents,
        |  CAST(date_diff('day',
        |      CAST(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        AS DATE),
        |      CAST(ts AS DATE)) AS BIGINT) AS gap_days,
        |  CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS sum3_cents,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n3,
        |  views_cum - COALESCE(LAG(views_cum, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id), 0) AS views_since
        |FROM p ORDER BY user_id, event_id""".stripMargin,

    "q_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us
        |  FROM events),
        |g AS (
        |  SELECT *, us - lag(us) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |      THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |t AS (
        |  SELECT event_type || '>' || lead(event_type, 1) OVER w
        |    || '>' || lead(event_type, 2) OVER w AS path
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT path, COUNT(*) AS n FROM t
        |  WHERE path IS NOT NULL GROUP BY path),
        |top AS (
        |  SELECT path, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, path) AS INTEGER) AS rk
        |  FROM c ORDER BY n DESC, path LIMIT 10)
        |SELECT rk, path, n FROM top ORDER BY rk""".stripMargin,

    "q_cohort_matrix" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cw FROM uw GROUP BY 1),
        |sizes AS (SELECT cw, COUNT(*) AS cohort_n FROM f GROUP BY 1),
        |cells AS (
        |  SELECT f.cw,
        |    CAST(date_diff('day', f.cw, u.wk) // 7 AS INTEGER) AS offset_w,
        |    COUNT(*) AS n_active
        |  FROM uw u JOIN f ON u.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT c.cw AS cohort_week, c.offset_w, c.n_active, s.cohort_n,
        |  c.n_active * 1000 // s.cohort_n AS permille
        |FROM cells c JOIN sizes s ON c.cw = s.cw
        |ORDER BY cohort_week, c.offset_w""".stripMargin,

    "q_freshness_lag" ->
      """WITH pt AS (
        |  SELECT event_type, MAX(epoch_us(ts)) AS max_us, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |g AS (SELECT MAX(max_us) AS wm_us FROM pt)
        |SELECT event_type, n, max_us,
        |  (g.wm_us - max_us) // 1000000 AS lag_s,
        |  CASE WHEN (g.wm_us - max_us) // 1000000 < 60 THEN 'fresh'
        |       WHEN (g.wm_us - max_us) // 1000000 < 3600 THEN 'lagging'
        |       ELSE 'stale' END AS tier
        |FROM pt, g ORDER BY event_type""".stripMargin,

    "q_sliding_distinct" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du)
        |SELECT d.day, COUNT(DISTINCT u.user_id) AS n_active_7d
        |FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin,

    "q_mv_maintain" ->
      """WITH base AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS cents
        |  FROM events WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
        |  GROUP BY event_type),
        |delta AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS cents
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
        |  GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, cents, 'base' AS part FROM base
        |  UNION ALL
        |  SELECT event_type, n, cents, 'delta' AS part FROM delta)
        |SELECT event_type,
        |  CAST(COALESCE(SUM(CASE WHEN part = 'base' THEN n END), 0) AS BIGINT) AS base_n,
        |  CAST(COALESCE(SUM(CASE WHEN part = 'delta' THEN n END), 0) AS BIGINT) AS delta_n,
        |  CAST(SUM(n) AS BIGINT) AS total_n,
        |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_window_tumbling" ->
      s"""SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
         |  event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q_window_sliding" ->
      s"""WITH e AS (
         |  SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
         |                 time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes']) AS w_start,
         |         value
         |  FROM events)
         |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM e GROUP BY 1 ORDER BY w_start""".stripMargin,

    "q_window_session" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              >= INTERVAL '5 minutes' OR
         |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM marked)
         |SELECT user_id,
         |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
         |  strftime(MAX(ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS sess_end,
         |  COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM sess GROUP BY user_id, sess_id
         |ORDER BY user_id, sess_start""".stripMargin,

    "q_cusum_changepoint" ->
      """WITH e AS (
        |  SELECT event_type, event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |tot AS (
        |  SELECT event_type, CAST(SUM(cents) AS BIGINT) AS t_cents,
        |    COUNT(*) AS n
        |  FROM e GROUP BY event_type),
        |scored AS (
        |  SELECT e.event_type, e.event_id, tot.n,
        |    row_number() OVER (PARTITION BY e.event_type
        |                       ORDER BY ts, event_id) AS rn,
        |    CAST(SUM(cents) OVER (PARTITION BY e.event_type
        |                          ORDER BY ts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS running,
        |    t_cents
        |  FROM e JOIN tot ON tot.event_type = e.event_type),
        |best AS (
        |  SELECT event_type, n, rn, event_id,
        |    abs(CAST(n AS HUGEINT) * running - CAST(rn AS HUGEINT) * t_cents) AS s_abs,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY abs(CAST(n AS HUGEINT) * running
        |                                    - CAST(rn AS HUGEINT) * t_cents) DESC, rn)
        |      AS rb
        |  FROM scored)
        |SELECT event_type, n, rn AS cusum_pos,
        |  CAST(s_abs AS BIGINT) AS cusum_peak_scaled,
        |  event_id AS change_event_id
        |FROM best WHERE rb = 1
        |ORDER BY event_type""".stripMargin,

    "q_attribution_linear" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS kv0,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS kc0
        |  FROM events),
        |p AS (
        |  SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    COALESCE(kv0, 0) AS kv, COALESCE(kc0, 0) AS kc,
        |    COALESCE(kv0, 0) + COALESCE(kc0, 0) AS n
        |  FROM e WHERE event_type = 'purchase'),
        |credits AS (
        |  SELECT 'view' AS touch_type, cents * 10000 * kv // n AS credit_micro
        |  FROM p WHERE n > 0
        |  UNION ALL
        |  SELECT 'click', cents * 10000 * kc // n FROM p WHERE n > 0
        |  UNION ALL
        |  SELECT 'direct', cents * 10000 FROM p WHERE n = 0)
        |SELECT touch_type, COUNT(*) AS n_credits,
        |  CAST(SUM(credit_micro) AS BIGINT) AS credited_micro
        |FROM credits GROUP BY touch_type
        |ORDER BY touch_type""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) - 120 AS ivs,
        |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) + 120 AS ive
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, ivs, ive,
        |    CASE WHEN max(ive) OVER (PARTITION BY user_id ORDER BY ivs, ive, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           IS NULL
        |      OR ivs > max(ive) OVER (PARTITION BY user_id ORDER BY ivs, ive, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM iv),
        |run AS (
        |  SELECT user_id, ivs, ive,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ivs, ive, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM marked)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  MIN(ivs) AS merged_start, MAX(ive) AS merged_end,
        |  MAX(ive) - MIN(ivs) AS span_s,
        |  COUNT(*) AS n_events
        |FROM run GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,

    "q_ohlc_resample" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
         |    ts, event_id, value
         |  FROM events),
         |r AS (
         |  SELECT event_type, w_start, value,
         |    row_number() OVER (PARTITION BY event_type, w_start
         |                       ORDER BY ts, event_id) AS rn_o,
         |    row_number() OVER (PARTITION BY event_type, w_start
         |                       ORDER BY ts DESC, event_id DESC) AS rn_c
         |  FROM e)
         |SELECT event_type, w_start,
         |  MAX(CASE WHEN rn_o = 1 THEN value END) AS open,
         |  MAX(value) AS high,
         |  MIN(value) AS low,
         |  MAX(CASE WHEN rn_c = 1 THEN value END) AS close,
         |  COUNT(*) AS volume,
         |  ${sqlDsum("value")} AS sum_value
         |FROM r GROUP BY event_type, w_start
         |ORDER BY event_type, w_start""".stripMargin,

    "q_event_dedup_first" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type,
        |  MAX(CASE WHEN rn = 1 THEN event_id END) AS first_event_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        |  COUNT(*) AS n_total
        |FROM r GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, v.v_ts,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts > v.v_ts
        |             AND e.ts <= v.v_ts + INTERVAL '24 hours' THEN e.ts END) AS c_ts
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  GROUP BY e.user_id, v.v_ts),
        |p AS (
        |  SELECT e.user_id, c.v_ts, c.c_ts,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.c_ts
        |             AND e.ts <= c.c_ts + INTERVAL '24 hours' THEN e.ts END) AS p_ts
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  GROUP BY e.user_id, c.v_ts, c.c_ts),
        |staged AS (
        |  SELECT
        |    CASE WHEN p_ts IS NOT NULL THEN 3
        |         WHEN c_ts IS NOT NULL THEN 2
        |         WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |    CASE WHEN p_ts IS NOT NULL THEN epoch_us(p_ts) - epoch_us(v_ts) END AS lat_us
        |  FROM p)
        |SELECT stage, COUNT(*) AS n_users,
        |  CAST(SUM(lat_us) AS DOUBLE) / COUNT(lat_us) AS avg_view_to_purchase_us
        |FROM staged GROUP BY stage ORDER BY stage""".stripMargin,

    "q_gap_fill" ->
      s"""WITH agg AS (
         |  SELECT user_id, CAST(time_bucket(INTERVAL '4 hours', ts) AS TIMESTAMP) AS bucket,
         |    COUNT(*) AS n, ${sqlDsum("value")} AS sv
         |  FROM events GROUP BY 1, 2),
         |bounds AS (
         |  SELECT user_id, MIN(bucket) AS t0, MAX(bucket) AS t1
         |  FROM agg GROUP BY user_id),
         |grid AS (
         |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL '4 hours')) AS bucket
         |  FROM bounds),
         |j AS (
         |  SELECT g.user_id, g.bucket, agg.n, agg.sv
         |  FROM grid g LEFT JOIN agg ON agg.user_id = g.user_id AND agg.bucket = g.bucket),
         |f AS (
         |  SELECT user_id, bucket, n,
         |    last_value(sv IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_filled
         |  FROM j)
         |SELECT user_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
         |  COALESCE(n, 0) AS n, sv_filled, n IS NULL AS was_gap
         |FROM f ORDER BY user_id, bucket""".stripMargin,

    "q_interpolate" ->
      s"""WITH agg AS (
         |  SELECT user_id, CAST(time_bucket(INTERVAL '4 hours', ts) AS TIMESTAMP) AS bucket,
         |    ${sqlDsum("value")} AS sv
         |  FROM events GROUP BY 1, 2),
         |bounds AS (
         |  SELECT user_id, MIN(bucket) AS t0, MAX(bucket) AS t1
         |  FROM agg GROUP BY user_id),
         |grid AS (
         |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL '4 hours')) AS bucket
         |  FROM bounds),
         |j AS (
         |  SELECT g.user_id, g.bucket, agg.sv
         |  FROM grid g LEFT JOIN agg ON agg.user_id = g.user_id AND agg.bucket = g.bucket),
         |w0 AS (
         |  SELECT user_id, bucket, sv,
         |    row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS idx
         |  FROM j),
         |w AS (
         |  SELECT user_id, bucket, sv, idx,
         |    last_value(sv IGNORE NULLS) OVER ob AS prev_v,
         |    last_value(CASE WHEN sv IS NOT NULL THEN idx END IGNORE NULLS) OVER ob AS prev_i,
         |    first_value(sv IGNORE NULLS) OVER of AS next_v,
         |    first_value(CASE WHEN sv IS NOT NULL THEN idx END IGNORE NULLS) OVER of AS next_i
         |  FROM w0
         |  WINDOW ob AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         of AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
         |  sv IS NULL AS was_gap,
         |  CASE WHEN sv IS NOT NULL THEN sv
         |       WHEN prev_v IS NULL THEN NULL
         |       WHEN next_v IS NULL THEN prev_v
         |       ELSE prev_v + (next_v - prev_v)
         |              * CAST(idx - prev_i AS DOUBLE) / CAST(next_i - prev_i AS DOUBLE)
         |  END AS sv_interp
         |FROM w ORDER BY user_id, bucket""".stripMargin,

    "q_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, island, COUNT(*) AS streak_len, MIN(day) AS start_day
        |  FROM isl GROUP BY user_id, island),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY streak_len DESC, start_day) AS rn
        |  FROM streaks)
        |SELECT user_id,
        |  MAX(streak_len) AS longest_streak,
        |  MAX(CASE WHEN rn = 1 THEN start_day END) AS longest_start_day,
        |  COUNT(*) AS n_streaks
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS INTEGER) AS week
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT c.cohort_week, a.week - c.cohort_week AS weeks_since, COUNT(*) AS n_users
        |FROM active a JOIN cohort c ON c.user_id = a.user_id
        |GROUP BY c.cohort_week, weeks_since
        |ORDER BY cohort_week, weeks_since""".stripMargin,

    "q_markov_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |trans AS (
        |  SELECT from_type, to_type, COUNT(*) AS n_trans
        |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |marg AS (
        |  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
        |  FROM trans GROUP BY from_type)
        |SELECT trans.from_type, to_type, n_trans, n_from,
        |  CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE) AS p_trans
        |FROM trans JOIN marg ON trans.from_type = marg.from_type
        |ORDER BY trans.from_type, to_type""".stripMargin,

    "q_attribution" ->
      """WITH ft AS (
        |  SELECT user_id, event_type AS first_touch
        |  FROM (SELECT user_id, event_type,
        |          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1),
        |rev AS (
        |  SELECT user_id, SUM(CAST(round(value * 100) AS DECIMAL(38,0))) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT first_touch, COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN rev.cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_buyers,
        |  CAST(SUM(rev.cents) AS DOUBLE) / 100.0 AS attributed_rev
        |FROM ft LEFT JOIN rev ON ft.user_id = rev.user_id
        |GROUP BY first_touch ORDER BY first_touch""".stripMargin
  )
}
