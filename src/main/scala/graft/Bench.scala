package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE full JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`,
  * followed by a <=1600-char COMPACT summary line as the final stdout
  * line (the driver's tail capture is 2000 chars — see the comment at
  * the bottom of `main`).
  *
  * `SPARK_GRAFT_ONLY=q_a,q_b` restricts the run to named queries (for
  * single-query scale spot-checks); unset = full run (the driver mode).
  *
  * Each query is fully materialized through the `noop` sink (computes
  * every output column; a bare `.count()` would let Catalyst prune the
  * whole projection and under-report).
  *
  * CONTENTION-EVIDENT timing (the round-4 lesson: a noisy-neighbor
  * window on the shared host inflated one alphabetical block 3–11× and
  * shipped a 278.9 s artifact for a 186.4 s build):
  *   - `SPARK_GRAFT_BENCH_REPS` (default 2) FULL PASSES over the query
  *     list, each in alphabetical order; a query's reported time is the
  *     BEST across passes. Separated passes — not back-to-back repeats —
  *     so a minutes-long noise window cannot hit both measurements of
  *     the same query.
  *   - a cheap CANARY query re-runs every ~20 queries; its max/min
  *     spread is reported, and `"contended": true` is set when the
  *     spread exceeds 2× — a contended run self-identifies instead of
  *     masquerading as a regression.
  *   - `"value"` stays the comparable sum-of-best; `"wall_sec"` carries
  *     the honest raw wall clock of the whole timed section.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val loadStart = BenchUtil.loadAvg1m() // before ANY work — see BenchUtil
    val ticksStart = BenchUtil.cpuTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val spark = GraftSession.build(cpus,
      // Round 14 (verdict item 1): ContextCleaner reclaims broadcasts /
      // RDDs only when a GC collects their weak refs, and its periodic
      // GC defaults to 30 MIN — an ~8 min fleet run never gets one, so
      // thousands of per-query broadcast relations accumulate until the
      // heap fills and a collection storm lands mid-run (the driver's
      // r13 32-core run showed exactly that signature: one alphabetical
      // block 2.9× slow in BOTH separated passes while canary/steal
      // stayed clean — allocation-rate-dependent, so 8 cores spread it
      // thin). Steady 45 s cleanup keeps the heap level instead.
      "spark.cleaner.periodicGC.interval" -> "45s")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd name must fail loudly, not run zero queries and print a
    // healthy-looking ~0s total.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq
      .filter { case (k, _) => only.forall(_.contains(k)) }
    // Fixture setup out of the timed path (and out of query builders).
    GraftSession.prepareFixtures(spark, sfDir)
    // Warm-up pass at the smallest SF: compiles every query's codegen
    // units and JITs the hot paths, so the timed pass measures the
    // engine rather than first-call classloading. Costs seconds; the
    // smoke data is ~1% of the bench data.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(_) => () }
      }
    }
    // The first timed query otherwise absorbs the warm-up garbage (one
    // major GC) plus target-SF file-listing costs: run it once untimed
    // and collect before the measured pass.
    val ordered = selected.sortBy(_._1)
    ordered.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }
    System.gc()

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      // Snapshot BEFORE the timed call so only THIS query's
      // localCheckpoint RDDs are dropped afterwards (round-13 advice:
      // unpersisting everything silently breaks the moment any fixture
      // persists shared state — no error, just per-query recompute).
      val preIds = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case NonFatal(e) =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Outside the timed section: drop this query's localCheckpoint RDD
      // blocks. Checkpoint-heavy queries otherwise accumulate storage
      // faster than the ContextCleaner reclaims it, and at 100× a
      // late-alphabet query can OOM the shared local-mode heap (measured:
      // the first r12 final-tree 100× pass died at q_pagerank with heap
      // OOM after two new checkpoint-carrying queries joined the fleet).
      // blocking=true so block-removal work cannot bleed into the next
      // query's timed window.
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preIds.contains(id)) rdd.unpersist(true)
      }
      (sec, err)
    }

    // Canary: a cheap fixed query interleaved through every pass. Its
    // own variance bounds the run's ambient load — the queries can't.
    val canaryName = "q_parquet_scan"
    val canaryFn = SparkEntry.queries.get(canaryName)
    val canaryTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runCanary(): Unit = canaryFn.foreach { fn =>
      // Drain the cleaner BEFORE the canary times (outside every timed
      // window): with -XX:+ExplicitGCInvokesConcurrent (build.sbt) this
      // starts a concurrent G1 cycle, not a STW full collection, so the
      // weak-ref'd broadcasts/RDDs of the last ~20 queries get enqueued
      // for cleanup steadily instead of in one mid-run storm (verdict
      // item 1 — the m-block 32-core pathology).
      System.gc()
      val (sec, err) = timeOne(fn)
      if (err.isEmpty) canaryTimes += sec
    }
    // One untimed canary run at the TARGET SF first: its cold first call
    // (file listing + codegen) would otherwise read as 2x+ spread and
    // false-flag an idle run as contended.
    canaryFn.foreach { fn => timeOne(fn) }

    val wall0 = System.nanoTime()
    // reps separated full passes; per query keep every pass's time.
    val passTimes =
      scala.collection.mutable.Map.empty[String, List[(Double, Option[String])]]
        .withDefaultValue(Nil)
    for (_ <- 1 to reps) {
      runCanary()
      ordered.zipWithIndex.foreach { case ((name, fn), i) =>
        passTimes(name) = passTimes(name) :+ timeOne(fn)
        if ((i + 1) % 20 == 0) runCanary()
      }
      runCanary()
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9

    // A crashing query must not read as a performance win: a query with
    // zero successful passes reports NEGATIVE elapsed plus an errors
    // entry (first message wins).
    val results = ordered.map { case (name, _) =>
      val runs = passTimes(name)
      val ok = runs.collect { case (sec, None) => sec }
      val firstErr = runs.collectFirst { case (_, Some(m)) => m }
      if (ok.nonEmpty) (name, ok.min, None)
      else {
        System.err.println(s"[bench] $name failed: ${firstErr.getOrElse("?")}")
        (name, -runs.map(_._1).min, firstErr)
      }
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => "\"" + k + "\":" + Json.str(m.take(200)) }
      .mkString("{", ",", "}")
    val total = results.map { case (_, v, _) => math.abs(v) }.sum
    val canarySpread =
      if (canaryTimes.size >= 2) canaryTimes.max / canaryTimes.min else 1.0
    // Robust noise statistic (round 10): raw max/min spread trips on a
    // SINGLE transient spike in an otherwise-quiet run (measured: a
    // 39-sample run with 37 canaries in a tight 0.18-0.56 band and two
    // brief 1.4/3.2 s spikes read spread=18) — but the per-query times
    // are best-of-N SEPARATED passes, which filter brief spikes by
    // construction. Only SUSTAINED noise invalidates the run, so the
    // gate trips when >25% of canary samples exceed 2× the canary
    // MEDIAN. Raw spread and every sample stay in the artifact.
    val canaryMed =
      if (canaryTimes.nonEmpty) canaryTimes.sorted.apply(canaryTimes.size / 2)
      else 0.0
    val overFrac =
      if (canaryTimes.nonEmpty)
        canaryTimes.count(_ > 2.0 * canaryMed).toDouble / canaryTimes.size
      else 0.0
    // Two independent contention signals (round-9 lesson: a UNIFORM
    // noise floor slows canary and queries alike, so a canary statistic
    // alone passes a slow run — SCALE.md round-9 fleet section): the
    // sustained-canary fraction catches neighbor bursts, pre-run
    // loadavg catches the steady floor the canary provably misses.
    val loadEnd = BenchUtil.loadAvg1m()
    // Third signal (round 10): CPU-steal fraction over the whole run —
    // the VM-neighbor regime where loadavg stays low and canary spread
    // stays ~1 while every task runs uniformly slow (measured: an
    // sf0.1 fleet pass with clean load/canary gates but wall 682 s vs
    // a quiet host's 390 s for identical reps).
    val stealFrac = BenchUtil.stealFrac(ticksStart, BenchUtil.cpuTicks())
    val spreadTrip = overFrac > 0.25
    val loadTrip = BenchUtil.loadContended(loadStart, cpus)
    val stealTrip = stealFrac > 0.05
    val contended = spreadTrip || loadTrip || stealTrip
    val contendedBy =
      (if (spreadTrip) List("spread") else Nil) ++
        (if (loadTrip) List("load") else Nil) ++
        (if (stealTrip) List("steal") else Nil)
    val canaryJson = canaryTimes.map(t => f"$t%.3f").mkString("[", ",", "]")

    // ---- regime fingerprint vs the committed clean baseline (round-11
    // verdict item 2). "Host floor" vs "code regression" was adjudicated
    // by hand each round — an unfalsifiable-by-default escape hatch for
    // real regressions. Bench now compares this run's per-query times
    // against the pinned clean baseline for the same data grain
    // (tools/golden/bench_baseline_*.json; provenance inside each file)
    // and classifies the run:
    //   clean   — median ratio <= 1.15: inside the same-tree noise band
    //   floor   — median > 1.15 AND ratio-p10 >= 1.0: the WHOLE fleet is
    //             elevated — the ambient-host signature (the r11 judge
    //             measured deciles 1.06/1.34/1.83 on a run every
    //             contention gate passed)
    //   suspect — median > 1.15 with p10 < 1.0: movement is concentrated
    //             on some queries while others hold — code-shaped;
    //             investigate before trusting the total
    // Independent of the regime, `outliers` names queries at ratio > 2x
    // AND delta > 1 s — per-query regressions visible even in clean runs.
    val fingerprintJson: Option[String] = {
      val grain = new java.io.File(sfDir).getName match {
        case "sf0.1" => Some("sf01")
        case "graft_sf1" => Some("10x")
        case "graft_sf100" => Some("100x")
        case _ => None
      }
      grain.flatMap { g =>
        val f = new java.io.File(s"tools/golden/bench_baseline_$g.json")
        if (!f.isFile) None
        else {
          val text = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          // tolerate both compact and pretty JSON (": " separators)
          val qm = """"queries":\s*\{([^}]*)\}""".r
            .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
          val base = """"([^"]+)":\s*(-?[0-9][0-9.eE+-]*)""".r
            .findAllMatchIn(qm).map(m => m.group(1) -> m.group(2).toDouble)
            .toMap
          val common = results.collect {
            case (k, v, None) if v > 0 && base.get(k).exists(_ > 0) =>
              (k, v, base(k))
          }
          // A baseline file that parses to (almost) nothing must not be
          // silently read as "no baseline" (round-13 advice: regex
          // format drift would quietly delete the fingerprint).
          if (common.size < results.size / 2)
            System.err.println(s"[bench] WARNING: baseline ${f.getPath} " +
              s"matched only ${common.size}/${results.size} queries — " +
              "parse regression or stale baseline?")
          // need a broad sample for deciles to mean anything
          if (common.size < 20) None
          else {
            def pct(xs: Seq[Double], p: Double): Double =
              xs(((xs.size - 1) * p).round.toInt)
            val deltas = common.map { case (_, v, b) => v - b }.sorted
            val ratios = common.map { case (_, v, b) => v / b }.sorted
            val p10 = pct(ratios, 0.1)
            val p50 = pct(ratios, 0.5)
            val p90 = pct(ratios, 0.9)
            val medDelta = pct(deltas, 0.5)
            val regime =
              if (p50 <= 1.15) "clean"
              else if (p10 >= 1.0) "floor"
              else "suspect"
            val outliers = common
              .collect { case (k, v, b) if v / b > 2.0 && v - b > 1.0 =>
                (k, v / b) }
              .sortBy(-_._2).take(10)
              .map { case (k, r) => f""""$k":$r%.2f""" }
              .mkString("{", ",", "}")
            Some(
              s"""{"baseline":"tools/golden/bench_baseline_$g.json",""" +
                s""""n_common":${common.size},""" +
                f""""median_delta_sec":$medDelta%.3f,""" +
                f""""ratio_p10":$p10%.3f,"ratio_p50":$p50%.3f,""" +
                f""""ratio_p90":$p90%.3f,""" +
                s""""regime":"$regime","outliers":$outliers}""")
          }
        }
      }
    }
    val fingerprintField =
      fingerprintJson.map(j => s""""fingerprint":$j,""").getOrElse("")
    val regimeField = fingerprintJson
      .flatMap(j => """"regime":"([a-z]+)"""".r.findFirstMatchIn(j))
      .map(m => s""""regime":"${m.group(1)}",""").getOrElse("")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""errors":$errs,"sf":"$sfDir","reps":$reps,"wall_sec":$wallSec,""" +
        s""""canary":{"name":"$canaryName","times":$canaryJson,""" +
        f""""spread":$canarySpread%.3f,"median":$canaryMed%.3f,""" +
        f""""over_2x_median_frac":$overFrac%.3f},""" +
        f""""loadavg":{"start":$loadStart%.2f,"end":$loadEnd%.2f},""" +
        f""""steal_frac":$stealFrac%.4f,""" +
        fingerprintField +
        s""""contended":$contended,""" +
        // leak diagnostic (round 14, verdict item 1): RDDs still
        // persisted when the run ends — warm-up/fixture leftovers the
        // preIds-scoped unpersist deliberately never drops. Should stay
        // small and constant; growth here means a query leaks.
        s""""n_persistent_rdds_end":${spark.sparkContext.getPersistentRDDs.size},""" +
        s""""contended_by":${contendedBy.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    println(line)
    // The driver tail-captures stdout and can truncate the per-query map
    // (r1 vs r2 comparison lost 40% of it) — always persist the full
    // line to a file as well. Override with SPARK_GRAFT_BENCH_OUT.
    // Round 14 (verdict item 9): the default is PER-RUN —
    // bench_full_<grain>_c<cpus>.json — so the driver's 32- and 8-core
    // runs stop overwriting each other and full-map diffs can cover all
    // queries instead of the truncated top-slow list.
    val grainName = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9.]", "_")
    val outFileRequested = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(s"bench_full_${grainName}_c$cpus.json").getAbsolutePath)
    // A run with errors must not land under a healthy-looking bench_*
    // basename (round-12 verdict item 5: two crashed partials at the
    // repo root read as passes to a cold consumer): rewrite the
    // basename to partial_<name> unless the caller already marked it.
    val nErrors = results.count(_._3.isDefined)
    val outFile = {
      val f = new java.io.File(outFileRequested)
      val base = f.getName
      if (nErrors > 0 && base.startsWith("bench_") &&
          !base.toLowerCase.contains("partial")) {
        val renamed = new java.io.File(f.getParentFile, "partial_" + base)
        System.err.println(s"[bench] $nErrors queries errored — writing " +
          s"${renamed.getPath} instead of $base")
        renamed.getAbsolutePath
      } else outFileRequested
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // Driver-parser-proof SECOND line (round-11, verdict item 5): the
    // driver keeps only the LAST 2000 chars of stdout (BENCH_r10.json
    // "tail" is exactly 2000 and starts mid-line), so the ~9 KB full
    // line above loses its '{"metric"' head inside that window and the
    // driver has recorded "parsed": null for two consecutive rounds.
    // This line is the same summary under a 1600-char budget — headline
    // stats plus as many of the SLOWEST queries as fit — printed as the
    // very last stdout line (after spark.stop()) so only sbt's ~75-char
    // trailer follows it inside the window. The complete per-query map
    // stays in the full line and in `outFile`.
    val compactHead =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",""" +
        f""""reps":$reps,"wall_sec":$wallSec%.1f,"n_queries":${results.size},""" +
        s""""n_errors":$nErrors,""" +
        f""""steal_frac":$stealFrac%.4f,""" + regimeField +
        s""""contended":$contended,""" +
        s""""contended_by":${contendedBy.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""queries_truncated":true,"queries_full":${Json.str(outFile)},"queries":{"""
    val slowest = results.sortBy { case (_, v, _) => -math.abs(v) }
      .iterator.map { case (k, v, _) => f""""$k":$v%.3f""" }
    val budget = 1600 - compactHead.length - 2 // closing "}}"
    val (kept, _) = slowest.foldLeft((List.empty[String], 0)) {
      case ((acc, used), e) =>
        val cost = e.length + (if (acc.isEmpty) 0 else 1)
        if (used + cost <= budget) (e :: acc, used + cost) else (acc, budget + 1)
    }
    println(compactHead + kept.reverse.mkString(",") + "}}")
  }
}

