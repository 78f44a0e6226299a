package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, xxhash64}

import graft.SparkEntry
import graft.queries._
import perfbench.Main._

/** Workload `fleet_sf01`: passes over a fixed, stratified set of rows of
  * `SparkEntry.queries` on the sf0.1 tables, each row materialized through
  * the `noop` sink, in an order the seed permutes anew for every pass. */
object Fleet {

  /** One row of each of the 13 non-clinical query modules: the module's
    * fastest sf0.1 row, except for Graph and Dedup, whose fastest rows
    * (`q_triangle_count`, `q_dedup_clusters`) spend some 20 s of a fresh
    * JVM building their shared tables. Those two modules are represented by
    * the roadmap rows `q_kcore` (eager checkpoints over the shared bucketed
    * edge tables) and `q_minhash_jaccard_est` (shuffle-heavy dedup), and
    * `q_parquet_scan` (the plain-scan canary) joins them. About 7 s per
    * pass on 4 cores. The two `ClinicalQueries` rows are left out: they
    * read the clinical CSVs from the reference archive, which the benchmark
    * does not ship. */
  val Rows: Seq[String] = Seq(
    "q_json_roundtrip", "q_histogram", "q_join_anti", "q_sort_limit", "q_except",
    "q_explode_outer", "q_window_sliding", "q_text_normalize", "q_weighted_sample",
    "q_lsh_buckets", "q_sql_exists", "q_kcore", "q_minhash_jaccard_est", "q_parquet_scan")

  val ModuleDefs: Seq[(String, Map[String, QueryUtil.Q])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs, "AggQueries" -> AggQueries.defs,
    "JoinQueries" -> JoinQueries.defs, "WindowQueries" -> WindowQueries.defs,
    "SetOpQueries" -> SetOpQueries.defs, "FunctionQueries" -> FunctionQueries.defs,
    "EventQueries" -> EventQueries.defs, "TextQueries" -> TextQueries.defs,
    "TrainPrepQueries" -> TrainPrepQueries.defs, "DedupQueries" -> DedupQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs, "GraphQueries" -> GraphQueries.defs,
    "SqlQueries" -> SqlQueries.defs)

  def moduleOf(row: String): String =
    ModuleDefs.collectFirst { case (m, d) if d.contains(row) => m }
      .getOrElse(throw new IllegalArgumentException(s"$row is in no query module"))

  val SetupReps = 3
  val ExpectedFile = "expected/fleet_sf01.tsv"

  /** Order-insensitive digest of a result: row count and the sum of
    * 32-bit row hashes. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Pinned digests, one `row<TAB>count<TAB>hash` line per row. A row
    * whose output legitimately changes is re-pinned by hand from the digest
    * the check pass logs. */
  def readExpected(bench: Path): Map[String, (Long, Long)] =
    new String(Files.readAllBytes(bench.resolve(ExpectedFile)), UTF_8).split("\n")
      .filter(_.nonEmpty).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap

  /** Drops this row's eager checkpoints (outside every timed window) and
    * reports how many there were. */
  def releaseCheckpoints(spark: SparkSession, before: Set[Int]): Int = {
    val fresh = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    fresh.values.foreach(_.unpersist(blocking = true))
    fresh.size
  }

  /** Entries of the warehouse: one directory per shared table written. */
  def warehouseEntries(warehouse: Path): Int =
    if (!Files.isDirectory(warehouse)) 0
    else { val l = Files.list(warehouse); try l.count().toInt finally l.close() }

  def sharedTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_")).toSeq

  /** Fixture steps and shared derived tables, built from nothing: fixtures
    * into a fresh temp directory, shared tables into an emptied warehouse. */
  def setUp(spark: SparkSession, sf: String, tmp: Path, warehouse: Path): Int = {
    sharedTables(spark).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Etl.deleteTree(warehouse)
    Etl.deleteTree(tmp)
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    graft.sources.DicomFixtures.ensure()
    graft.sources.DicomNearDupFixtures.ensure()
    graft.sources.WavFixtures.ensure()
    graft.sources.VideoFixtures.ensure()
    graft.Tables.documentsSpread(spark, sf)
    // Building each row's DataFrame writes the shared tables it reads.
    Rows.count { r =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      try { SparkEntry.queries(r)(spark, sf); false }
      catch { case NonFatal(e) => log(s"$r failed in set-up: $e"); true }
      finally releaseCheckpoints(spark, before)
    }
  }

  def run(spark: SparkSession, args: Args, cores: Int): Result = {
    // The repository's test tables live in ~/testdata (TESTDATA.md).
    val sf = sys.env.getOrElse("PERFBENCH_SF_DIR",
      Path.of(System.getProperty("user.home"), "testdata", "sf0.1").toString)
    require(new java.io.File(sf, "lineitem.parquet").exists, s"no sf0.1 tables under $sf")
    log("rows of ClinicalQueries are excluded: they read the reference clinical archive")
    val base = args.work.resolve("fleet_sf01")
    val warehouse = args.work.resolve("warehouse")
    val (setupFailed, setup) = (0 until SetupReps).map { i =>
      time(setUp(spark, sf, base.resolve(s"tmp$i"), warehouse))
    }.unzip
    log(s"set-up ${setup.map(s => f"$s%.2f").mkString(" ")} s")
    val queries = Rows.map(r => r -> SparkEntry.queries(r)).toMap
    val samples = new Samples
    samples.attempted = SetupReps * Rows.size
    samples.failed = setupFailed.sum

    // Check pass: every row's result against its pinned digest. It also
    // warms the JIT and the code generator for the timed passes.
    val expected = readExpected(args.bench)
    Rows.foreach { r =>
      samples.attempted += 1
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      try {
        val (d, secs) = time(digest(queries(r)(spark, sf)))
        log(f"check pass: $r $secs%.3f s")
        if (!expected.get(r).contains(d)) {
          samples.failed += 1
          log(s"$r: digest $d, expected ${expected.get(r)}")
        }
      } catch {
        case NonFatal(e) => samples.failed += 1; log(s"$r failed in the check pass: $e")
      } finally releaseCheckpoints(spark, before)
    }
    log("check pass done")

    val traced = if (args.trace) Some((new Tracer(s"fleet_sf01-${args.seed}"), Probe.install(spark)))
      else None
    val rnd = new Random(args.seed)
    val passes = rounds(args.seconds)
    var checkpoints = 0
    var built = 0
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    for (_ <- 0 until passes) {
      rnd.shuffle(Rows).foreach { r =>
        samples.attempted += 1
        val module = moduleOf(r)
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val tables = warehouseEntries(warehouse)
        def once(): Unit = traced match {
          case None => noop(queries(r)(spark, sf))
          case Some((t, p)) => t.span("op") {
            p.attribute(r) {
              val df = t.span(s"build:$module")(queries(r)(spark, sf))
              t.span(s"exec:$module")(noop(df))
            }
            t.span("trace.drain")(p.settle())
          }
        }
        try samples.add(r, time(once())._2)
        catch {
          case NonFatal(e) => samples.failed += 1; log(s"$r failed: $e")
        } finally {
          checkpoints += releaseCheckpoints(spark, before)
          built += warehouseEntries(warehouse) - tables
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcSeconds - gc0
    log(s"$passes passes over ${Rows.size} rows; per-row medians: " +
      samples.secs.toSeq.sortBy(_._1).map { case (r, xs) => f"$r=${Stats.median(xs.toSeq)}%.3f" }
        .mkString(" "))
    val metrics = traced match {
      case Some((t, pr)) =>
        t.write(args.work.resolve("spans.tsv"))
        val self = Trace.selfSeconds(t.spans)
        def sum(prefix: String) = self.filter(_._1.startsWith(prefix)).values.sum / passes
        val perModule = Layers.Modules.map { m =>
          s"queries.$m.sum_s" -> (self.getOrElse(s"build:$m", 0.0) + self.getOrElse(s"exec:$m", 0.0)) / passes
        }.toMap
        val layer = Map(
          "fleet.build_s" -> sum("build:"),
          "fleet.exec_s" -> sum("exec:"),
          "queryutil.checkpoint_rdds" -> checkpoints.toDouble / passes,
          "queryutil.shared_tables_built" -> built.toDouble / passes)
        val drains = self.getOrElse("trace.drain", 0.0)
        Layers.emit(layer ++ perModule ++ Layers.common(wall, passes, cores, pr, gc, drains,
          layer("fleet.build_s") + layer("fleet.exec_s")))
      case None => endToEnd(setup, samples, wall)
    }
    Result(samples.attempted, samples.failed, metrics)
  }
}
