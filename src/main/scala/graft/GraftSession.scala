package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one way every main (and the test suite) builds its session and
  * prepares the query fixtures.
  *
  * The session is `local[cores]` with [[graft.functions.GraftExtensions]]
  * injected, UTC session time, the UI off and one shuffle partition per
  * core. `cores` defaults to [[cpus]]. Callers pass extra confs only where
  * they need a different value (PlanAudit: AQE off; ScaleUp/StreamBench:
  * nanos-as-long parquet timestamps; StreamBench: the RocksDB state store;
  * Bench: its ContextCleaner GC interval).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(conf: (String, String)*): SparkSession = build(cpus, conf: _*)

  def build(cores: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One-time driver-side fixture setup, kept out of every query builder
    * and every timed section: the clinical CSV extraction, the four
    * binary-source fixture trees, and the multi-file documents layout
    * for `sfDir`. A failed documents warm-up is reported on stderr; the
    * queries that need it then fail on their own, loudly. */
  def prepareFixtures(spark: SparkSession, sfDir: String): Unit = {
    queries.ClinicalQueries.fixturePath
    sources.DicomFixtures.ensure()
    sources.DicomNearDupFixtures.ensure()
    sources.WavFixtures.ensure()
    sources.VideoFixtures.ensure()
    try Tables.documentsSpread(spark, sfDir)
    catch { case NonFatal(e) =>
      System.err.println(s"[graft] documentsSpread warm-up failed for $sfDir: $e")
    }
  }
}
