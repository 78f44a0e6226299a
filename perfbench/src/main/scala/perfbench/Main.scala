package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  * perfbench.Main --workload <ea1141|fleet_sf01>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --bench <dir>
  * }}}
  *
  * It prints progress on stderr and, as the last stdout line, one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The
  * exit code is non-zero when an operation failed or an output check did
  * not match.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, bench: Path)

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
    def correct: Boolean = failed == 0
    def json: String = {
      val ms = metrics.map { m =>
        require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
        s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
      }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}"""
    }
  }

  /** Samples of one run: per-operation latencies grouped by kind
    * (generate-mapping, one label-query parameterization, one fleet row). */
  final class Samples {
    val secs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    def add(kind: String, s: Double): Unit =
      secs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    def all: Seq[Double] = secs.values.flatten.toSeq
  }

  /** The end-to-end metrics shared by every workload. */
  def endToEnd(setup: Seq[Double], s: Samples, wall: Double): Seq[Metric] = {
    val ops = s.all
    require(ops.nonEmpty, "no operation succeeded")
    val kindMedians = s.secs.values.filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).toSeq
    val (tailP, tail) = Stats.tail(ops)
    System.err.println(f"[perfbench] ${ops.size} ops over ${s.secs.size} kinds in $wall%.2f s; " +
      s"op_tail_ms is p$tailP")
    Seq(
      Metric("setup_s", Stats.median(setup), "s"),
      Metric("op_p50_ms", Stats.median(ops) * 1e3, "ms"),
      Metric("op_tail_ms", tail * 1e3, "ms"),
      Metric("ops_per_s", ops.size / wall, "1/s"),
      Metric("round_sum_s", kindMedians.sum, "s"),
      Metric("round_geomean_s", Stats.geomean(kindMedians), "s"))
  }

  /** A round (one generate-mapping plus 24 load-truths, or one pass over
    * the fleet) takes about this long on 4 cores. */
  val NominalRoundSeconds = 6.0

  /** Whole rounds in a timed section of about `seconds`. The count depends
    * on `seconds` only, so every run of a workload does the same work and
    * reports its tail at the same percentile. */
  def rounds(seconds: Double): Int = math.max(2, math.round(seconds / NominalRoundSeconds).toInt)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val started = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  /** Product session settings only; the two paths keep every file the run
    * writes inside the work directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("bench")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(args.seconds > 0, "--seconds must be positive")
    Files.createDirectories(args.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, args.work)
    val result =
      try {
        args.workload match {
          case "ea1141" => Ea1141.run(spark, args, cores)
          case "fleet_sf01" => Fleet.run(spark, args, cores)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally spark.stop()
    println(result.json)
    if (!result.correct) sys.exit(1)
  }
}
