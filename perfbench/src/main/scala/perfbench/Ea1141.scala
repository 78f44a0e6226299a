package perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import perfbench.Main._

/** Workload `ea1141`: the paper's pipeline in closed-loop rounds over a
  * seeded synthetic EA1141 tree. One round is one `generate-mapping` (scan,
  * extract, join, classify, write the mapping), then one `load-truths` at
  * each of the 24 parameterizations over the mapping it just wrote. */
object Ea1141 {

  val SetupReps = 3

  /** One timed operation and the check of its output, made after the
    * timed section. */
  final case class Op(kind: String, secs: Double, check: () => Either[String, Int])

  def attempt(kind: String)(body: => (() => Either[String, Int])): Op =
    try {
      val (check, s) = time(body)
      Op(kind, s, check)
    } catch {
      case NonFatal(e) => Op(kind, Double.NaN, () => Left(s"failed: $e"))
    }

  def run(spark: SparkSession, args: Args, cores: Int): Result = {
    val base = args.work.resolve("ea1141")
    val outDir = base.resolve("out")
    Files.createDirectories(outDir)
    // Set-up: generate the input tree and write its mapping once. Timing
    // the mapping too keeps `setup_s` from being a few tenths of a second
    // of file-system noise, and warms the JVM for generate-mapping.
    val (inputs, setup) = (0 until SetupReps).map { i =>
      time {
        val in = Etl.generate(args.seed, base.resolve(s"input$i"))
        val json = outDir.resolve(s"mapping-setup$i.json")
        Etl.mapping(spark, in, json, None)
        (in, json)
      }
    }.unzip
    val (in, setupJson) = inputs.last
    inputs.init.foreach { case (i, _) => Etl.deleteTree(i.root.getParent) }
    val want = Truths.expected(in.expected)
    log(s"generated ${in.spec.volumes.size} volumes, ${in.expected.size} expected records; " +
      s"set-up ${setup.map(s => f"$s%.2f").mkString(" ")} s")

    // Set once the warm-up is done, in a traced run.
    var traced: Option[(Tracer, Probe)] = None
    def generateMapping(tag: String): Op = {
      val json = outDir.resolve(s"mapping-$tag.json")
      attempt("generate-mapping") {
        traced match {
          case Some((t, p)) => t.span("op") {
            p.attribute("etl")(Etl.mapping(spark, in, json, Some(t)))
            t.span("trace.drain")(p.settle())
          }
          case None => Etl.mapping(spark, in, json, None)
        }
        () => Etl.check(in, json)
      }
    }
    def loadTruths(json: Path): Seq[Op] =
      Ea1141Gen.AllParams.map { p =>
        attempt(p.name) {
          val rows = Truths.loadTruths(spark, json, p, traced)
          () => Truths.check(rows, want(p)).toLeft(rows.size)
        }
      }
    def round(tag: String): Seq[Op] =
      generateMapping(tag) +: loadTruths(outDir.resolve(s"mapping-$tag.json"))

    // Warm-up: the label queries, which set-up did not run yet, over the
    // set-up mapping; checked like the timed rounds, and the mapping too.
    val warm = Op("generate-mapping", Double.NaN, () => Etl.check(in, setupJson)) +:
      loadTruths(setupJson)
    log("warm-up done")

    if (args.trace) traced = Some((new Tracer(s"ea1141-${args.seed}"), Probe.install(spark)))
    val n = rounds(args.seconds)
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    val timed = (0 until n).flatMap(i => round(i.toString))
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Jvm.gcSeconds - gc0

    val samples = new Samples
    samples.attempted = warm.size + timed.size
    (warm.map(_ -> false) ++ timed.map(_ -> true)).foreach { case (op, isTimed) =>
      op.check() match {
        case Right(_) => if (isTimed) samples.add(op.kind, op.secs)
        case Left(e) => samples.failed += 1; log(s"${op.kind}: $e")
      }
    }
    log(s"$n rounds; generate-mapping seconds: " +
      timed.filter(_.kind == "generate-mapping").map(o => f"${o.secs}%.3f").mkString(" "))
    val metrics = traced match {
      case Some((t, p)) =>
        t.write(args.work.resolve("spans.tsv"))
        val (etl, etlSelf, etlRedundant) = Etl.layers(t.spans, n)
        val (lt, ltSelf, ltRedundant) = Truths.layers(t.spans, p, n * Ea1141Gen.AllParams.size)
        val (funnel, wrong) = Etl.funnel(spark, in, outDir.resolve("mapping-0.json"))
        samples.failed += wrong
        val drains = t.spans.filter(_.name == "trace.drain").map(_.seconds).sum
        Layers.emit(etl ++ lt ++ funnel ++ Layers.common(wall, n, cores, p, gc,
          etlRedundant + ltRedundant + drains, (etlSelf + ltSelf) / n))
      case None => endToEnd(setup, samples, wall)
    }
    Result(samples.attempted, samples.failed, metrics)
  }
}
