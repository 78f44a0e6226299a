package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("tail: the highest ladder percentile with at least ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    // 100 samples: p90 is the 90th value, with exactly ten above it.
    assert(Stats.tail(xs) === ((90, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) === ((99, 990.0)))
    // 40 samples: p90 leaves 4 above, p75 leaves 10.
    assert(Stats.tail((1 to 40).map(_.toDouble)) === ((75, 30.0)))
    // Too few samples for any percentile to leave ten above: the median.
    assert(Stats.tail(Seq(3.0, 1.0, 2.0, 10.0)) === ((50, 2.5)))
    // Order of the input does not matter.
    assert(Stats.tail(scala.util.Random.shuffle(xs)) === Stats.tail(xs))
  }

  test("median, sum and geomean of kind medians") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    val s = new Main.Samples
    Seq(0.1, 0.3, 0.2).foreach(s.add("a", _))
    Seq(2.0, 4.0).foreach(s.add("b", _))
    val m = Main.endToEnd(Seq(3.0, 1.0, 2.0), s, wall = 10.0).map(x => x.name -> x.value).toMap
    assert(m("setup_s") === 2.0)
    assert(m("op_p50_ms") === 300.0)
    assert(m("ops_per_s") === 0.5)
    // Kind medians are 0.2 and 3.0.
    assert(math.abs(m("round_sum_s") - 3.2) < 1e-12)
    assert(math.abs(m("round_geomean_s") - math.sqrt(0.6)) < 1e-12)
    // Whole rounds depend on the requested seconds only, never fewer than two.
    assert(Seq(1.0, 12.0, 30.0).map(Main.rounds) === Seq(2, 2, 5))
    // A 2x regression weighs the same in the geomean whatever the row's size.
    val slowLight = Stats.geomean(Seq(0.4, 3.0))
    val slowHeavy = Stats.geomean(Seq(0.2, 6.0))
    assert(math.abs(slowLight - slowHeavy) < 1e-12)
  }

  test("self time of nested spans subtracts direct children only") {
    val ms = 1000000L
    val spans = Seq(
      Span("op", 0, 100 * ms, -1, "r"),
      Span("a", 10 * ms, 40 * ms, 0, "r"),
      Span("b", 15 * ms, 25 * ms, 1, "r"),
      Span("a", 50 * ms, 90 * ms, 0, "r"))
    val self = Trace.selfSeconds(spans)
    assert(math.abs(self("op") - 0.030) < 1e-12)
    assert(math.abs(self("a") - 0.060) < 1e-12)
    assert(math.abs(self("b") - 0.010) < 1e-12)
    // Self times add back up to the top-level span.
    assert(math.abs(self.values.sum - 0.100) < 1e-12)
  }

  test("tracer records nesting, and prefix self times difference their bases") {
    val tr = new Tracer("t")
    tr.span("op") { tr.span("x")(()); tr.span("y")(tr.span("z")(())) }
    assert(tr.spans.map(s => (s.name, s.parent)) ===
      Seq(("op", -1), ("x", 0), ("y", 0), ("z", 2)))
    val self = Trace.prefixSelf(Map("scan" -> 1.0, "extract" -> 1.5, "csv" -> 0.5, "map" -> 3.0),
      Map("extract" -> Seq("scan"), "map" -> Seq("extract", "csv")))
    assert(self === Map("scan" -> 1.0, "extract" -> 0.5, "csv" -> 0.5, "map" -> 1.0))
  }

  private def tree(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      val spec = Ea1141Gen.spec(seed, patients = 40, pixelBytes = 512)
      Ea1141Gen.write(spec, dir.resolve("tree"), dir.resolve("csv"))
      val files = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      files.map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    } finally Etl.deleteTree(dir)
  }

  test("generator: the same seed gives a byte-identical tree and CSVs") {
    val a = tree(7)
    val b = tree(7)
    assert(a.keySet === b.keySet)
    assert(a.keySet.exists(_.endsWith(Ea1141Gen.ScreeningCsv)))
    a.foreach { case (k, v) => assert(v === b(k), k) }
    val c = tree(8)
    assert(c.size === a.size, "every seed gives the same number of files")
    assert(c !== a)
  }

  test("generator: the spec exercises every filter and marker") {
    val s = Ea1141Gen.spec(3, patients = 200, pixelBytes = 512)
    val f = Ea1141Gen.funnel(s)
    assert(f.files > f.afterPrune && f.afterPrune > f.keptF1 && f.keptF1 > f.keptF2)
    assert(f.keptF2 > f.truthHits && f.truthHits > 0)
    val outcomes = (s.tomo ++ s.mri).map(_.outcome).toSet
    assert(outcomes.map(Ea1141Gen.classify) === Set("BENIGN", "MALIGNANT", "UNKNOWN"))
    Ea1141Gen.Sentinels.foreach(x => assert(outcomes.contains(x), x))
    val records = Ea1141Gen.expectedMapping(s)
    assert(records.size === f.keptF2)
    assert(records.forall(_.laterality.isDefined), "breast-wise keys need a laterality")
    Ea1141Gen.AllParams.foreach { p =>
      assert(Ea1141Gen.expectedTruths(records, p).nonEmpty, p.name)
    }
  }

  test("BENCHMARK.json lists exactly the metrics the runs print") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = root.get(key).elements().asScala.map(_.get("name").asText).toSeq
    def units(key: String) = root.get(key).elements().asScala.map(_.get("unit").asText).toSeq
    assert(names("per_layer") === Layers.All.map(_._1))
    assert(units("per_layer") === Layers.All.map(_._2))
    val s = new Main.Samples
    s.add("a", 1.0)
    val e2e = Main.endToEnd(Seq(1.0), s, wall = 1.0)
    assert(names("end_to_end") === e2e.map(_.name))
    assert(units("end_to_end") === e2e.map(_.unit))
    assert(names("workloads").toSet === Set("ea1141", "fleet_sf01"))
  }

  test("every per-layer metric is emitted once, unregistered ones are refused") {
    val ms = Layers.emit(Map("fleet.build_s" -> 1.5))
    assert(ms.map(_.name).distinct.size === Layers.All.size)
    assert(ms.find(_.name == "fleet.build_s").get.value === 1.5)
    assertThrows[IllegalArgumentException](Layers.emit(Map("nope" -> 1.0)))
  }
}
