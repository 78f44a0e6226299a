package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}

import graft.pipeline.{ClinicalCsv, Ea1141Json, Ea1141Pipeline, VolumeScan}
import graft.sources.DicomLike
import perfbench.Main.{log, noop}

/** The `generate-mapping` command over a seeded synthetic EA1141 tree:
  * the call chain, its output check and its traced layers. */
object Etl {

  /** A fifth of the paper's 486 patients, so that a run of every workload
    * fits the benchmark's time budget: the pipeline lists the tree twice per
    * generate-mapping, at about a millisecond per file on a local disk. */
  val Patients = 100

  /** One generated input: tree, CSVs and what the pipeline must make of them. */
  final case class Input(spec: Ea1141Gen.Spec, root: Path, csvDir: Path) {
    lazy val expected: Seq[Ea1141Gen.Record] = Ea1141Gen.expectedMapping(spec)
    lazy val expectedHash: Long = Hash.unordered(expected.map(canonical))
    def csv(name: String): String = csvDir.resolve(name).toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete)
      finally s.close()
    }

  /** Generates the seeded input into `dir`, replacing what was there. */
  def generate(seed: Long, dir: Path): Input = {
    deleteTree(dir)
    val spec = Ea1141Gen.spec(seed, patients = Patients)
    val in = Input(spec, dir.resolve("tree"), dir.resolve("csv"))
    Ea1141Gen.write(spec, in.root, in.csvDir)
    in
  }

  /** `binaryFile` paths are `file:` URIs; the pipeline rebases that prefix
    * to `$ROOT$/`, as the `generate-mapping` command does. */
  def rebaseRoot(root: Path): String = s"file:$root/"

  /** The generate-mapping call chain. With a tracer, each layer's output
    * prefix is also materialized through `noop` inside its own span. */
  def mapping(spark: SparkSession, in: Input, out: Path, tr: Option[Tracer]): Unit = {
    def layer[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    def prefix(name: String)(dfs: => Seq[DataFrame]): Unit =
      tr.foreach(_.span(name)(dfs.foreach(noop)))
    val scanned = layer("volumescan.list")(VolumeScan.scan(spark, in.root.toString))
    prefix("p.scan")(Seq(scanned))
    val volumes = DicomLike.volumes(scanned)
    prefix("p.volumes")(Seq(volumes))
    val Seq(screening, tomo, mri) = layer("clinicalcsv.read") {
      Seq(Ea1141Gen.ScreeningCsv, Ea1141Gen.TomoCsv, Ea1141Gen.MriCsv)
        .map(n => ClinicalCsv.read(spark, in.csv(n)))
    }
    prefix("p.csv")(Seq(screening, tomo, mri))
    prefix("p.truth")(Seq(Ea1141Pipeline.truthLabels(screening, tomo, mri)))
    val mapped = Ea1141Pipeline.buildMapping(volumes, screening, tomo, mri,
      imageRoot = rebaseRoot(in.root))
    prefix("p.mapping")(Seq(mapped))
    layer("p.write")(Ea1141Json.writeMappingJson(mapped, out.toString))
  }

  // ---- output check ----

  private val Null = "∅"

  def canonical(r: Ea1141Gen.Record): String =
    Seq(Some(r.uid), Some(r.patientId), Some(r.study), Some(r.series),
      Some(r.shape.mkString("x")), Some(r.description), r.laterality,
      Some(r.imagePath), Some(r.subject), r.dbtBirads, r.mriBirads,
      r.dbtOutcome, r.mriOutcome).map(_.getOrElse(Null)).mkString("\u0001")

  /** Reads a written mapping document back into records. */
  def readBack(path: Path): Seq[Ea1141Gen.Record] = {
    val root = new ObjectMapper().readTree(path.toFile)
    def s(n: JsonNode, f: String): Option[String] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText)
    root.fields().asScala.map { e =>
      val n = e.getValue
      Ea1141Gen.Record(e.getKey, s(n, "PatientID").orNull, s(n, "StudyInstanceUID").orNull,
        s(n, "SeriesInstanceUID").orNull,
        Option(n.get("ImageShape")).filterNot(_.isNull).map(_.elements().asScala.map(_.asInt).toSeq)
          .getOrElse(Nil),
        s(n, "SeriesDescription").orNull, s(n, "FrameLaterality"), s(n, "ImagePath").orNull,
        s(n, "Subject_DE").orNull, s(n, "DBT_BIRADS"), s(n, "MRI_BIRADS"),
        s(n, "DBT_Outcome"), s(n, "MRI_Outcome"))
    }.toSeq
  }

  /** Label counts a reader of the mapping would tabulate. */
  def labelCounts(rs: Seq[Ea1141Gen.Record]): Map[String, Int] = {
    def tally(tag: String, f: Ea1141Gen.Record => Option[String]) =
      rs.groupMapReduce(r => s"$tag=${f(r).getOrElse(Null)}")(_ => 1)(_ + _)
    tally("DBT_BIRADS", _.dbtBirads) ++ tally("MRI_BIRADS", _.mriBirads) ++
      tally("DBT_Outcome", _.dbtOutcome) ++ tally("MRI_Outcome", _.mriOutcome)
  }

  /** Compares a written mapping with the input's expectation; returns the
    * record count, or the reason it does not match. */
  def check(in: Input, out: Path): Either[String, Int] = {
    val got = readBack(out)
    val want = in.expected
    if (got.size != want.size) Left(s"${got.size} records, expected ${want.size}")
    else if (labelCounts(got) != labelCounts(want))
      Left(s"label counts ${labelCounts(got)} != expected ${labelCounts(want)}")
    else if (Hash.unordered(got.map(canonical)) != in.expectedHash) Left("record hash differs")
    else Right(got.size)
  }

  // ---- traced run ----

  /** Self times of the generate-mapping layers, per operation, from the
    * prefix spans of `ops` traced operations; with the total self time and
    * the time spent re-executing prefixes, which only tracing does. */
  def layers(spans: Seq[Span], ops: Int): (Map[String, Double], Double, Double) = {
    def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    val prefixes = Seq("p.scan", "p.volumes", "p.csv", "p.truth", "p.mapping", "p.write")
      .map(n => n -> total(n)).toMap
    val self = Trace.prefixSelf(prefixes, Map(
      "p.volumes" -> Seq("p.scan"), "p.truth" -> Seq("p.csv"),
      "p.mapping" -> Seq("p.volumes", "p.truth"), "p.write" -> Seq("p.mapping")))
    val layer = Map(
      "volumescan.list_s" -> total("volumescan.list"),
      "volumescan.read_s" -> self("p.scan"),
      "dicomlike.extract_s" -> self("p.volumes"),
      "clinicalcsv.read_s" -> (total("clinicalcsv.read") + self("p.csv")),
      "ea1141pipeline.truthlabels_s" -> self("p.truth"),
      "ea1141pipeline.buildmapping_s" -> self("p.mapping"),
      "ea1141json.write_s" -> self("p.write"))
    (layer.view.mapValues(_ / ops).toMap, layer.values.sum, (prefixes - "p.write").values.sum)
  }

  /** The row funnel of one generate-mapping, from the program's own
    * outputs, taken outside the timed section; with the number of counts
    * that differ from what the generator expects. */
  def funnel(spark: SparkSession, in: Input, out: Path): (Map[String, Double], Int) = {
    val scanned = VolumeScan.scan(spark, in.root.toString)
    val volumes = DicomLike.volumes(scanned)
    val f1 = volumes.filter(col("Modality") === "MG" && size(col("ImageShape")) === 3 &&
      !col("SeriesDescription").contains("Projection"))
    val f2 = f1.filter(!(col("SliceThickness") <=> 10) &&
      !(col("ViewModifier") <=> "Spot Compression"))
    val screened = in.spec.screening.map(_._1).toSet
    val counts = Map(
      "volumescan.files_listed" -> spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true").load(in.root.toString).inputFiles.length.toDouble,
      "volumescan.volumes_kept" -> scanned.count().toDouble,
      "dicomlike.bytes_read" -> scanned.agg(sum(col("length"))).head().getLong(0).toDouble,
      "ea1141pipeline.kept_f1" -> f1.count().toDouble,
      "ea1141pipeline.kept_f2" -> f2.count().toDouble,
      "ea1141pipeline.truth_hits" -> readBack(out).count(r => screened.contains(r.subject)).toDouble,
      "ea1141json.bytes_written" -> Files.size(out).toDouble)
    val want = Ea1141Gen.funnel(in.spec)
    val wrong = Map(
      "volumescan.files_listed" -> want.files, "volumescan.volumes_kept" -> want.afterPrune,
      "ea1141pipeline.kept_f1" -> want.keptF1, "ea1141pipeline.kept_f2" -> want.keptF2,
      "ea1141pipeline.truth_hits" -> want.truthHits).filter { case (k, v) => counts(k) != v }
    wrong.foreach { case (k, v) => log(s"funnel $k = ${counts(k)}, generator expects $v") }
    (counts, wrong.size)
  }
}
