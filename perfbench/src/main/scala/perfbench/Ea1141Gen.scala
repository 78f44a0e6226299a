package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.sources.DicomLike

/** Seeded synthetic EA1141 input: a volume tree of `DicomLike.encode`
  * files plus the three clinical CSVs, and, computed from the same spec,
  * what the pipeline must produce from them.
  *
  * Shape of the tree (defaults follow the paper's cardinalities):
  *   - `patients` patients, each `<root>/EA1141-<subject>/<studyDate>/`;
  *     every `SecondStudyEvery`-th patient gets a later second study whose
  *     volumes the min-study prune must drop;
  *   - four 3-D tomosynthesis volumes per study (L/R x CC/MLO), plus, for
  *     six patients in ten, one more that filter F1 drops (2-D,
  *     `Projection`, non-MG), filter F2 drops (`SliceThickness=10`,
  *     `Spot Compression`) or that passes both (`Rolled Lateral`);
  *   - pixel payloads of `pixelBytes` bytes on average, so the per-byte
  *     checksum in `DicomLike.parseMeta` is a visible share of a run.
  *
  * The CSVs put `SUBJECT_DE` last, code lesion laterality `1`/`2`, use
  * every benign, malignant and UNKNOWN outcome marker and carry the
  * sentinels `N`/`.N`/`.M`/`.F` in their free columns.
  *
  * Everything is a pure function of the seed: the same seed gives a
  * byte-identical tree and CSVs.
  */
object Ea1141Gen {

  val ScreeningCsv = "ea1141_year0_screening_derived.csv"
  val TomoCsv = "ea1141_year0_tomolesions_outcome.csv"
  val MriCsv = "ea1141_year0_mrilesions_outcome.csv"

  val SecondStudyEvery = 32

  val Outcomes: IndexedSeq[String] = IndexedSeq(
    "BIRADS 1 @ 6 months", "BIRADS 2 @ 6 months", "BIRADS 3 @ 6 months",
    "Benign", "Benign with atypia or high-risk lesion", "No biopsy",
    "BI-RADS score downgraded due to targeted ultrasound after AB-MR MRI",
    "Invasive", "Invasive ductal carcinoma", "DCIS",
    "Unknown", "No 6 month FUP imaging", ".F", "N", ".N", ".M")
  val Sentinels: IndexedSeq[String] = IndexedSeq("N", ".N", ".M", ".F")

  final case class Volume(patient: String, study: String, uid: String,
      fields: Map[String, String], shape: Seq[Int], pixelLen: Int) {
    def relPath: String = s"$patient/$study/$uid.dcm"
    def subject: String = patient.substring(patient.lastIndexOf('-') + 1)
    def get(k: String): Option[String] = fields.get(k)
  }

  final case class Lesion(subject: String, latCode: String, outcome: String)

  final case class Spec(seed: Long, volumes: Seq[Volume],
      screening: Seq[(String, String, String)], tomo: Seq[Lesion],
      mri: Seq[Lesion])

  /** One expected mapping record; `None` is a JSON null. */
  final case class Record(uid: String, patientId: String, study: String,
      series: String, shape: Seq[Int], description: String,
      laterality: Option[String], imagePath: String, subject: String,
      dbtBirads: Option[String], mriBirads: Option[String],
      dbtOutcome: Option[String], mriOutcome: Option[String])

  def spec(seed: Long, patients: Int = 486, pixelBytes: Int = 16384): Spec = {
    val rnd = new Random(seed)
    val vols = mutable.ArrayBuffer.empty[Volume]
    val screening = mutable.ArrayBuffer.empty[(String, String, String)]
    val tomo = mutable.ArrayBuffer.empty[Lesion]
    val mri = mutable.ArrayBuffer.empty[Lesion]
    def birads(): String = (1 + rnd.nextInt(5)).toString
    def volume(patient: String, study: String, uid: String, lat: Option[String],
        extra: Map[String, String], threeD: Boolean): Volume = {
      val slices = 24 + rnd.nextInt(89)
      val side = math.max(4, math.sqrt(pixelBytes.toDouble / slices).round.toInt)
      val shape = if (threeD) Seq(slices, side, side) else Seq(side * 4, side * 4)
      val fields = Map(
        "SOPInstanceUID" -> uid, "PatientID" -> patient,
        "StudyInstanceUID" -> s"1.2.840.$seed.$patient.$study",
        "SeriesInstanceUID" -> s"1.2.840.$seed.$uid.1",
        "Modality" -> "MG") ++
        lat.map("FrameLaterality" -> _) ++
        (if (rnd.nextInt(5) == 0) Nil else Seq("SliceThickness" -> (1 + rnd.nextInt(3)).toString)) ++
        extra
      Volume(patient, study, uid, fields, shape, shape.product)
    }
    for (p <- 0 until patients) {
      val subject = (1000000 + p * 1000 + rnd.nextInt(1000)).toString
      val patient = s"EA1141-$subject"
      val first = f"${19400101 + rnd.nextInt(60) * 10000 + rnd.nextInt(12) * 100}%08d"
      val studies =
        if (p % SecondStudyEvery == 7) Seq(first, (first.toInt + 10000).toString) else Seq(first)
      var n = 0
      def uid(): String = { n += 1; s"2.25.$seed.$p.$n" }
      studies.foreach { study =>
        for (lat <- Seq("R", "L"); view <- Seq("CC", "MLO")) {
          vols += volume(patient, study, uid(), Some(lat),
            Map("SeriesDescription" -> s"$lat $view Breast Tomosynthesis Image"), threeD = true)
        }
        // Volumes the filters must drop; fixed per patient, so that every
        // seed gives the same number of files.
        p % 10 match {
          case 0 => vols += volume(patient, study, uid(), None,
            Map("SeriesDescription" -> "R CC FFDM"), threeD = false)
          case 1 => vols += volume(patient, study, uid(), Some("L"),
            Map("SeriesDescription" -> "L CC Breast Tomosynthesis Projection"), threeD = true)
          case 2 => vols += volume(patient, study, uid(), Some("R"),
            Map("SeriesDescription" -> "R MLO Breast Tomosynthesis Image",
              "SliceThickness" -> "10"), threeD = true)
          case 3 => vols += volume(patient, study, uid(), Some("L"),
            Map("SeriesDescription" -> "L CC Breast Tomosynthesis Image",
              "ViewModifier" -> "Spot Compression"), threeD = true)
          case 4 => vols += volume(patient, study, uid(), Some("R"),
            Map("SeriesDescription" -> "AX T1", "Modality" -> "MR"), threeD = true)
          case 5 => vols += volume(patient, study, uid(), Some("L"),
            Map("SeriesDescription" -> "L XCCL Breast Tomosynthesis Image",
              "ViewModifier" -> "Rolled Lateral"), threeD = true)
          case _ => ()
        }
      }
      // Clinical rows: most subjects are screened, a few twice (first
      // row wins), a few never (their volumes miss the truth join).
      if (rnd.nextInt(50) != 0) {
        screening += ((subject, birads(), birads()))
        if (rnd.nextInt(40) == 0) screening += ((subject, birads(), birads()))
      }
      def lesions(into: mutable.ArrayBuffer[Lesion], per100: Int): Unit =
        if (rnd.nextInt(100) < per100) {
          val k = 1 + (if (rnd.nextInt(3) == 0) 1 + rnd.nextInt(2) else 0)
          (0 until k).foreach { _ =>
            into += Lesion(subject, if (rnd.nextBoolean()) "1" else "2",
              Outcomes(rnd.nextInt(Outcomes.size)))
          }
        }
      lesions(tomo, 6)
      lesions(mri, 18)
    }
    // Lesion tables are not subject-ordered in the source data.
    Spec(seed, vols.toSeq, screening.toSeq, rnd.shuffle(tomo.toSeq), rnd.shuffle(mri.toSeq))
  }

  /** Deterministic pixel payload of one volume. */
  private def pixels(seed: Long, v: Volume): Array[Byte] = {
    val a = new Array[Byte](v.pixelLen)
    new Random(seed * 1000003L + v.uid.hashCode).nextBytes(a)
    a
  }

  /** Writes the tree under `root` and the CSVs under `csvDir`. */
  def write(s: Spec, root: Path, csvDir: Path): Unit = {
    s.volumes.foreach { v =>
      val f = root.resolve(v.relPath)
      Files.createDirectories(f.getParent)
      Files.write(f, DicomLike.encode(v.fields, v.shape, pixels(s.seed, v)))
    }
    Files.createDirectories(csvDir)
    val rnd = new Random(s.seed ^ 0x5eedL)
    def free(): String = Sentinels(rnd.nextInt(Sentinels.size))
    def csv(name: String, header: Seq[String], rows: Seq[Seq[String]]): Unit =
      Files.write(csvDir.resolve(name),
        (header +: rows).map(_.mkString(",")).mkString("", "\n", "\n").getBytes(UTF_8))
    csv(ScreeningCsv,
      Seq("AGE_YR0", "TOMO_BIRADS_YR0", "DENSITY_YR0", "MRI_BIRADS_YR0", "SUBJECT_DE"),
      s.screening.map { case (subj, dbt, mri) =>
        Seq((40 + rnd.nextInt(35)).toString, dbt, free(), mri, subj) })
    csv(TomoCsv,
      Seq("TOMO_LESIONNUM_YR0", "TOMO_LESIONBREAST_YR0", "TOMO_LESIONOUTCOME_YR0",
        "TOMO_LESIONSIZE_YR0", "SUBJECT_DE"),
      s.tomo.zipWithIndex.map { case (l, i) =>
        Seq((i + 1).toString, l.latCode, l.outcome, free(), l.subject) })
    csv(MriCsv,
      Seq("MRI_LESIONNUM_YR0", "MRI_LESIONBREAST_YR0", "MRI_LESIONOUTCOME_YR0",
        "MRI_LESIONSIZE_YR0", "SUBJECT_DE"),
      s.mri.zipWithIndex.map { case (l, i) =>
        Seq((i + 1).toString, l.latCode, l.outcome, free(), l.subject) })
  }

  // ---- expectations, computed row by row from the spec ----

  /** Volumes left by the per-patient earliest-study prune. */
  def afterPrune(s: Spec): Seq[Volume] = {
    val minStudy = s.volumes.groupBy(_.patient).view.mapValues(_.map(_.study).min).toMap
    s.volumes.filter(v => v.study == minStudy(v.patient))
  }

  def passesF1(v: Volume): Boolean =
    v.get("Modality").contains("MG") && v.shape.size == 3 &&
      !v.get("SeriesDescription").exists(_.contains("Projection"))

  def passesF2(v: Volume): Boolean =
    !v.get("SliceThickness").flatMap(_.toIntOption).contains(10) &&
      !v.get("ViewModifier").contains("Spot Compression")

  def classify(outcome: String): String =
    if (graft.pipeline.Ea1141Pipeline.BenignMarkers.exists(outcome.contains)) "BENIGN"
    else if (graft.pipeline.Ea1141Pipeline.MalignantMarkers.exists(outcome.contains)) "MALIGNANT"
    else "UNKNOWN"

  /** The sequential lesion fold of the source program for one modality:
    * a laterality match classifies (last write wins), a mismatch erases
    * both the screening BIRADS and the biopsy. */
  private def fold(subjectRows: Seq[Lesion], lat: Option[String],
      screen: Option[String]): (Option[String], Option[String]) =
    subjectRows.foldLeft((screen, Option.empty[String])) { case ((b, x), r) =>
      val matches = (lat.contains("R") && r.latCode == "1") ||
        (lat.contains("L") && r.latCode == "2")
      if (matches) (b, Some(classify(r.outcome))) else (None, None)
    }

  def expectedMapping(s: Spec): Seq[Record] = {
    val screen = s.screening.foldLeft(Map.empty[String, (String, String)]) {
      case (m, (subj, d, r)) => if (m.contains(subj)) m else m + (subj -> (d, r))
    }
    val tomoBy = s.tomo.groupBy(_.subject)
    val mriBy = s.mri.groupBy(_.subject)
    afterPrune(s).filter(v => passesF1(v) && passesF2(v)).map { v =>
      val lat = v.get("FrameLaterality")
      val sc = screen.get(v.subject)
      val (db, dx, mb, mx) =
        if (sc.isEmpty) (None, None, None, None)
        else {
          val (db, dx) = fold(tomoBy.getOrElse(v.subject, Nil), lat, sc.map(_._1))
          val (mb, mx) = fold(mriBy.getOrElse(v.subject, Nil), lat, sc.map(_._2))
          (db, dx, mb, mx)
        }
      Record(v.uid, v.patient, v.fields("StudyInstanceUID"),
        v.fields("SeriesInstanceUID"), v.shape, v.fields("SeriesDescription"),
        lat, "$ROOT$/" + v.relPath, v.subject, db, mb, dx, mx)
    }
  }

  /** Funnel counts the pipeline must reproduce. */
  final case class Funnel(files: Int, afterPrune: Int, keptF1: Int,
      keptF2: Int, truthHits: Int)

  def funnel(s: Spec): Funnel = {
    val pruned = afterPrune(s)
    val f1 = pruned.filter(passesF1)
    val f2 = f1.filter(passesF2)
    val screened = s.screening.map(_._1).toSet
    Funnel(s.volumes.size, pruned.size, f1.size, f2.size,
      f2.count(v => screened.contains(v.subject)))
  }

  // ---- label query: 24 parameterizations ----

  final case class Params(gtType: String, scope: String, dbtOnly: Boolean,
      mriExcluded: Boolean) {
    def name: String = s"$gtType/$scope/dbt=$dbtOnly/mriex=$mriExcluded"
  }

  val AllParams: IndexedSeq[Params] = for {
    gt <- IndexedSeq("biopsy", "acr4+")
    scope <- IndexedSeq("volume-wise", "breast-wise", "patient-wise")
    dbtOnly <- IndexedSeq(true, false)
    mriEx <- IndexedSeq(true, false)
  } yield Params(gt, scope, dbtOnly, mriEx)

  /** Label groups of the source program's label query: key -> (uid,
    * one-hot truth) pairs, sorted by uid. */
  def expectedTruths(records: Seq[Record], p: Params): Map[String, Seq[(String, Seq[Int])]] = {
    val acc = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Seq[Int])]]
    for (r <- records; bd <- r.dbtBirads; bm <- r.mriBirads) {
      val global =
        if (!p.dbtOnly) Some(if (bd >= bm) bd else bm)
        else if (p.mriExcluded) { if (bm > bd) None else Some(bd) }
        else Some(bd)
      for (gs <- global if gs.nonEmpty) {
        val gb = gs.toInt
        val truth: Option[Seq[Int]] = p.gtType match {
          case "biopsy" =>
            def undesirable(o: Option[String]) = o.isEmpty || o.contains("UNKNOWN")
            val outcome =
              if (gb < 3) Some(0)
              else if (undesirable(r.dbtOutcome) && undesirable(r.mriOutcome)) None
              else {
                val d = if (r.dbtOutcome.contains("MALIGNANT")) 1 else 0
                val m = if (r.mriOutcome.contains("MALIGNANT")) 1 else 0
                if (!p.dbtOnly) Some(math.max(d, m))
                else if (p.mriExcluded) { if (m > d) None else Some(d) }
                else Some(d)
              }
            outcome.map(o => if (o == 1) Seq(0, 1) else Seq(1, 0))
          case _ => Some(if (gb > 3) Seq(0, 1) else Seq(1, 0))
        }
        truth.foreach { t =>
          val studyDir = r.imagePath.split("/").dropRight(1).last
          val key = p.scope match {
            case "volume-wise" => r.uid
            case "breast-wise" => s"${r.subject}_${studyDir}_${r.laterality.get.toUpperCase}"
            case _ => s"${r.subject}_$studyDir"
          }
          acc.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((r.uid, t))
        }
      }
    }
    acc.view.mapValues(_.sortBy(_._1).toSeq).toMap
  }
}
