package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.joins.CartesianProductExec

import graft.{GraftSession, SparkEntry}

/** The plan-shape REGRESSION GATE (round-10 verdict item 2).
  *
  * ONE planning pass over every registered query (at sf0.001, AQE off
  * so `collect` sees the physical tree) computes a canonical one-line
  * disposition per query —
  *
  *   <name> scans=[tbl xN,…] prune=[tbl:FLAG,…] codegen=[FLAG,…]
  *
  * (empty dimensions omitted; fully clean queries print `<name> ok`) —
  * and diffs the result against the COMMITTED expected file
  * `tools/golden/plan_audit_expected.txt`. Any drift fails the gate
  * (exit 1) with a per-line diff, so `tools/pregate.sh` — and therefore
  * every milestone commit — re-adjudicates the whole sweep. Rows in
  * the expected file carry their SCALE.md disposition as a trailing
  * `#` comment (stripped before compare); an INTENTIONAL plan change
  * is recorded by re-running with `--write` and reviewing the git diff
  * of the expected file like any other code change.
  *
  * Flags (the three dimensions were once separate diagnostics, the
  * ScanAudit/PruneAudit/CodegenAudit names the expected-file header
  * still uses):
  *   - `tbl xN`: N > 1 FileScans of one source table — legitimate for a
  *     self-join, a smell when exchange reuse failed to merge branches.
  *   - FULL-WIDTH: a scan reads every column of a table with >= 5 columns.
  *   - UNPUSHED: a scan has data filters but the reader got no pushed filter.
  *   - WIDE-TEXT: a scan reads `documents.text`, the corpus-mass column.
  *   - FALLBACK-EXPR: an interpreted CodegenFallback expression in a Project/Filter.
  *   - SORT-AGG: a SortAggregateExec — the planner could not hash-aggregate.
  *   - CARTESIAN: a CartesianProductExec — a keyless n×m expansion.
  *   - UNPART-WINDOW: a window with no partitioning, run as one task.
  *   - NO-WSCG: no WholeStageCodegen span anywhere in the plan.
  *
  * Counts use sf0.001 plans — flag SETS are sf-stable because they are
  * plan-shape, not data-size, properties (broadcast thresholds are not
  * crossed between sf0.001 and sf0.01 for any registered query;
  * re-verified when the expected file was first written).
  *
  * Run: `runMain graft.queries.PlanAudit [--write] [sfDir]`.
  */
object PlanAudit {
  val ExpectedFile = "tools/golden/plan_audit_expected.txt"

  private val table = "([A-Za-z0-9_]+)\\.(parquet|csv|orc)".r

  /** Canonical disposition line for one query's physical plan. */
  private[queries] def dispositionLine(name: String, plan: SparkPlan): String = {
    // scans dimension: FileScan count per source table (>1 = dup).
    val scanLines = plan.toString.linesIterator
      .filter(_.contains("FileScan")).toSeq
    val dups = scanLines
      .flatMap(l => table.findFirstMatchIn(l).map(_.group(1)))
      .groupBy(identity).view.mapValues(_.size).filter(_._2 > 1)
      .toSeq.sortBy(_._1)
      .map { case (t, n) => s"$t x$n" }

    // prune dimension: per-scan pruning/pushdown flags.
    val scans = plan.collectWithSubqueries { case f: FileSourceScanExec => f }
    val pruneFlags = scans.flatMap { f =>
      val paths = f.relation.location.rootPaths.map(_.toString).mkString(",")
      val tbl = table.findFirstMatchIn(paths).map(_.group(1))
        .getOrElse(paths.split('/').lastOption.getOrElse("?"))
      val pushed = f.metadata.getOrElse("PushedFilters", "[]")
      Seq(
        if (f.requiredSchema.size == f.relation.dataSchema.size &&
          f.relation.dataSchema.size >= 5) Some(s"$tbl:FULL-WIDTH") else None,
        if (f.dataFilters.nonEmpty && pushed == "[]")
          Some(s"$tbl:UNPUSHED") else None,
        if (tbl == "documents" &&
          f.requiredSchema.fieldNames.contains("text"))
          Some(s"$tbl:WIDE-TEXT") else None
      ).flatten
    }.distinct.sorted

    // codegen dimension: Tungsten fast-path flags.
    val all: Seq[SparkPlan] = plan.collectWithSubqueries { case p => p }
    val fallbacks = all.flatMap {
      case p @ (_: ProjectExec | _: FilterExec) =>
        p.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName })
      case _ => Nil
    }.distinct.sorted
    val sortAggs = all.collect { case s: SortAggregateExec =>
      s.aggregateExpressions.map(_.aggregateFunction.prettyName)
        .distinct.sorted.mkString(",")
    }.distinct.sorted
    val cartesian = all.count(_.isInstanceOf[CartesianProductExec])
    val wscg = all.count(_.isInstanceOf[WholeStageCodegenExec])
    // Round 14 (verdict item 10): every WindowExec with NO partitioning
    // funnels its whole input through one task — legitimate only when
    // the input is a domain-grain frame (a bounded pre-aggregate, e.g.
    // the ~60-row count tables of the decomposed rank/dist windows).
    // Flagging them here makes each one a REVIEWED expected-file row
    // with its rationale, so a future O(rows) single-partition window
    // fails the gate instead of hiding in Verify's warning burst.
    val unpartWindows = all.count {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        g.partitionSpec.isEmpty
      case _ => false
    }
    val cg = Seq(
      if (fallbacks.nonEmpty) Some(s"FALLBACK-EXPR[${fallbacks.mkString(",")}]") else None,
      if (sortAggs.nonEmpty) Some(s"SORT-AGG[${sortAggs.mkString(";")}]") else None,
      if (cartesian > 0) Some(s"CARTESIAN x$cartesian") else None,
      if (unpartWindows > 0) Some(s"UNPART-WINDOW x$unpartWindows") else None,
      if (wscg == 0) Some("NO-WSCG") else None
    ).flatten

    val dims = Seq(
      if (dups.nonEmpty) Some(s"scans=[${dups.mkString(",")}]") else None,
      if (pruneFlags.nonEmpty) Some(s"prune=[${pruneFlags.mkString(",")}]") else None,
      if (cg.nonEmpty) Some(s"codegen=[${cg.mkString(",")}]") else None
    ).flatten
    if (dims.isEmpty) s"$name ok" else s"$name ${dims.mkString(" ")}"
  }

  def auditLines(spark: SparkSession, sfDir: String): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try dispositionLine(name, fn(spark, sfDir).queryExecution.executedPlan)
      catch {
        // a query that cannot even PLAN must fail the gate loudly —
        // record it as a line that will never match the expected file
        case NonFatal(e) =>
          s"$name PLAN-FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}"
      }
    }

  def main(args: Array[String]): Unit = {
    val write = args.contains("--write")
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.001")
    // AQE off: it wraps the physical plan in AdaptiveSparkPlanExec,
    // whose inner plan `collect` does not traverse; the audit only PLANS
    // (never runs) the queries, so this just exposes the tree.
    val spark = GraftSession.build(4, "spark.sql.adaptive.enabled" -> "false")
    GraftSession.prepareFixtures(spark, sfDir)

    val actual = auditLines(spark, sfDir)
    spark.stop()
    val path = java.nio.file.Paths.get(ExpectedFile)
    if (write) {
      val header = Seq(
        "# plan_audit_expected.txt — the audit trilogy's committed dispositions",
        "# (ScanAudit duplicate scans / PruneAudit pruning / CodegenAudit Tungsten",
        "# flags), one canonical line per registered query at sf0.001, AQE off.",
        "# Regenerate with `runMain graft.queries.PlanAudit --write` and review",
        "# the git diff; tools/pregate.sh fails on any unreviewed drift.",
        "# Rationales for non-ok rows live in SCALE.md's round-10 disposition",
        "# tables; trailing `#` comments here are stripped before compare.",
        "")
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path,
        (header ++ actual).mkString("", "\n", "\n"))
      println(s"[plan-audit] wrote ${actual.size} lines to $ExpectedFile")
    } else {
      if (!java.nio.file.Files.exists(path)) {
        System.err.println(s"[plan-audit] FAIL: $ExpectedFile missing — " +
          "run with --write once and commit it")
        sys.exit(1)
      }
      val expected = scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
        .map(_.replaceAll("\\s*#.*$", "").trim).filter(_.nonEmpty).toSeq
      val eMap = expected.map(l => l.split(" ", 2)(0) -> l).toMap
      val aMap = actual.map(l => l.split(" ", 2)(0) -> l).toMap
      val names = (eMap.keySet ++ aMap.keySet).toSeq.sorted
      var bad = 0
      names.foreach { n =>
        (eMap.get(n), aMap.get(n)) match {
          case (Some(e), Some(a)) if e == a => ()
          case (e, a) =>
            bad += 1
            println(s"[plan-audit] DRIFT $n")
            println(s"[plan-audit]   expected: ${e.getOrElse("<query not in expected file>")}")
            println(s"[plan-audit]   actual:   ${a.getOrElse("<query no longer registered>")}")
        }
      }
      if (bad > 0) {
        System.err.println(s"[plan-audit] FAIL: $bad of ${names.size} rows " +
          "drifted — an intentional plan change must be re-recorded with " +
          "--write and the expected-file diff reviewed/justified in the commit")
        sys.exit(1)
      }
      println(s"[plan-audit] OK: ${names.size} rows match $ExpectedFile")
    }
  }
}
