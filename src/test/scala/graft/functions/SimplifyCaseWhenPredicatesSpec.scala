package graft.functions

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins [[SimplifyCaseWhenPredicates]]: the rewrite fires on exactly
  * the safe shapes (top-level Filter conjuncts, null-intolerant
  * predicates, single-branch null-else CASE WHEN), produces identical
  * rows on the null edges, and actually lands the predicate in the
  * parquet scan's PushedFilters (the point of the rule).
  */
class SimplifyCaseWhenPredicatesSpec extends SparkTestBase {
  import spark.implicits._

  // x spans the edges: negative (branch FALSE), zero (FALSE), positive
  // (TRUE), and NULL input (branch predicate NULL).
  private lazy val tmp = {
    val dir = java.nio.file.Files.createTempDirectory("cwspec").toString
    Seq(Some(-2.0), Some(0.0), Some(3.0), Some(7.0), None).toDF("x")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }
  private def df = spark.read.parquet(tmp)
    .withColumn("cw", when(col("x") > 0, col("x")))

  private def xs(d: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
    d.select("x").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq.sortBy(_.getOrElse(-1e9))

  test("IsNotNull(when(p,v)) keeps exactly the p-true rows and pushes to parquet") {
    val q = df.filter(col("cw").isNotNull)
    assert(xs(q) === Seq(Some(3.0), Some(7.0)))
    // the rule fired: no CASE WHEN survives in the optimized FILTER
    // (the Project above it legitimately re-derives cw for output)
    val filters = q.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }
    assert(filters.nonEmpty &&
      filters.forall(_.collectFirst {
        case cw: org.apache.spark.sql.catalyst.expressions.CaseWhen => cw
      }.isEmpty),
      s"rule did not fire: ${filters.mkString(";")}")
    // and the base-column predicate reached the parquet reader
    val pushed = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "[]")
    }.mkString
    assert(pushed.contains("GreaterThan(x,0.0)"), s"not pushed: $pushed")
  }

  test("comparison over when(p,v) rewrites on either side, rows exact") {
    assert(xs(df.filter(col("cw") > 5)) === Seq(Some(7.0)))
    assert(xs(df.filter(lit(5.0) >= col("cw"))) === Seq(Some(3.0)))
    val pushed = df.filter(col("cw") > 5).queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "[]")
    }.mkString
    assert(pushed.contains("GreaterThan(x,5.0)"), s"not pushed: $pushed")
  }

  test("null-safe <=> is NOT rewritten — the null-keeping semantics survive") {
    // !(cw <=> 3.0) keeps the NULL-cw rows: x=-2, 0, NULL, and 7.
    val q = df.filter(!(col("cw") <=> 3.0))
    assert(xs(q) === Seq(None, Some(-2.0), Some(0.0), Some(7.0)))
  }

  test("disjunctions and non-rewritable CASE shapes are left alone, rows exact") {
    // Or-conjunct: IsNotNull(cw) || x < -1 — not a top-level conjunct
    // of rewritable shape; must keep x=-2 via the right branch.
    assert(xs(df.filter(col("cw").isNotNull || col("x") < -1)) ===
      Seq(Some(-2.0), Some(3.0), Some(7.0)))
    // Non-null otherwise: CASE collapses rows to 9.0, not NULL.
    val oth = df.withColumn("cw2", when(col("x") > 0, col("x")).otherwise(9.0))
      .filter(col("cw2") > 5)
    assert(xs(oth) === Seq(None, Some(-2.0), Some(0.0), Some(7.0)))
    // Multi-branch CASE: rule must not fire (second branch can yield
    // non-null on p1=false); rows still exact.
    val multi = df.withColumn("cw3",
      when(col("x") > 0, col("x")).when(col("x") < -1, -col("x")))
      .filter(col("cw3").isNotNull)
    assert(xs(multi) === Seq(Some(-2.0), Some(3.0), Some(7.0)))
  }

  test("Filters inside subqueries are rewritten and pushed (round-10 advice)") {
    df.createOrReplaceTempView("cwspec_t")
    val q = spark.sql(
      "SELECT x FROM cwspec_t WHERE x IN (SELECT x FROM cwspec_t WHERE cw > 5)")
    assert(xs(q) === Seq(Some(7.0)))
    // the subquery-side scan must carry the rewritten base-column
    // predicate (sparkPlan, not executedPlan: AQE's adaptive wrapper
    // hides the tree from collect — the PlanAudit lesson)
    val pushed = q.queryExecution.sparkPlan.collectWithSubqueries {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "[]")
    }.mkString
    assert(pushed.contains("GreaterThan(x,5.0)"), s"not pushed in subquery: $pushed")
  }
}
