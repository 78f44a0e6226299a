package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for NAMED queries to files —
  * the per-round optimization evidence trail (plans/r13/<q>_before.txt
  * / _after.txt; the judge checks plan claims against these).
  *
  * Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"
  * e.g.
  *   sbt "runMain graft.PlanDump plans/r13 before q_audio_near"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.build()
    GraftSession.prepareFixtures(spark, sfDir)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val f = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(f, plan)
      println(s"wrote $f")
    }
    spark.stop()
  }
}
