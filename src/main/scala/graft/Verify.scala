package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // Fixture setup (one-time driver-side source acquisition) happens
    // here, not inside any query builder.
    GraftSession.prepareFixtures(spark, sfDir)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (single-query scale
    // spot-checks, same contract as Bench); unset = full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries
      .filter { case (k, _) => only.forall(_.contains(k)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Remove any stale output from a previous run: a failed query
        // must fail the compare, not silently pass on old results.
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
    }
    writeOracleSql(outDir, k => only.forall(_.contains(k)))
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: the DuckDB twin of every query `keep`
    * accepts, one `"name": "sql"` member each. */
  def writeOracleSql(outDir: String, keep: String => Boolean): Unit = {
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
