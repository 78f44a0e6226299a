package graft
/** Writes `SparkEntry.oracleSql` as `<outDir>/oracle_sql.json` WITHOUT
  * re-running any query — for twin-SQL-only edits (e.g. MATERIALIZED
  * hints), the already-dumped Verify parquet stays valid and only the
  * oracle side needs refreshing. Same writer as Verify. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    new java.io.File(outDir).mkdirs()
    Verify.writeOracleSql(outDir, _ => true)
  }
}
