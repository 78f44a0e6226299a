package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-only corpus replicator: writes an N× copy of a driver test-data
  * directory by unioning key-shifted replicas, preserving join structure
  * (each replica's fact keys land on its own replica of the scaled
  * dimensions; `nation`/`region` stay fixed, like real reference data).
  *
  * Purpose: the driver ships sf0.001/0.01/0.1 only; the 100 TB design
  * claims need at least one order-of-magnitude extrapolation point
  * (VERDICT.md round 1, "Next round" #8). The replicas intentionally
  * repeat text/embedding payloads, which stresses exactly the paths that
  * matter at scale: dedup clusters grow to replica-size components, LSH
  * buckets densify toward their caps, and per-user event streams get N×
  * longer sessions.
  *
  * Usage: `runMain graft.ScaleUp <srcSfDir> <destDir> <copies>`.
  * Never writes outside destDir; never touches /root/testdata.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dest, copiesS) = args
    val copies = copiesS.toInt
    // events.ts is parquet TIMESTAMP(NANOS): read as raw int64 nanos
    // (replicas keep the value; Tables.events floor-converts either
    // physical type the same way).
    val spark = GraftSession.build("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    // Shift stride per keyspace: one power of ten above the max key so
    // replica key ranges never collide and stay human-readable.
    def stride(df: DataFrame, key: String): Long = {
      // Defensive: cast to long so INT32-keyed parquet from a foreign
      // generator doesn't ClassCastException, and require a non-null max
      // (empty table) instead of an opaque NPE.
      val row = df.agg(max(col(key)).cast("long")).head
      require(!row.isNullAt(0), s"stride: table has no rows for key $key")
      val mx = row.getLong(0)
      var s = 10L
      while (s <= mx) s *= 10
      s
    }

    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until copies).map { i =>
        shifts.foldLeft(df) { case (acc, (k, st)) =>
          acc.withColumn(k, col(k) + lit(st * i))
        }
      }.reduce(_ unionAll _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaleup] $name done")
    }

    def t(name: String): DataFrame = Tables.load(spark, src, name)

    val cust = stride(t("customer"), "c_custkey")
    val supp = stride(t("supplier"), "s_suppkey")
    val prt = stride(t("part"), "p_partkey")
    val ord = stride(t("orders"), "o_orderkey")
    val evt = stride(t("events"), "event_id")
    val doc = stride(t("documents"), "doc_id")
    val vec = stride(t("embeddings"), "vec_id")

    write("region", t("region"))
    write("nation", t("nation"))
    write("customer", replicate(t("customer"), Map("c_custkey" -> cust)))
    write("supplier", replicate(t("supplier"), Map("s_suppkey" -> supp)))
    write("part", replicate(t("part"), Map("p_partkey" -> prt)))
    write("orders", replicate(t("orders"),
      Map("o_orderkey" -> ord, "o_custkey" -> cust)))
    write("lineitem", replicate(t("lineitem"),
      Map("l_orderkey" -> ord, "l_partkey" -> prt, "l_suppkey" -> supp)))
    // user_id is NOT shifted: scale grows per-user history depth (the
    // skew-relevant axis for sessionization), not the user population.
    // ts is written as a real micros timestamp so the replica satisfies
    // the same oracle-side contract as the driver file (DuckDB sees
    // TIMESTAMP, not BIGINT). Type dispatch makes replica-of-replica
    // runs work: the driver file reads as int64 nanos (session conf),
    // a replica already reads as timestamp_ntz.
    val ev = t("events")
    val evTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("ts", Tables.nanosToNtz("ts"))
      case _ => ev
    }
    write("events", replicate(evTs, Map("event_id" -> evt)))
    write("documents", replicate(t("documents"), Map("doc_id" -> doc)))
    write("embeddings", replicate(t("embeddings"), Map("vec_id" -> vec)))
    spark.stop()
  }
}
