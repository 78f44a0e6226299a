package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy SparkSession per suite (spark_guide.md "ScalaTest"). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkTestBase {
  /** The production session shape (GraftSession), pinned to 8 cores. */
  lazy val session: SparkSession = {
    val s = GraftSession.build(8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
