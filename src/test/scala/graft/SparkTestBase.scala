package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across all suites (ScalaTest runs them in one JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
  /** The larger oracled scale factor, beside [[sfDir]]. */
  val sf01Dir = s"${new java.io.File(sfDir).getParent}/sf0.01"
}
