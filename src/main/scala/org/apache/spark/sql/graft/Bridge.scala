package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Column ⇄ Expression bridge. Spark 4 made `ExpressionUtils` package-private
  * (`org.apache.spark.sql.classic`); this shim lives under the spark package
  * to re-export the two conversions the graft expressions need, and the
  * session conf that Spark's cache planning switches.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An eager local checkpoint of `df`, planned the way Spark plans a cached
    * query: adaptive execution keeps the final stage's shuffle partitioning
    * instead of coalescing it by the bytes that stage wrote. Those bytes
    * follow the row order of shuffle reads, which varies from run to run, so
    * a coalesced checkpoint's partition count (and the tasks and jobs of its
    * consumers) could differ between two runs over the same input. The
    * setting is switched off on the session for the duration of the
    * checkpoint job, so a query that another thread plans meanwhile keeps
    * its final stage uncoalesced too.
    */
  def localCheckpointAsCached(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.asInstanceOf[SparkSession].sessionState.conf
    val key = SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS
    val before = conf.getConf(key)
    conf.setConf(key, false)
    try df.localCheckpoint(true)
    finally conf.setConf(key, before)
  }
}
