package graft.functions

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism fixup for compute-heavy projections
  * (guide §2.5 "input skew — one huge unsplittable file ... repartition
  * immediately after the read").
  *
  * Parquet scans parallelize at ROW-GROUP granularity; the driver's test
  * tables are single-row-group files, so every scan is ONE task and any
  * expensive per-row projection fused into the scan stage (shingling,
  * regex scrubbing, signature builds) runs single-threaded regardless of
  * core count — measured 2.8 s of q_minhash_neardups' 3.4 s.
  *
  * [[spreadForCompute]] repartitions ONLY when the plan's partition count
  * is below the session's default parallelism: at 100 TB scale a table
  * scan already yields thousands of splits, the condition is false, and
  * this is a no-op — never an extra full-data exchange. The shuffle it
  * does introduce on small inputs moves exactly one copy of the projected
  * columns (select the needed columns FIRST) in exchange for N-way
  * parallelism on the expensive stage. Row-distribution-only: the
  * transformation's RESULT is unchanged (round-robin repartition assigns
  * rows deterministically from a sort by Spark's own rule —
  * SPARK-23207 — and every consumer here is row-order-agnostic).
  */
object Parallelize {
  /** `df` must be scan-only (scan, filter, project). The partition count is
    * read from `df.rdd`, and under AQE building that RDD runs every upstream
    * shuffle stage to completion, in a job of its own, before this returns.
    */
  def spreadForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
