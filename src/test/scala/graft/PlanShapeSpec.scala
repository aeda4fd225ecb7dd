package graft

import graft.frontier.{Recrawl, TrapDetect}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The plan-shape claims PLANS.md makes, asserted on the planned (not
  * executed) physical plans over sf0.01. One row per plan: how to build it,
  * which rendering to read, and every (claim, check) pair it must satisfy.
  * `formatted` is `.explain("formatted")`, where whole-stage-codegen
  * operators carry a `* ` prefix; `tree` is the executed plan's `toString`,
  * where an exchange and its partitioning share one line.
  */
class PlanShapeSpec extends AnyFunSuite {
  import PlanShapeSpec._

  lazy val spark = SparkTestBase.spark
  val sf = SparkTestBase.sf01Dir

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)
  private def tree(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** One PageRank iteration planned standalone: the iterated shuffles carry
    * only (long, double) rows, never the edge payload.
    */
  private def pageRankStep(s: SparkSession): DataFrame = {
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val n = docs.count().toDouble
    val edges = docs.select(col("doc_id").as("src"),
      pmod(xxhash64(col("doc_id")), lit(500L)).as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesW = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .localCheckpoint(true)
    val ranks = docs.select(col("doc_id").as("id"), lit(1.0 / n).as("rank"))
      .localCheckpoint(true)
    edgesW.join(ranks, col("src") === col("id"))
      .groupBy(col("dst").as("id")).agg(sum(col("rank") * col("w")).as("c"))
  }

  private def events(s: SparkSession): DataFrame =
    s.read.parquet(s"${SparkTestBase.sfDir}/events.parquet")

  private def changeRates(s: SparkSession): DataFrame = {
    val fetches = events(s).select(col("user_id").as("url_id"),
      col("event_id").as("seq"),
      floor(col("event_id") / ((col("user_id") % 9 + 1) * 50)).as("fp"))
    Recrawl.changeRate(fetches, "url_id", "seq", "fp")
  }

  private def trapCensus(s: SparkSession): DataFrame = {
    val urls = events(s).select(
      concat(lit("h"), (col("user_id") % 20).cast("string")).as("host"),
      concat(lit("/p/"), col("event_id").cast("string")).as("path"),
      (col("event_id") % 7).cast("string").as("content"))
    TrapDetect.urlTemplates(urls, "host", "path", "content")
  }

  /** A `SparkEntry` query's formatted plan. */
  private def query(name: String, checks: Check*): Shape =
    Shape(name, s => formatted(SparkEntry.queries(name)(s, sf)), checks: _*)

  private def has(s: String): String => Boolean = _.contains(s)
  private def hasAll(ss: String*): String => Boolean = p => ss.forall(p.contains)
  private def hasAny(ss: String*): String => Boolean = p => ss.exists(p.contains)
  private def lacks(s: String): String => Boolean = !_.contains(s)

  private val shapes = Seq(
    query("q_sample_stratified",
      "stratified sample must not shuffle — it is a pure filter" -> lacks("Exchange"),
      "hash must be the codegen expr" -> has("mix64_salted"),
      "filter must be codegen'd" -> has("* Filter")),
    query("q_pii_scrub",
      "PII scrub is scan+project only" -> lacks("Exchange"),
      "projection must be codegen'd" -> has("* Project")),
    query("q_fingerprint_dups",
      "bucket-cap semi-join must prune candidates before the pair join" ->
        has("LeftSemi")),
    query("q_repetition",
      "repetition metrics are per-row expressions — no shuffle" -> lacks("Exchange")),
    query("q_decontaminate",
      "eval grams must broadcast onto the corpus side (semi-join)" ->
        hasAll("BroadcastHashJoin", "LeftSemi"),
      "per-doc hit count must partial-aggregate map-side" -> has("partial_count")),
    query("q_sitemap",
      "sitemap extraction must not shuffle — scan + generate + filter only" ->
        lacks("Exchange"),
      "entry explode must be a stock Generate" -> has("Generate")),
    query("q_tfidf",
      "top-k must be a window rank" -> has("Window"),
      "window must partition by DOC id — the finest key, never global" ->
        has("hashpartitioning(id"),
      "N must ride in-plan as a broadcast 1-row aggregate" ->
        hasAny("BroadcastNestedLoopJoin", "BroadcastExchange")),
    query("q_lm_quality",
      "|V| must ride in-plan as a broadcast 1-row aggregate" ->
        hasAny("BroadcastNestedLoopJoin", "BroadcastExchange"),
      "count tables are hash aggregates" -> has("HashAggregate")),
    Shape("pagerank iteration", s => formatted(pageRankStep(s)),
      "contribution sum must partial-aggregate" -> has("HashAggregate"),
      "no cartesian anywhere" -> ((p: String) => !p.toLowerCase.contains("cartesian"))),
    query("q_semdedup",
      "SemDeDup candidates must be a cell-keyed equi-join, never cartesian" ->
        lacks("CartesianProduct")),
    query("q_len_quantiles",
      // partial->final agg = 1 shuffle, which formatted mode lists twice
      // (tree and details); more means a second pass over the table
      "exact and approx percentiles share one lang-keyed Exchange" ->
        ((p: String) => p.linesIterator.count(_.contains("Exchange")) <= 2),
      "percentile buffers plan as ObjectHashAggregate/SortAggregate" ->
        hasAny("ObjectHashAggregate", "SortAggregate")),
    Shape("Recrawl.changeRate", s => tree(changeRates(s)),
      "lag window and aggregate share the url-key partitioning: one Exchange" ->
        ((p: String) => "Exchange hashpartitioning".r.findAllIn(p).length == 1)),
    Shape("TrapDetect.urlTemplates", s => tree(trapCensus(s)),
      "count-distinct census aggregates map-side first" -> has("partial_")))

  for (shape <- shapes) test(s"plan shape: ${shape.name}") {
    val plan = shape.plan(spark)
    for ((claim, holds) <- shape.checks) assert(holds(plan), s"$claim\n$plan")
  }
}

object PlanShapeSpec {
  type Check = (String, String => Boolean)
  final case class Shape(name: String, plan: SparkSession => String, checks: Check*)
}
