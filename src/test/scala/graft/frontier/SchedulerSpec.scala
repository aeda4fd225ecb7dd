package graft.frontier

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct contract tests for the narrow-rank scheduler (the parity suite
  * pins it end-to-end; these pin it in isolation).
  */
class SchedulerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def hostState(hosts: Seq[String], budget: Int = 5,
      disallow: Seq[String] = Seq("/private/")) =
    hosts.map(h => (h, disallow, 100L, budget))
      .toDF("host", "robots_disallow", "min_delay_ms", "budget")

  private def queue(rows: Seq[(String, String, Long, Int)]) = // host, path, seq, prio
    rows.zipWithIndex.map { case ((h, p, s, pr), i) =>
      (h, s"http://$h$p", i.toLong * 7919 + 13, p, s, pr)
    }.toDF("host", "url", "url_hash", "path", "seq", "priority")

  test("per-host capacity, priority-then-seq order, full payload recovered") {
    val q = queue((1L to 20L).map(s => ("h1.test", s"/p/$s", s, (s % 3).toInt)))
    val out = Scheduler.schedule(q, hostState(Seq("h1.test"), budget = 4), 10000L)
    val got = out.select("host", "url", "path", "seq", "priority", "host_rank")
      .as[(String, String, String, Long, Int, Int)].collect().sortBy(_._6)
    assert(got.length === 4) // cap = min(4, 10000/100=100) = 4
    // order: priority desc, seq asc
    val expect = (1L to 20L).map(s => (s, (s % 3).toInt))
      .sortBy { case (s, p) => (-p, s) }.take(4)
    assert(got.map(r => (r._4, r._5)).toSeq === expect)
    assert(got.map(_._6).toSeq === Seq(1, 2, 3, 4)) // gap-free ranks
    // payload columns survived the narrow rank + broadcast re-join
    assert(got.forall(r => r._2 == s"http://${r._1}${r._3}"))
  }

  test("robots gate (enqueue-time): disallowed paths never enter, so never schedule") {
    val q = queue(Seq(("h1.test", "/private/x", 1L, 9), ("h1.test", "/p/ok", 2L, 0)))
    val gated = Scheduler.robotsGate(q, hostState(Seq("h1.test")))
    assert(gated.select("path").as[String].collect().toSeq === Seq("/p/ok"))
    val out = Scheduler.schedule(gated, hostState(Seq("h1.test")), 10000L)
    assert(out.select("path").as[String].collect().toSeq === Seq("/p/ok"))
    // rule column is consumed by the gate, not leaked downstream
    assert(!gated.columns.contains("robots_disallow"))
  }

  test("robots gate without broadcast hint (shuffle-join host-state regime)") {
    // a 10^8-host state table takes the shuffle join; the setting Spark
    // already provides is what gets it there
    val q = queue(Seq(("h1.test", "/private/x", 1L, 9), ("h1.test", "/p/ok", 2L, 0)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = Scheduler.robotsGate(q, hostState(Seq("h1.test")))
      val physical = gated.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastHashJoin"), s"gate still broadcasts:\n$physical")
      assert(gated.select("path").as[String].collect().toSeq === Seq("/p/ok"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("winners recovery has no forced broadcast hint; planner still picks one here") {
    // winners ≈ Σcapacity = the round's whole fetch set — ~10^7 rows at the
    // target regime, so a hard broadcast() would be an OOM footgun (the
    // same class as the removed tombstone hints), and the host-state side
    // is left to the planner the same way. Neither LOGICAL plan may carry
    // a ResolvedHint; at this sandbox size the planner should still CHOOSE
    // a broadcast-hash join (with the specialized long-key relation) on
    // its own.
    val q = queue((1L to 1000L).map(s => ("h1.test", s"/p/$s", s, (s % 3).toInt)))
    val gated = Scheduler.robotsGate(q, hostState(Seq("h1.test")))
    assert(!gated.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "robotsGate() must not force a join strategy")
    val out = Scheduler.schedule(q, hostState(Seq("h1.test"), budget = 4), 10000L)
    assert(!out.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "schedule() must not force a join strategy")
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"planner did not choose broadcast for the small winners side:\n$physical")
    assert(out.count() === 4L) // semantics unchanged
  }

  test("hot-host skew stays bounded: a 50k-row host yields exactly cap rows") {
    val hot = (1L to 50000L).map(s => ("hot.test", s"/p/$s", s, (s % 10).toInt))
    val cold = (1L to 10L).map(s => ("cold.test", s"/p/$s", s, 0))
    val out = Scheduler.schedule(queue(hot ++ cold),
      hostState(Seq("hot.test", "cold.test"), budget = 7), 10000L)
    val byHost = out.groupBy("host").count().as[(String, Long)].collect().toMap
    assert(byHost("hot.test") === 7L)
    assert(byHost("cold.test") === 7L)
    // the winner-side broadcast is tiny even under skew: ≤ Σcap rows total
    assert(out.count() === 14L)
  }
}
