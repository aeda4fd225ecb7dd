package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Custom streaming state (flatMapGroupsWithState): the per-host cursor
  * must make the at-least-once producer side effect-idempotent on read.
  */
class HostCursorStreamSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def counters(s: HostCursorStream.CursorState) =
    (s.headOrd, s.committed, s.retracted, s.duplicates)

  test("advance: replays are duplicates, commits monotone, drops counted") {
    val s0 = HostCursorStream.CursorState.empty
    val s1 = HostCursorStream.advance(s0,
      Seq(("ACCEPTED", 1L), ("ACCEPTED", 2L), ("ACCEPTED", 3L)))
    assert(counters(s1) === ((3L, 3L, 0L, 0L)))
    // full replay of the same round (producer crashed between emit and
    // checkpoint): zero new commits
    val s2 = HostCursorStream.advance(s1,
      Seq(("ACCEPTED", 1L), ("ACCEPTED", 2L), ("ACCEPTED", 3L)))
    assert(counters(s2) === ((3L, 3L, 0L, 3L)))
    // revision retraction + new commits, arriving out of order
    val s3 = HostCursorStream.advance(s2,
      Seq(("ACCEPTED", 5L), ("DROPPED", 3L), ("ACCEPTED", 4L)))
    assert(counters(s3) === ((5L, 5L, 1L, 3L)))
    // replayed DROPPED is a duplicate, not a second retraction
    val s4 = HostCursorStream.advance(s3, Seq(("DROPPED", 3L)))
    assert(counters(s4) === ((5L, 5L, 1L, 4L)))
    // a NEW retraction still counts
    val s5 = HostCursorStream.advance(s4, Seq(("DROPPED", 5L)))
    assert(counters(s5) === ((5L, 5L, 2L, 4L)))
  }

  test("retracted-ord state is pruned below the low-water mark (bounded forever)") {
    val k = 4 // tiny window so the slack is exercised quickly
    var st = HostCursorStream.CursorState.empty
    // a long crawl: every round commits 10 ords and retracts one recent ord
    (1 to 500).foreach { r =>
      val base = r * 10L
      val events = (1L to 10L).map(i => ("ACCEPTED", base + i)) :+
        (("DROPPED", base + 5L))
      st = HostCursorStream.advance(st, events, windowK = k)
    }
    assert(st.retracted === 500L, "every retraction counted once")
    val slack = HostCursorStream.PruneSlackWindows * k
    assert(st.retractedOrds.length <= slack + 1,
      s"state grew to ${st.retractedOrds.length} > O(windowK) bound $slack")
    assert(st.retractedOrds.forall(_ >= st.headOrd - slack), "pruned floor violated")
    // replay idempotence still holds for retractions inside the slack
    val recent = st.retractedOrds.last
    val replay = HostCursorStream.advance(st, Seq(("DROPPED", recent)), windowK = k)
    assert(replay.retracted === st.retracted && replay.duplicates === st.duplicates + 1)
  }

  test("streaming end-to-end: per-host state survives micro-batches, replay adds nothing") {
    val dir = tempDir("graft-cursor")
    def write(name: String, rows: Seq[(String, String, Long)]): Unit = {
      val p = java.nio.file.Paths.get(dir, name)
      val json = rows.map { case (h, st, o) =>
        s"""{"status":"$st","host":"$h","ord":$o,"url_hash":1,"seq":$o,"round":1,"version":1}"""
      }.mkString("\n")
      Files.writeString(p, json)
    }
    write("seg0.json", Seq(("a", "ACCEPTED", 1L), ("a", "ACCEPTED", 2L),
      ("a", "ACCEPTED", 3L), ("b", "ACCEPTED", 1L)))

    val q = HostCursorStream.hostCursor(
      spark.readStream.schema(EnvelopeStream.envelopeSchema)
        .option("maxFilesPerTrigger", 1).json(dir))
      .writeStream.outputMode("update").format("memory")
      .queryName("cursor_test")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // at-least-once replay of seg0 plus new work
      write("seg1.json", Seq(("a", "ACCEPTED", 1L), ("a", "ACCEPTED", 2L),
        ("a", "ACCEPTED", 3L), ("a", "ACCEPTED", 4L),
        ("b", "DROPPED", 1L), ("b", "ACCEPTED", 2L), ("b", "ACCEPTED", 3L)))
      q.processAllAvailable()

      val byHost = spark.table("cursor_test")
        .groupBy("host")
        .agg(max("head_ord").as("head"), max("n_committed").as("c"),
          max("n_retracted").as("r"), max("n_duplicates").as("d"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(byHost("a") === ((4L, 4L, 0L, 3L)),
        s"host a cursor wrong: ${byHost("a")}")
      assert(byHost("b") === ((3L, 3L, 1L, 0L)),
        s"host b cursor wrong: ${byHost("b")}")
    } finally q.stop()
  }

  test("integration: the engine's own emits drive the cursor; replaying a round commits nothing") {
    // correlated revisions at round 2 guarantee DROPPED envelopes, so the
    // replay below exercises retraction idempotence, not just commits
    val cfg = graft.fixtures.WebConfig(numSeeds = 30, rounds = 3, correlatedRevRound = 2)
    val state = tempDir("cursor-crawl-state")
    val sink = tempDir("cursor-crawl-sink")
    graft.crawl.CrawlJob.run(spark, cfg, state, sink)
    val emits = graft.crawl.CrawlJob.readEmits(spark, sink)

    // batch-mode flatMapGroupsWithState: one pass over all emits
    val clean = HostCursorStream.hostCursor(emits)
      .collect().map(u => u.host -> u).toMap
    val accepted = emits.filter(col("status") === "ACCEPTED")
      .groupBy("host").agg(count(lit(1)).as("n"), max("ord").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    accepted.foreach { case (host, (n, maxOrd)) =>
      val u = clean(host)
      // every ACCEPTED ord is unique per host → all commit, none duplicate
      assert(u.n_committed === n, s"$host committed")
      assert(u.head_ord === maxOrd, s"$host head")
      assert(u.n_duplicates === 0L, s"$host dups on clean run")
    }

    // cursor totals ≡ the independent walker's totals: committed = the
    // walker's unique ACCEPTED set per host, retracted = its DROPPED count
    val ref = graft.crawl.RefWalker.run(cfg)
    val refAccepted = ref.emits.filter(_.status == "ACCEPTED").groupBy(_.host)
    val refDropped = ref.emits.filter(_.status == "DROPPED").groupBy(_.host)
    assert(refDropped.nonEmpty, "fixture exercised no retractions")
    refAccepted.foreach { case (host, es) =>
      assert(clean(host).n_committed === es.map(_.ord).distinct.size.toLong,
        s"$host cursor committed != walker unique ACCEPTED")
      assert(clean(host).n_retracted ===
        refDropped.getOrElse(host, Seq.empty).size.toLong,
        s"$host cursor retracted != walker DROPPED")
    }

    // at-least-once: replay round 2's emits on top (producer crashed between
    // emit and checkpoint). Round 2 contains DROPPED envelopes — commits AND
    // retractions must be unchanged; every replayed envelope is a duplicate.
    val replayRound = emits.filter(col("round") === 2)
    assert(replayRound.filter(col("status") === "DROPPED").count() > 0,
      "replayed round must contain retractions to pin DROPPED idempotence")
    val replayed = HostCursorStream.hostCursor(emits.unionByName(replayRound))
      .collect().map(u => u.host -> u).toMap
    accepted.foreach { case (host, (n, maxOrd)) =>
      val u = replayed(host)
      assert(u.n_committed === n, s"$host committed after replay")
      assert(u.head_ord === maxOrd, s"$host head after replay")
      assert(u.n_retracted === clean(host).n_retracted,
        s"$host retracted must not double-count on replay")
    }
    val replayCount = replayRound.filter(
      col("status").isin("ACCEPTED", "DROPPED")).count()
    assert(replayed.values.map(_.n_duplicates).sum === replayCount,
      "every replayed envelope must count as a duplicate")
  }
}
