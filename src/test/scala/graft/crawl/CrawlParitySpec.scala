package graft.crawl

import graft.SparkTestBase
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.MemberStore
import graft.functions.GraftHash
import graft.tables.SnapshotTable
import org.apache.spark.graft.SparkEvents
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The north_rule correctness gate: the distributed engine must reproduce
  * the single-threaded reference walker's crawl ordering and final URL-seen
  * set exactly, under the same seed list and politeness budget — including
  * scripted revisions (reorg analog), injected fetch failures
  * (prefix-commit), robots gating, and checkpoint/resume.
  */
class CrawlParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-crawl").toString

  /** Spark jobs a steady `run(upToRound = r)` of a 40-seed crawl may start
    * (70 measured, plus 2 of slack).
    */
  private val JobsPerRoundCeiling = 72

  /** The method that runs the shallow-head guard query. */
  private val GuardFrame = "headIsShallow("

  /** A file scan of a `member_add` segment in a physical plan description
    * (a write's output path shows under `Arguments:`, not `Location:`).
    */
  private val MemberLogScan = "Location: [^\n]*/member_add".r

  private def emitKey(r: (Long, String, String, Long, Long, Long, String, Int)) = r

  private def engineEmits(sinkDir: String): Seq[(Long, String, String, Long, Long, Long, String, Int)] =
    CrawlJob.readEmits(spark, sinkDir)
      .select("round", "status", "host", "seq", "ord", "url_hash", "url", "priority")
      .as[(Long, String, String, Long, Long, Long, String, Int)]
      .collect().toSeq.sortBy(e => (e._1, e._3, e._5, e._2))

  private def refEmits(ref: RefWalker.Result): Seq[(Long, String, String, Long, Long, Long, String, Int)] =
    ref.emits.map(e => (e.round, e.status, e.host, e.seq, e.ord, e.url_hash, e.url, e.priority))
      .sortBy(e => (e._1, e._3, e._5, e._2))

  test("xxhash64 driver-side parity with the Spark builtin") {
    val urls = SyntheticWeb.seedUrls(WebConfig())
    val fromSpark = urls.toDF("u").select(xxhash64(col("u"))).as[Long].collect()
    val fromScala = urls.map(GraftHash.xxhash64)
    assert(fromSpark.toSeq === fromScala)
  }

  test("engine reproduces reference crawl ordering and final seen-set exactly") {
    val cfg = WebConfig()
    val ref = RefWalker.run(cfg)
    assert(ref.emits.nonEmpty, "fixture produced no emissions — broken config")
    assert(ref.emits.exists(_.status == "DROPPED"), "fixture exercised no revisions")

    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir)

    val got = engineEmits(sinkDir)
    val want = refEmits(ref)
    assert(got.size === want.size,
      s"emission count mismatch: engine=${got.size} ref=${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g === w, s"first divergence at sorted index $i")
    }

    val engineSeen = CrawlJob.readSeen(spark, stateDir).as[Long].collect().toSet
    assert(engineSeen === ref.seen, "final URL-seen set mismatch")

    val engineQueue = CrawlJob.readQueue(spark, stateDir).count()
    assert(engineQueue === ref.queueSize.toLong, "residual frontier size mismatch")

    // per-host commit order is strictly monotone in ord and gap-free per round
    val perHost = got.filter(_._2 == "ACCEPTED").groupBy(_._3)
    perHost.foreach { case (host, emits) =>
      val ords = emits.map(_._5).sorted
      assert(ords == (ords.min to ords.max).toList.map(_.toLong) ||
        ords.distinct.size == ords.size, s"non-monotone ords for $host")
    }
  }

  test("kill-and-resume mid-crawl is exactly-once for state, at-least-once for sink") {
    val cfg = WebConfig(numSeeds = 40, rounds = 5)
    val ref = RefWalker.run(cfg)

    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir, upToRound = Some(2)) // "crash" after round 2
    CrawlJob.run(spark, cfg, stateDir, sinkDir)                      // resume → rounds 3..5

    assert(engineEmits(sinkDir) === refEmits(ref))
    val engineSeen = CrawlJob.readSeen(spark, stateDir).as[Long].collect().toSet
    assert(engineSeen === ref.seen)
  }

  test("a round whose write wave fails publishes nothing; resume is exactly-once for state, at-least-once for sink") {
    val cfg = WebConfig(numSeeds = 40, rounds = 5)
    val ref = RefWalker.run(cfg)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir, upToRound = Some(2))
    // a regular file where round 3's member-store delta directory goes:
    // that one write of round 3's wave fails, its siblings complete
    val blocker = MemberStore.deltaDir(CrawlJob.memberStoreRoot(new SnapshotTable(stateDir)), 3L)
    Files.writeString(blocker, "")
    intercept[Exception](CrawlJob.run(spark, cfg, stateDir, sinkDir))
    assert(new SnapshotTable(stateDir).latestSnapshot === Some(2L))

    Files.delete(blocker)
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    val got = engineEmits(sinkDir)
    val want = refEmits(ref)
    assert(want.toSet.subsetOf(got.toSet), "an emit of the reference is missing")
    // idempotent read-back: one envelope per (round, host, ord) key
    val byKey = got.groupBy(e => (e._1, e._3, e._5))
    assert(byKey.values.forall(_.distinct.size == 1), "conflicting envelopes for one key")
    assert(byKey.values.map(_.head).toSeq.sortBy(e => (e._1, e._3, e._5, e._2)) === want)
    assert(CrawlJob.readSeen(spark, stateDir).as[Long].collect().toSet === ref.seen)
    assert(CrawlJob.readQueue(spark, stateDir).count() === ref.queueSize.toLong)
  }

  test("steady rounds stay under a jobs ceiling, never run the shallow-head guard, and read recorded schemas") {
    val cfg = WebConfig(numSeeds = 40, rounds = 5)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir, upToRound = Some(1))
    val rounds = (2L to 5L).map { r =>
      SparkEvents.during(spark.sparkContext)(CrawlJob.run(spark, cfg, stateDir, sinkDir,
        upToRound = Some(r)))._2
    }
    val jobs = rounds.map(_.jobs)
    assert(jobs.max <= JobsPerRoundCeiling, s"jobs per round: $jobs")
    assert(rounds.forall(_.sqlCallSites.forall(!_.contains(GuardFrame))),
      "the shallow-head guard ran although roundMillis never grew")
    // dedup probes the member store; only the fold reads the O(total) log
    val memberScans = rounds.flatMap(_.sqlPlans).flatMap(MemberLogScan.findFirstIn)
    assert(memberScans.isEmpty, "a steady round scanned the member log")
    val st = new SnapshotTable(stateDir)
    // the pattern does match a plan that reads the member log
    assert(MemberLogScan.findFirstIn(CrawlJob.readMembers(spark, st).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)).isDefined)
    st.tableNames().foreach { n =>
      val inferred = spark.read.parquet(st.segmentsOf(st.latestSnapshot.get, n): _*)
      assert(st.read(spark, n).schema === inferred.schema, s"recorded schema of $n")
    }
  }

  test("no failures → same spec, more commits (prefix-commit only bites on failure)") {
    val cfg = WebConfig(failMod = 0, numSeeds = 30, rounds = 4)
    val ref = RefWalker.run(cfg)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    assert(engineEmits(sinkDir) === refEmits(ref))
  }

  test("seen-compaction boundary: 10 rounds with kill/resume across the compaction") {
    val cfg = WebConfig(numSeeds = 30, rounds = 10)
    val ref = RefWalker.run(cfg)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir, upToRound = Some(9)) // past round-8 compaction
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    assert(engineEmits(sinkDir) === refEmits(ref))
    assert(CrawlJob.readSeen(spark, stateDir).as[Long].collect().toSet === ref.seen)
    // compaction really folded the log: member_add has exactly one pre-round-9 segment
    val segs = new graft.tables.SnapshotTable(stateDir)
      .segmentsOf(new graft.tables.SnapshotTable(stateDir).latestSnapshot.get, "member_add")
    assert(segs.size <= 3, s"compaction did not fold segments: $segs")
  }

  test("correlated revisions (every host revises in one round): parity holds") {
    val cfg = WebConfig(numSeeds = 40, rounds = 4, correlatedRevRound = 3)
    val ref = RefWalker.run(cfg)
    assert(ref.emits.count(_.status == "DROPPED") > 5,
      "correlated fixture too weak to exercise the distributed replacement fetch")
    assert(ref.emits.filter(e => e.round == 3L && e.status == "DROPPED")
      .map(_.host).distinct.size > 3, "revisions not actually correlated across hosts")
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    assert(engineEmits(sinkDir) === refEmits(ref))
    assert(CrawlJob.readSeen(spark, stateDir).as[Long].collect().toSet === ref.seen)
  }

  test("host-state join without broadcast hint (too-many-hosts regime): parity holds") {
    val cfg = WebConfig(numSeeds = 30, rounds = 3)
    val ref = RefWalker.run(cfg)
    val stateDir = tmp(); val sinkDir = tmp()
    // disable auto-broadcast so the gate/capacity joins really take the
    // shuffle path a 10^8-host state table would force
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try CrawlJob.run(spark, cfg, stateDir, sinkDir)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(engineEmits(sinkDir) === refEmits(ref))
  }

  test("queue event log: O(delta) appends per round, folded at compaction") {
    val cfg = WebConfig(numSeeds = 30, rounds = 10)
    val ref = RefWalker.run(cfg)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    val st = new graft.tables.SnapshotTable(stateDir)
    val segs = st.segmentsOf(st.latestSnapshot.get, "queue_add")
    assert(segs.size <= 3, s"queue compaction did not fold segments: $segs")
    // alive queue equals the walker's residual frontier exactly
    assert(CrawlJob.readQueue(spark, stateDir).count() === ref.queueSize.toLong)
    // and the full queue is NOT rewritten between compactions: the two
    // post-compaction segments are per-round discovery deltas, strictly
    // smaller than the alive queue
    val aliveRows = CrawlJob.readQueue(spark, stateDir).count()
    val lastSeg = spark.read.parquet(segs.last).count()
    assert(lastSeg < aliveRows, s"last queue segment ($lastSeg rows) looks like a full rewrite")
  }

  test("queue event-log semantics: a del kills only adds at/before its round; re-add resurrects") {
    val dir = tmp()
    val st = new graft.tables.SnapshotTable(dir)
    def addRow(qr: Long) = Seq(("h.test", "http://h.test/p/x", 123L, 1L, 5, qr))
      .toDF("host", "url", "url_hash", "seq", "priority", "qr")
    val emptyDel = spark.emptyDataset[(Long, Long)].toDF("url_hash", "dr")
    st.commit(
      Map("meta" -> Seq((0L, 0L, 0L)).toDF("round", "member_count", "bloom_cap")),
      appendOnly = Map("queue_add" -> addRow(0L), "queue_del" -> emptyDel))
    assert(CrawlJob.readQueue(spark, dir).count() === 1)
    // fetched at round 2 → tombstoned
    st.commit(Map.empty, appendOnly = Map(
      "queue_add" -> addRow(0L).limit(0),
      "queue_del" -> Seq((123L, 2L)).toDF("url_hash", "dr")))
    assert(CrawlJob.readQueue(spark, dir).count() === 0)
    // seen-tombstoned by a revision, rediscovered at round 5 → re-enqueued
    // with a fresh qr; the old round-2 del must NOT kill the new add
    st.commit(Map.empty, appendOnly = Map(
      "queue_add" -> addRow(5L), "queue_del" -> emptyDel))
    val alive = CrawlJob.readQueue(spark, dir)
    assert(alive.count() === 1)
    assert(alive.select("qr").as[Long].head() === 5L)
    // fetched again at round 7 → gone again
    st.commit(Map.empty, appendOnly = Map(
      "queue_add" -> addRow(0L).limit(0),
      "queue_del" -> Seq((123L, 7L)).toDF("url_hash", "dr")))
    assert(CrawlJob.readQueue(spark, dir).count() === 0)
  }

  test("shard-local file-mode bloom probing gives identical results to broadcast mode") {
    val cfg = WebConfig(numSeeds = 40, rounds = 4)
    val a = tmp(); val sa = tmp(); val b = tmp(); val sb = tmp()
    CrawlJob.run(spark, cfg, a, sa)                              // broadcast probe
    CrawlJob.run(spark, cfg, b, sb, maxBloomBroadcastBytes = 0L) // file-shard probe
    assert(engineEmits(sa) === engineEmits(sb))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(b, "bloomblobs")), "file mode never wrote shard blobs")
  }

  test("F2 guard: cold start with zero seeds fails fast, commits nothing") {
    val stateDir = tmp(); val sinkDir = tmp()
    intercept[IllegalArgumentException] {
      CrawlJob.run(spark, WebConfig(numSeeds = 0), stateDir, sinkDir)
    }
    assert(new graft.tables.SnapshotTable(stateDir).latestSnapshot.isEmpty,
      "failed cold start must not leave a committed snapshot")
  }

  test("bloom state is maintained O(delta): persisted blooms contain every alive member") {
    val cfg = WebConfig(numSeeds = 30, rounds = 6)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    val state = new graft.tables.SnapshotTable(stateDir)
    val provider = SeenSetTestAccess.provider(spark, state)
    val members = CrawlJob.readMembers(spark, state).as[Long].collect()
    members.foreach(k => assert(provider.mightContain(k), s"bloom false negative on $k"))
    // the fetched subset is members minus queue, so it probes true as well
    val seen = CrawlJob.readSeen(spark, stateDir).as[Long].collect()
    seen.foreach(k => assert(provider.mightContain(k), s"bloom false negative on seen $k"))
    // meta's incremental count equals the actual alive count (never recounted by scan)
    val metaCount = state.read(spark, "meta").select("member_count").as[Long].head()
    assert(metaCount === members.length.toLong)
  }

  test("window and hostctr are delta-committed event logs, folded at compaction") {
    val cfg = WebConfig(numSeeds = 30, rounds = 10)
    val ref = RefWalker.run(cfg)
    val stateDir = tmp(); val sinkDir = tmp()
    CrawlJob.run(spark, cfg, stateDir, sinkDir)
    assert(engineEmits(sinkDir) === refEmits(ref))
    val st = new graft.tables.SnapshotTable(stateDir)
    // both logs fold at the round-8 compaction: ≤ fold + 2 delta segments
    for (t <- Seq("window_add", "window_del", "hostctr_add", "head_add")) {
      val segs = st.segmentsOf(st.latestSnapshot.get, t)
      assert(segs.size <= 3, s"$t not folded at compaction: $segs")
    }
    // the head reads the queue's tombstones; it keeps no del log of its own
    assert(!st.tableNames().contains("head_del"))
    // post-compaction hostctr segments are per-ACTIVE-host deltas, strictly
    // smaller than the full counter table (the r3 full rewrite is gone)
    val ctrSegs = st.segmentsOf(st.latestSnapshot.get, "hostctr_add")
    val lastCtr = spark.read.parquet(ctrSegs.last).count()
    val allCtr = CrawlJob.readHostctr(spark, st).count()
    assert(ctrSegs.size > 1, "no post-compaction hostctr delta segment to check")
    assert(lastCtr <= allCtr, s"hostctr delta ($lastCtr) exceeds the live table ($allCtr)")
    // the alive window respects the K bound per host
    val overK = CrawlJob.readWindow(spark, st)
      .groupBy("host").count().filter(col("count") > cfg.windowK).count()
    assert(overK === 0L, "window eviction left a host over K deep")
  }

  test("capacity growth across a resume triggers the emergency head re-provision and stays exact") {
    // a frontier deep enough that heads are truncated (finite β) under the
    // SMALL capacities, seeded directly through `seedSnapshot`
    val cfgSmall = graft.fixtures.WebConfig(numHosts = 16, rounds = 3, roundMillis = 100L)
    val cfgBig = cfgSmall.copy(roundMillis = 10000L)
    def queueAdd = spark.range(0, 50000, 1, 8)
      .select(
        format_string("host%02d.test", (col("id") % cfgSmall.numHosts).cast("int")).as("host"),
        concat(lit("http://host"),
          format_string("%02d", (col("id") % cfgSmall.numHosts).cast("int")),
          lit(".test/p/q"), col("id").cast("string")).as("url"),
        (floor(col("id") / cfgSmall.numHosts) + 1).cast("long").as("seq"))
      .select(col("host"), col("url"), xxhash64(col("url")).as("url_hash"),
        col("seq"), pmod(xxhash64(col("url")), lit(10)).cast("int").as("priority"),
        lit(0L).as("qr"))
    def hostStateDf = spark.createDataset(
      graft.fixtures.SyntheticWeb.hostStates(cfgSmall)).toDF()

    // path A: head provisioned for the SMALL capacities, then run with BIG
    val stA = tmp(); val skA = tmp()
    CrawlJob.seedSnapshot(spark, new graft.tables.SnapshotTable(stA),
      queueAdd, hostStateDf, cfgSmall.roundMillis)
    val seedMetaA = new graft.tables.SnapshotTable(stA) // β from small caps
    val betaSeed = seedMetaA.read(spark, "headmeta").count()
    assert(betaSeed > 0, "fixture too shallow: no truncated head at seed")
    val (_, runA) = SparkEvents.during(spark.sparkContext)(CrawlJob.run(spark, cfgBig, stA, skA))
    assert(runA.sqlCallSites.count(_.contains(GuardFrame)) === 1,
      "the guard must run once, until the emergency round re-provisions the head")
    assert(seedMetaA.read(spark, "meta").as[CrawlJob.Meta].head().head_ms === cfgBig.roundMillis)

    // path B: head provisioned for the BIG capacities from the start
    val stB = tmp(); val skB = tmp()
    CrawlJob.seedSnapshot(spark, new graft.tables.SnapshotTable(stB),
      queueAdd, hostStateDf, cfgBig.roundMillis)
    val (_, runB) = SparkEvents.during(spark.sparkContext)(CrawlJob.run(spark, cfgBig, stB, skB))
    assert(!runB.sqlCallSites.exists(_.contains(GuardFrame)))

    assert(engineEmits(skA) === engineEmits(skB),
      "emergency re-provision path diverged from the correctly-provisioned run")
    assert(CrawlJob.readQueue(spark, stA).count() === CrawlJob.readQueue(spark, stB).count())
  }

  test("scheduling from the head cache equals scheduling from the full queue") {
    // synthetic frontier: 40 hosts × up to 4k rows with mixed priorities —
    // deep enough that every head is truncated (β finite) for most hosts
    val q = spark.range(0, 80000, 1, 8)
      .select(
        format_string("h%02d.test", (col("id") % 40).cast("int")).as("host"),
        concat(lit("http://h/p"), col("id").cast("string")).as("url"),
        xxhash64(concat(lit("u"), col("id").cast("string"))).as("url_hash"),
        (floor(col("id") / 40) + 1).cast("long").as("seq"),
        pmod(xxhash64(col("id").cast("string")), lit(10)).cast("int").as("priority"),
        lit(0L).as("qr"))
    val hostState = spark.range(40)
      .select(format_string("h%02d.test", col("id").cast("int")).as("host"),
        (col("id") % 7 + 1).as("min_delay_ms"), (lit(20L) + col("id") % 30).as("budget"))
    val roundMillis = 100L
    val (_, headAdd, headmeta) = CrawlJob.shapeAndBuildHead(q, hostState, roundMillis)
    assert(headmeta.count() > 0, "fixture too shallow: no host got a finite boundary")
    // the head really is bounded: ≤ capacity × HeadDepthRounds rows per host
    val caps = hostState.select(col("host"),
      graft.frontier.Scheduler.capacity(col("budget"), col("min_delay_ms"), roundMillis)
        .cast("long").as("cap"))
    val over = headAdd.groupBy("host").count().join(caps, Seq("host"))
      .filter(col("count") > col("cap") * CrawlJob.HeadDepthRounds).count()
    assert(over === 0L, "head deeper than its provisioning bound")
    // and scheduling over it is EXACTLY scheduling over the full frontier
    def sched(src: org.apache.spark.sql.DataFrame) =
      graft.frontier.Scheduler.schedule(src.drop("qr"), hostState, roundMillis)
        .select("host", "url_hash", "host_rank")
        .as[(String, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._3))
    assert(sched(headAdd) === sched(q))
    // boundary invariant: every backing (non-head) row ranks at-or-after β
    val backing = q.join(headAdd.select("url_hash"), Seq("url_hash"), "left_anti")
      .join(headmeta, Seq("host"), "inner") // truncated hosts only
      .filter(col("priority") > col("bp") ||
        (col("priority") === col("bp") && col("seq") < col("bs")))
    assert(backing.count() === 0L, "backing row ranks before its host's boundary")
  }
}
