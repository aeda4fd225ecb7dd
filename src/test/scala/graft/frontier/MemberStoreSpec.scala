package graft.frontier

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact fingerprint store ([[MemberStore]]): LSM alive semantics
  * (base + delta adds/dels, re-adds, same-round add-wins), provider
  * selection, gap refusal, and two-generation residency — all against a
  * plain scala-Set oracle. CrawlParitySpec then differential-tests the
  * store against the parquet anti-join end-to-end (bloom path vs exact
  * path, byte-identical crawls).
  */
class MemberStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def df(hs: Seq[Long]) = hs.toDF("url_hash")

  test("alive semantics match the event-log oracle across add/del/re-add") {
    val root = java.nio.file.Files.createTempDirectory("memstore").toString
    val shards = 8
    // base at round 0: keys 0..99
    MemberStore.writeBase(df(0L until 100L), root, 0L, shards)
    // round 1: del 10..19, add 200..209
    MemberStore.writeDelta(df(200L until 210L), Some(df(10L until 20L)), root, 1L, shards)
    // round 2: re-add 10..14 (revived after retraction), del 200..204,
    //          and a SAME-ROUND add+del for key 500 (add wins: r >= dr)
    MemberStore.writeDelta(df((10L until 15L) :+ 500L), Some(df(Seq(200L, 201L, 202L, 203L, 204L, 500L))),
      root, 2L, shards)
    // round 3: empty delta (a round with no membership changes; no del kind)
    MemberStore.writeDelta(df(Nil), None, root, 3L, shards)

    val p = MemberStore.providerAsOf(root, 3L)
    assert(p.baseRound === 0L && p.deltaRounds === Seq(1L, 2L, 3L) && p.shards === shards)

    // oracle: replay the event log with the engine's r >= dr rule
    val events = // (key, round, isAdd)
      (0L until 100L).map(h => (h, 0L, true)) ++
        (200L until 210L).map(h => (h, 1L, true)) ++ (10L until 20L).map(h => (h, 1L, false)) ++
        ((10L until 15L) :+ 500L).map(h => (h, 2L, true)) ++
        Seq(200L, 201L, 202L, 203L, 204L, 500L).map(h => (h, 2L, false))
    val keys = events.map(_._1).distinct
    val oracle = keys.filter { h =>
      val dels = events.filter(e => e._1 == h && !e._3).map(_._2)
      val adds = events.filter(e => e._1 == h && e._3).map(_._2)
      if (dels.isEmpty) adds.nonEmpty else adds.exists(_ >= dels.max)
    }.toSet
    (keys ++ Seq(9999L, -7L, 0L, 63L)).distinct.foreach { h =>
      assert(p.alive(h) === oracle.contains(h), s"key $h")
    }
    // spot-pin the interesting cases
    assert(p.alive(10L), "retracted then re-added must be alive")
    assert(!p.alive(15L), "retracted, never re-added")
    assert(!p.alive(204L), "delta add then later del")
    assert(p.alive(205L), "delta add, never deleted")
    assert(p.alive(500L), "same-round add+del: add wins")
    assert(p.alive(50L), "base member untouched")
    assert(!p.alive(9999L), "never added")
  }

  test("probe agrees with the codegen expression over a DataFrame") {
    val root = java.nio.file.Files.createTempDirectory("memstore").toString
    MemberStore.writeBase(df(Seq(1L, 2L, 3L, -5L)), root, 0L, 4)
    MemberStore.writeDelta(df(Seq(100L)), Some(df(Seq(2L))), root, 1L, 4)
    val p = MemberStore.providerAsOf(root, 1L)
    val got = df(Seq(1L, 2L, 3L, -5L, 100L, 7L))
      .withColumn("alive", MemberStore.member_alive(
        org.apache.spark.sql.functions.col("url_hash"), p))
      .as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true, -5L -> true,
      100L -> true, 7L -> false))
  }

  test("a fold supersedes deltas; provider picks the newest base at-or-before") {
    val root = java.nio.file.Files.createTempDirectory("memstore").toString
    MemberStore.writeBase(df(Seq(1L, 2L)), root, 0L, 4)
    MemberStore.writeDelta(df(Seq(3L)), Some(df(Seq(1L))), root, 1L, 4)
    MemberStore.writeBase(df(Seq(2L, 3L)), root, 2L, 4) // the fold's alive set
    MemberStore.writeDelta(df(Seq(4L)), None, root, 3L, 4)
    val p = MemberStore.providerAsOf(root, 3L)
    assert(p.baseRound === 2L && p.deltaRounds === Seq(3L))
    assert(!p.alive(1L) && p.alive(2L) && p.alive(3L) && p.alive(4L))
    // as-of an earlier round: the OLD base + its delta
    val p1 = MemberStore.providerAsOf(root, 1L)
    assert(p1.baseRound === 0L && p1.deltaRounds === Seq(1L))
    assert(!p1.alive(1L) && p1.alive(2L) && p1.alive(3L) && !p1.alive(4L))
  }

  test("refuses a round gap or an incomplete delta (exactness guard)") {
    val root = java.nio.file.Files.createTempDirectory("memstore").toString
    MemberStore.writeBase(df(Seq(1L)), root, 0L, 4)
    MemberStore.writeDelta(df(Seq(2L)), None, root, 1L, 4)
    // round 2 missing entirely
    MemberStore.writeDelta(df(Seq(3L)), None, root, 3L, 4)
    assertThrows[IllegalArgumentException](MemberStore.providerAsOf(root, 3L))
    // an unfinished delta (no DONE marker) is refused too
    MemberStore.writeDelta(df(Seq(9L)), None, root, 2L, 4)
    java.nio.file.Files.delete(MemberStore.deltaDir(root, 2L).resolve("DONE"))
    assertThrows[IllegalArgumentException](MemberStore.providerAsOf(root, 2L))
  }

  test("expireOld keeps two base generations; JVM cache sweeps to them") {
    val root = java.nio.file.Files.createTempDirectory("memstore").toString
    MemberStore.writeBase(df(Seq(1L)), root, 0L, 2)
    MemberStore.writeDelta(df(Seq(2L)), None, root, 1L, 2)
    MemberStore.writeBase(df(Seq(1L, 2L)), root, 2L, 2)
    MemberStore.writeDelta(df(Seq(3L)), None, root, 3L, 2)
    MemberStore.writeBase(df(Seq(1L, 2L, 3L)), root, 4L, 2)
    MemberStore.expireOld(root)
    val names = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSet
      } finally s.close()
    }
    assert(names === Set("base-000002", "delta-000003", "base-000004"),
      s"got $names")
    // residency: the JVM cache keeps TWO base generations; a third fold
    // sweeps the oldest generation's entries
    val p4 = MemberStore.providerAsOf(root, 4L)
    (1L to 3L).foreach(p4.alive)
    assert(MemberStore.residentGens(root) === Set(4L))
    MemberStore.writeBase(df(Seq(9L)), root, 6L, 2)
    val p6 = MemberStore.providerAsOf(root, 6L)
    p6.alive(9L)
    assert(MemberStore.residentGens(root) === Set(4L, 6L))
    MemberStore.writeBase(df(Seq(9L)), root, 8L, 2)
    val p8 = MemberStore.providerAsOf(root, 8L)
    p8.alive(9L)
    assert(MemberStore.residentGens(root) === Set(6L, 8L),
      "generation-4 entries must be swept on the second fold")
  }
}
