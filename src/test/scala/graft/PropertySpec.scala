package graft

import graft.crawl.RefWalker
import graft.fixtures.WebConfig
import graft.functions.HexCodec
import graft.ingest.BlockIngest
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.4): generator-driven oracles for the lenient
  * hex contract, the F1 filter, and the prefix-commit/ordering invariants.
  * ScalaCheck Gens sampled with fixed seeds (no scalatestplus bridge in the
  * offline cache), so failures are reproducible.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: minhash_signature expression ≡ composed array_min/transform form, bit-exact") {
    // range-sourced (a local Seq would be constant-folded by
    // ConvertToLocalRelation, bypassing codegen entirely): varied-length
    // arrays of well-spread longs, one-in-seven rows carrying a null element
    val base = spark.range(400).select(col("id"),
      transform(sequence(lit(1L), pmod(col("id"), lit(20)) + 1),
        i => xxhash64(i * (col("id") + 1))).as("sh0"))
    val df = base.select(col("id"),
      when(col("id") % 11 === 0, array().cast("array<long>"))
        .when(col("id") % 7 === 0,
          concat(array(lit(null).cast("long")), col("sh0")))
        .otherwise(col("sh0")).as("shingles"))
    val numPerms = 32
    val composed = array((0 until numPerms).map { j =>
      array_min(transform(col("shingles"), h => xxhash64(lit(j), h)))
    }: _*)
    val both = df.select(col("id"), size(col("shingles")).as("n"),
      graft.functions.MinhashSig.minhash_signature(col("shingles"), numPerms).as("fast"),
      composed.as("slow"))
    val mismatches = both.filter(col("n") > 0 && col("fast") =!= col("slow")).count()
    assert(mismatches === 0L, "expression diverges from the composed formulation")
    assert(both.count() === 400L)
    // edge contract (ADVICE r3): EMPTY arrays take the min-identity value —
    // [Long.MaxValue × p] — where the composed form degrades to p nulls;
    // a NULL input array yields NULL (nullIntolerant)
    val empties = both.filter(col("n") === 0)
    assert(empties.count() > 0L, "generator produced no empty arrays")
    assert(empties.filter(col("fast") =!=
      array((0 until numPerms).map(_ => lit(Long.MaxValue)): _*)).count() === 0L,
      "empty-array signature is not the min identity")
    val nullIn = spark.range(1)
      .select(graft.functions.MinhashSig.minhash_signature(
        lit(null).cast("array<long>"), numPerms).as("s"))
    assert(nullIn.filter(col("s").isNotNull).count() === 0L, "null array must yield null")
    // and it stays inside whole-stage codegen, not a UDF
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("minhash_signature") && !plan.toLowerCase.contains("scalaudf"),
      s"minhash_signature fell out of codegen:\n$plan")
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
  }

  test("property: lenient hex decode ≡ BigInt oracle on arbitrary strings") {
    val hexish = Gen.oneOf(
      Gen.listOf(Gen.oneOf("0123456789abcdefABCDEF".toSeq)).map("0x" + _.mkString),
      Gen.listOf(Gen.oneOf("0123456789abcdefxyz $".toSeq)).map(_.mkString),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(n => "0x" + java.lang.Long.toHexString(n)))
    samples(hexish, 3000).foreach { s =>
      val got = HexCodec.decodeHexLenient(s)
      val want: Long = {
        if (s.length < 2) 0L
        else {
          val body = if (s.startsWith("0x") || s.startsWith("0X")) s.drop(2) else s
          if (body.isEmpty || body.length > 16 ||
            !body.forall(c => Character.digit(c, 16) >= 0)) 0L
          else BigInt(body, 16).longValue
        }
      }
      assert(got === want, s"input='$s'")
    }
  }

  test("property: F1 filter ≡ brute-force oracle on random logs and configs") {
    val topicPool = (0 until 6).map(i => s"0xt$i")
    val addrPool = (0 until 4).map(i => s"0xa$i")
    case class L(address: String, topics: Seq[String])
    val genLog = for {
      a <- Gen.oneOf(addrPool)
      n <- Gen.chooseNum(0, 4)
      ts <- Gen.listOfN(n, Gen.oneOf(topicPool))
    } yield L(a, ts)
    val genCfg = for {
      na <- Gen.chooseNum(0, 3)
      as <- Gen.listOfN(na, Gen.oneOf(addrPool))
      np <- Gen.chooseNum(0, 3)
      tp <- Gen.listOfN(np, Gen.chooseNum(0, 2).flatMap(k => Gen.listOfN(k, Gen.oneOf(topicPool))))
    } yield (as.distinct, tp.map(_.distinct))

    def oracle(logs: Seq[L], addrs: Seq[String], topics: Seq[Seq[String]]): Seq[L] =
      logs.filter { l =>
        (addrs.isEmpty || addrs.contains(l.address)) &&
          topics.size <= l.topics.size &&
          topics.zipWithIndex.forall { case (alts, i) =>
            alts.isEmpty || alts.contains(l.topics(i))
          }
      }

    val logSets = samples(Gen.listOfN(12, genLog), 12)
    val cfgs = samples(genCfg, 12)
    logSets.zip(cfgs).foreach { case (logs, (addrs, topics)) =>
      val df = Seq(Tuple1(logs.map(l => (l.address, l.topics))))
        .toDF("raw")
        .select(transform(col("raw"), e =>
          struct(e.getField("_1").as("address"), e.getField("_2").as("topics"))).as("logs"))
      val got = df.select(explode(BlockIngest.filterLogs(col("logs"), addrs, topics)).as("l"))
        .select(col("l.address"), col("l.topics"))
        .as[(String, Seq[String])].collect().toSeq
        .map { case (a, ts) => a + "|" + ts.mkString(",") }
      val want = oracle(logs, addrs, topics)
        .map(l => l.address + "|" + l.topics.mkString(","))
      assert(got.sorted === want.sorted,
        s"addrs=$addrs topics=$topics logs=$logs")
    }
  }

  test("property: per-host ACCEPTED ords are contiguous from 1 (prefix commit never gaps)") {
    Seq(WebConfig(), WebConfig(seed = 7L, numSeeds = 45, failMod = 5),
      WebConfig(seed = 9L, numHosts = 4, failMod = 3)).foreach { cfg =>
      val res = RefWalker.run(cfg)
      res.emits.filter(_.status == "ACCEPTED").groupBy(_.host).foreach { case (host, es) =>
        val ords = es.map(_.ord).sorted
        assert(ords === (1L to ords.size.toLong), s"host=$host cfg=$cfg")
      }
      // DROPPED ords must reference previously ACCEPTED ords of that host
      res.emits.filter(_.status == "DROPPED").foreach { d =>
        assert(res.emits.exists(e => e.status == "ACCEPTED" && e.host == d.host &&
          e.ord == d.ord && e.round <= d.round), s"dangling DROPPED $d")
      }
    }
  }

  test("property: walker is deterministic and failure-free runs commit a superset") {
    val base = WebConfig(seed = 11L, numSeeds = 30, rounds = 4)
    val a = RefWalker.run(base)
    val b = RefWalker.run(base)
    assert(a.emits === b.emits)
    assert(a.seen === b.seen)
    val noFail = RefWalker.run(base.copy(failMod = 0))
    // round 1 starts from the identical schedule in both runs, so failures
    // can only TRUNCATE each host's committed prefix, never reorder it
    def round1(r: RefWalker.Result) = r.emits
      .filter(e => e.round == 1 && e.status == "ACCEPTED")
      .groupBy(_.host).view.mapValues(_.sortBy(_.ord).map(_.url_hash)).toMap
    val withFail = round1(a); val clean = round1(noFail)
    withFail.foreach { case (host, seq) =>
      assert(clean(host).take(seq.size) === seq,
        s"host $host round-1 commits are not a prefix of the failure-free run")
    }
  }
  test("property: bloom-accelerated, file-shard, and exact dedup agree on random key sets") {
    val keys = Gen.listOfN(400, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    (0 until 5).foreach { i =>
      val seen = samples(keys, 1).head.distinct
      val cands = (samples(keys, 1).head ++ seen.take(seen.size / 3)).distinct
      val seenDf = seen.toDF("url_hash")
      val candDf = cands.toDF("url_hash")
      val blooms = graft.frontier.SeenSet.buildBloomsDf(seenDf, 1024)
        .localCheckpoint(true)
      val bc = graft.frontier.SeenSet.broadcastProvider(spark, blooms)
      val dir = java.nio.file.Files.createTempDirectory(s"prop-blobs-$i").toString
      val fp = graft.frontier.SeenSet.writeShardFiles(blooms, dir)
      val exact = candDf.join(seenDf, Seq("url_hash"), "left_anti")
        .as[Long].collect().toSet
      val viaBc = graft.frontier.SeenSet.filterNew(spark, candDf, seenDf, bc)
        .as[Long].collect().toSet
      val viaFile = graft.frontier.SeenSet.filterNew(spark, candDf, seenDf, fp)
        .as[Long].collect().toSet
      assert(viaBc === exact, s"broadcast path diverged (iter $i)")
      assert(viaFile === exact, s"file-shard path diverged (iter $i)")
      assert(exact === (cands.toSet -- seen.toSet), s"exact path wrong (iter $i)")
    }
  }

  test("property: strict DecodeBig round-trips arbitrary 256-bit values and rejects what checkNumber rejects") {
    val big = Gen.chooseNum(1, 64).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString))
    samples(big, 2000).foreach { digits =>
      val canonical = digits.dropWhile(_ == '0') match { case "" => "0"; case d => d }
      val in = "0x" + digits
      val got = HexCodec.decodeBigStrict(in)
      if (digits.length > 1 && digits.head == '0')
        assert(got === Left("hex number with leading zero digits"), s"input=$in")
      else {
        assert(got === Right(BigInt(canonical, 16)), s"input=$in")
        // encode minimal and re-decode: identity on canonical forms
        val enc = "0x" + got.toOption.get.toString(16)
        assert(HexCodec.decodeBigStrict(enc) === got, s"roundtrip $enc")
      }
    }
  }
}