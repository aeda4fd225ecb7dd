package graft.frontier

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SeenSetSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def seenDf(keys: Seq[Long]) = keys.toDF("url_hash")

  test("bloom table is dense even when most shards are empty (modulus bug regression)") {
    // all keys land in very few shards: a sparse map + modulus-from-size
    // would probe the WRONG shard and report false negatives
    val keys = (0 until 20).map(i => i.toLong * SeenSet.DefaultShards + 3)
    val blooms = SeenSet.buildBloomsDf(seenDf(keys), 1024)
    assert(blooms.count() === SeenSet.DefaultShards)
    val provider = SeenSet.broadcastProvider(spark, blooms)
    keys.foreach(k => assert(provider.mightContain(k), s"false negative on $k"))
  }

  test("filterNew is exact: no seen key survives, every new key survives") {
    val seenKeys = (1L to 3000L).map(_ * 7L)
    val newKeys = (1L to 3000L).map(_ * 7L + 1L)
    val seen = seenDf(seenKeys)
    val blooms = SeenSet.buildBloomsDf(seen, 1024)
    val provider = SeenSet.broadcastProvider(spark, blooms)
    val out = SeenSet.filterNew(spark, seenDf(seenKeys ++ newKeys), seen, provider)
      .as[Long].collect().toSet
    assert(out === newKeys.toSet)
  }

  test("incremental delta OR-merge equals from-scratch build, bit for bit") {
    val a = (1L to 500L).map(_ * 13L)
    val b = (1L to 500L).map(_ * 13L + 5L)
    val cap = 2048L
    val incremental = SeenSet.mergeBlooms(
      SeenSet.buildBloomsDf(seenDf(a), cap),
      SeenSet.bloomDelta(seenDf(b), cap))
    val scratch = SeenSet.buildBloomsDf(seenDf(a ++ b), cap)
    val inc = incremental.orderBy("shard").collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1).toSeq))
    val scr = scratch.orderBy("shard").collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1).toSeq))
    assert(inc.toSeq === scr.toSeq)
  }

  test("file-shard provider agrees with broadcast provider") {
    val keys = (1L to 4000L).map(_ * 31L)
    val blooms = SeenSet.buildBloomsDf(seenDf(keys), 1024).localCheckpoint(true)
    val dir = tempDir("graft-bloomblobs")
    val fileProv = SeenSet.writeShardFiles(blooms, dir)
    val bcProv = SeenSet.broadcastProvider(spark, blooms)
    assert(fileProv.shards === SeenSet.DefaultShards)
    val probes = keys ++ (1L to 4000L).map(_ * 31L + 7L)
    probes.foreach { k =>
      assert(fileProv.mightContain(k) === bcProv.mightContain(k), s"disagree on $k")
    }
    // shard-local dedup path end-to-end
    val out = SeenSet.filterNew(spark, seenDf(probes.distinct), seenDf(keys), fileProv)
      .as[Long].collect().toSet
    assert(out === probes.filterNot(keys.toSet).toSet)
  }

  test("file-shard blob cache keeps two generations, evicts older (no unbounded residency)") {
    val keys = (1L to 1000L).map(_ * 17L)
    val blooms = SeenSet.buildBloomsDf(seenDf(keys), 1024).localCheckpoint(true)
    def newDir(tag: String) =
      tempDir(s"graft-blobs-$tag")
    val (dirA, dirB, dirC) = (newDir("a"), newDir("b"), newDir("c"))
    val provA = SeenSet.writeShardFiles(blooms, dirA)
    val provB = SeenSet.writeShardFiles(blooms, dirB)
    val provC = SeenSet.writeShardFiles(blooms, dirC)
    keys.take(200).foreach(provA.mightContain) // round A loads
    assert(SeenSet.FileShardProvider.residentEntries > 0)
    keys.take(200).foreach(provB.mightContain) // round B: A stays (straggler
    keys.take(10).foreach(provA.mightContain)  // tasks of A don't thrash)
    assert(SeenSet.FileShardProvider.residentDirs.exists(_.startsWith(dirA)))
    keys.take(200).foreach(provC.mightContain) // round C: A's generation swept
    assert(!SeenSet.FileShardProvider.residentDirs.exists(_.startsWith(dirA)),
      "oldest generation not evicted at the flip")
    assert(SeenSet.FileShardProvider.residentEntries <= 2 * SeenSet.DefaultShards,
      s"cache kept ${SeenSet.FileShardProvider.residentEntries} entries > two generations")
    // and correctness is unaffected on every side of the eviction (evicted
    // shards just reload on demand)
    keys.foreach(k =>
      assert(provC.mightContain(k) && provB.mightContain(k) && provA.mightContain(k)))
  }

  test("probe expression stays inside whole-stage codegen") {
    val blooms = SeenSet.buildBloomsDf(seenDf(Seq(1L, 2L)), 1024)
    val provider = SeenSet.broadcastProvider(spark, blooms)
    val df = spark.range(100).select(col("id").as("url_hash"))
      .withColumn("maybe", SeenSet.bloom_might_contain(col("url_hash"), provider))
    // "*(1)" prefixes mark operators fused into WholeStageCodegen span 1 —
    // the probe projection must carry it and must not be a UDF
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("bloom_might_contain"),
      s"probe not inside a codegen span:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"probe fell out of codegen:\n$plan")
    assert(df.filter(col("maybe")).count() === 2)
  }
}
