package graft.frontier

import graft.SparkTestBase
import graft.fixtures.WebConfig
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins the executor-side blob-cache residency bound under a REAL multi-
  * round file-mode crawl (the r3 fix was only unit-visible): per-round blob
  * directories must not accumulate in the JVM-wide cache — residency stays
  * within the two-generation design bound (current + previous round's
  * shards) no matter how many rounds run. Local mode shares one JVM between
  * driver and executors, so the cache under test is exactly the one the
  * probe tasks populate.
  */
class FileShardEvictionSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark

  test("file-mode crawl across many rounds keeps ≤ two generations of blob shards resident") {
    val cfg = WebConfig(numSeeds = 40, rounds = 6)
    val stateDir = tempDir("shard-evict-state")
    val sinkDir = tempDir("shard-evict-sink")
    // maxBloomBroadcastBytes = 0 forces the file-shard probe transport
    // from round 1 — a new blob dir every round
    graft.crawl.CrawlJob.run(spark, cfg, stateDir, sinkDir, maxBloomBroadcastBytes = 0L)
    assert(Files.isDirectory(java.nio.file.Paths.get(stateDir, "bloomblobs")),
      "file mode never wrote shard blobs — fixture no longer exercises the cache")
    val dirs = SeenSet.FileShardProvider.residentDirs
    val entries = SeenSet.FileShardProvider.residentEntries
    // two generations max (other suites may have loaded OTHER state dirs'
    // blobs into the shared JVM cache — the generation sweep evicts those
    // too, so the global bound still holds)
    assert(dirs.size <= 2, s"more than two blob generations resident: $dirs")
    assert(entries <= 2 * SeenSet.DefaultShards,
      s"cache holds $entries entries > two rounds of ${SeenSet.DefaultShards} shards")
    // and the resident generations are from THIS crawl's newest rounds
    val thisCrawl = dirs.filter(_.startsWith(stateDir))
    assert(thisCrawl.nonEmpty, "no generation from the just-finished crawl resident")
    val newest = thisCrawl.map(_.split("round-").last.toLong).max
    assert(newest >= cfg.rounds - 1,
      s"resident generation $newest is stale (expected ~round ${cfg.rounds})")
  }
}
