package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults this engine assumes.
  *
  * Sandbox runs are `local[k]` single-JVM; on a real cluster the same conf
  * applies except `shuffle.partitions`, which should be ~2-3x total cores.
  * AQE is on so skewed frontier joins re-plan at runtime (SURVEY.md §4).
  *
  * Local files (`file:` paths) go through [[GraftLocalFileSystem]]. Without
  * the Hadoop native library, Hadoop's local filesystem sets every new
  * file's and directory's permissions by forking `chmod` (1,119 forks in
  * one crawl benchmark run), and it writes a `.crc` sidecar next to every
  * file (each parquet part file, each `_SUCCESS`). This one sets
  * permissions through `java.nio` and writes no sidecars. Integrity on read
  * then rests on the CRC that parquet writes into every page header, which
  * reads verify (`parquet.page.verify-checksum.enabled`). The trade: page
  * CRCs do not cover the parquet footer or non-parquet files, which the
  * sidecar did; a corrupt footer still fails its own thrift decode, but a
  * flipped bit in a footer statistic is not caught. Old `.crc` files are
  * still verified when present and removed when their file is rewritten.
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r6 (guide §3.1): let AQE rewrite a sort-merge join to a shuffled
      // hash join at runtime when EVERY post-shuffle partition of the build
      // side fits a local map (≤128 MB). Guarded by actual runtime sizes,
      // so the 10^10-row regimes (e.g. the seen-set anti-join at target
      // scale, where partitions far exceed this) keep sort-merge's graceful
      // spill; at partition sizes where a hash map fits, this removes both
      // sides' sorts from the frontier anti-join. Default is 0 (off).
      // Memory assumption: the guard is on compressed shuffle bytes, and a
      // deserialized build map can be several times larger; with one task
      // per core each holding a map, the heap must fit cores × 128 MB ×
      // that expansion, unspillable. A snapshot commit's write wave
      // (SnapshotTable.commit) runs a round's write jobs at once: they
      // share the same task slots, so the map bound stays per core, but
      // the wave's broadcast relations and parquet writer buffers are all
      // live together on top of it.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      // Compiled-codegen cache (static conf; Spark's default is 100). A crawl
      // round plans ~300 distinct generated classes, so at 100 entries the
      // LRU evicts each before the next round reuses it, and every steady
      // round recompiled ~276 classes with Janino (~20% of its CPU samples;
      // 14 when they fit). Each entry holds one loaded generated class.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // The cache is keyed by the generated source. By default a whole-stage
      // class is named after its codegen stage id, and under AQE that id
      // depends on how many re-plans ran before the stage, which follows
      // the order in which concurrent stages finish; the same stage then
      // compiled again under a new name (0-24 classes per steady round).
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.parquet.page.verify-checksum.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // shuffle/spill scratch on tmpfs: this single-box sandbox has ONE
      // virtual disk, so disk-backed shuffle is a flat cost that a real
      // cluster (per-node local SSDs, aggregate bandwidth scales with
      // nodes) does not have; tmpfs restores the scaling behavior being
      // emulated. Falls back to the default if /dev/shm is absent.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir"))

  def get(cores: Int): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** The local filesystem of [[GraftSession]]: Hadoop's checksummed local
  * filesystem over [[NioRawLocalFileSystem]], with checksum writing off.
  */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setWriteChecksum(false)
  }
}

/** Hadoop's raw local filesystem, with permissions set through `java.nio`
  * instead of a forked `chmod`. The sticky bit is not set (no local path of
  * the engine uses it).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
}
