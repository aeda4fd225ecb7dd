package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** The URL-seen set: the scale replacement for the reference's 128-deep
  * exact hash window (/root/reference/cache/stack.go). Two layers:
  *
  *  1. an exact, hash-partitioned parquet table of `url_hash` (ground truth,
  *     10^10 rows ≈ 80 GB raw — fine as a bucketed table on a cluster), and
  *  2. sharded [[BloomSketch]]s (shard = pmod(url_hash, S)) maintained
  *     INCREMENTALLY: each round OR-merges a delta bloom built from that
  *     round's adds into the persisted shard blobs — O(delta) per round,
  *     never a rescan of the seen table. A tombstoned key left in the bloom
  *     is safe: the bloom only routes candidates into the exact anti-join.
  *
  * Dedup of a candidate batch (`left-anti` vs 10^10 rows) would shuffle the
  * whole candidate set every round; the bloom probe answers "definitely new"
  * for the overwhelming majority of candidates map-side, so only the
  * maybe-seen remainder rides the sort-merge anti-join. Both paths are exact
  * in combination: bloom has no false negatives, and false positives are
  * re-checked by the join.
  *
  * The crawl ([[graft.crawl.CrawlJob]]) dedups every round through
  * [[filterNewStore]]: the same bloom in front of the exact [[MemberStore]]
  * probe, so no round anti-joins a member table. [[filterNew]]'s parquet
  * anti-join serves only `Bench`'s frozen frontier round and crawlbench's
  * `frontier_round`.
  *
  * Probe transport scales in two modes (chosen by total blob size):
  *  - broadcast: all shard blobs ship to every executor, probe is a codegen
  *    scalar [[BloomMightContain]] — fastest, right while blobs are small;
  *  - shard-local files: blobs live as one file per shard on shared storage;
  *    candidates are repartitioned by shard so each task touches (and each
  *    JVM lazily caches) only its own shards — at 10^10 keys / 1% fpp the
  *    blob set is ~12 GB, which must never ship to every executor.
  */
object SeenSet {

  val DefaultShards = 64
  val DefaultFpp = 0.01

  // ---- shard providers ----------------------------------------------------

  /** Uniform access to bloom shards for the probe expression. `shards` is the
    * BUILD-time shard count — the probe modulus must always come from here,
    * never from a possibly-sparse collection size (a wrong modulus maps keys
    * to the wrong shard's bloom = a false NEGATIVE, breaking exactness).
    */
  trait BloomShardProvider extends Serializable {
    def shards: Int
    def shard(i: Int): BloomSketch
    final def mightContain(h: Long): Boolean =
      shard(java.lang.Math.floorMod(h, shards.toLong).toInt).mightContain(h)
  }

  /** All shards on every executor via a Spark broadcast (small/medium case). */
  final case class BroadcastShardProvider(bc: Broadcast[Array[BloomSketch]])
      extends BloomShardProvider {
    def shards: Int = bc.value.length
    def shard(i: Int): BloomSketch = bc.value(i)
  }

  /** One blob file per shard under `dir` (written by [[writeShardFiles]]);
    * each JVM lazily loads and caches only the shards its tasks probe. With
    * candidates pre-repartitioned by shard, that is ~shards/executors blobs
    * per executor instead of all of them.
    */
  final case class FileShardProvider(dir: String, shards: Int)
      extends BloomShardProvider {
    def shard(i: Int): BloomSketch = FileShardProvider.load(dir, i)
  }

  object FileShardProvider {
    // TWO-GENERATION blob-directory residency per executor JVM: dirs are
    // per-round (stateDir/bloomblobs/round-NNNNNN), so without eviction a
    // long crawl accumulates every past round's sketches (~12 GB/round at
    // the 10^10-key target) until executors OOM. Keys embed the dir, so a
    // straggler task of an old round can never read a wrong shard.
    // Keeping the current AND previous generation (instead of clearing on
    // every dir change) closes two races in the r3 single-dir design: a
    // straggler of the previous round no longer flips the generation back
    // and forth re-clearing freshly loaded shards (thrash), and an entry
    // inserted by a loader that was already past the generation check when
    // the flip happened is swept at the NEXT flip (the sweep removes
    // everything outside the two live generations) instead of stranding
    // forever. Residency is bounded by two rounds of shards plus that
    // one-flip transient.
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, BloomSketch]()
    @volatile private var gens: (String, String) = ("", "")
    def shardFile(dir: String, i: Int): java.nio.file.Path =
      java.nio.file.Paths.get(dir, f"shard-$i%05d.bloom")
    private def load(dir: String, i: Int): BloomSketch = {
      if (dir != gens._1 && dir != gens._2) synchronized {
        if (dir != gens._1 && dir != gens._2) {
          gens = (dir, gens._1)
          val (cur, prev) = gens
          val it = cache.keySet.iterator()
          while (it.hasNext) {
            val k = it.next()
            if (!k.startsWith(cur + "#") && !k.startsWith(prev + "#")) it.remove()
          }
        }
      }
      cache.computeIfAbsent(s"$dir#$i", _ =>
        BloomSketch.deserialize(java.nio.file.Files.readAllBytes(shardFile(dir, i))))
    }
    private[frontier] def residentEntries: Int = cache.size()
    private[frontier] def residentDirs: Set[String] = {
      val out = scala.collection.mutable.Set[String]()
      cache.keySet.forEach(k => out += k.substring(0, k.lastIndexOf('#')))
      out.toSet
    }
  }

  // ---- building & maintaining bloom state ---------------------------------

  /** Per-shard delta blooms from a batch of adds: one row per shard PRESENT
    * in `adds` — `(shard int, sketch binary)`. Keys are ROUTED to their
    * shard's partition before aggregating: a map-side partial agg would
    * instead allocate one full capPerShard-sized sketch per (map task ×
    * shard present) — at 10^10 keys / 64 shards that is ~187 MB per buffer,
    * so even a tiny delta could allocate and shuffle many GB of
    * full-capacity sketches per round (and a compaction-time full build
    * would hold shards × 187 MB per task). After the route exactly one
    * buffer exists per shard; the exchange moves only the O(|adds|) keys.
    * Sizing params must match the persisted blooms or the OR-merge refuses.
    */
  def bloomDelta(adds: DataFrame, capPerShard: Long, fpp: Double = DefaultFpp,
      shards: Int = DefaultShards): DataFrame = {
    val bloomUdaf = udaf(new BloomAgg(capPerShard, fpp))
    adds
      .select(col("url_hash"), pmod(col("url_hash"), lit(shards)).cast("int").as("shard"))
      .repartition(shards, col("shard"))
      .groupBy(col("shard"))
      .agg(bloomUdaf(col("url_hash")).as("sketch"))
  }

  /** OR-merge bloom tables `(shard, sketch)` — distributed (the blobs never
    * touch the driver), O(shards) rows. This is the per-round O(delta)
    * maintenance step: `merged = mergeBlooms(persisted, delta)`.
    */
  def mergeBlooms(tables: DataFrame*): DataFrame = {
    val mergeUdaf = udaf(new BloomMergeAgg)
    tables.reduce(_ unionByName _)
      .groupBy(col("shard"))
      .agg(mergeUdaf(col("sketch")).as("sketch"))
  }

  /** Build the full shard array from the exact seen table (cold start /
    * compaction-time resize only — per-round maintenance uses [[bloomDelta]]
    * + [[mergeBlooms]]). Returns a DENSE `(shard, sketch)` DataFrame with a
    * row for every shard 0..S-1, so downstream consumers can never derive a
    * wrong modulus from missing shards.
    */
  def buildBloomsDf(seen: DataFrame, capPerShard: Long, fpp: Double = DefaultFpp,
      shards: Int = DefaultShards): DataFrame =
    mergeBlooms(bloomDelta(seen, capPerShard, fpp, shards),
      emptyBlooms(seen.sparkSession, capPerShard, fpp, shards))

  /** A dense all-empty bloom table (every shard present, zero bits). */
  def emptyBlooms(spark: SparkSession, capPerShard: Long, fpp: Double = DefaultFpp,
      shards: Int = DefaultShards): DataFrame = {
    import spark.implicits._
    val empty = BloomSketch.serialize(BloomSketch.create(capPerShard, fpp))
    (0 until shards).map(i => (i, empty)).toDF("shard", "sketch")
  }

  /** Collect a dense bloom table into a broadcast provider (small/medium
    * blobs). The modulus is threaded from the table's own row count, which
    * [[buildBloomsDf]]/[[emptyBlooms]] keep dense by construction.
    */
  def broadcastProvider(spark: SparkSession, blooms: DataFrame): BroadcastShardProvider = {
    val rows = blooms.select("shard", "sketch").collect()
    val arr = new Array[BloomSketch](rows.length)
    rows.foreach(r => arr(r.getInt(0)) = BloomSketch.deserialize(r.getAs[Array[Byte]](1)))
    require(!arr.contains(null), s"bloom table is not dense: ${rows.length} rows")
    BroadcastShardProvider(spark.sparkContext.broadcast(arr))
  }

  /** Materialize a dense bloom table as one blob file per shard under `dir`
    * (executors write their own rows — the blobs never funnel through the
    * driver), then return the matching provider.
    */
  def writeShardFiles(blooms: DataFrame, dir: String): FileShardProvider = {
    val shards = blooms.count().toInt
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    blooms.select("shard", "sketch").foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val tmp = java.nio.file.Paths.get(dir, f".shard-${r.getInt(0)}%05d.tmp")
          java.nio.file.Files.write(tmp, r.getAs[Array[Byte]](1))
          java.nio.file.Files.move(tmp, FileShardProvider.shardFile(dir, r.getInt(0)),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    }
    FileShardProvider(dir, shards)
  }

  // ---- the probe expression (codegen) -------------------------------------

  /** `bloom_might_contain(url_hash)` — a codegen'd scalar probe against the
    * provider's shards. Stays inside whole-stage codegen (one static-shaped
    * call per row), unlike a Scala UDF which would break the span at the
    * highest-volume point of the crawl round.
    */
  case class BloomMightContain(child: Expression, provider: BloomShardProvider)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      provider.mightContain(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomProvider", provider,
        classOf[BloomShardProvider].getName)
      defineCodeGen(ctx, ev, c => s"$ref.mightContain($c)")
    }
    override protected def withNewChildInternal(c: Expression): BloomMightContain =
      copy(child = c)
    override def prettyName: String = "bloom_might_contain"
  }

  def bloom_might_contain(c: Column, provider: BloomShardProvider): Column =
    Bridge.column(BloomMightContain(Bridge.expression(c), provider))

  // ---- dedup paths ---------------------------------------------------------

  /** Exact dedup of `candidates` against `seen`, bloom-accelerated.
    *
    * Returns candidates whose `url_hash` is NOT in `seen`. Rows the bloom
    * rejects ("definitely new") skip the anti-join entirely; "maybe seen"
    * rows are re-checked exactly. With a [[FileShardProvider]], candidates
    * are first repartitioned by shard so each task probes (and each executor
    * caches) only its local shards.
    */
  def filterNew(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
      provider: BloomShardProvider): DataFrame = {
    val routed = provider match {
      case FileShardProvider(_, shards) =>
        candidates.repartition(shards, pmod(col("url_hash"), lit(shards)))
      case _ => candidates
    }
    val flagged = routed
      .withColumn("_maybe_seen", bloom_might_contain(col("url_hash"), provider))
    val definitelyNew = flagged.filter(!col("_maybe_seen")).drop("_maybe_seen")
    val needCheck = flagged.filter(col("_maybe_seen")).drop("_maybe_seen")
    val confirmedNew =
      needCheck.join(seen.select("url_hash"), Seq("url_hash"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** Exact dedup against the [[MemberStore]] fingerprint blobs instead of a
    * parquet anti-join — the 10^10-member shape: the bloom rejects
    * definitely-new rows map-side as in [[filterNew]], and the maybe-seen
    * remainder is resolved by the codegen `member_alive` probe against
    * blobs that are immutable between folds (faulted in once per JVM, then
    * O(delta) bytes per round) — no per-round O(total members) scan
    * anywhere on this path.
    *
    * The store reflects membership at the END of the previous round; this
    * round's in-flight changes ride two tiny DataFrames: `delsThisRound`
    * (revision retractions — a candidate the store calls alive but that was
    * just retracted IS new again) and `addsThisRound` (replacement adds — a
    * candidate matching one is a member even if the store predates it).
    * Both are O(revised hosts · K) rows; the planner broadcasts them.
    */
  def filterNewStore(spark: SparkSession, candidates: DataFrame,
      members: MemberStore.MemberShardProvider, blooms: BloomShardProvider,
      delsThisRound: DataFrame, addsThisRound: DataFrame): DataFrame = {
    val routed = blooms match {
      case FileShardProvider(_, shards) =>
        candidates.repartition(shards, pmod(col("url_hash"), lit(shards)))
      case _ => candidates
    }
    val flagged = routed
      .withColumn("_maybe_seen", bloom_might_contain(col("url_hash"), blooms))
    val definitelyNew = flagged.filter(!col("_maybe_seen")).drop("_maybe_seen")
    val needCheck = flagged.filter(col("_maybe_seen")).drop("_maybe_seen")
    val newish = needCheck
      .join(delsThisRound.select("url_hash").distinct()
        .withColumn("_retracted", lit(1)), Seq("url_hash"), "left")
      .filter(!MemberStore.member_alive(col("url_hash"), members) ||
        col("_retracted").isNotNull)
      .drop("_retracted")
    val confirmedNew =
      newish.join(addsThisRound.select("url_hash"), Seq("url_hash"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }
}
