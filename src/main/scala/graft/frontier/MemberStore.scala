package graft.frontier

import graft.tables.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** The EXACT membership layer of the URL-seen set — the "cuckoo" half of the
  * north rule's "partitioned Bloom/cuckoo filters": per-shard sorted
  * `url_hash` fingerprint blobs probed by binary search, maintained as a
  * two-level LSM (a BASE generation rewritten only at compaction folds, plus
  * one small DELTA file set per round).
  *
  * Why it exists: the bloom probe ([[SeenSet]]) answers "definitely new" for
  * the overwhelming majority of discovery candidates, but the maybe-seen
  * remainder needs an EXACT check. Resolving it with an anti-join against
  * the parquet member log re-reads O(total members) EVERY round — at the
  * 10^10-member target that is the last per-round O(total) scan in the
  * crawl loop (the r4 residual). This store resolves the same check in
  * O(maybe-seen × log(shard)) probes against blobs that are IMMUTABLE
  * between folds: each executor JVM faults its shards in once and then pays
  * only the per-round delta files (O(delta) bytes) until the next fold —
  * per-round I/O amortizes to O(delta), never O(total).
  *
  * Crash safety: blobs are written BEFORE the snapshot commit they describe.
  * A crash in between leaves files for a round that never committed; on
  * resume the round re-runs deterministically from the last committed
  * snapshot and rewrites the same files (each via tmp + ATOMIC_MOVE). The
  * parquet member log remains the ground truth the fold rebuilds from — a
  * lost/corrupt store directory is rebuildable, never authoritative.
  *
  * Alive semantics (must match [[graft.crawl.CrawlJob.readMembers]] exactly;
  * MemberStoreSpec pins the equivalence): a key is alive iff it has an add
  * at round r ≥ dr, where dr is its latest delta-del round. Base membership
  * counts as an add at the fold round, which precedes every delta round —
  * so a later del kills a base entry unless a delta add re-admits it, and a
  * same-round add+del resolves to alive (add wins), the enqueue-time
  * membership contract.
  *
  * Scale shape: `shards` fixes blob granularity (members/S keys × 8 bytes
  * per blob — resize S at a fold if blobs outgrow executors; the provider
  * reads S from the base generation's META so readers can never derive a
  * wrong modulus). Candidates routed by `pmod(url_hash, S)` give each task
  * exactly its own shards; residency per JVM is bounded two-generation
  * (current + previous base), swept on fold exactly like
  * [[SeenSet.FileShardProvider]].
  */
object MemberStore {

  /** One blob: sorted distinct longs, 8 bytes each, big-endian. */
  private def readBlob(p: java.nio.file.Path): Array[Long] = {
    val bytes = java.nio.file.Files.readAllBytes(p)
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  private def writeBlob(p: java.nio.file.Path, sorted: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(sorted.length * 8)
    bb.asLongBuffer().put(sorted)
    val tmp = p.resolveSibling("." + p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, bb.array())
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def baseDir(root: String, round: Long): java.nio.file.Path =
    java.nio.file.Paths.get(root, f"base-$round%06d")
  def deltaDir(root: String, round: Long): java.nio.file.Path =
    java.nio.file.Paths.get(root, f"delta-$round%06d")
  private def shardFile(dir: java.nio.file.Path, kind: String, shard: Int) =
    dir.resolve(f"$kind-$shard%05d.mem")

  /** Write one file set (`kind` ∈ add/del/base) from a DataFrame of
    * `url_hash` — executors write their own shards (routed by
    * `pmod(url_hash, shards)`), nothing funnels through the driver. Only
    * shards PRESENT in `df` get a file; a missing file reads as empty.
    */
  private def writeKind(df: DataFrame, dir: java.nio.file.Path, kind: String,
      shards: Int): Unit = {
    java.nio.file.Files.createDirectories(dir)
    val dirStr = dir.toString
    df.select(col("url_hash"), pmod(col("url_hash"), lit(shards)).cast("int").as("shard"))
      .repartition(shards, col("shard"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // a hash partition can carry several shard values — bucket locally
        val bufs = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
        it.foreach { r =>
          bufs.getOrElseUpdate(r.getInt(1), scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(0)
        }
        bufs.foreach { case (s, buf) =>
          val arr = buf.toArray.distinct.sorted
          writeBlob(shardFile(java.nio.file.Paths.get(dirStr), kind, s), arr)
        }
      }
  }

  /** Write a full BASE generation (the fold path: the alive member set as of
    * `round`) plus its META (shard count — the probe modulus always comes
    * from here, never from a possibly-sparse file listing).
    */
  def writeBase(members: DataFrame, root: String, round: Long, shards: Int): Unit = {
    val dir = baseDir(root, round)
    writeKind(members.select("url_hash"), dir, "base", shards)
    java.nio.file.Files.writeString(dir.resolve("META"), s"shards=$shards\n")
  }

  /** Write one round's DELTA file set (adds + dels, both O(delta), written
    * concurrently). `dels = None` (a round the caller knows has none) writes
    * no del kind, which reads as empty.
    */
  def writeDelta(adds: DataFrame, dels: Option[DataFrame], root: String, round: Long,
      shards: Int): Unit = {
    val dir = deltaDir(root, round)
    SnapshotTable.concurrently(
      (() => writeKind(adds.select("url_hash"), dir, "add", shards)) +:
        dels.toSeq.map(d => () => writeKind(d.select("url_hash"), dir, "del", shards)))
    // marker: the delta set for this round is completely written
    java.nio.file.Files.writeString(dir.resolve("DONE"), "")
  }

  /** The provider for probing state as of the end of `uptoRound`: the newest
    * base at or before it plus every complete delta in between. Fails loudly
    * on a missing base or a gap — a silent gap would be a false "new" and
    * break exactness.
    */
  def providerAsOf(root: String, uptoRound: Long): MemberShardProvider = {
    val p = java.nio.file.Paths.get(root)
    require(java.nio.file.Files.isDirectory(p), s"no member store at $root")
    val s = java.nio.file.Files.list(p)
    val names = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toVector
    } finally s.close()
    val bases = names.filter(_.startsWith("base-")).map(_.stripPrefix("base-").toLong)
      .filter(_ <= uptoRound)
    require(bases.nonEmpty, s"member store at $root has no base <= round $uptoRound")
    val b = bases.max
    val meta = java.nio.file.Files.readString(baseDir(root, b).resolve("META")).trim
    val shards = meta.stripPrefix("shards=").trim.toInt
    val deltas = names.filter(_.startsWith("delta-")).map(_.stripPrefix("delta-").toLong)
      .filter(r => r > b && r <= uptoRound).sorted
    deltas.foreach { r =>
      require(java.nio.file.Files.exists(deltaDir(root, r).resolve("DONE")),
        s"member store delta for round $r is incomplete")
    }
    // gaps are legal: a round with no member changes writes an empty delta
    // set anyway (DONE + no files), so a MISSING round dir means it never
    // committed — refuse rather than probe around it
    val expect = (b + 1) to uptoRound
    require(expect.forall(deltas.contains),
      s"member store rounds missing under $root: ${expect.filterNot(deltas.contains).mkString(",")}")
    MemberShardProvider(root, b, deltas, shards)
  }

  /** Drop base generations (and deltas at or before them) older than the
    * previous base — two generations stay on disk, matching the provider
    * cache's residency rule.
    */
  def expireOld(root: String, keepBases: Int = 2): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(p)) return
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(p)
    val dirs = try s.iterator().asScala.toVector finally s.close()
    val baseRounds = dirs.map(_.getFileName.toString)
      .filter(_.startsWith("base-")).map(_.stripPrefix("base-").toLong).sorted
    if (baseRounds.length <= keepBases) return
    val cut = baseRounds(baseRounds.length - keepBases) // oldest kept base
    dirs.foreach { d =>
      val n = d.getFileName.toString
      val drop =
        (n.startsWith("base-") && n.stripPrefix("base-").toLong < cut) ||
          (n.startsWith("delta-") && n.stripPrefix("delta-").toLong <= cut)
      if (drop) {
        val f = java.nio.file.Files.list(d)
        try f.iterator().asScala.toSeq.foreach(java.nio.file.Files.deleteIfExists)
        finally f.close()
        java.nio.file.Files.deleteIfExists(d)
      }
    }
  }

  // ---- the probe provider (executor-side, cached per JVM) -----------------

  /** Serializable handle shipped into tasks; blobs load lazily per JVM and
    * stay resident until swept (two base generations, like the bloom shard
    * cache). `baseRound` orders base adds below every delta round.
    */
  final case class MemberShardProvider(root: String, baseRound: Long,
      deltaRounds: Seq[Long], shards: Int) extends Serializable {

    private def blob(dir: java.nio.file.Path, kind: String, shard: Int): Array[Long] =
      Cache.load(root, baseRound, dir, kind, shard)

    private def contains(dir: java.nio.file.Path, kind: String, shard: Int, h: Long): Boolean =
      java.util.Arrays.binarySearch(blob(dir, kind, shard), h) >= 0

    /** Exact alive probe — see the class doc for the add/del semantics. */
    def alive(h: Long): Boolean = {
      val s = java.lang.Math.floorMod(h, shards.toLong).toInt
      var dr = Long.MinValue
      deltaRounds.foreach { r =>
        if (contains(deltaDir(root, r), "del", s, h)) dr = math.max(dr, r)
      }
      if (dr == Long.MinValue)
        contains(baseDir(root, baseRound), "base", s, h) ||
          deltaRounds.exists(r => contains(deltaDir(root, r), "add", s, h))
      else
        deltaRounds.exists(r => r >= dr && contains(deltaDir(root, r), "add", s, h))
    }
  }

  /** Per-JVM blob cache: keyed by file path, swept to the two live BASE
    * generations per store root on fold (the same two-generation discipline
    * as [[SeenSet.FileShardProvider]], and for the same two races: straggler
    * thrash and the check-then-insert transient).
    */
  private object Cache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    private val empty = new Array[Long](0)
    // per store root: (current baseRound, previous baseRound)
    private val gens = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

    def load(root: String, baseRound: Long, dir: java.nio.file.Path, kind: String,
        shard: Int): Array[Long] = {
      val g = gens.get(root)
      if (g == null || (g._1 != baseRound && g._2 != baseRound)) synchronized {
        val g2 = gens.get(root)
        if (g2 == null || (g2._1 != baseRound && g2._2 != baseRound)) {
          val prev = if (g2 == null) Long.MinValue else g2._1
          gens.put(root, (baseRound, prev))
          val it = cache.keySet.iterator()
          while (it.hasNext) {
            val k = it.next()
            if (k.startsWith(root + "#") &&
              !k.startsWith(s"$root#$baseRound#") && !k.startsWith(s"$root#$prev#")) it.remove()
          }
        }
      }
      val p = shardFile(dir, kind, shard)
      cache.computeIfAbsent(s"$root#$baseRound#$p", _ =>
        if (java.nio.file.Files.exists(p)) readBlob(p) else empty)
    }
    private[frontier] def residentEntries(root: String): Int = {
      var n = 0
      cache.keySet.forEach(k => if (k.startsWith(root + "#")) n += 1)
      n
    }
    private[frontier] def residentGens(root: String): Set[Long] = {
      val out = scala.collection.mutable.Set[Long]()
      cache.keySet.forEach { k =>
        if (k.startsWith(root + "#"))
          out += k.substring(root.length + 1, k.indexOf('#', root.length + 1)).toLong
      }
      out.toSet
    }
  }

  private[frontier] def residentEntries(root: String): Int = Cache.residentEntries(root)
  private[frontier] def residentGens(root: String): Set[Long] = Cache.residentGens(root)

  // ---- the probe expression (codegen) -------------------------------------

  /** `member_alive(url_hash)` — codegen'd exact membership probe; stays
    * inside whole-stage codegen like [[SeenSet.BloomMightContain]].
    */
  case class MemberAlive(child: Expression, provider: MemberShardProvider)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      provider.alive(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("memberProvider", provider,
        classOf[MemberShardProvider].getName)
      defineCodeGen(ctx, ev, c => s"$ref.alive($c)")
    }
    override protected def withNewChildInternal(c: Expression): MemberAlive =
      copy(child = c)
    override def prettyName: String = "member_alive"
  }

  def member_alive(c: Column, provider: MemberShardProvider): Column =
    Bridge.column(MemberAlive(Bridge.expression(c), provider))
}
