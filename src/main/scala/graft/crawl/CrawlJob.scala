package graft.crawl

import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.{BloomSketch, MemberStore, Scheduler, SeenSet}
import graft.functions.GraftExpressions._
import graft.tables.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed crawl loop — the Spark restatement of blockspider's
  * poll-round state machine (SURVEY.md §3.1):
  *
  *   batch bound → parallel fetch (wide stage) → ordered commit (sort, not
  *   task chain) → revision diff (reorg analog) → envelope emit → atomic
  *   checkpoint.
  *
  * One round = one micro-batch. All state lives in a [[SnapshotTable]];
  * every round ends with an atomic snapshot commit, and the next round reads
  * back from the snapshot — which both truncates the iterative lineage and
  * makes any round a resume point (kill the process between rounds: `run`
  * continues from LATEST, the reference's checkpoint-resume semantics,
  * /root/reference/state/state.go).
  *
  * Sink semantics are at-least-once exactly like the reference (emit before
  * checkpoint save, SURVEY.md §2.9): envelopes for round r are written in
  * the same concurrent write wave as snapshot r's segments, and the wave
  * completes before snapshot r publishes ([[SnapshotTable.commit]]), so a
  * crash anywhere in or after the wave re-runs and re-emits round r on
  * resume. Emits are keyed (round, host, ord) → idempotent read-back.
  *
  * State layout — every mutable table is an append-only EVENT LOG
  * (`*_add`/`*_del` delta segments, folded every [[SeenCompactionInterval]]
  * rounds), so a round WRITES O(delta) and never rewrites history:
  *
  *  - `member_add`/`member_del`: the URL membership set = seen ∪ alive
  *    queue, maintained at ENQUEUE time. This is the engine restatement of
  *    the oracle walker's `!seen.contains(h) && !queued.contains(h)` dedup
  *    ([[RefWalker]]): one membership probe replaces the r3 design's
  *    separate seen-set anti-join PLUS a full alive-queue semi-join — the
  *    latter was a per-round O(total frontier) scan. A URL is a member from
  *    enqueue until revision retraction; fetching moves it queue→seen
  *    without changing membership, so the set is exactly seen ∪ queued.
  *  - `queue_add`/`queue_del`: the frontier ground truth. After this round's
  *    refactor NOTHING reads it per round — scheduling reads the bounded
  *    head cache below; the full log is only folded at compaction
  *    (amortized 1/interval) and read by tests and benchmarks.
  *  - `head_add` + `headmeta`: the per-host HEAD CACHE — the
  *    frontier analog of the reference's sequential cursor
  *    (/root/reference/crawler/blocks.go:50,60). `headmeta` pins a per-host
  *    rank boundary β (on the (priority desc, seq asc) order); the head
  *    holds exactly the alive rows ranking before β. β is chosen at
  *    seed/compaction as the rank-H row where H = capacity ×
  *    (interval + 1): scheduling consumes ≤ capacity rows per round, so the
  *    head cannot underflow below one round's capacity between compactions,
  *    and discoveries ranking before β are appended to the head at enqueue
  *    time (rows at-or-after β go to the backing log only). Net: the
  *    scheduler scans O(Σ min(H_host, alive_host)) rows per round — at the
  *    10^10-frontier / 10^7-fetch regime that is ~100× less than the alive
  *    queue — and the backing log is scanned ONLY at compaction, where the
  *    fold rewrites those rows anyway. A `roundMillis` increase across a
  *    resume can raise capacities past the provisioned H; a guard detects
  *    any shallow-head-with-finite-β host and falls back to one exact
  *    full-queue scheduling round that also re-provisions the head
  *    (config-change path only, never taken in steady state). `meta`
  *    records the `roundMillis` the head was provisioned with (`head_ms`),
  *    and the guard query runs only while the configured value exceeds it:
  *    capacity is monotone in `roundMillis` and budgets are static
  *    `hoststate`, so otherwise no host can be shallow. The head's
  *    tombstones are the queue's (`queue_del`, see [[readHead]]).
  *  - `window_add`/`window_del`: the K-deep revision window, delta-committed
  *    — adds are this round's commits/replacements, dels are revisions and
  *    beyond-K evictions (both O(fetched)). The r3 design rewrote the full
  *    O(hosts·K) table every round — wrong shape at the 10^8-host regime.
  *  - `hostctr_add`: per-host (next_seq, next_ord) counters, last-writer-
  *    wins by round — one row per ACTIVE host per round instead of the r3
  *    full O(hosts) rewrite.
  *  - `hoststate`: static per-host robots/politeness state, seeded once and
  *    carried. Its joins carry no hint: the planner broadcasts it while it
  *    is small, and `spark.sql.autoBroadcastJoinThreshold` turns them into
  *    host-keyed shuffle joins at the 10^8-host regime.
  *  - `blooms`: sharded membership blooms, OR-merged O(delta) per round.
  *
  * Scale notes (the point of the exercise):
  *  - NO per-round O(total-frontier) scan remains anywhere: scheduling reads
  *    the bounded head; discovery dedup probes the membership blooms
  *    map-side, and only maybe-member candidates are resolved exactly, by a
  *    probe of the [[MemberStore]] fingerprint blobs (immutable between
  *    folds) — every round, whatever the crawl's size
  *    ([[SeenSet.filterNewStore]]);
  *  - the robots gate runs ONCE, at enqueue time, over the round's O(delta)
  *    discoveries — the 10^10-row queue is never re-purged;
  *  - fetch is the only executor-heavy stage; it runs data-parallel over the
  *    scheduled set with NO ordering requirement — order is re-imposed at
  *    commit via per-host rank, the way a shuffle sort replaces the
  *    reference's serial handler (/root/reference/syncronizer/synchronizer.go:14-36);
  *  - per-host top-k scheduling is salted two-phase (see [[Scheduler]]);
  *  - revision handling is a bounded K-deep window diff, not an iterative
  *    walk (SURVEY.md §3.2); replacement pages are fetched in a distributed
  *    `mapPartitions` stage exactly like the main fetch — the driver never
  *    fetches. The per-round driver round-trip is one is-empty probe (any
  *    revisions?); the shallow-head probe runs only after a `roundMillis`
  *    increase, and a round without revisions takes its zero delta counts
  *    from the driver instead of counting empty frames.
  *  - a round's durable writes (sink outputs, member-store files, snapshot
  *    segments) are one concurrent wave before the single publish
  *    ([[SnapshotTable.commit]]), and state reads use the schema recorded at
  *    commit — no schema-inference job per table read.
  */
object CrawlJob {

  final case class SchedRow(host: String, url: String, url_hash: Long,
      seq: Long, priority: Int, host_rank: Int)
  final case class FetchedRow(host: String, url: String, url_hash: Long,
      seq: Long, priority: Int, host_rank: Int, ok: Boolean,
      image_id: String, outlinks: Seq[String], ver: Long)
  final case class WindowRow(host: String, ord: Long, seq: Long,
      url_hash: Long, url: String, ver: Long)

  val EmitCols = Seq("round", "status", "host", "seq", "ord", "url_hash", "url", "priority")

  /** The one `meta` row a snapshot carries: the round it committed, the
    * incremental membership count, the bloom sizing, and the `roundMillis`
    * the head cache was provisioned with. The driver reads it once per
    * `run` and carries it from round to round.
    */
  final case class Meta(round: Long, member_count: Long, bloom_cap: Long, head_ms: Long)

  /** Head provisioning depth in rounds of capacity: the head is rebuilt at
    * seed/compaction to hold capacity × (interval + 1) rows per host, so
    * consuming ≤ capacity per round for `interval` rounds leaves ≥ one
    * round's capacity at the next compaction — no mid-interval refill path.
    */
  def HeadDepthRounds: Long = SeenCompactionInterval + 1

  /** Run (or resume) the crawl for `cfg.rounds` rounds against the synthetic
    * web, checkpointing into `stateDir` and appending emits/pages under
    * `sinkDir`. Returns the round it stopped after.
    *
    * @param bloomThreshold unread; kept only for callers that pass it by name
    */
  def run(spark: SparkSession, cfg: WebConfig, stateDir: String, sinkDir: String,
      upToRound: Option[Long] = None, bloomThreshold: Long = 0L,
      maxBloomBroadcastBytes: Long = 64L << 20): Long = {
    import spark.implicits._
    val state = new SnapshotTable(stateDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sinkDir))

    // Host state (robots rules parsed from served robots.txt + politeness
    // budgets) is CHECKPOINT STATE, not a per-run rebuild: seeded once into
    // the snapshot table alongside the queue (same host key — on a real
    // catalog both are bucketed by host so the capacity join co-locates),
    // carried forward by every commit, and read back on resume. At 10^8
    // hosts this is the table the gate/capacity joins shuffle against.
    var meta: Meta = state.latestSnapshot match {
      case Some(_) => state.read(spark, "meta").as[Meta].head()
      case None =>
        seedState(spark, cfg, state,
          spark.createDataset(SyntheticWeb.hostStates(cfg)).toDF())
    }
    val hostState = state.read(spark, "hoststate")
    val endRound = math.min(upToRound.getOrElse(cfg.rounds.toLong), cfg.rounds.toLong)

    while (meta.round < endRound) {
      meta = runRound(spark, cfg, meta, state, sinkDir, hostState, maxBloomBroadcastBytes)
    }
    endRound
  }

  /** Cold start: seed queue from the seed list (T9 analog). Per-host seq is
    * assigned in seed-index order — part of the pinned ordering spec. Seeds
    * pass the robots gate BEFORE seq assignment (enqueue-time gating): a
    * disallowed seed never consumes a sequence number.
    */
  private def seedState(spark: SparkSession, cfg: WebConfig, state: SnapshotTable,
      hostState: DataFrame): Meta = {
    // F2 empty-response guard: the reference aborts at startup when its
    // start block comes back empty ("block not found",
    // /root/reference/cmd/blockspiderd/main.go:110-115) — a crawl with no
    // resolvable seeds must fail fast, not commit an empty checkpoint.
    val rawSeeds = SyntheticWeb.seedUrls(cfg)
    require(rawSeeds.nonEmpty, "cold start with no seeds (F2 guard: nothing to crawl)")
    import spark.implicits._
    val seeds = seeds2Df(spark, rawSeeds)
    val queueAdd = Scheduler.robotsGate(seeds, hostState)
      .withColumn("seq",
        row_number().over(Window.partitionBy(col("host")).orderBy(col("seed_idx"))).cast("long"))
      .select("host", "url", "url_hash", "seq", "priority")
      .withColumn("qr", lit(0L))
    seedSnapshot(spark, state, queueAdd, hostState, cfg.roundMillis)
  }

  private def seeds2Df(spark: SparkSession, rawSeeds: Seq[String]): DataFrame = {
    import spark.implicits._
    rawSeeds.zipWithIndex.toDF("raw_url", "seed_idx")
      .withColumn("url", canonicalize_url(col("raw_url")))
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", url_host(col("url")))
      .withColumn("path", url_path(col("url")))
      .withColumn("priority", pmod(xxhash64(col("url")), lit(10)).cast("int"))
  }

  /** Commit snapshot 0 from a pre-built (robots-gated) `queue_add` set:
    * counters, membership, blooms, and the head cache provisioned for
    * `roundMillis`. Public so a benchmark (crawlbench's `deep_queue`) can
    * seed an arbitrary pre-accumulated frontier through the same path a
    * real crawl uses. Returns the committed [[Meta]].
    */
  def seedSnapshot(spark: SparkSession, state: SnapshotTable, queueAdd0: DataFrame,
      hostState: DataFrame, roundMillis: Long): Meta = {
    import spark.implicits._
    val queueAdd = queueAdd0.localCheckpoint(true)
    val hostctr = queueAdd.groupBy("host")
      .agg((max("seq") + 1).as("next_seq"), lit(1L).as("next_ord"))
      .withColumn("hr", lit(0L))
    val memberAdd = queueAdd.select(col("url_hash"), lit(0L).as("r"))
    val memberCount = queueAdd.count()
    val (queueShaped, headAdd, headmeta) =
      shapeAndBuildHead(queueAdd, hostState, roundMillis)
    val emptyWindow = spark.emptyDataset[(String, Long, Long, Long, String, Long)]
      .toDF("host", "ord", "seq", "url_hash", "url", "ver")
    val emptyWDel = spark.emptyDataset[(String, Long)].toDF("host", "ord")
    val emptyDel = spark.emptyDataset[(Long, Long)].toDF("url_hash", "dr")
    val cap = InitialBloomCapPerShard
    val blooms =
      if (memberCount == 0) SeenSet.emptyBlooms(spark, cap)
      else SeenSet.buildBloomsDf(memberAdd.select("url_hash"), cap)
    val meta = Meta(0L, memberCount, cap, roundMillis)
    state.commit(
      Map(
        "hoststate" -> hostState,
        "headmeta" -> headmeta,
        "blooms" -> blooms.sortWithinPartitions("shard"),
        "meta" -> Seq(meta).toDF()),
      appendOnly = Map(
        "member_add" -> memberAdd, "member_del" -> emptyDel,
        "queue_add" -> queueShaped, "queue_del" -> emptyDel,
        "head_add" -> headAdd,
        "window_add" -> emptyWindow, "window_del" -> emptyWDel,
        "hostctr_add" -> hostctr),
      // the exact fingerprint store's first base generation, in the same
      // wave (a crash before the publish re-runs the seed, which rewrites
      // these files atomically)
      alongside = Seq(() =>
        MemberStore.writeBase(memberAdd, memberStoreRoot(state), 0L, SeenSet.DefaultShards)))
    meta
  }

  /** Initial bloom sizing (items per shard); compaction resizes with 2×
    * headroom once the alive count outgrows it, so fpp stays bounded forever.
    */
  val InitialBloomCapPerShard = 4096L

  /** Root of the exact membership fingerprint store ([[MemberStore]]) —
    * derived state next to the bloom blobs, rebuilt from the parquet member
    * log at any fold.
    */
  def memberStoreRoot(state: SnapshotTable): String = s"${state.dir}/memberstore"

  /** The alive membership set (= seen ∪ queued) at the latest snapshot: adds
    * minus later tombstones. A tombstone (revision retraction) kills only
    * adds STRICTLY BEFORE its round — an add in the same round survives,
    * because within a round retraction (step 1) happens-before any re-add
    * (replacement fetch or re-discovery enqueue), and a retraction can only
    * target a URL fetched in an EARLIER round. Tombstones are rare (bounded
    * by revisions·K per interval) so the planner resolves membership with a
    * broadcast-hash join on its own; no forced hint — at a pathological
    * retraction volume it degrades to a shuffle join instead of an OOM.
    * O(total): only the compaction fold, tests and benchmark checks read
    * it; a steady round dedups against [[MemberStore]] instead.
    */
  def readMembers(spark: SparkSession, state: SnapshotTable): DataFrame = {
    val adds = state.read(spark, "member_add")
    val dels = state.read(spark, "member_del")
      .groupBy("url_hash").agg(max("dr").as("dr"))
    adds.join(dels, Seq("url_hash"), "left")
      .filter(col("dr").isNull || col("r") >= col("dr"))
      .select("url_hash")
  }

  /** The fetched-and-alive ("seen") view, for tests and benchmarks: members
    * minus the alive queue. Exact because a URL is never simultaneously
    * queued and fetched-alive (fetch removes it from the queue; a failed
    * fetch leaves it queued and unfetched; retraction targets fetched URLs
    * only).
    */
  def readSeen(spark: SparkSession, state: SnapshotTable): DataFrame =
    readMembers(spark, state)
      .join(readQueue(spark, state).select("url_hash"), Seq("url_hash"), "left_anti")

  def readSeen(spark: SparkSession, stateDir: String): DataFrame =
    readSeen(spark, new SnapshotTable(stateDir))

  /** The alive frontier queue at the latest snapshot — `queue_add` segments
    * (one appended per round, O(new discoveries)) minus `queue_del`
    * tombstones (one appended per round, O(fetched)). A del kills only adds
    * enqueued at or before its round, so a URL retracted from the member set
    * and later re-discovered re-enters the queue cleanly with a fresh `qr`.
    * Dels accumulated since the last compaction are bounded by
    * fetches-per-round × [[SeenCompactionInterval]]; the planner picks the
    * join side (broadcast at any sane volume). NOTHING in a steady-state
    * round reads this view — scheduling reads [[readHead]]; this is the
    * compaction-fold / benchmark / emergency path.
    */
  def readQueue(spark: SparkSession, state: SnapshotTable): DataFrame =
    readLog(state.read(spark, "queue_add"), state.read(spark, "queue_del"))

  def readQueue(spark: SparkSession, stateDir: String): DataFrame =
    readQueue(spark, new SnapshotTable(stateDir))

  /** The alive per-host head cache: `head_add` minus the queue's tombstones.
    * Head dels are exactly the queue dels (this round's committed fetches),
    * so the head keeps no del log of its own.
    */
  def readHead(spark: SparkSession, state: SnapshotTable): DataFrame =
    readLog(state.read(spark, "head_add"), state.read(spark, "queue_del"))

  private def readLog(adds: DataFrame, dels: DataFrame): DataFrame =
    adds.join(dels.groupBy("url_hash").agg(max("dr").as("dr")), Seq("url_hash"), "left")
      .filter(col("dr").isNull || col("qr") > col("dr"))
      .drop("dr")

  /** The alive K-deep revision window: adds minus (retraction + eviction)
    * dels. (host, ord) is unique forever — ords are never reused — so a
    * plain anti-join resolves it; both del classes are O(fetched/interval).
    */
  def readWindow(spark: SparkSession, state: SnapshotTable): DataFrame =
    state.read(spark, "window_add")
      .join(state.read(spark, "window_del"), Seq("host", "ord"), "left_anti")

  /** Per-host counters: last writer (max commit round `hr`) wins. O(active ×
    * interval + hosts-at-fold) rows read; O(active) written per round.
    */
  def readHostctr(spark: SparkSession, state: SnapshotTable): DataFrame =
    state.read(spark, "hostctr_add")
      .groupBy("host")
      .agg(max_by(struct(col("next_seq"), col("next_ord")), col("hr")).as("c"))
      .select(col("host"), col("c.next_seq").as("next_seq"), col("c.next_ord").as("next_ord"))

  /** Compact the event logs every this many rounds: rewrite the alive sets
    * as single segments, clear tombstones, re-provision the head cache.
    */
  val SeenCompactionInterval = 8L

  // public: codegen'd (de)serializers live outside this object and cannot
  // touch private classes
  final case class HeadIn(host: String, url: String, url_hash: Long,
      seq: Long, priority: Int, qr: Long, head_depth: Long)
  final case class HeadOut(tag: Int, host: String, url: String,
      url_hash: Long, seq: Long, priority: Int, qr: Long, bp: Int, bs: Long)

  /** Provision the head cache from an alive queue: per host, the top
    * H = capacity × [[HeadDepthRounds]] rows by (priority desc, seq asc),
    * plus the boundary β (the LAST kept row's key) for hosts that were
    * TRUNCATED. An untruncated host simply has no headmeta row — absence
    * encodes β = ∞ ("the head holds every alive row"); there is no written
    * sentinel for that case. Zero-capacity hosts get the explicit
    * bp = Int.MaxValue "nothing in head" boundary. Discoveries ranking
    * before β enter the head at enqueue; rows at-or-after β live only in
    * the backing log until the next fold. The rank runs over the alive
    * queue — an O(total) pass, which is why it happens only at
    * seed/compaction where the fold rewrites those rows anyway.
    *
    * The fold's single full-queue pass: ONE host-bucketed shuffle +
    * in-partition sort serves BOTH outputs that need it — the committed
    * `queue_add` segment (hosts co-located, rank-ordered row groups, so
    * row-group (priority, seq) min/max stats stay tight and any emergency
    * full-queue read scans in rank order) and the provisioned head cache.
    * Hosts are whole within a bucket, so a per-host running counter over
    * (host asc, priority desc, seq asc) order yields the exact head rank —
    * no global window, and no second shuffle of the 10^10-row queue at
    * commit (the r4 fold shuffled it once for the head rank and AGAIN for
    * the segment layout; at 10M rows those two passes were ~45 of the 92 s
    * fold). The caps join is inner like the robots gate: every enqueue
    * path passes [[Scheduler.robotsGate]] (inner on hoststate), so queue
    * hosts ⊆ hoststate hosts and the join drops nothing.
    *
    * @return (shaped alive queue WITHOUT the head_depth carrier — commit it
    *         as-is, do not re-shape; head_add rows; headmeta boundary rows)
    */
  def shapeAndBuildHead(queueAlive: DataFrame, hostState: DataFrame,
      roundMillis: Long): (DataFrame, DataFrame, DataFrame) = {
    val spark = queueAlive.sparkSession
    import spark.implicits._
    val caps = hostState.select(col("host"),
      (Scheduler.capacity(col("budget"), col("min_delay_ms"), roundMillis).cast("long") *
        HeadDepthRounds).as("head_depth"))
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val shaped = queueAlive
      .join(caps, Seq("host"), "inner") // caps is per-host; planner broadcasts
      .select(col("host"), col("url"), col("url_hash"), col("seq"),
        col("priority"), col("qr"), col("head_depth"))
      .repartition(parts, pmod(xxhash64(col("host")), lit(parts)))
      .sortWithinPartitions(col("host"), col("priority").desc, col("seq").asc)
      .localCheckpoint(true) // read twice: head pass below + the commit write
    val combined = shaped
      .as[HeadIn]
      .mapPartitions { it =>
        // β exists only for truncated hosts: the row AT rank head_depth is
        // the last one kept (emitted when a row beyond it proves truncation);
        // anything after is backing-only. A host with CAPACITY ZERO
        // (politeness delay exceeds the round budget) gets the explicit
        // "nothing in head" boundary bp = Int.MaxValue — without it the
        // host would read as β = ∞ while its whole backlog sits in the
        // backing log, invisible to any later capacity increase (the
        // shallow-head guard needs the finite β to trigger re-provision).
        var curHost: String = null
        var n = 0L
        var bP = 0; var bS = 0L
        it.flatMap { r =>
          if (r.host != curHost) { curHost = r.host; n = 0L }
          n += 1
          if (r.head_depth <= 0L) {
            if (n == 1) Iterator.single(HeadOut(1, r.host, null, 0L, 0L, 0,
              0L, Int.MaxValue, Long.MinValue))
            else Iterator.empty
          } else if (n <= r.head_depth) {
            if (n == r.head_depth) { bP = r.priority; bS = r.seq }
            Iterator.single(HeadOut(0, r.host, r.url, r.url_hash, r.seq,
              r.priority, r.qr, 0, 0L))
          } else if (n == r.head_depth + 1) {
            Iterator.single(HeadOut(1, r.host, null, 0L, 0L, 0, 0L, bP, bS))
          } else Iterator.empty
        }
      }
      .toDF()
      .localCheckpoint(true) // bounded: Σ head_depth + one meta row per host
    val headAdd = combined.filter(col("tag") === 0)
      .select("host", "url", "url_hash", "seq", "priority", "qr")
    val headmeta = combined.filter(col("tag") === 1).select("host", "bp", "bs")
    (shaped.drop("head_depth"), headAdd, headmeta)
  }

  /** Is (priority, seq) strictly before the host's head boundary? A host
    * with no boundary row (bp null after the left join) keeps everything in
    * head — absence IS the β = ∞ encoding ([[shapeAndBuildHead]]).
    */
  private def beforeBoundary: Column =
    col("bp").isNull ||
      col("priority") > col("bp") ||
      (col("priority") === col("bp") && col("seq") < col("bs"))

  /** Is any host's head shallower than its capacity at `roundMillis` while
    * its boundary is finite (a headmeta row)? One driver round-trip.
    */
  private def headIsShallow(headmeta: DataFrame, headAlive: DataFrame,
      hostState: DataFrame, roundMillis: Long): Boolean = {
    val capsNow = hostState.select(col("host"),
      Scheduler.capacity(col("budget"), col("min_delay_ms"), roundMillis)
        .cast("long").as("cap"))
    !headmeta
      .join(capsNow, Seq("host"), "inner")
      .join(headAlive.groupBy("host").agg(count(lit(1)).as("hn")), Seq("host"), "left")
      .filter(coalesce(col("hn"), lit(0L)) < col("cap"))
      .isEmpty
  }

  /** One round after the snapshot described by `meta0`; returns the meta it
    * commits.
    */
  private def runRound(spark: SparkSession, cfg: WebConfig, meta0: Meta,
      state: SnapshotTable, sinkDir: String, hostState: DataFrame,
      maxBloomBroadcastBytes: Long): Meta = {
    import spark.implicits._
    val round = meta0.round + 1

    // Round inputs: the bounded head cache (NOT the full queue), the K-deep
    // window, per-host counters, and incremental membership bookkeeping
    // carried in meta — the (10^10-row at target scale) member/queue logs
    // are never recounted or rescanned.
    val headAlive = readHead(spark, state).persist()
    val headmeta = state.read(spark, "headmeta")
    val memberCount0 = meta0.member_count
    val bloomCap = meta0.bloom_cap
    val windowStart = readWindow(spark, state).localCheckpoint(true)
    var hostctr = readHostctr(spark, state)
    val emitParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // this round's membership deltas (appended at commit, O(delta) forever)
    val addParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val delParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val winAddParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val winDelParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var window = windowStart

    // ---- 1. DATA-DRIVEN revision detection (reorg analog) ----------------
    // The reference never receives reorg notifications: it detects one when
    // fetched data contradicts its window head (cache.Peak().Hash !=
    // block.ParentHash, /root/reference/crawler/blocks.go:276-288) and only
    // then walks the bounded window. The analog here: re-read each window
    // entry's current page version (a K-bounded per-host probe, distributed
    // exactly like the fetch stage) and compare to the version recorded at
    // fetch time. Neither this job nor the oracle walker is told which hosts
    // revised — both observe it.
    {
      val probed = window
        .select("host", "ord", "seq", "url_hash", "url", "ver").as[WindowRow]
        .mapPartitions(_.map(w =>
          (w.host, w.ord, w.seq, w.url_hash, w.url, w.ver,
            SyntheticWeb.pageVersion(cfg, w.url, round))))
        .toDF("host", "ord", "seq", "url_hash", "url", "ver", "cur_ver")
      // K-bounded per host — tiny; eager checkpoint truncates lineage and
      // pins the probe result for the emit write later in the round
      val dropped = probed.filter(col("cur_ver") > col("ver")).localCheckpoint(true)

      // driver signal 1 of 2 on this path: did ANY window entry revise?
      if (!dropped.isEmpty) {
        emitParts += dropped.select(
          lit(round).as("round"), lit("DROPPED").as("status"), col("host"),
          col("seq"), col("ord"), col("url_hash"), col("url"),
          pmod(xxhash64(col("url")), lit(10)).cast("int").as("priority"))
        window = window.join(dropped.select("host", "ord"), Seq("host", "ord"), "left_anti")
        delParts += dropped.select(col("url_hash"), lit(round).as("dr"))
        winDelParts += dropped.select("host", "ord")

        // replacements: the pages the revised hosts serve NOW (observable
        // data, the sidechain analog) — fetched in a DISTRIBUTED
        // mapPartitions stage like the main fetch; only the O(#revised
        // hosts) counter rows ride it, and nothing funnels through the
        // driver even when a correlated event (CDN purge, site migration)
        // revises many hosts in one round.
        val revCtrs = hostctr
          .join(dropped.select("host").distinct(), Seq("host"), "left_semi")
          .select("host", "next_seq", "next_ord").as[(String, Long, Long)]
        val replDf = revCtrs
          .mapPartitions(_.flatMap { case (host, seq0, ord0) =>
            SyntheticWeb.replacementsFor(cfg, host, round).zipWithIndex.map {
              case (raw, i) =>
                val url = graft.functions.UrlCodec.canonicalize(raw)
                (host, seq0 + i, ord0 + i, graft.functions.GraftHash.xxhash64(url),
                  url, SyntheticWeb.pageVersion(cfg, url, round))
            }
          })
          .toDF("host", "seq", "ord", "url_hash", "url", "ver")
          .localCheckpoint(true) // O(revised hosts · depth) rows

        emitParts += replDf.select(
          lit(round).as("round"), lit("ACCEPTED").as("status"), col("host"),
          col("seq"), col("ord"), col("url_hash"), col("url"),
          pmod(xxhash64(col("url")), lit(10)).cast("int").as("priority"))
        window = window.unionByName(
          replDf.select("host", "ord", "seq", "url_hash", "url", "ver"))
        winAddParts += replDf.select("host", "ord", "seq", "url_hash", "url", "ver")
        addParts += replDf.select(col("url_hash"), lit(round).as("r"))

        val ctrDelta = replDf.groupBy("host").agg(count(lit(1)).as("d"))
        hostctr = hostctr.join(broadcast(ctrDelta), Seq("host"), "left")
          .withColumn("next_seq", col("next_seq") + coalesce(col("d"), lit(0L)))
          .withColumn("next_ord", col("next_ord") + coalesce(col("d"), lit(0L)))
          .drop("d")
      }
    }

    // ---- 2. politeness-aware per-host top-k over the HEAD cache ----------
    // (robots were gated at enqueue time — the queue contains only allowed
    // URLs, so scheduling needs no robots re-check and no queue purge.)
    // Guard (driver signal 2 of 2): capacities grew past the provisioned
    // depth (a roundMillis increase across a resume — impossible in steady
    // state, where depth ≥ cap between folds by construction). Fall back to
    // one exact full-queue round and re-provision. Capacity is monotone in
    // roundMillis and budgets are static hoststate, so no host can be
    // shallow unless roundMillis exceeds the value the head was provisioned
    // with; otherwise the query is not run.
    val emergencyRefill = cfg.roundMillis > meta0.head_ms &&
      headIsShallow(headmeta, headAlive, hostState, cfg.roundMillis)
    val schedSource =
      if (emergencyRefill) readQueue(spark, state).persist()
      else headAlive
    val scheduled = Scheduler.schedule(schedSource.drop("qr"), hostState, cfg.roundMillis)
      .select("host", "url", "url_hash", "seq", "priority", "host_rank")
      .as[SchedRow]

    // ---- 3. parallel fetch (the wide stage; order NOT required here) -----
    val fetched: Dataset[FetchedRow] = scheduled.mapPartitions { it =>
      it.map { s =>
        val ok = !SyntheticWeb.failsAt(cfg, s.url, round)
        FetchedRow(s.host, s.url, s.url_hash, s.seq, s.priority, s.host_rank, ok,
          if (ok) SyntheticWeb.imageIdOf(s.url, cfg.numImages) else null,
          if (ok) SyntheticWeb.outlinksOf(cfg, s.url) else Seq.empty,
          // record the page version seen at fetch time: the revision
          // detector compares future re-reads against this
          SyntheticWeb.pageVersion(cfg, s.url, round))
      }
    }

    // ---- 4. prefix commit: drop everything at/after a host's first failure
    val fetchedDf = fetched.toDF().persist()
    val minFailed = fetchedDf.filter(!col("ok"))
      .groupBy("host").agg(min("host_rank").as("min_failed"))
    val committed = fetchedDf
      .join(broadcast(minFailed), Seq("host"), "left")
      .filter(col("min_failed").isNull || col("host_rank") < col("min_failed"))
      .drop("min_failed")
      .persist()

    // ---- 5. ordered commit: ord = next_ord + host_rank - 1 ---------------
    val withOrd = committed
      .join(hostctr.select("host", "next_ord"), Seq("host"), "left")
      .withColumn("ord", coalesce(col("next_ord"), lit(1L)) + col("host_rank") - 1)
      .drop("next_ord")
      .persist()

    emitParts += withOrd.select(
      lit(round).as("round"), lit("ACCEPTED").as("status"), col("host"),
      col("seq"), col("ord"), col("url_hash"), col("url"), col("priority"))

    val pages = withOrd.select(lit(round).as("round"), col("host"), col("seq"),
      col("url_hash"), col("image_id"))

    // ---- 6. state updates: window delta + queue/head tombstones ----------
    winAddParts += withOrd.select("host", "ord", "seq", "url_hash", "url", "ver")
    window = window
      .unionByName(withOrd.select("host", "ord", "seq", "url_hash", "url", "ver"))
    // Eviction is a DELTA: only hosts that gained entries this round can
    // exceed K; rank their (start − retracted + added) rows and tombstone
    // beyond-K ords — O(active hosts × K), never a full-table rewrite.
    val emptyWAdd = spark.emptyDataset[(String, Long, Long, Long, String, Long)]
      .toDF("host", "ord", "seq", "url_hash", "url", "ver")
    val winAdds = (winAddParts :+ emptyWAdd).reduce(_ unionByName _).localCheckpoint(true)
    val evictDels = window
      .join(winAdds.select("host").distinct(), Seq("host"), "left_semi")
      .withColumn("w_rank",
        row_number().over(Window.partitionBy(col("host")).orderBy(col("ord").desc)))
      .filter(col("w_rank") > cfg.windowK)
      .select("host", "ord")
    winDelParts += evictDels
    // queue/head removal is a DELTA: tombstone this round's committed
    // fetches in `queue_del`, which the head reads as well (the head is a
    // cache of the queue's top ranks). Failed fetches stay alive for retry.
    val queueDelDelta = withOrd.select(col("url_hash"), lit(round).as("dr"))
      .localCheckpoint(true)

    // ---- 7. discoveries: canonicalize → robots gate → membership dedup ---
    val candidatesRaw = withOrd
      .select(explode(col("outlinks")).as("raw_url"))
      .withColumn("url", canonicalize_url(col("raw_url")))
      .withColumn("url_hash", xxhash64(col("url")))
      .dropDuplicates("url_hash")
      .withColumn("host", url_host(col("url")))
      .withColumn("path", url_path(col("url")))
      .withColumn("priority", pmod(xxhash64(col("url")), lit(10)).cast("int"))
      .select("host", "url", "url_hash", "path", "priority")
    // enqueue-time robots gate over this round's O(delta) discoveries
    val candidatesAllowed = Scheduler.robotsGate(candidatesRaw, hostState).drop("path")

    // effective membership for discovery dedup = base − this round's
    // retractions + this round's replacement adds. (Fetches moved rows
    // queue→seen without changing membership; new entries are the OUTPUT of
    // this dedup and join the set for the next round.) The base comes from
    // the exact fingerprint store ([[MemberStore]], probed in O(maybe-seen)
    // against blobs immutable between folds); the O(total) parquet member
    // log is read ONLY by the compaction fold — no steady round scans it.
    val emptyHashDelta = spark.emptyDataset[(Long, Long)].toDF("url_hash", "r")
    val emptyDelDelta = spark.emptyDataset[(Long, Long)].toDF("url_hash", "dr")
    // O(revised hosts · depth) each; a round without revisions has none, and
    // the driver knows their counts are 0 without running a job
    def delta(parts: Seq[DataFrame], empty: DataFrame): (DataFrame, Long) =
      if (parts.isEmpty) (empty, 0L)
      else {
        val df = parts.reduce(_ unionByName _).localCheckpoint(true)
        (df, df.count())
      }
    val (replAdds, replCount) = delta(addParts.toSeq, emptyHashDelta)
    val (delsDelta, delsCount) = delta(delParts.toSeq, emptyDelDelta)

    // probe blooms = persisted ∪ this round's replacement adds (tiny);
    // committed blooms additionally OR in the new entries below.
    val probeBlooms =
      (if (replCount == 0) state.read(spark, "blooms")
       else SeenSet.mergeBlooms(state.read(spark, "blooms"),
         SeenSet.bloomDelta(replAdds, bloomCap)))
        .localCheckpoint(true) // ≤ shards blob rows; probe AND commit base

    // probe transport: broadcast while the blob set is small; shard-local
    // files once it is not (at 10^10 keys the blobs are ~GBs — they must
    // not ship to every executor)
    val estBytes = SeenSet.DefaultShards * BloomSketch.sizeBytes(bloomCap, SeenSet.DefaultFpp)
    val provider =
      if (estBytes <= maxBloomBroadcastBytes) SeenSet.broadcastProvider(spark, probeBlooms)
      else SeenSet.writeShardFiles(probeBlooms, f"${state.dir}/bloomblobs/round-$round%06d")
    val fresh = SeenSet
      .filterNewStore(spark, candidatesAllowed,
        MemberStore.providerAsOf(memberStoreRoot(state), round - 1), provider,
        delsDelta, replAdds)
      .withColumn("cand_rank",
        row_number().over(Window.partitionBy(col("host")).orderBy(col("url_hash"))).cast("long"))

    val newEntries = fresh
      .join(hostctr.select("host", "next_seq"), Seq("host"), "left")
      .withColumn("seq", coalesce(col("next_seq"), lit(1L)) + col("cand_rank") - 1)
      .select("host", "url", "url_hash", "seq", "priority")
      .withColumn("qr", lit(round))
      .localCheckpoint(true) // O(delta); feeds hostctr, head, commit, fold

    // head admission: discoveries ranking before their host's boundary join
    // the head now; the rest live in the backing log until the next fold
    val headAddDelta = newEntries
      .join(headmeta, Seq("host"), "left")
      .filter(beforeBoundary)
      .drop("bp", "bs")

    val newCount = newEntries.count()
    val addsCount = replCount + newCount
    val memberCount = memberCount0 + addsCount - delsCount
    // only the fold materializes the full membership view; steady-state
    // rounds never evaluate it. Eager-checkpointed on first use: the fold
    // consumes it three times (bloom rebuild, member_add rewrite, store
    // base) and must not re-read the parquet log for each
    lazy val membersEnd = readMembers(spark, state)
      .join(delsDelta.select("url_hash"), Seq("url_hash"), "left_anti")
      .unionByName(replAdds.select("url_hash"))
      .unionByName(newEntries.select("url_hash"))
      .localCheckpoint(true)
    val isCompaction = round % SeenCompactionInterval == 0

    // bloom maintenance, O(delta): OR-merge this round's adds into the
    // persisted shard blobs. Compaction rounds instead REBUILD from the
    // alive set (clears tombstoned bits, resizes with 2× headroom if the
    // population outgrew the blobs) — O(total) but amortized with the log
    // fold itself, which rewrites the same rows anyway.
    val newBloomCap =
      if (isCompaction && memberCount > SeenSet.DefaultShards * bloomCap / 2)
        math.max(2L * memberCount / SeenSet.DefaultShards, InitialBloomCapPerShard)
      else bloomCap
    val blooms =
      (if (isCompaction) SeenSet.buildBloomsDf(membersEnd, newBloomCap)
       else if (newCount == 0) probeBlooms
       else SeenSet.mergeBlooms(probeBlooms, SeenSet.bloomDelta(newEntries, bloomCap)))
        // the merge's row order follows shuffle-read order; sorting in the
        // checkpoint job makes the committed segment repeat byte for byte
        .sortWithinPartitions("shard")
        .localCheckpoint(true) // ≤ shards blob rows

    // ---- 8. host counters: last-writer-wins delta rows --------------------
    val dOrd = withOrd.groupBy("host").agg(count(lit(1)).as("d_ord"))
    val dSeq = newEntries.groupBy("host").agg(count(lit(1)).as("d_seq"))
    val hostctrEnd = hostctr
      .join(dOrd, Seq("host"), "full_outer")
      .join(dSeq, Seq("host"), "full_outer")
      .select(col("host"),
        (coalesce(col("next_seq"), lit(1L)) + coalesce(col("d_seq"), lit(0L))).as("next_seq"),
        (coalesce(col("next_ord"), lit(1L)) + coalesce(col("d_ord"), lit(0L))).as("next_ord"))
    // delta = rows for hosts whose counters moved this round (fetched,
    // discovered-into, or revised) — O(active hosts), not O(hosts)
    val activeCtrHosts = dOrd.select("host")
      .unionByName(dSeq.select("host"))
      .unionByName(winAdds.select("host")) // replacement hosts (rev path)
      .distinct()
    val hostctrDelta = hostctrEnd
      .join(activeCtrHosts, Seq("host"), "left_semi")
      .withColumn("hr", lit(round))

    // ---- 9. emit + checkpoint: one write wave, then the publish ----------
    // The sink writes ride the commit's concurrent wave, which completes
    // before LATEST moves — emit-before-checkpoint, so at-least-once holds.
    val emits = emitParts.reduce(_ unionByName _)
    val sinkWrites: Seq[() => Unit] = Seq(
      () => emits
        .repartitionByRange(col("host"))
        .sortWithinPartitions(Scheduler.globalOrder: _*)
        .write.mode(SaveMode.Overwrite).parquet(f"$sinkDir/emits-$round%04d"),
      () => pages.write.mode(SaveMode.Overwrite).parquet(f"$sinkDir/pages-$round%04d"),
      // per-partition lineage + fetch metrics (north_rule)
      () => fetchedDf
        .groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("n_fetched"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_failed"),
          min("seq").as("min_seq"), max("seq").as("max_seq"))
        .withColumn("round", lit(round))
        .write.mode(SaveMode.Overwrite).parquet(f"$sinkDir/metrics-$round%04d"))

    val refolded = isCompaction || emergencyRefill
    val metaEnd = Meta(round, memberCount, newBloomCap,
      if (refolded) cfg.roundMillis else meta0.head_ms)
    val meta = Seq(metaEnd).toDF()
    val winDels = (winDelParts :+ spark.emptyDataset[(String, Long)].toDF("host", "ord"))
      .reduce(_ unionByName _)
    val addsDelta = replAdds.unionByName(newEntries.select(col("url_hash"), lit(round).as("r")))
    if (refolded) {
      // compaction (or emergency re-provision): fold every event log into a
      // single alive segment, clear tombstones, and rebuild the head cache —
      // resume and membership semantics unchanged. The queue fold is the
      // only time the full queue is rewritten (amortized 1/interval); the
      // anti-join side is this round's small committed set, so even the fold
      // never shuffles the big table.
      val queueStart = if (emergencyRefill) schedSource else readQueue(spark, state)
      val queueEnd = queueStart
        .join(withOrd.select("url_hash"), Seq("url_hash"), "left_anti")
        .unionByName(newEntries)
      // single full-queue pass: the shaped (host-bucketed, rank-sorted,
      // checkpointed) output IS the committed queue_add segment, and the
      // head cache is provisioned from the same sorted partitions — the r4
      // fold shuffled the queue once here and again at commit
      val (queueShaped, headEnd, headmetaEnd) =
        shapeAndBuildHead(queueEnd, hostState, cfg.roundMillis)
      // the fold's write wave also carries the fingerprint store's fresh
      // base generation from the alive membership (the same rows the
      // member_add rewrite persists) — written before the publish (crash ⇒
      // deterministic re-run rewrites it)
      state.commit(Map(
        "member_add" -> membersEnd.withColumn("r", lit(round)),
        "member_del" -> emptyDelDelta,
        "queue_add" -> queueShaped,
        "queue_del" -> emptyDelDelta,
        "head_add" -> headEnd,
        "headmeta" -> headmetaEnd,
        "window_add" -> window.join(evictDels, Seq("host", "ord"), "left_anti")
          .localCheckpoint(true),
        "window_del" -> spark.emptyDataset[(String, Long)].toDF("host", "ord"),
        "hostctr_add" -> hostctrEnd.withColumn("hr", lit(round)),
        "blooms" -> blooms,
        "meta" -> meta),
        alongside = sinkWrites :+ (() => MemberStore.writeBase(membersEnd,
          memberStoreRoot(state), round, SeenSet.DefaultShards)))
    } else {
      // O(delta) fingerprint-store maintenance: this round's add/del file
      // set, in the wave before the publish that references it. Without
      // revisions there are no dels: `member_del` carries its segments
      // forward and the store writes no del kind.
      val dels = if (delParts.isEmpty) None else Some(delsDelta)
      state.commit(
        Map("blooms" -> blooms, "meta" -> meta),
        appendOnly = Map(
          "member_add" -> addsDelta,
          "queue_add" -> newEntries, "queue_del" -> queueDelDelta,
          "head_add" -> headAddDelta,
          "window_add" -> winAdds, "window_del" -> winDels,
          "hostctr_add" -> hostctrDelta) ++ dels.map("member_del" -> _),
        alongside = sinkWrites :+ (() => MemberStore.writeDelta(addsDelta, dels,
          memberStoreRoot(state), round, SeenSet.DefaultShards)))
    }
    state.expireOldSnapshots(keep = 2)
    expireOldBloomBlobs(state.dir, round, keep = 2)
    MemberStore.expireOld(memberStoreRoot(state))

    fetchedDf.unpersist(); committed.unpersist(); withOrd.unpersist()
    headAlive.unpersist()
    if (emergencyRefill) schedSource.unpersist()
    metaEnd
  }

  /** Drop shard-local bloom blob directories older than `keep` rounds behind
    * the latest (file-mode probe transport only; a no-op otherwise).
    */
  private def expireOldBloomBlobs(stateDir: String, round: Long, keep: Int): Unit = {
    val root = java.nio.file.Paths.get(stateDir, "bloomblobs")
    if (java.nio.file.Files.isDirectory(root)) {
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("round-"))
          .filter(_.getFileName.toString.stripPrefix("round-").toLong <= round - keep)
          .toSeq.foreach { d =>
            val files = java.nio.file.Files.list(d)
            try files.iterator().asScala.toSeq.foreach(java.nio.file.Files.deleteIfExists)
            finally files.close()
            java.nio.file.Files.deleteIfExists(d)
          }
      } finally s.close()
    }
  }

  /** All emitted envelopes across rounds, in the pinned global order. */
  def readEmits(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(s"$sinkDir/emits-*")

  def readPages(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(s"$sinkDir/pages-*")
}
