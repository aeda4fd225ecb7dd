package graftbench

import graft.crawl.{CrawlJob, RefWalker}
import graft.fixtures.{ImageGen, SyntheticWeb, WebConfig}
import graft.frontier.{BloomSketch, Scheduler, SeenSet}
import graft.functions.{GraftHash, UrlCodec}
import graft.functions.GraftExpressions._
import graft.tables.SnapshotTable
import graft.validate.ImageValidate
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The three workloads. Each is a closed loop with the crawler as its own
  * single client: a round starts only after the previous one has committed.
  * Inputs come only from the seed; every check runs outside the timed
  * rounds.
  */
object Workloads {

  /** `CrawlJob` makes its first compaction fold on this round. */
  val FoldRound: Long = CrawlJob.SeenCompactionInterval

  /** The first rounds of every crawl run, checked but not timed into the
    * end-to-end metrics, while the JIT compiles Spark's driver-side planning
    * code that bounds a crawl round. With the JIT thresholds `run.py` sets for
    * crawl runs, rounds 1-2 take 10-13 s on a 4-core VM and later rounds 8-10 s;
    * at the default thresholds rounds kept getting faster up to round 6.
    */
  val WarmupRounds = 2L

  /** Untraced crawl_steady times at least this many rounds after the warm-up,
    * and more while they add up to less than `--seconds`.
    */
  val MinTimedRounds = 2

  /** `state_mb` is the checkpoint's size after this round in every crawl run,
    * so it does not depend on how many rounds a run times.
    */
  val StateRound: Long = WarmupRounds + MinTimedRounds

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Crawl set-ups of a run. A traced run reports no `setup_s` and must fit
    * eight crawl rounds in the run limit, so it sets up once.
    */
  private def crawlSetups(c: Ctx): Int = if (c.trace) 1 else Setups

  /** Call-site frames reported as `crawl.job_s.<frame>` / `crawl.jobs.<frame>`;
    * jobs under any other frame are summed as `other`.
    */
  val Frames = Seq("CrawlJob.run", "CrawlJob.runRound", "CrawlJob.shapeAndBuildHead",
    "CrawlJob.membersEnd", "SnapshotTable.commit", "SnapshotTable.read",
    "MemberStore.writeKind", "SeenSet.broadcastProvider")

  val Layers = Seq("crawl", "frontier", "tables", "validate", "functions")

  final case class RoundRec(round: Long, wallS: Double, fold: Boolean,
      stateBytes: Long = 0L, stateFiles: Long = 0L, sinkBytes: Long = 0L,
      stateTotal: Long = 0L) {
    /** Timed into the end-to-end metrics: warm and not a fold. */
    def steady: Boolean = !fold && round > WarmupRounds
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  /** Regular files under `dir` with their sizes. */
  private def files(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** (bytes, files) that appeared or changed between two listings. */
  private def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.filter { case (p, n) => !before.get(p).contains(n) }
    (fresh.values.sum, fresh.size.toLong)
  }

  private def digestOf(xs: Iterable[String]): String =
    java.lang.Long.toHexString(GraftHash.xxhash64(xs.mkString("\n")))

  /** Replacement pages served after a revision carry this path prefix
    * ([[SyntheticWeb.replacementUrl]]); they are emitted but never fetched.
    */
  private def isReplacement(url: String): Boolean = url.contains("/rev/")

  type Emit = (Long, String, String, Long, Long, Long, String, Int)

  private def readEmits(spark: SparkSession, sinkDir: String): Array[Emit] = {
    import spark.implicits._
    CrawlJob.readEmits(spark, sinkDir).select(CrawlJob.EmitCols.map(col): _*)
      .as[Emit].collect()
  }

  // ---- the crawl workloads ---------------------------------------------

  /** Rounds 1, 2, ... through the public one-round step (`run` resumes from
    * LATEST, so `upToRound = Some(r)` commits exactly round r) until `done`
    * holds for the rounds so far, or one fails.
    */
  private def crawlRounds(c: Ctx, cfg: WebConfig, stateDir: String, sinkDir: String,
      heap: mutable.ArrayBuffer[Double])(done: Seq[RoundRec] => Boolean): Seq[RoundRec] = {
    val recs = mutable.ArrayBuffer[RoundRec]()
    var round = 1L
    var ok = true
    while (ok && !done(recs.toSeq)) {
      val r = round
      val none = Map.empty[String, Long]
      val (st0, sk0) = if (c.trace) (files(stateDir), files(sinkDir)) else (none, none)
      c.attempted += 1
      val t0 = System.nanoTime()
      try c.tracer.span(s"round-$r", "crawl", r) {
        CrawlJob.run(c.spark, cfg, stateDir, sinkDir, upToRound = Some(r), bloomThreshold = 0L)
      } catch {
        case NonFatal(e) => c.failRound(r, s"threw $e"); ok = false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      c.log(f"round $r: $wall%.2f s")
      c.roundWalls += wall
      val (sb, sf) = if (c.trace) written(st0, files(stateDir)) else (0L, 0L)
      val (kb, _) = if (c.trace) written(sk0, files(sinkDir)) else (0L, 0L)
      val total = if (r == StateRound) files(stateDir).values.sum else 0L
      recs += RoundRec(r, wall, r % FoldRound == 0, sb, sf, kb, total)
      heap += c.liveHeapMb()
      round += 1
    }
    recs.toSeq
  }

  /** Rounds 1..last. */
  private def roundsTo(last: Long)(recs: Seq[RoundRec]): Boolean = recs.size >= last

  /** Untraced crawl_steady: the warm-up rounds, then timed rounds until at
    * least [[MinTimedRounds]] of them add up to `--seconds`. Fold rounds are
    * run but not timed.
    */
  private def timedFor(c: Ctx)(recs: Seq[RoundRec]): Boolean = {
    val timed = recs.filter(_.steady)
    timed.size >= MinTimedRounds && timed.map(_.wallS).sum >= c.seconds
  }

  /** End-to-end metrics shared by both crawl workloads, and with tracing on,
    * the per-layer ones.
    */
  private def crawlMetrics(c: Ctx, cfg: WebConfig, stateDir: String, sinkDir: String,
      recs: Seq[RoundRec], setups: Seq[Double], heap: Seq[Double], emits: Array[Emit],
      seeded: Long): Unit = {
    val spark = c.spark
    import spark.implicits._
    val fetched = emits.filter(e => e._2 == "ACCEPTED" && !isReplacement(e._7))
    val steady = recs.filter(_.steady)
    val timed = fetched.filter(e => steady.exists(_.round == e._1))
    val candidates = timed.map(e => SyntheticWeb.outlinksOf(cfg, e._7).size.toLong).sum
    val timedS = steady.map(_.wallS).sum
    c.put("setup_s", median(setups), "s")
    c.put("round_p50_s", median(steady.map(_.wallS)), "s")
    c.put("pages_per_s", timed.length / timedS, "pages/s")
    c.put("urls_per_s", candidates / timedS, "URLs/s")
    c.put("state_mb", recs.find(_.round == StateRound).fold(0L)(_.stateTotal) / 1e6, "MB")
    c.put("peak_heap_mb", heap.max, "MB")
    if (!c.trace) return

    val state = new SnapshotTable(stateDir)
    c.put("crawl.fold_round_s", median(recs.filter(_.fold).map(_.wallS)), "s")
    c.put("crawl.pages_committed", fetched.length, "count")
    c.put("crawl.revisions_dropped", emits.count(_._2 == "DROPPED"), "count")
    c.put("crawl.fetch_failed", spark.read.parquet(s"$sinkDir/metrics-*")
      .agg(sum("n_failed")).as[Long].head().toDouble, "count")
    val assigned = CrawlJob.readHostctr(spark, state).agg(sum(col("next_seq") - 1)).as[Long].head()
    val replacements = emits.count(e => e._2 == "ACCEPTED" && isReplacement(e._7))
    c.put("crawl.discovered_new", assigned - seeded - replacements, "count")
    c.put("frontier.head_rows", CrawlJob.readHead(spark, state).count(), "count")
    c.put("frontier.queue_rows", CrawlJob.readQueue(spark, state).count(), "count")

    val cap = state.read(spark, "meta").select("bloom_cap").as[Long].head()
    c.put("frontier.bloom_build_s", secs(c.tracer.span("bloom_build", "frontier") {
      SeenSet.buildBloomsDf(CrawlJob.readMembers(spark, state), cap).localCheckpoint(true)
    })._2, "s")
    val blooms = sketches(state.read(spark, "blooms"))
    bloomMicro(c, blooms, c.seed)
    val raw = fetched.take(2000).flatMap(e => SyntheticWeb.outlinksOf(cfg, e._7)).toIndexedSeq
    urlMicro(c, raw)
    imageMicro(c, fetched.take(64).map(e =>
      SyntheticWeb.imageIdOf(e._7, cfg.numImages).stripPrefix("img").toLong).toSeq)

    c.tracer.drain()
    val spans = recs.map(r => r -> c.tracer.allSpans.find(_.name == s"round-${r.round}").get)
    val steadySpans = spans.filter(_._1.steady).map(_._2)
    val foldSpans = spans.filter(_._1.fold).map(_._2)
    crawlRoundMetrics(c, steadySpans, foldSpans)
    spanTotals(c, steadySpans ++ foldSpans)
    c.put("tables.state_bytes_written_per_round",
      median(steady.map(_.stateBytes.toDouble)), "bytes")
    c.put("tables.files_written_per_round", median(steady.map(_.stateFiles.toDouble)), "count")
    c.put("tables.sink_bytes_per_round", median(steady.map(_.sinkBytes.toDouble)), "bytes")
    c.put("tables.fold_bytes_written", recs.filter(_.fold).map(_.stateBytes.toDouble).sum, "bytes")
    c.put("trace.overhead_frac", c.tracer.listenerS / recs.map(_.wallS).sum, "ratio")
  }

  /** The crawl loop's job, stage and call-site metrics of its measured round
    * spans. Only the crawl workloads put them; elsewhere they read 0.
    */
  private def crawlRoundMetrics(c: Ctx, steady: Seq[Span], folds: Seq[Span]): Unit = {
    val t = c.tracer
    val st = steady.map(t.stats)
    val all = (steady ++ folds).map(t.stats)
    c.put("crawl.jobs_per_round", median(st.map(_.jobs.toDouble)), "count")
    c.put("crawl.stages_per_round", median(st.map(_.stages.toDouble)), "count")
    c.put("crawl.tasks_per_round", median(st.map(_.tasks.toDouble)), "count")
    c.put("crawl.stage_active_s", median(st.map(_.stageActiveS)), "s")
    c.put("crawl.driver_gap_s", median(st.map(_.driverGapS)), "s")
    c.put("crawl.executor_busy_frac", median(st.map(_.executorBusyFrac)), "ratio")
    c.put("crawl.fold_jobs", folds.map(t.stats).map(_.jobs.toDouble).sum, "count")
    val secsBy = all.flatMap(_.jobSByFrame).groupMapReduce(_._1)(_._2)(_ + _)
    val jobsBy = all.flatMap(_.jobsByFrame).groupMapReduce(_._1)(_._2)(_ + _)
    Frames.foreach { f =>
      c.put(s"crawl.job_s.$f", secsBy.getOrElse(f, 0.0), "s")
      c.put(s"crawl.jobs.$f", jobsBy.getOrElse(f, 0).toDouble, "count")
    }
    c.put("crawl.job_s.other", secsBy.filter(kv => !Frames.contains(kv._1)).values.sum, "s")
    c.put("crawl.jobs.other",
      jobsBy.filter(kv => !Frames.contains(kv._1)).values.sum.toDouble, "count")
  }

  /** Self time per layer and the Spark totals of the measured round spans. */
  private def spanTotals(c: Ctx, rounds: Seq[Span]): Unit = {
    val t = c.tracer
    val all = rounds.map(t.stats)
    val self = t.selfSecondsByLayer(rounds)
    Layers.foreach(l => c.put(s"$l.self_s", self.getOrElse(l, 0.0), "s"))
    c.put("shuffle_write_mb", all.map(_.shuffleWriteMb).sum, "MB")
    c.put("spill_mb", all.map(_.spillMb).sum, "MB")
    c.put("gc_s", all.map(_.gcS).sum, "s")
    c.put("trace.listener_s", t.listenerS, "s")
  }

  /** crawl_steady: the real multi-round `CrawlJob` loop on the synthetic web
    * (scripted revisions, ~4% failed fetches; traced, through one compaction
    * fold), checked byte-exact against the single-threaded `RefWalker`.
    */
  def crawlSteady(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val (hosts, seeds) = if (c.smoke) (16, 120) else (512, 16000)
    val cfg = WebConfig(seed = c.seed, numHosts = hosts, numSeeds = seeds,
      maxOutlinks = 4, windowK = 16, rounds = FoldRound.toInt)
    c.digest = digestOf(SyntheticWeb.seedUrls(cfg))
    val nSetups = crawlSetups(c)
    val setups = (1 to nSetups).map { k =>
      val (st, sk) = (c.dir(s"state-$k"), c.dir(s"sink-$k"))
      val t = secs(c.tracer.span(s"setup-$k", "crawl") {
        CrawlJob.run(spark, cfg, st, sk, upToRound = Some(0L), bloomThreshold = 0L)
      })._2
      if (k < nSetups) { deleteTree(st); deleteTree(sk) }
      t
    }
    c.log(s"set-ups: ${setups.map(t => f"$t%.2f").mkString(" ")}")
    val (stateDir, sinkDir) = (c.dir(s"state-$nSetups"), c.dir(s"sink-$nSetups"))
    val seeded = CrawlJob.readQueue(spark, stateDir).count()
    val heap = mutable.ArrayBuffer(c.liveHeapMb())
    val recs = crawlRounds(c, cfg, stateDir, sinkDir, heap)(
      if (c.trace) roundsTo(FoldRound) else timedFor(c))
    val emits = readEmits(spark, sinkDir)
    c.log("checking against RefWalker")

    // byte-exact against the reference walker, round by round
    val last = recs.last.round
    val ref = RefWalker.run(cfg.copy(rounds = last.toInt))
    val want = ref.emits
      .map(e => (e.round, e.status, e.host, e.seq, e.ord, e.url_hash, e.url, e.priority))
      .groupBy(_._1)
    val got = emits.toSeq.groupBy(_._1)
    recs.foreach { r =>
      val g = got.getOrElse(r.round, Seq.empty).sorted
      val w = want.getOrElse(r.round, Vector.empty).sorted
      c.check(r.round, g == w,
        s"emits differ from RefWalker (engine ${g.size}, reference ${w.size})")
    }
    val seen = CrawlJob.readSeen(spark, stateDir).as[Long].collect().toSet
    c.check(last, seen == ref.seen,
      s"seen set differs from RefWalker (${seen.size} vs ${ref.seen.size})")
    val queue = CrawlJob.readQueue(spark, stateDir).count()
    c.check(last, queue == ref.queueSize,
      s"residual queue differs from RefWalker ($queue vs ${ref.queueSize})")

    c.log("metrics")
    crawlMetrics(c, cfg, stateDir, sinkDir, recs, setups, heap.toSeq, emits, seeded)
    c.log("done")
  }

  /** The pre-accumulated frontier: `q` allowed queue rows over the config's
    * hosts, seq dense per host, URL tokens drawn from the seed.
    */
  private def genQueue(spark: SparkSession, cfg: WebConfig, q: Long): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    spark.range(0, q, 1, parts)
      .select(
        format_string("host%02d.test", (col("id") % cfg.numHosts).cast("int")).as("host"),
        concat(lit("http://"),
          format_string("host%02d.test", (col("id") % cfg.numHosts).cast("int")),
          lit("/p/q"), lower(hex(xxhash64(col("id"), lit(cfg.seed))))).as("url"),
        (floor(col("id") / cfg.numHosts) + 1).cast("long").as("seq"))
      .select(col("host"), col("url"), xxhash64(col("url")).as("url_hash"), col("seq"),
        pmod(xxhash64(col("url")), lit(10)).cast("int").as("priority"), lit(0L).as("qr"))
  }

  /** deep_queue: `CrawlJob.seedSnapshot` with a queue of about a million
    * rows, then rounds through one fold. Steady rounds read only the head
    * cache; the fold shuffles, sorts and rewrites the whole queue.
    */
  def deepQueue(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val (hosts, q) = if (c.smoke) (16, 20000L) else (64, 1000000L)
    val cfg = WebConfig(seed = c.seed, numHosts = hosts, rounds = FoldRound.toInt)
    val hostState = spark.createDataset(SyntheticWeb.hostStates(cfg)).toDF()
    c.digest = digestOf(genQueue(spark, cfg, 64).select("url").as[String].collect())
    val nSetups = crawlSetups(c)
    val setups = (1 to nSetups).map { k =>
      val st = new SnapshotTable(c.dir(s"state-$k"))
      val t = secs(c.tracer.span(s"setup-$k", "crawl") {
        CrawlJob.seedSnapshot(spark, st, genQueue(spark, cfg, q), hostState, cfg.roundMillis)
      })._2
      if (k < nSetups) deleteTree(st.dir)
      t
    }
    val (stateDir, sinkDir) = (c.dir(s"state-$nSetups"), c.dir(s"sink-$nSetups"))
    val heap = mutable.ArrayBuffer(c.liveHeapMb())
    val recs = crawlRounds(c, cfg, stateDir, sinkDir, heap)(roundsTo(FoldRound))
    val emits = readEmits(spark, sinkDir)
    val last = recs.last.round

    // per round and host, committed ords continue the host's sequence with no gap
    val accepted = emits.filter(_._2 == "ACCEPTED")
    val ordsBefore = mutable.Map[String, Long]().withDefaultValue(0L)
    recs.foreach { r =>
      accepted.filter(_._1 == r.round).groupBy(_._3).toSeq.sortBy(_._1).foreach { case (host, es) =>
        val ords = es.map(_._5).sorted.toSeq
        val from = ordsBefore(host) + 1
        c.check(r.round, ords == (from until from + ords.size),
          s"ords of $host are not gap-free from $from: ${ords.take(5)}")
        ordsBefore(host) = from + ords.size - 1
      }
    }

    // queue conservation: seeded + new - committed = alive, and row by row,
    // per host the alive and committed seqs partition 1..next_seq-1
    val state = new SnapshotTable(stateDir)
    val alive = CrawlJob.readQueue(spark, state).select("host", "seq")
    val ctr = CrawlJob.readHostctr(spark, state).select("host", "next_seq")
    val assigned = ctr.agg(sum(col("next_seq") - 1)).as[Long].head()
    val committed = accepted.count(e => !isReplacement(e._7)).toLong
    val replacements = accepted.length - committed
    val discovered = assigned - q - replacements
    val aliveCount = alive.count()
    c.check(last, q + discovered - committed == aliveCount,
      s"queue not conserved: $q + $discovered - $committed != $aliveCount")
    val bad = alive
      .unionByName(accepted.map(e => (e._3, e._4)).toSeq.toDF("host", "seq"))
      .groupBy("host")
      .agg(count(lit(1)).as("n"), countDistinct("seq").as("d"),
        min("seq").as("lo"), max("seq").as("hi"))
      .join(ctr, Seq("host"), "full_outer")
      .filter(!coalesce(col("n") === col("d") && col("lo") === 1 &&
        col("hi") === col("next_seq") - 1 && col("n") === col("hi"), lit(false)))
      .count()
    c.check(last, bad == 0,
      s"$bad hosts whose alive + committed seqs are not exactly 1..next_seq-1")

    crawlMetrics(c, cfg, stateDir, sinkDir, recs, setups, heap.toSeq, emits, q)
  }

  // ---- frontier_round ----------------------------------------------------

  val FrontierHosts = 256
  /** Distinct page images; a page's image is pmod(url_hash, ImageIds). */
  val ImageIds = 4096
  val FrontierRoundMillis = 10000L
  /** Fetch tasks per core: page images differ up to 16x in pixels, so the
    * fetch stage gets several tasks per core, as in `graft.Bench`.
    */
  val FetchTasksPerCore = 4

  /** (candidate URLs, base per-host budget) of one frontier round. About
    * 2.4 s of a round is fixed Spark cost (some 21 stages whatever the size).
    * Doubling every input made a 100k-URL round 1.4x longer and a 300k one
    * 1.7x, so at this size per-row work (the candidates, and the ~33k pages
    * the budgets admit) is most of the round; see crawlbench/README.md.
    */
  private def frontierSize(c: Ctx): (Long, Int) = if (c.smoke) (20000L, 10) else (300000L, 120)

  private final case class FrontierState(n: Long, cap: Long, seen: DataFrame,
      blooms: DataFrame, provider: SeenSet.BloomShardProvider, bloomBuildS: Double)

  private def rawCandidates(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts)
      .select(concat(lit("HTTP://Host"), pmod(col("id"), lit(FrontierHosts)).cast("string"),
        lit(".Example.COM:80/"),
        // a tenth of the paths fall under the hosts' robots disallow rule
        when(pmod(xxhash64(col("id"), lit(seed + 1)), lit(10)) === 0, lit("private"))
          .otherwise(lit("p")),
        lit("/./x/../"), lower(hex(xxhash64(col("id"), lit(seed)))), lit("#f")).as("raw_url"))
  }

  /** Candidate URLs as a round sees them: canonicalized, hashed, and keyed. */
  private def candidates(spark: SparkSession, n: Long, seed: Long): DataFrame =
    rawCandidates(spark, n, seed)
      .select(canonicalize_url(col("raw_url")).as("url"))
      .select(col("url"), xxhash64(col("url")).as("url_hash"),
        url_host(col("url")).as("host"), url_path(col("url")).as("path"),
        pmod(xxhash64(col("url")), lit(10)).cast("int").as("priority"),
        (xxhash64(col("url")) % 100000).as("seq"))

  private def frontierHostState(spark: SparkSession, budget: Int): DataFrame =
    spark.range(FrontierHosts)
      .select(concat(lit("host"), col("id").cast("string"), lit(".example.com")).as("host"),
        array(lit("/private/")).as("robots_disallow"),
        (lit(1L) + col("id") % 5).as("min_delay_ms"),
        (lit(budget) + col("id").cast("int") % 20).as("budget"))

  /** The checkpoint state a frontier round starts from: the seen set (a
    * third of the candidates) and its bloom shard blobs.
    */
  private def frontierSetup(c: Ctx, n: Long): FrontierState = {
    val spark = c.spark
    val seen = candidates(spark, n, c.seed).filter(col("seq") % 3 === 0)
      .select("url_hash").localCheckpoint(true)
    val cap = math.max(n / SeenSet.DefaultShards, 1024L)
    val (blooms, buildS) = secs(SeenSet.buildBloomsDf(seen, cap).localCheckpoint(true))
    FrontierState(n, cap, seen, blooms, SeenSet.broadcastProvider(spark, blooms), buildS)
  }

  /** Fetch a page's image and validate it: generate the source raster,
    * encode it, decode the payload, and apply the PSNR gate (exact for PNG).
    */
  def pageValid(i: Long): Boolean = {
    val img = ImageGen.raster(i)
    val fmt = ImageGen.fmtOf(i)
    val decoded = ImageValidate.decode(ImageGen.encode(img, fmt))
    val p = ImageValidate.psnr(img, decoded)
    if (fmt == "png") p.isPosInfinity else p >= ImageValidate.PsnrGateDb
  }

  private final case class FrontierOut(gated: DataFrame, scheduled: DataFrame,
      merged: DataFrame, ok: Long, bad: Long)

  /** One frontier round from public calls: dedup → robots gate → schedule →
    * fetch+validate → bloom delta merge. Traced, each layer's output is
    * materialized at its boundary so its span holds its own work; untraced,
    * the round materializes only where a real round must (the scheduler's
    * input, which it reads twice, and its output, which fetch and merge share).
    */
  private def frontierRoundOnce(c: Ctx, fs: FrontierState, hostState: DataFrame,
      traced: Boolean, round: Long): FrontierOut = {
    val spark = c.spark
    import spark.implicits._
    def layer[T](name: String, l: String)(f: => T): T =
      if (traced) c.tracer.span(name, l, round)(f) else f
    def mat(df: DataFrame): DataFrame = if (traced) df.localCheckpoint(true) else df
    layer(s"round-$round", "frontier") {
      val cand = layer("canonicalize", "functions")(mat(candidates(spark, fs.n, c.seed)))
      val fresh = layer("dedup", "frontier") {
        mat(SeenSet.filterNew(spark, cand, fs.seen, fs.provider))
      }
      val gated = layer("gate", "frontier") {
        Scheduler.robotsGate(fresh, hostState)
          .select("host", "url", "url_hash", "seq", "priority").localCheckpoint(true)
      }
      val scheduled = layer("schedule", "frontier") {
        val s = Scheduler.schedule(gated, hostState, FrontierRoundMillis).persist()
        if (traced) s.count()
        s
      }
      val (ok, bad) = layer("fetch_validate", "validate") {
        scheduled.select(pmod(col("url_hash"), lit(ImageIds)).as("img"))
          .repartition(spark.sparkContext.defaultParallelism * FetchTasksPerCore, col("img"))
          .as[Long].mapPartitions(_.map(i => if (pageValid(i)) (1L, 0L) else (0L, 1L)))
          .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      }
      val merged = layer("bloom_merge", "frontier") {
        SeenSet.mergeBlooms(fs.blooms, SeenSet.bloomDelta(scheduled.select("url_hash"), fs.cap))
          .localCheckpoint(true)
      }
      FrontierOut(gated, scheduled, merged, ok, bad)
    }
  }

  private def sketches(blooms: DataFrame): Array[BloomSketch] = {
    val rows = blooms.select("shard", "sketch").collect()
    val arr = new Array[BloomSketch](rows.length)
    rows.foreach(r => arr(r.getInt(0)) = BloomSketch.deserialize(r.getAs[Array[Byte]](1)))
    arr
  }

  private def mightContain(s: Array[BloomSketch], h: Long): Boolean =
    s(java.lang.Math.floorMod(h, s.length.toLong).toInt).mightContain(h)

  private def checkFrontier(c: Ctx, fs: FrontierState, hostState: DataFrame,
      out: FrontierOut, round: Long): Unit = {
    val spark = c.spark
    import spark.implicits._
    val sched = out.scheduled
    c.check(round, out.gated.join(fs.seen, Seq("url_hash"), "left_semi").isEmpty,
      "an already-seen hash survived dedup")
    c.check(round, sched.filter(startswith(url_path(col("url")), lit("/private/"))).isEmpty,
      "a robots-disallowed path was scheduled")
    val caps = hostState.select(col("host"),
      Scheduler.capacity(col("budget"), col("min_delay_ms"), FrontierRoundMillis).as("cap"))
    val over = sched.groupBy("host").count().join(caps, Seq("host"))
      .filter(col("count") > col("cap")).count()
    c.check(round, over == 0, s"$over hosts scheduled past Scheduler.capacity")
    c.check(round, out.ok > 0 && out.bad == 0,
      s"${out.bad} of ${out.ok + out.bad} scheduled pages failed the PSNR/exact gate")
    val merged = sketches(out.merged)
    val missing = sched.select("url_hash").as[Long].collect().count(h => !mightContain(merged, h))
    c.check(round, missing == 0, s"$missing scheduled hashes missing from the merged blooms")
  }

  /** frontier_round: one full frontier round over generated URLs (a third
    * already seen, 256 hosts), repeated against the same checkpoint state for
    * `--seconds`. Traced, untraced and traced rounds alternate; the untraced
    * ones are the tracing-overhead and scaling baseline.
    */
  def frontierRound(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val (n, budget) = frontierSize(c)
    val hostState = frontierHostState(spark, budget).localCheckpoint(true)
    c.digest = digestOf(rawCandidates(spark, 64, c.seed).as[String].collect())
    val setups = (1 to Setups).map(k =>
      c.tracer.span(s"setup-$k", "frontier")(secs(frontierSetup(c, n))))
    setups.init.foreach { case (fs, _) => fs.seen.unpersist(); fs.blooms.unpersist() }
    val fs = setups.last._1
    val heap = mutable.ArrayBuffer(c.liveHeapMb())
    c.log(s"set-ups: ${setups.map(t => f"${t._2}%.2f").mkString(" ")}")

    val plain = mutable.ArrayBuffer[(Double, FrontierOut)]()
    val traced = mutable.ArrayBuffer[(Double, FrontierOut)]()
    def measure(trace: Boolean): Unit = {
      val out = if (trace) traced else plain
      val r = (if (trace) 1000L else 0L) + out.size + 1
      c.attempted += 1
      val (o, wall) = secs(frontierRoundOnce(c, fs, hostState, trace, r))
      c.log(f"round $r: $wall%.2f s")
      c.roundWalls += wall
      checkFrontier(c, fs, hostState, o, r)
      out += ((wall, o))
      heap += c.liveHeapMb()
      o.scheduled.unpersist()
    }

    // one discarded round: it compiles the round's code paths
    frontierRoundOnce(c, fs, hostState, traced = false, 0L).scheduled.unpersist()
    c.log("warm-up round")
    if (c.trace) (1 to 2).foreach { _ => measure(trace = false); measure(trace = true) }
    else while (plain.size < 3 || plain.map(_._1).sum < c.seconds) measure(trace = false)
    val roundS = median(plain.map(_._1))
    c.put("setup_s", median(setups.map(_._2)), "s")
    c.put("round_p50_s", roundS, "s")
    c.put("pages_per_s", plain.map(_._2.ok).sum / plain.map(_._1).sum, "pages/s")
    c.put("urls_per_s", n / roundS, "URLs/s")
    c.put("state_mb",
      plain.last._2.merged.agg(sum(length(col("sketch")))).as[Long].head() / 1e6, "MB")
    c.put("peak_heap_mb", heap.max, "MB")
    if (!c.trace) return

    c.tracer.drain()
    val roundSpans = c.tracer.allSpans.filter(s => s.parent == -1 && s.name.startsWith("round-"))
    spanTotals(c, roundSpans)
    def tracedSpans(name: String) =
      c.tracer.allSpans.filter(s => s.name == name && s.round >= 1000)
    def spanS(name: String) = median(tracedSpans(name).map(s => (s.endMs - s.startMs) / 1e3))
    c.put("frontier.dedup_s", spanS("dedup"), "s")
    c.put("frontier.gate_s", spanS("gate"), "s")
    c.put("frontier.schedule_s", spanS("schedule"), "s")
    c.put("frontier.bloom_merge_s", spanS("bloom_merge"), "s")
    c.put("validate.fetch_validate_s", spanS("fetch_validate"), "s")
    c.put("frontier.schedule_shuffle_mb",
      median(tracedSpans("schedule").map(c.tracer.stats(_).shuffleWriteMb)), "MB")
    val o = traced.last._2
    c.put("frontier.scheduled_rows", o.ok + o.bad, "count")
    c.put("frontier.gated_rows", o.gated.count(), "count")
    c.put("validate.rows", o.ok + o.bad, "count")
    c.put("validate.failed_rows", o.bad, "count")
    c.put("frontier.bloom_build_s", median(setups.map(_._1.bloomBuildS)), "s")
    c.put("frontier.round_s_4core", roundS, "s")
    c.put("trace.overhead_frac", median(traced.map(_._1)) / roundS - 1.0, "ratio")

    val cand = candidates(spark, n, c.seed)
      .withColumn("maybe", SeenSet.bloom_might_contain(col("url_hash"), fs.provider))
      .agg(sum(col("maybe").cast("long")), sum((col("maybe") && col("seq") % 3 =!= 0).cast("long")),
        sum((col("seq") % 3 =!= 0).cast("long")))
      .as[(Long, Long, Long)].head()
    c.put("frontier.maybe_seen_frac", cand._1.toDouble / n, "ratio")
    c.put("frontier.bloom_fp_rate", cand._2.toDouble / cand._3, "ratio")
    bloomMicro(c, sketches(fs.blooms), c.seed)
    urlMicro(c, rawCandidates(spark, 20000, c.seed).as[String].collect().toIndexedSeq)
    imageMicro(c, o.gated.select(pmod(col("url_hash"), lit(ImageIds))).as[Long].take(64).toSeq)
  }

  /** The single-core baseline: one untraced frontier round at `--cores 1`
    * after one discarded warm-up round, put as `round_s`. The warm-up round
    * runs on a tenth of the candidates: it compiles the same code paths, and
    * a full-size round costs over 20 s on one core.
    */
  def frontierSingle(c: Ctx): Unit = {
    val (n, budget) = frontierSize(c)
    val hostState = frontierHostState(c.spark, budget).localCheckpoint(true)
    val warm = frontierSetup(c, n / 10)
    frontierRoundOnce(c, warm, hostState, traced = false, 0L).scheduled.unpersist()
    warm.seen.unpersist(); warm.blooms.unpersist()
    c.log("warm-up round")
    val fs = frontierSetup(c, n)
    c.log("set-up")
    val (o, wall) = secs(frontierRoundOnce(c, fs, hostState, traced = false, 1L))
    c.attempted += 1
    c.check(1L, o.ok > 0 && o.bad == 0, s"${o.bad} of ${o.ok + o.bad} pages failed validation")
    c.put("round_s", wall, "s")
  }

  // ---- single-thread kernel timings ------------------------------------

  /** Median ns per call of `f` over `n` inputs: five timed passes after two
    * warm ones, single thread.
    */
  private def nsPer(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    pass(); pass()
    val ts = (1 to 5).map(_ => pass())
    if (sink == 42L) System.err.println("")
    median(ts)
  }

  private def bloomMicro(c: Ctx, blooms: Array[BloomSketch], seed: Long): Unit = {
    // keys no crawl or frontier round ever adds: every positive is false
    val keys = Array.tabulate(200000)(i => GraftHash.xxhash64(s"http://absent.invalid/$seed/$i"))
    if (!c.has("frontier.bloom_fp_rate"))
      c.put("frontier.bloom_fp_rate",
        keys.count(mightContain(blooms, _)).toDouble / keys.length, "ratio")
    c.put("frontier.bloom_probe_ns",
      nsPer(keys.length)(i => if (mightContain(blooms, keys(i))) 1L else 0L), "ns")
  }

  private def urlMicro(c: Ctx, raw: IndexedSeq[String]): Unit = {
    val canon = raw.map(UrlCodec.canonicalize)
    c.put("functions.canonicalize_ns",
      nsPer(raw.size)(i => UrlCodec.canonicalize(raw(i)).length.toLong), "ns")
    c.put("functions.xxhash64_ns", nsPer(canon.size)(i => GraftHash.xxhash64(canon(i))), "ns")
  }

  private def imageMicro(c: Ctx, ids: Seq[Long]): Unit = {
    val imgs = ids.map(ImageGen.raster).toIndexedSeq
    val bytes = ids.indices.map(k => ImageGen.encode(imgs(k), ImageGen.fmtOf(ids(k))))
    val decoded = bytes.map(ImageValidate.decode)
    c.put("validate.decode_us",
      nsPer(bytes.size)(k => ImageValidate.decode(bytes(k)).getWidth.toLong) / 1e3, "us")
    c.put("validate.psnr_us",
      nsPer(imgs.size)(k => ImageValidate.psnr(imgs(k), decoded(k)).toLong) / 1e3, "us")
  }
}
