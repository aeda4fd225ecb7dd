package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-host politeness-aware priority scheduling — the Spark restatement of
  * the reference's bounded-concurrency-but-ordered-commit task chain
  * (/root/reference/syncronizer/synchronizer.go:14-36) plus its poll-interval
  * politeness tick (/root/reference/crawler/crawler.go:42-51).
  *
  * Semantics per batch round:
  *   - per-host capacity = min(budget, roundMillis / min_delay_ms) — the
  *     politeness budget;
  *   - per-host order = (priority desc, seq asc): strict, deterministic, the
  *     analog of the strictly ascending block walk
  *     (/root/reference/crawler/blocks.go:60-63);
  *   - cross-host interleave pinned by (priority desc, seq asc,
  *     xxhash64(host)) so output is independent of parallelism (SURVEY.md §7
  *     hard part 1).
  *
  * The robots gate ([[robotsGate]]) is applied ONCE, at enqueue time — a
  * frontier entry whose path matches any of its host's disallow prefixes
  * never enters the queue (the per-sink predicate analog,
  * /root/reference/crawler/blocks.go:202-228). Gating at enqueue instead of
  * per-round means the 10^10-row queue is never re-purged: the rules join
  * only the round's O(delta) discoveries.
  *
  * Scale shape: top-k per host is computed in TWO phases so a hot host
  * (Zipf head) never concentrates on one task before reduction — phase 1
  * ranks within (host, salt) groups and keeps ≤ capacity rows per group;
  * phase 2 ranks the ≤ capacity·SALTS survivors per host. Both phases are
  * window row_numbers; the phase-1 key includes the salt so the shuffle
  * spreads a hot host over SALTS reducers (north_rule: "skew from hot hosts
  * handled by explicit key salting").
  */
object Scheduler {

  val Salts = 16

  /** Column expr: does `path` fall under any disallow prefix in `rules`? */
  def robotsDisallowed(path: Column, rules: Column): Column =
    exists(rules, rule => startswith(path, rule))

  /** The enqueue-time robots gate: keep only entries whose path clears their
    * host's disallow rules. `entries` must carry (host, path); the rule
    * column is consumed here and does not survive. Inner join: an entry for
    * a host with no known state never schedules anyway, so it never enqueues.
    *
    * @param hostState one row per host; the join carries no hint, so the
    *   planner broadcasts it while it is small, and a 10^8-host crawl gets
    *   a host-keyed shuffle join from `spark.sql.autoBroadcastJoinThreshold`
    *   (the host-state table and the queue share the host key).
    */
  def robotsGate(entries: DataFrame, hostState: DataFrame): DataFrame =
    entries.join(hostState.select(col("host"), col("robots_disallow")), Seq("host"), "inner")
      .filter(!robotsDisallowed(col("path"), col("robots_disallow")))
      .drop("robots_disallow")

  /** Per-host fetch capacity for one round of `roundMillis`. */
  def capacity(budget: Column, minDelayMs: Column, roundMillis: Long): Column =
    least(budget, floor(lit(roundMillis) / greatest(minDelayMs, lit(1L))))
      .cast("int")

  /** Select this round's fetch set from an (already robots-gated) queue.
    *
    * @param queue     frontier entries: url_hash, url, host, seq, priority
    * @param hostState host, min_delay_ms, budget — one row per host; joined
    *   without a hint, like the gate's ([[robotsGate]])
    * @return scheduled rows with host_rank (1-based per-host commit order)
    */
  def schedule(queue: DataFrame, hostState: DataFrame, roundMillis: Long): DataFrame = {
    val hs = hostState.select(col("host"), col("min_delay_ms"), col("budget"))
    val gated = queue
      .join(hs, Seq("host"), "inner")
      .withColumn("cap", capacity(col("budget"), col("min_delay_ms"), roundMillis))
      .drop("min_delay_ms", "budget")

    // Only the RANK KEYS ride the two window shuffles: the wide payload
    // (url, ...) would multiply shuffle bytes ~5x for no reason — winners
    // are recovered afterwards by an equi-join on url_hash. The join key
    // stays a SINGLE long so Spark builds its specialized long-key hash
    // relation when it broadcasts (a composite (host, url_hash) key was
    // measured 3x slower on the 3M-row probe side); host equality is
    // enforced by a post-join filter instead, so an url_hash collision
    // across hosts (expected a handful at 10^10 URLs) still cannot
    // cross-match payload. NO forced broadcast hint on the winners side:
    // winners ≈ Σ capacity = the round's whole fetch set (~10^7 rows,
    // hundreds of MB at the target regime) — a hard hint would ship that
    // to every executor unconditionally, the same class of footgun as the
    // removed tombstone-broadcast hints. AQE picks broadcast by itself at
    // any size where broadcast is right, and degrades to a shuffle join
    // instead of an OOM when it is not.
    val narrow = gated.select(
      col("host"), col("url_hash"), col("priority"), col("seq"), col("cap"))

    // r6 priority-histogram prefilter (guide §2.3 "shuffle fewer bytes" /
    // §1.2 step 1): the two window sorts below only need rows that can
    // still WIN. A row with priority p can hold a rank <= cap only if
    // fewer than cap rows of its host carry a strictly higher priority
    // (priority is the leading sort key), so the per-host cutoff
    // p* = min{p : #rows(priority > p) < cap} bounds the rank input to
    // ~cap + one tie bucket per host instead of the whole queue slice —
    // measured 2M -> ~0.4M rows into both window exchanges on the bench
    // round. Cost: one map-side-combined (host, priority) count (priority
    // is LOW-cardinality by construction here — pmod(hash, 10) — so the
    // histogram is ~hosts x 10 rows) and an equi-join on host that AQE
    // broadcasts at exactly the sizes where host_state itself broadcasts.
    // Exactness: the kept set is a SUPERSET of the winners and pruned rows
    // order strictly after every kept row of their host (priority is the
    // primary sort key), so both phases' row_numbers over the survivors —
    // and therefore the emitted winner set and host_rank values — are
    // bit-identical (SchedulerSpec + CrawlParitySpec pin this end to end).
    // NO broadcast hint anywhere (the SchedulerSpec footgun contract).
    val hist = narrow.groupBy(col("host"), col("priority"))
      .agg(count(lit(1)).as("pn"), max(col("cap")).as("pcap"))
    val wAbove = Window.partitionBy(col("host")).orderBy(col("priority").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cutoff = hist
      .withColumn("above", coalesce(sum(col("pn")).over(wAbove), lit(0L)))
      .groupBy(col("host"))
      .agg(min(when(col("above") < col("pcap"), col("priority"))).as("pmin"))
    val contenders = narrow.join(cutoff, Seq("host"))
      // null-safe: a null pmin (or null priority, which sorts last but can
      // still win on an under-full host) keeps the row — superset semantics
      .filter(coalesce(col("priority") >= col("pmin"), lit(true)))
      .drop("pmin")

    // phase 1: salted local top-k (bounds any single partition's rank input)
    val salted = contenders.withColumn("salt", pmod(xxhash64(col("url_hash")), lit(Salts)))
    val w1 = Window.partitionBy(col("host"), col("salt"))
      .orderBy(col("priority").desc, col("seq").asc)
    val local = salted
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= col("cap"))
      .drop("r1", "salt")

    // phase 2: exact per-host top-k over the pruned survivors
    val w2 = Window.partitionBy(col("host"))
      .orderBy(col("priority").desc, col("seq").asc)
    val winners = local
      .withColumn("host_rank", row_number().over(w2))
      .filter(col("host_rank") <= col("cap"))
      .select(col("host").as("w_host"), col("url_hash"), col("host_rank"))

    gated.drop("cap")
      .join(winners, Seq("url_hash"))
      .filter(col("host") === col("w_host"))
      .drop("w_host")
  }

  /** The pinned global commit-order sort key (FIXTURES.md §3): use for
    * writing/ comparing ordered output without forcing a single-partition
    * global row_number.
    */
  def globalOrder: Seq[Column] =
    Seq(col("priority").desc, col("seq").asc, xxhash64(col("host")).asc)
}
