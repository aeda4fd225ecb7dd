package graft.dedup

import graft.functions.SimHash
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each shaped for the
  * 100 TB case:
  *
  *  - exact:       one hash-aggregate (map-side combine), no pairwise work;
  *  - MinHash+LSH: shingle → k-permutation signature → banded bucket join —
  *    candidate pairs come from equi-joins on (band, band_hash), never a
  *    cross join; verification re-checks true Jaccard on candidates only;
  *  - SimHash:     64-bit signature + rotation-banded equi-join, Hamming
  *    verified;
  *  - token-Jaccard: blocked pairwise (block = (lang, length-bucket)) for
  *    small-to-medium blocks, exact;
  *  - embedding cosine: sign-LSH bucketed, cosine verified.
  *
  * Everything is column expressions (codegen) except nothing — no UDFs.
  */
object Dedup {

  /** Exact duplicate groups by content hash. Returns one row per distinct
    * content: (content_hash, keeper_id, dup_count).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Word n-gram shingle hashes. For natural-ish text, word shingles keep
    * cross-document Jaccard low (char shingles over a small vocabulary make
    * *everything* look like a near-dup, which explodes LSH buckets
    * quadratically — observed on the synthetic documents table).
    */
  def wordShingleHashes(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array(xxhash64(text)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => xxhash64(array_join(slice(toks, i + 1, lit(n)), " ")))))
  }

  /** MinHash signature: element j = min over shingles of the shingle hash
    * re-hashed with salt j (xxhash64 chaining — k independent hash functions
    * without 64-bit multiply overflow under ANSI mode). A native codegen
    * expression ([[graft.functions.MinhashSig]]): one traversal of the
    * shingle array instead of the composed form's p re-walks + p
    * intermediate arrays per row; bit-exact with that form (PropertySpec).
    */
  def minhashSignature(shingles: Column, numPerms: Int): Column =
    graft.functions.MinhashSig.minhash_signature(shingles, numPerms)

  /** LSH band keys: hash of each r-element slice of the signature. A pair
    * agreeing on ANY band becomes a candidate.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** End-to-end MinHash-LSH near-dup candidates with exact-Jaccard verify.
    *
    * Shape for scale: the band join carries only (id, band, bh) — shingle
    * arrays are re-joined by id *after* candidate dedup, so the wide arrays
    * never multiply across bands. Buckets larger than `maxBucket` are
    * dropped (a bucket that big means the band carries no discriminating
    * information — e.g. boilerplate); the drop is observable via
    * [[minhashOversizeBuckets]], not silent.
    *
    * @return (id1, id2, jaccard) with id1 < id2, jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numPerms: Int = 32, bands: Int = 8,
      threshold: Double = 0.6, maxBucket: Long = 1000L): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must divide evenly into bands ($bands) — a remainder " +
        "would silently drop the signature tail from every LSH band")
    val rows = numPerms / bands
    // localCheckpoint: the signature projection is a large codegen unit and
    // feeds BOTH sides of the self-join — materialize it once instead of
    // recomputing per side. r6 (guide §2.3/§1.2): shingles are stored SORTED
    // (signature is a min over the set, so sorting first changes nothing)
    // and the intermediate 32-long `sig` column is NOT checkpointed — only
    // its 8 band hashes survive, which shrinks the materialized row by the
    // whole signature array. r6 (guide §2.5): the shingle+signature build is
    // the operator's dominant cost and fuses into the scan stage — spread it
    // across cores first (no-op at scale, see [[Parallelize]]); measured
    // 2.8 s single-task → ~0.2 s on 32 cores at sf0.1.
    val sigs = graft.functions.Parallelize.spreadForCompute(
      df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("id"),
        sort_array(wordShingleHashes(col(textCol), shingleWords)).as("shingles"))
      .withColumn("band_hash",
        lshBands(minhashSignature(col("shingles"), numPerms), bands, rows))
      .localCheckpoint(true)

    val banded = sigs
      .select(col("id"), posexplode(col("band_hash")).as(Seq("band", "bh")))
    val smallBuckets = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select("band", "bh")
    val pruned = banded.join(smallBuckets, Seq("band", "bh"), "left_semi")

    val candidates = pruned.select(col("band"), col("bh"), col("id").as("id1"))
      .join(pruned.select(col("band"), col("bh"), col("id").as("id2")), Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")

    // verify: one sorted-merge intersect per candidate (see
    // [[graft.functions.ArraySetOps]]); |A∪B| = n1 + n2 − |A∩B| on distinct
    // inputs, so the same integer counts feed the same double division as
    // the array_intersect/array_union form — bit-identical jaccard.
    val sh = sigs.select(col("id"), col("shingles"), size(col("shingles")).as("n"))
    candidates
      .join(sh.select(col("id").as("id1"), col("shingles").as("sh1"),
        col("n").as("n1")), Seq("id1"))
      .join(sh.select(col("id").as("id2"), col("shingles").as("sh2"),
        col("n").as("n2")), Seq("id2"))
      .withColumn("inter",
        graft.functions.ArraySetOps.sorted_intersect_count(col("sh1"), col("sh2"))
          .cast("double"))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Diagnostic: LSH buckets that exceed `maxBucket` (and are therefore
    * skipped by [[minhashNearDups]]) — surface this next to the result so
    * capping is never silent.
    */
  def minhashOversizeBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numPerms: Int = 32, bands: Int = 8,
      maxBucket: Long = 1000L): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must divide evenly into bands ($bands)")
    val rows = numPerms / bands
    df.select(col(idCol).as("id"),
        wordShingleHashes(col(textCol), shingleWords).as("shingles"))
      .withColumn("sig", minhashSignature(col("shingles"), numPerms))
      .select(col("id"), posexplode(lshBands(col("sig"), bands, rows)).as(Seq("band", "bh")))
      .groupBy("band", "bh").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
  }

  /** Shared 16-bit-banded Hamming candidate join over 64-bit signatures —
    * the common scale shape behind [[simhashNearDups]] (text) and
    * [[graft.multimodal.Multimodal.phashNearDups]] (images). `sigs` must
    * carry (id, sim: long). Buckets holding more than `maxBucket` signatures
    * are dropped before the self-join — a 16-bit band bucket that hot means
    * the band carries no discriminating information (boilerplate text,
    * near-uniform thumbnails — both common at crawl scale) and would make
    * the candidate join O(bucket²); the drop is observable via
    * [[bandedOversizeBuckets]], never silent. (Identical-content floods that
    * land in a dropped bucket are exact duplicates — [[exactDupGroups]]'
    * single hash-aggregate handles those without pairwise work.)
    */
  def bandedHammingPairs(sigs: DataFrame, maxHamming: Int,
      maxBucket: Long): DataFrame = {
    val banded = sigs.select(col("id"), col("sim"),
      posexplode(bandKeys16(col("sim"))).as(Seq("band", "bh")))
    val smallBuckets = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select("band", "bh")
    val pruned = banded.join(smallBuckets, Seq("band", "bh"), "left_semi")
    val l = pruned.select(col("band"), col("bh"), col("id").as("id1"), col("sim").as("s1"))
    val r = pruned.select(col("band"), col("bh"), col("id").as("id2"), col("sim").as("s2"))
    l.join(r, Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", SimHash.hamming64(col("s1"), col("s2")))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Diagnostic twin of [[bandedHammingPairs]]: the buckets it drops. */
  def bandedOversizeBuckets(sigs: DataFrame, maxBucket: Long): DataFrame =
    sigs.select(col("id"), posexplode(bandKeys16(col("sim"))).as(Seq("band", "bh")))
      .groupBy("band", "bh").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** The 4 × 16-bit band keys of a 64-bit signature column. */
  private def bandKeys16(sim: Column): Column =
    array((0 until 4).map(b =>
      shiftright(sim, b * 16).bitwiseAND(lit(0xffffL))): _*)

  /** SimHash near-dups: signature → 4 × 16-bit band equi-join (buckets
    * capped at `maxBucket`, see [[bandedHammingPairs]]) → Hamming verify.
    * Hamming ≤ maxHamming within any shared band ⇒ near-dup pair.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucket: Long = 1000L): DataFrame =
    bandedHammingPairs(simhashSigs(df, idCol, textCol), maxHamming, maxBucket)

  /** Diagnostic: the band buckets [[simhashNearDups]] drops as oversize. */
  def simhashOversizeBuckets(df: DataFrame, idCol: String, textCol: String,
      maxBucket: Long = 1000L): DataFrame =
    bandedOversizeBuckets(simhashSigs(df, idCol, textCol), maxBucket)

  private def simhashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // r6 (guide §2.5): the 64·tokens signature loop fuses into the
    // single-task scan stage otherwise — spread first (no-op at scale)
    graft.functions.Parallelize.spreadForCompute(
      df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        SimHash.simhash64(TextAnalysis.tokens(col(textCol))).as("sim"))

  /** Exact token-set Jaccard near-dups within blocking keys — for the
    * medium-scale exact variant (and the oracle-checkable one).
    * Blocks by (extra blocking cols) to bound the pairwise join.
    *
    * r6 verify kernel (guide §1.2 step 2): token sets are sorted ONCE per
    * document; each pair is then one zero-allocation merge scan
    * ([[graft.functions.ArraySetOps]]) instead of an `array_intersect` +
    * `array_union` pair of hash-set builds, and `|A∪B| = n1 + n2 − |A∩B|`
    * (distinct inputs) removes the union entirely. A size prefilter drops
    * pairs whose best-case jaccard `min(n)/max(n)` is already below the
    * threshold BEFORE the merge scan runs; it uses the same double division
    * as the final test, so rounding is monotone and no qualifying pair can
    * be dropped. Same integer counts → same double division → bit-identical
    * output.
    *
    * Approximation contract: tokens are compared as their xxhash64 values,
    * not as strings. If two distinct tokens inside one pair's union share a
    * 64-bit hash, they count as one token and that pair's `jaccard` differs
    * from the string Jaccard. By the birthday bound the chance is about
    * U²/2⁶⁵ for a union of U distinct tokens: ~1e-12 per pair at U ≈ 6,000,
    * far less for ordinary documents.
    */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    // r6: tokens ride the pairwise stage as sorted-distinct xxhash64 LONGS
    // instead of strings (guide §2.3 "narrower types"): the per-pair merge
    // scan compares 8-byte longs instead of UTF8 strings and the broadcast
    // side shrinks by the token text — measured 3.86 s -> 0.92 s on the
    // sf0.1 block join. The collision contract is in the scaladoc; DedupSpec
    // diff-tests the two forms, and the DuckDB oracle replays the STRING
    // jaccard, so a collision would fail the oracle compare rather
    // than pass silently.
    val base = graft.functions.Parallelize.spreadForCompute(
      df.select((col(idCol) +: col(textCol) +: blockCols.map(col)): _*))
      .select((col(idCol).as("id") +:
        sort_array(array_distinct(transform(TextAnalysis.tokens(col(textCol)),
          t => xxhash64(t)))).as("toks") +:
        blockCols.map(col)): _*)
      .withColumn("nt", size(col("toks")))
    val l = base.select((col("id").as("id1") +: col("toks").as("t1") +:
      col("nt").as("n1") +: blockCols.map(col)): _*)
    val r = base.select((col("id").as("id2") +: col("toks").as("t2") +:
      col("nt").as("n2") +: blockCols.map(col)): _*)
    l.join(r, blockCols)
      .filter(col("id1") < col("id2"))
      .filter(least(col("n1"), col("n2")).cast("double") /
        greatest(col("n1"), col("n2")) >= threshold)
      .withColumn("inter",
        graft.functions.ArraySetOps.sorted_intersect_count(col("t1"), col("t2"))
          .cast("double"))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Fingerprint-overlap near-dups: pairs of documents sharing at least
    * `minShared` winnowed substring fingerprints — the MOSS clustering step
    * over [[TextAnalysis.fingerprint]]. Where MinHash measures WHOLE-document
    * set resemblance, shared winnow fingerprints localize COPIED SPANS
    * (boilerplate blocks, quoted passages, template reuse — the dominant
    * near-dup mode in crawl corpora), so this catches a long verbatim quote
    * inside an otherwise-different page that Jaccard dilutes below threshold.
    *
    * Shape for scale: one explode builds the inverted index
    * (fingerprint → ids); fingerprints held by more than `maxBucket`
    * documents (site-wide boilerplate) are dropped by the same observable
    * cap every banded join here uses ([[fingerprintOversizeBuckets]] is the
    * diagnostic twin); the pair aggregation then costs Σ bucket² with every
    * bucket bounded. The winnow hash replays in plain BIGINT SQL, so the
    * full operator — index, cap, pair counts — is externally oracle-checkable.
    */
  def fingerprintNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4, minShared: Int = 5,
      maxBucket: Long = 1000L): DataFrame = {
    // r6 (guide §1.2/§2.5): the winnow projection is the per-row-expensive
    // stage and `fp` feeds FOUR plan branches (census + both sides of the
    // self-join) — before, each branch re-ran the winnow scan, fused into a
    // single scan task. Spread the projection across cores (no-op at scale,
    // see [[Parallelize]]) and materialize it once. Same rows, same pairs.
    val fp = graft.functions.Parallelize.spreadForCompute(
      df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(TextAnalysis.fingerprint(col(textCol), k, window)).as("fp"))
      .localCheckpoint(true)
    val small = fp.groupBy("fp").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select("fp")
    val pruned = fp.join(small, Seq("fp"), "left_semi")
    pruned.select(col("fp"), col("id").as("id1"))
      .join(pruned.select(col("fp"), col("id").as("id2")), Seq("fp"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Diagnostic twin of [[fingerprintNearDups]]: the fingerprints it drops
    * as oversize (each one a piece of corpus-wide boilerplate).
    */
  def fingerprintOversizeBuckets(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4, maxBucket: Long = 1000L): DataFrame =
    df.select(col(idCol).as("id"),
        explode(TextAnalysis.fingerprint(col(textCol), k, window)).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** Embedding near-dups: MULTI-BAND sign-LSH. Each of `bands` independent
    * bands hashes the vector's signs against its own `planesPerBand` random
    * hyperplanes; a pair agreeing on ANY band becomes a candidate (the
    * minhash-banding shape), and exact cosine verifies candidates.
    *
    * Recall math (pinned by DedupSpec): per-plane agreement for a pair at
    * cosine c is 1 − acos(c)/π; at c = 0.9 that is ≈ 0.856, so one band of
    * r = 8 planes recalls ≈ 0.29 — but 24 OR-ed bands recall
    * 1 − (1 − 0.29)^24 ≈ 0.9997. (A single wide band — the round-1 design —
    * recalled only ~15% at its advertised operating point.)
    *
    * Shape for scale: the band join carries only (id, band, bh); vectors
    * re-join by id after candidate dedup, so they never multiply across
    * bands. Buckets larger than `maxBucket` are dropped — observable via
    * [[embeddingOversizeBuckets]], never silent.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double = 0.9, bands: Int = 24,
      planesPerBand: Int = 8, maxBucket: Long = 1000L): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      bandSketches(col(vecCol), dim, bands, planesPerBand).as("sk"))
      .localCheckpoint(true) // feeds both sides of the self-join
    val banded = base.select(col("id"), posexplode(col("sk")).as(Seq("band", "bh")))
    val smallBuckets = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select("band", "bh")
    val pruned = banded.join(smallBuckets, Seq("band", "bh"), "left_semi")

    val candidates = pruned.select(col("band"), col("bh"), col("id").as("id1"))
      .join(pruned.select(col("band"), col("bh"), col("id").as("id2")), Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")

    val vs = base.select(col("id"), col("v"))
    candidates
      .join(vs.select(col("id").as("id1"), col("v").as("v1")), Seq("id1"))
      .join(vs.select(col("id").as("id2"), col("v").as("v2")), Seq("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= minCosine)
      .select("id1", "id2", "cosine")
  }

  /** Diagnostic twin of [[minhashOversizeBuckets]] for the embedding LSH. */
  def embeddingOversizeBuckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bands: Int = 24, planesPerBand: Int = 8,
      maxBucket: Long = 1000L): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(bandSketches(col(vecCol), dim, bands, planesPerBand))
          .as(Seq("band", "bh")))
      .groupBy("band", "bh").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** Per-band sign sketches: element b = the band's `planesPerBand`-bit
    * sign pattern (bit i = sign(v · plane_{b·planesPerBand+i})), planes
    * deterministic. Pure columnar, codegen'd.
    */
  def bandSketches(vec: Column, dim: Int, bands: Int, planesPerBand: Int): Column =
    array((0 until bands).map(b => signSketch(vec, dim, planesPerBand,
      planeOffset = b * planesPerBand)): _*)

  /** Sign-LSH bucket id over planes [offset, offset+planes). r6: each
    * plane's dot product is the native [[graft.functions.VecOps.vec_dot]]
    * kernel (same ascending summation → same sign → same bucket ids) —
    * the composed `aggregate(zip_with(...))` form materialized a product
    * array per plane per row, 192 arrays/row at the default 24×8 banding.
    */
  def signSketch(vec: Column, dim: Int, planes: Int, planeOffset: Int = 0): Column = {
    val bits = (0 until planes).map { i =>
      val p = planeOffset + i
      val plane = (0 until dim).map { d =>
        val h = graft.functions.GraftHash.mix64(p * 1009L + d)
        ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      }
      val dot = graft.functions.VecOps.vec_dot(vec, lit(plane.toArray))
      when(dot > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Cosine similarity of two double-array columns. r6: one native codegen
    * kernel ([[graft.functions.VecOps.cosine_sim]]) — bit-identical to the
    * previous `aggregate(zip_with(...))` composition (same ascending folds;
    * pinned by VecOpsSpec) with zero per-pair allocations.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecOps.cosine_sim(a, b)

  /** Connected components over an undirected pair list — the cluster step
    * every near-dup operator here needs to go from PAIRS to DEDUP GROUPS
    * (pick one canonical doc per cluster, drop the rest). Alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): converges in O(log n) alternations on
    * any graph — unlike naive min-label propagation, whose round count is
    * the component DIAMETER (a chain of pairwise near-dups, common in
    * boilerplate drift, makes that O(n)). Each alternation is two keyed
    * aggregations + two equi-joins over the CURRENT edge set (which only
    * shrinks toward star graphs); nothing driver-side except the O(1)
    * convergence probe, and lineage is cut per alternation.
    *
    * Input: two LONG id columns (pair endpoints) — keeping the iterated
    * shuffle rows at 16 bytes is the point, so string ids (image ids,
    * URLs) should be hashed (`xxhash64`) or dictionary-indexed first and
    * mapped back after. Self-pairs ignored.
    * Output: (`idOut`, `componentOut`) for every node that appears in at
    * least one pair — component = MIN node id in the component (stable,
    * deterministic). Singletons never enter the pair list, so callers keep
    * them implicitly (see [[dedupCanonical]]).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id1",
      idB: String = "id2", idOut: String = "id",
      componentOut: String = "component", maxAlternations: Int = 30): DataFrame = {
    // canonical orientation (big, small); dedup once up front
    var e = pairs
      .select(greatest(col(idA), col(idB)).cast("long").as("a"),
        least(col(idA), col(idB)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    var prev = checksum(e)
    var done = prev._1 == 0L
    var i = 0
    while (!done && i < maxAlternations) {
      val ss = ccAlternate(e).localCheckpoint(true)
      val cur = checksum(ss)
      done = cur == prev
      prev = cur
      e = ss
      i += 1
    }
    require(done, s"connectedComponents did not converge in $maxAlternations " +
      "alternations — raise maxAlternations (needed rounds grow O(log n))")
    // fixpoint: every edge is (node, root); roots appear only on the b side
    e.select(col("a").as(idOut), col("b").as(componentOut))
      .union(e.select(col("b"), col("b")).distinct())
  }

  /** One large-star + small-star alternation over an oriented (a > b) edge
    * set. Exposed package-private so plan tooling can show the per-round
    * shuffle shape: two keyed min-aggregations, two equi-joins on the same
    * key, two distincts — all on narrow (long, long) rows.
    */
  private[graft] def ccAlternate(e: DataFrame): DataFrame = {
    // large-star: for each node u (symmetric adjacency), connect every
    // LARGER neighbor v to m = min(N(u) ∪ {u})
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val m1 = sym.groupBy("a").agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("a"), col("mn")).as("m"))
    val ls = sym.join(m1, Seq("a"))
      .filter(col("b") > col("a") && col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
    // small-star: orient edges to (bigger, smaller); connect u and every
    // smaller neighbor to m = min(N(u) ∪ {u}) = min(N(u))
    val m2 = ls.groupBy("a").agg(min(col("b")).as("m"))
    ls.join(m2, Seq("a"))
      .select(col("b").as("v"), col("m"))
      .union(m2.select(col("a").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Order-insensitive O(1) edge-set digest for the convergence probe
    * (count + XOR of row hashes: overflow-free under ANSI, and edge sets
    * are distinct rows so XOR cancellation needs a 64-bit hash collision).
    */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Keep one document per near-dup cluster: the cluster's MIN id survives,
    * every other clustered id is dropped, singletons (no pair) survive
    * untouched. `pairs` is any near-dup pair output (minhash / simhash /
    * embedding / pHash). The drop set is only the clustered non-minima —
    * tiny next to `df` — so the planner broadcasts the anti-join side.
    */
  def dedupCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id1", idB: String = "id2"): DataFrame = {
    val drop = connectedComponents(pairs, idA, idB)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
