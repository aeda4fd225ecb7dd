package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the non-SQL-oracle dedup operators on a seeded corpus with planted
  * exact and near duplicates.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** 60 base docs; ids 1000+i are near-dups of doc i (one word changed) for
    * i < 10; ids 2000+i are exact dups of doc i for i < 5.
    */
  lazy val corpus = {
    val rnd = new scala.util.Random(42)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val nearDups = base.take(10).map { case (i, text) =>
      (1000L + i, text.split(" ").updated(3, "CHANGED").mkString(" "))
    }
    val exactDups = base.take(5).map { case (i, text) => (2000L + i, text) }
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("tokenJaccardPairs (hashed longs) ≡ the string-array formulation") {
    // r6: tokens ride the pairwise stage as sorted-distinct xxhash64 longs;
    // this pins bit-equality of (id1, id2, jaccard) against the original
    // string-array form on the fixture corpus (plus a low-threshold run so
    // many pairs, not just near-dups, are compared).
    import graft.text.TextAnalysis
    def stringForm(threshold: Double) = {
      val base = corpus.select(col("doc_id").as("id"),
        sort_array(array_distinct(TextAnalysis.tokens(col("text")))).as("toks"))
        .withColumn("nt", size(col("toks")))
      val l = base.select(col("id").as("id1"), col("toks").as("t1"), col("nt").as("n1"))
      val r = base.select(col("id").as("id2"), col("toks").as("t2"), col("nt").as("n2"))
      l.crossJoin(r)
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
    Seq(0.1, 0.55).foreach { th =>
      val hashed = Dedup.tokenJaccardPairs(
        corpus.withColumn("blk", lit(1)), "doc_id", "text", Seq("blk"), th)
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      val strings = stringForm(th)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(hashed.toSeq === strings.toSeq, s"threshold $th")
      assert(hashed.nonEmpty)
    }
  }

  test("exact dedup finds planted exact duplicates, keeps min id") {
    val groups = Dedup.exactDupGroups(corpus, "doc_id", "text")
    val dups = groups.filter(col("dup_count") > 1).collect()
    assert(dups.length === 5)
    assert(dups.forall(_.getAs[Long]("keeper_id") < 60L))
  }

  test("minhash LSH finds planted near-dups and all exact dups") {
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // exact dups are jaccard 1.0 — must always be found
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 2000L + i)), s"missed exact dup $i")
    }
    // planted near-dups: one word of 40 changed → shingle jaccard ~0.8
    val foundNear = (0 until 10).count(i => pairs.contains((i.toLong, 1000L + i)))
    assert(foundNear >= 8, s"only $foundNear/10 planted near-dups found")
  }

  test("minhash candidates verified: no pair below the jaccard threshold") {
    val verified = Dedup.minhashNearDups(corpus, "doc_id", "text", threshold = 0.5)
      .select("jaccard").as[Double].collect()
    assert(verified.forall(_ >= 0.5))
  }

  test("simhash hamming=0 for exact dups, small for near-dups") {
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 10)
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    (0 until 5).foreach { i =>
      assert(byPair.get((i.toLong, 2000L + i)).contains(0), s"exact dup $i hamming != 0")
    }
    val near = (0 until 10).flatMap(i => byPair.get((i.toLong, 1000L + i)))
    assert(near.nonEmpty && near.forall(_ <= 10))
  }

  test("simhash bucket cap: hot bucket dropped observably, planted pair survives") {
    // a boilerplate flood: 80 IDENTICAL docs share every band bucket, so an
    // uncapped banded join would generate 80·79/2 candidate pairs from them;
    // with maxBucket = 50 those buckets are dropped (the flood is exact-dup
    // territory anyway) while a planted near-dup pair with distinct text
    // lands in small buckets and must still be found
    val flood = (0 until 80).map(i => (5000L + i, "copy paste boiler plate " * 10))
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val b = a.replaceFirst("beta", "CHANGED")
    val df = (flood ++ Seq((1L, a), (2L, b))).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text",
      maxHamming = 10, maxBucket = 50).as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L), "planted pair lost to the cap")
    assert(!pairs.exists(p => p._1 >= 5000L && p._2 >= 5000L),
      "flood pairs should have been capped away")
    // the drop is observable, not silent: all 4 bands of the flood signature
    val oversize = Dedup.simhashOversizeBuckets(df, "doc_id", "text", maxBucket = 50)
      .as[(Int, Long, Long)].collect()
    assert(oversize.length === 4)
    assert(oversize.forall(_._3 === 80L))
    // and with no cap pressure the result is identical to the uncapped join
    val uncapped = Dedup.simhashNearDups(df.filter(col("doc_id") < 100),
      "doc_id", "text", maxHamming = 10, maxBucket = Long.MaxValue)
      .as[(Long, Long, Int)].collect().toSet
    val capped = Dedup.simhashNearDups(df.filter(col("doc_id") < 100),
      "doc_id", "text", maxHamming = 10, maxBucket = 50)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped === uncapped)
  }

  test("simhash default bucket cap never fires on the oracled documents tables") {
    // the DuckDB oracles replay the banding UNCAPPED, so a cap that fired at
    // an oracled scale factor would make the compare diverge
    val defaultMaxBucket = 1000L // simhashNearDups' default `maxBucket`
    for (sf <- Seq(SparkTestBase.sfDir, SparkTestBase.sf01Dir)) {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val largest = Dedup.simhashOversizeBuckets(docs, "doc_id", "text", maxBucket = 0L)
        .agg(max("bucket_n")).head().getLong(0)
      assert(largest <= defaultMaxBucket, s"$sf: largest simhash band bucket $largest")
    }
  }

  test("embedding near-dups: planted near-identical vectors found via sign-LSH") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = base.take(8).map { case (i, v) =>
      (100L + i, v.map(x => x + 0.001f)) // near-identical
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", dim = 16,
      minCosine = 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val found = (0 until 8).count(i => pairs.contains((i.toLong, 100L + i)))
    assert(found >= 7, s"only $found/8 planted embedding dups found")
    // verify step: no false pair among random vectors
    assert(pairs.forall { case (a, b) => b - a == 100L })
  }

  test("embedding near-dups: cosine-0.9 pairs (not 0.999) recalled at >= 0.9") {
    // the round-1 single-band design recalled ~15% at this operating point;
    // multi-band OR-ing must push pair recall to ~1 − (1 − p^r)^L ≈ 0.9997
    val rnd = new scala.util.Random(11)
    val dim = 32
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = (0 until 40).map(i => (i.toLong, normalize(Array.fill(dim)(rnd.nextGaussian()))))
    val c = 0.9; val s = math.sqrt(1 - c * c)
    val planted = base.take(20).map { case (i, u) =>
      // v = c·u + s·w with w ⊥ u ⇒ cos(u, v) = c exactly
      val g = Array.fill(dim)(rnd.nextGaussian())
      val dot = u.zip(g).map { case (a, b) => a * b }.sum
      val w = normalize(g.zip(u).map { case (gd, ud) => gd - dot * ud })
      (1000L + i, u.zip(w).map { case (ud, wd) => c * ud + s * wd })
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", dim = dim,
      minCosine = 0.89)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val found = (0 until 20).count(i => pairs.contains((i.toLong, 1000L + i)))
    assert(found >= 18, s"recall $found/20 < 0.9 at cosine 0.9")
  }

  test("connectedComponents: random graphs equal a union-find oracle; " +
      "chain diameter >> alternation count") {
    def unionFind(n: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(n.map(x => x -> x): _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      n.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val pairs = (0 until 120).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val got = Dedup.connectedComponents(pairs.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(nodes, pairs), s"trial $trial mismatch")
    }
    // a 200-node chain has diameter 199: min-label propagation would need
    // ~200 rounds; large-star/small-star must finish inside the default 30
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(chain.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("dedupCanonical keeps cluster minima and singletons only") {
    val docs = corpus // ids i<10 cluster with 1000+i; i<5 also with 2000+i
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text")
    val kept = Dedup.dedupCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // base docs all survive (each is its cluster's min or a singleton)
    assert((0L until 60L).forall(kept.contains))
    // planted near-dups of i<10 and exact dups of i<5 are dropped
    (0 until 10).foreach(i => assert(!kept.contains(1000L + i), s"near-dup $i kept"))
    (0 until 5).foreach(i => assert(!kept.contains(2000L + i), s"exact dup $i kept"))
    assert(kept.size == 60)
  }
}
