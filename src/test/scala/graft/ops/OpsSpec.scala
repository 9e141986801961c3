package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase

class OpsSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  private lazy val embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  test("exact dedup keeps min-id row per content, flags the rest") {
    val df = Seq(
      (1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"), (5L, "cc")
    ).toDF("id", "text")
    val marked = Dedup.markExactDuplicates(df, "id", Seq("text"))
    val dups = marked.filter($"is_dup").select("id").as[Long].collect().sorted
    assert(dups.toSeq == Seq(3L, 4L))
    val kept = Dedup.dropExactDuplicates(df, "id", Seq("text"))
    assert(kept.count() == 3)
  }

  test("exact dedup on real documents: no dups in synthetic data") {
    val marked = Dedup.markExactDuplicates(docs, "doc_id", Seq("text"))
    assert(marked.filter($"is_dup").count() == 0)
    assert(marked.count() == docs.count())
  }

  // ------------------------------------------------------------------
  // Shingles / MinHash / LSH
  // ------------------------------------------------------------------

  test("shingles: distinct word n-grams; short texts fall back to whole text") {
    val df = Seq("a b c d", "a b").toDF("t")
    val sh = df.select(Dedup.shingles($"t", 3).as("sh")).as[Seq[String]].collect()
    assert(sh(0).toSet == Set("a b c", "b c d"))
    assert(sh(1) == Seq("a b"))
  }

  test("jaccard of identical sets is 1.0, disjoint is 0.0") {
    val df = Seq(("a b c d e", "a b c d e", "v w x y z")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.jaccard(Dedup.shingles($"t1", 3), Dedup.shingles($"t2", 3)).as("same"),
      Dedup.jaccard(Dedup.shingles($"t1", 3), Dedup.shingles($"t3", 3)).as("diff")
    ).head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("minhash LSH finds planted near-duplicates (vs brute force)") {
    // Plant near-dups: copy 10 docs with one word changed near the end.
    val base = docs.limit(200).select($"doc_id", $"text")
    val mutated = docs.limit(10).select(
      ($"doc_id" + 100000L).as("doc_id"),
      concat(substring($"text", 1, 200),
        regexp_replace(substring($"text", 201, 1000000), "[a-z]+$", "zzz")).as("text")
    )
    val all = base.union(mutated).cache()
    try {
      val lsh = Dedup.nearDuplicatePairs(all, "doc_id", "text", threshold = 0.7)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = Dedup.bruteForceNearDuplicatePairs(all, "doc_id", "text", threshold = 0.7)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(brute.nonEmpty, "planted duplicates should exceed the threshold")
      // J≥0.7 with 16 bands × 4 rows → miss probability < 1e-3 per pair.
      assert(brute.subsetOf(lsh), s"LSH missed pairs: ${brute -- lsh}")
      // and LSH output is verified, so no false positives either
      assert(lsh == brute)
    } finally all.unpersist()
  }

  test("LSH bucket-size cap drops pathological buckets") {
    // 50 identical texts: one bucket of 50; cap at 10 → no candidates survive.
    val df = (1 to 50).map(i => (i.toLong, "same words every time here")).toDF("id", "text")
    val capped = Dedup.lshCandidatePairs(df, "id", "text", maxBucketSize = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.lshCandidatePairs(df, "id", "text", maxBucketSize = 1000)
    assert(uncapped.count() == 50L * 49 / 2)
  }

  test("bucket truncation is observable: in-plan stats report the black hole") {
    // 40 identical inputs (the black hole, over the cap) + 3 copies of a
    // second input (under the cap, so the query output is NON-empty — an
    // all-empty output lets AQE's empty propagation discard the plan and
    // the observation with it, per the documented degenerate-empty caveat)
    val ids = (1 to 40).map(_.toLong) ++ (50 to 52).map(_.toLong)
    val texts = ids.map(i => (i, if (i <= 40) "same words every time here"
      else "an entirely different sentence altogether")).toDF("id", "text")
    // opposite vectors flip every sign bit, and each sits on its own
    // centroid, so the two groups never share a bucket or a cell
    val dim = 8
    val hot = Array.tabulate(dim)(d => if (d % 2 == 0) 1.0f else 0.5f)
    val vecs = ids.map(i => (i, if (i <= 40) hot else hot.map(-_))).toDF("id", "v")
    val cents = Array(hot.map(_.toDouble), hot.map(-_.toDouble))
    val generators: Seq[(String, Int => DataFrame)] = Seq(
      "lshCandidatePairs" -> (cap => Dedup.lshCandidatePairs(texts, "id", "text", maxBucketSize = cap)),
      "simhash banding" -> (cap => Dedup.simhashNearDuplicatePairs(texts, "id", "text", maxBucketSize = cap)),
      "jaccardPairs" -> (cap => Dedup.jaccardPairs(texts, "id", "text", 0.8, maxBucketSize = cap)),
      "cosine LSH" -> (cap => Similarity.cosineNearDuplicatePairs(vecs, "id", "v", 0.9, dim,
        maxBucketSize = cap)),
      "cosine IVF" -> (cap => Similarity.cosineNearDuplicatePairsIvf(vecs, "id", "v", 0.9, cents,
        nProbe = 1, maxBucketSize = cap)),
      "cosine IVF int8" -> (cap => Similarity.cosineNearDuplicatePairsIvfQuantized(vecs, "id", "v",
        0.9, cents, nProbe = 1, maxBucketSize = cap)))
    def pairsOf(q: DataFrame): Seq[(Long, Long)] =
      q.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq.sorted
    val trio = Seq((50L, 51L), (50L, 52L), (51L, 52L))
    for ((name, pairs) <- generators) {
      // collect, not count: count() executes a derived agg plan, and the
      // observation lands on the executing plan's QueryExecution
      val capped = pairs(10)
      assert(pairsOf(capped) == trio, s"$name: only the under-cap trio's pairs survive")
      val stats = Dedup.observedBucketStats(capped)
      assert(stats.isDefined, s"$name: bucket observation must be present")
      val (maxB, nTrunc, rowsTrunc) = stats.get
      assert(maxB == 40L, s"$name: max bucket should be the 40-row black hole, got $maxB")
      assert(nTrunc >= 1L && rowsTrunc >= 40L,
        s"$name: truncation must be reported: n=$nTrunc rows=$rowsTrunc")
      // under-cap run: same observation, zero truncation
      val uncapped = pairs(1000)
      assert(pairsOf(uncapped).size == 40 * 39 / 2 + 3, name)
      assert(Dedup.observedBucketStats(uncapped)
        .exists { case (m, n, r) => m == 40L && n == 0L && r == 0L },
        s"$name: under-cap runs report zero truncation")
    }
  }

  // ------------------------------------------------------------------
  // Text stats
  // ------------------------------------------------------------------

  test("token counts, ratios, langId, fingerprint") {
    val df = Seq(
      "the cat sat on the mat",
      "el perro y el gato en la casa de la abuela",
      "!!! ??? !!!"
    ).toDF("text")
    val r = df.select(
      TextStats.tokenCountWs($"text").as("ws"),
      TextStats.tokenCountBpe($"text").as("bpe"),
      TextStats.punctRatio($"text").as("punct"),
      TextStats.stopwordRatio($"text", TextStats.EnglishStopwords).as("stop"),
      TextStats.langId($"text").as("lang"),
      TextStats.fingerprint($"text").as("fp")
    ).collect()
    assert(r(0).getInt(0) == 6)
    assert(r(0).getString(4) == "en")
    assert(r(1).getString(4) == "es")
    assert(r(2).getString(4) == "und")
    assert(r(2).getDouble(2) > 0.5) // mostly punctuation
    // stopword ratio counts distinct stopwords present ("the","on") / 6 tokens
    assert(math.abs(r(0).getDouble(3) - 2.0 / 6) < 1e-9)
    // fingerprint is order-sensitive and deterministic
    val fp1 = df.select(TextStats.fingerprint($"text")).collect().map(_.getLong(0))
    val fp2 = df.select(TextStats.fingerprint($"text")).collect().map(_.getLong(0))
    assert(fp1.toSeq == fp2.toSeq)
    val swapped = Seq("cat the sat on the mat").toDF("text")
      .select(TextStats.fingerprint($"text")).head.getLong(0)
    assert(swapped != r(0).getLong(5))
  }

  test("withTextStats single-pass projection over real documents") {
    val out = TextStats.withTextStats(docs, "text")
    assert(out.count() == docs.count())
    assert(out.columns.contains("fingerprint"))
    // plan is a single project over the scan — no shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  // ------------------------------------------------------------------
  // Similarity
  // ------------------------------------------------------------------

  test("cosine matches hand-computed values") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f))
    ).toDF("a", "b")
    val r = df.select(Similarity.cosine($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(r(0) - 1.0) < 1e-12)
    assert(math.abs(r(1) - 0.0) < 1e-12)
    assert(math.abs(r(2) - math.sqrt(0.5)) < 1e-12)
  }

  test("brute-force top-k returns k best by cosine, deterministic order") {
    val query = embs.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head.toSeq
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", query, 10)
      .collect()
    assert(top.length == 10)
    assert(top.head.getLong(0) == 0L) // self-match first
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
    val scores = top.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
    // plan uses TakeOrderedAndProject (per-partition top-k), not a global sort
    val plan = Similarity.bruteForceTopK(embs, "vec_id", "embedding", query, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("sign-bit LSH near-dup pairs: verified subset of brute force, high recall") {
    val planted = embs.limit(5).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * 1.001f).as("embedding"),
      $"label")
    val all = embs.select("vec_id", "embedding", "label").union(planted).cache()
    try {
      val lsh = Similarity
        .cosineNearDuplicatePairs(all, "vec_id", "embedding", threshold = 0.999, dim = 64)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // brute force over all pairs at same threshold
      val vecs = all.select($"vec_id".as("id"), $"embedding".as("v"))
      val brute = vecs.as("a").join(vecs.as("b"), $"a.id" < $"b.id")
        .withColumn("c", Similarity.cosine($"a.v", $"b.v"))
        .filter($"c" >= 0.999)
        .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
      assert(brute.size >= 5)
      assert(lsh.subsetOf(brute)) // verification removes false positives
      assert(lsh.size >= brute.size * 4 / 5, s"recall too low: ${lsh.size}/${brute.size}")
    } finally all.unpersist()
  }

  test("lshParamsFor: planes track corpus size, tables buy the recall target") {
    // planes = ceil(log2(n / targetBucket)): 10x the corpus adds ~3.3 bits,
    // keeping expected bucket population (and so candidate volume per row)
    // constant — the scale invariant the sf1 rehearsal showed fixed planes
    // violating (10x rows -> 16.7x time).
    val (p1, t1) = Similarity.lshParamsFor(1L << 20, 0.8, 0.9, targetBucket = 256)
    assert(p1 == 12) // ceil(log2(2^20 / 2^8)), no degradation needed
    // closed-form recall at exactly the threshold holds for the pick
    def recall(planes: Int, tables: Int, thr: Double): Double = {
      val p = math.pow(1.0 - math.acos(thr) / math.Pi, planes)
      1.0 - math.pow(1.0 - p, tables)
    }
    assert(recall(p1, t1, 0.8) >= 0.9)
    // one fewer table must NOT meet the target (minimality — tables are a
    // full signature scan each; overshooting is a real cost at scale)
    assert(t1 == 1 || recall(p1, t1 - 1, 0.8) < 0.9)
    // a looser threshold (wider angle gap) never needs more tables
    assert(Similarity.lshParamsFor(1L << 20, 0.9, 0.9)._2 <= t1)
    // tight threshold × huge n: the size-implied 22 planes would need >64
    // tables; planes degrade (buckets grow) until the recall target fits
    val (p2, t2) = Similarity.lshParamsFor(1L << 30, 0.8, 0.9, targetBucket = 256)
    assert(p2 < 22 && t2 <= 64)
    assert(recall(p2, t2, 0.8) >= 0.9)
    // p2+1 planes genuinely didn't fit — the degradation was necessary
    assert(recall(p2 + 1, 64, 0.8) < 0.9)
    // extreme corner: caps hold, recall still met with 1+ plane
    val (pBig, tBig) = Similarity.lshParamsFor(Long.MaxValue, 0.5, 0.99, 1)
    assert(pBig >= 1 && pBig <= 62 && tBig <= 64)
    assert(recall(pBig, tBig, 0.5) >= 0.99)
  }

  test("auto-tuned LSH pairs: same recall contract as the pinned layout") {
    val planted = embs.limit(5).select(
      ($"vec_id" + 200000L).as("vec_id"),
      transform($"embedding", x => x * 1.001f).as("embedding"))
    val all = embs.select("vec_id", "embedding").union(planted).cache()
    try {
      val lsh = Similarity
        .cosineNearDuplicatePairsAuto(all, "vec_id", "embedding",
          threshold = 0.999, dim = 64, targetRecall = 0.95, targetBucket = 64)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val vecs = all.select($"vec_id".as("id"), $"embedding".as("v"))
      val brute = vecs.as("a").join(vecs.as("b"), $"a.id" < $"b.id")
        .withColumn("c", Similarity.cosine($"a.v", $"b.v"))
        .filter($"c" >= 0.999)
        .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
      assert(brute.size >= 5)
      assert(lsh.subsetOf(brute))
      assert(lsh.size >= brute.size * 4 / 5, s"recall too low: ${lsh.size}/${brute.size}")
    } finally all.unpersist()
  }

  test("nearestCentroids probe set: ordered by distance, deterministic ties") {
    val cents = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0), Array(5.0, 5.0))
    val df = spark.range(1).select(
      graft.ops.expr.NativeSig.nearestCentroids(
        lit(Array(0.6f, 0.0f)), cents, 3).as("probes"),
      // (0.5, 0.5) is squared-distance 0.5 from cells 0, 1 AND 2 — a
      // three-way tie; the deterministic tie-break keeps smaller indices
      graft.ops.expr.NativeSig.nearestCentroids(
        lit(Array(0.5f, 0.5f)), cents, 2).as("tied"))
    val row = df.head()
    assert(row.getSeq[Int](0) == Seq(1, 0, 2))
    assert(row.getSeq[Int](1) == Seq(0, 1))
  }

  test("IVF cosine pairs: verified subset of brute force; identical-vector floor") {
    val planted = embs.limit(5).select(
      ($"vec_id" + 300000L).as("vec_id"), $"embedding")
    val all = embs.select("vec_id", "embedding").union(planted).cache()
    try {
      val cents = Similarity.trainCentroids(all, "embedding", 8, iters = 3)
      val ivf = Similarity
        .cosineNearDuplicatePairsIvf(all, "vec_id", "embedding",
          threshold = 0.999, centroids = cents, nProbe = 2,
          maxBucketSize = Int.MaxValue)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val vecs = all.select($"vec_id".as("id"), $"embedding".as("v"))
      val brute = vecs.as("a").join(vecs.as("b"), $"a.id" < $"b.id")
        .withColumn("c", Similarity.cosine($"a.v", $"b.v"))
        .filter($"c" >= 0.999)
        .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
      assert(ivf.subsetOf(brute)) // cosine verification removes false positives
      // identical vectors get identical probe sets (deterministic kernel
      // tie-break) -> every planted identical pair MUST be found
      val guaranteed = (0 until 5).map(i => (i.toLong, i + 300000L)).toSet
      assert(guaranteed.subsetOf(ivf),
        s"missing planted pairs: ${guaranteed -- ivf}")
    } finally all.unpersist()
  }

  test("IVF top-k finds the exact top-k when the query cell is probed") {
    val query = embs.filter($"vec_id" === 7).select("embedding")
      .as[Array[Float]].head.toSeq
    // centroids from 4 arbitrary embeddings — deterministic
    val cents = embs.filter($"vec_id".isin(10L, 20L, 30L, 40L))
      .orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))
    val ivf = Similarity.ivfTopK(embs, "vec_id", "embedding", cents, query, 5, nProbe = 2)
      .collect()
    assert(ivf.length == 5)
    assert(ivf.head.getLong(0) == 7L)
  }
}
