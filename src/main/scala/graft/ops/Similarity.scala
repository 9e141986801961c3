package graft.ops

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  *   - dot / norm / cosine are built-in higher-order-function expressions
  *     (`zip_with` + `aggregate`), accumulated in double — no UDFs.
  *   - brute-force top-k against a literal query vector compiles to
  *     `TakeOrderedAndProject`: each partition keeps only its local top-k,
  *     the driver merges k·p rows — no global sort, no full shuffle. This is
  *     the correct baseline at any scale where k ≪ n.
  *   - the scale path is random-hyperplane LSH: sign-bit signatures bucket
  *     the vectors; candidate generation joins within buckets only. Plane
  *     coefficients come from a fixed seed so results are deterministic.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast(DoubleType) * v.cast(DoubleType)))

  /** Cosine similarity — native fused expression (one codegen'd pass computes
    * dot + both norms). The HOF formulation ([[hofCosine]]) is three
    * interpreted aggregate trees per pair; on all-pairs sweeps that was the
    * entire cost.
    */
  def cosine(a: Column, b: Column): Column =
    graft.ops.expr.NativeSig.cosineSim(a, b)

  /** Reference HOF formulation of [[cosine]] — kept as the independent
    * oracle for the native kernel's tests.
    */
  private[ops] def hofCosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Cosine of every row against a fixed query vector. */
  def scoreAgainst(df: DataFrame, vecCol: String, query: Seq[Float]): DataFrame = {
    val q = lit(query.toArray)
    df.withColumn("score", cosine(col(vecCol), q))
  }

  /** Brute-force top-k by cosine against a literal query. `orderBy.limit`
    * lowers to TakeOrderedAndProject (per-partition top-k + driver merge).
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int
  ): DataFrame =
    scoreAgainst(df, vecCol, query)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Batched retrieval: exact top-k per query for a whole query TABLE
    * (`(qidCol, qvecCol)`), not one literal vector. The query side is
    * broadcast (queries ≪ corpus — the retrieval-pipeline invariant), scores
    * are a map-only native-cosine projection over `corpus × queries`, and
    * per-query top-k is a windowed rank partitioned by query id: one shuffle
    * of (qid, id, score) triples — the vectors never ride the shuffle.
    */
  def topKPerQuery(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val scored = corpus
      .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol).as("__qv"))))
      .select(
        col(qidCol),
        col(idCol),
        cosine(col(vecCol), col("__qv")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  private[ops] def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH signature: bit `i` is set when `v · plane_i > 0`. Packed
    * into a Long (numPlanes ≤ 63). Native codegen'd expression — the HOF
    * formulation ([[hofSignBitSignature]]) is `numPlanes` interpreted
    * `aggregate(zip_with(...))` dot products per row with no CSE, and was
    * the dominant cost of LSH candidate generation.
    */
  def signBitSignature(vec: Column, planes: Array[Array[Double]]): Column =
    graft.ops.expr.NativeSig.signBitSignature(vec, planes)

  /** Reference HOF formulation of [[signBitSignature]] — kept only as the
    * independent oracle for the native kernel's tests.
    */
  private[ops] def hofSignBitSignature(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Brute-force all-pairs cosine near-duplicates (id_a < id_b, cosine ≥
    * `threshold`) — O(n²): the exact baseline for recall tests and small/
    * sampled frames; [[cosineNearDuplicatePairs]] is the scale path.
    */
  def bruteForceCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    // Both predicates INLINE in the join condition, cheap one first: a
    // `.filter` after the join gets pushed in FRONT of the original
    // condition, making the nested-loop join score all n² ordered pairs;
    // written this way the id comparison short-circuits half of them before
    // any cosine runs. The projection recomputes the cosine only for the
    // (few) surviving pairs.
    a.join(b, col("id_a") < col("id_b") &&
        cosine(col("v_a"), col("v_b")) >= threshold)
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .select("id_a", "id_b", "cosine")
  }

  /** Sign-bit LSH parameters sized for the corpus, from the closed-form
    * collision model: a pair at cosine `threshold` (angle θ = arccos t)
    * agrees on one random hyperplane with probability 1 − θ/π, on a
    * `planes`-bit signature with p = (1 − θ/π)^planes, and is found by at
    * least one of `tables` independent tables with 1 − (1 − p)^tables.
    *
    * `planes` is chosen from CORPUS SIZE — ceil(log2(n / targetBucket)) —
    * so the expected bucket population stays ~constant as n grows. This is
    * the load-bearing scale decision: candidate volume is Θ(Σ|bucket|²),
    * so FIXED planes means mean bucket ∝ n and candidate pairs ∝ n² — the
    * sf1 rehearsal measured exactly that (q19b: 10× rows → 16.7× time,
    * 59× shuffle with 6 fixed planes). Constant bucket size makes candidate
    * count ∝ n. `tables` then buys the recall target back at that planes
    * count. Recall here is per-table-collision recall at exactly
    * `threshold`; pairs above it collide strictly more often.
    *
    * RECALL IS THE CONTRACT, bucket size is the cost knob: when the planes
    * count implied by `targetBucket` would need more than 64 tables to hit
    * `targetRecall` (tight threshold × huge n — each table is a full
    * signature scan + shuffle), planes are walked DOWN until the target
    * fits, accepting larger buckets. The degradation is deliberate and
    * monotone: fewer planes ⇒ exponentially higher per-table collision ⇒
    * fewer tables, at the price of bucket population (candidate-verify
    * cost) doubling per step. Only if even 1 plane cannot reach the target
    * within 64 tables (threshold ≤ 0 territory — not a near-dup regime)
    * does the table cap win over recall.
    *
    * Pure function of (n, threshold, recall, targetBucket) — deterministic,
    * driver-side, no jobs. Planes capped at 62 (sig bits in a Long).
    *
    * Cost law, so nobody expects magic: with constant buckets, per-table
    * candidate volume is ∝ n, but holding recall fixed while planes grow
    * with log2(n) multiplies tables by (n/targetBucket)^ρ where
    * ρ = −log2(1 − θ/π) — total cost ∝ n^(1+ρ). Near-dup thresholds are
    * cheap (t = 0.95 ⇒ ρ ≈ 0.15; t = 0.9 ⇒ ρ ≈ 0.22); wide angles are not
    * (t = 0.35 ⇒ ρ ≈ 0.7, approaching brute force) — at low thresholds the
    * right tool is IVF ([[ivfTopK]]) or a lower `targetRecall`.
    */
  def lshParamsFor(
      n: Long,
      threshold: Double,
      targetRecall: Double = 0.9,
      targetBucket: Int = 256
  ): (Int, Int) = {
    require(n > 0, "corpus size must be positive")
    require(threshold > -1 && threshold < 1, "threshold must be in (-1, 1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0, 1)")
    require(targetBucket >= 1, "targetBucket must be >= 1")
    val maxTables = 64
    def tablesFor(planes: Int): Int = {
      // clamped away from 0: pTable underflow (threshold near -1 × many
      // planes) made log1p(-pTable) == 0.0 and ceil(-Inf).toInt ==
      // Int.MinValue — which passed the `> maxTables` degradation guard and
      // returned a NEGATIVE table count (zero tables built, silently empty
      // pairs). The clamp keeps the ratio finite; the saturation below
      // keeps any overflow on the correct side of the guard.
      val pTable = math.max(
        math.pow(1.0 - math.acos(threshold) / math.Pi, planes),
        Double.MinPositiveValue)
      if (pTable >= targetRecall) 1
      else {
        val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable))
        if (t.isNaN || t >= Int.MaxValue.toDouble) Int.MaxValue
        else math.max(1, t.toInt)
      }
    }
    var planes = math.min(62,
      math.max(1, math.ceil(log2(n.toDouble / targetBucket)).toInt))
    while (planes > 1 && tablesFor(planes) > maxTables) planes -= 1
    (planes, math.min(maxTables, tablesFor(planes)))
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** [[cosineNearDuplicatePairs]] with (planesPerTable, numTables) derived
    * from the corpus size via [[lshParamsFor]] — the configuration-free
    * scale path. Costs one `count()` job up front (a metadata-only scan on
    * parquet); at 100 TB that is noise next to the signature pass it sizes.
    */
  def cosineNearDuplicatePairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      targetRecall: Double = 0.9,
      targetBucket: Int = 256,
      maxBucketSize: Int = 2000
  ): DataFrame = {
    val (planes, tables) = lshParamsFor(df.count(), threshold, targetRecall, targetBucket)
    cosineNearDuplicatePairs(df, idCol, vecCol, threshold, dim,
      planesPerTable = planes, numTables = tables, maxBucketSize = maxBucketSize)
  }

  /** Candidate pairs from shared sign-bit buckets, verified by exact cosine ≥
    * `threshold`. Multi-probe: `numTables` independent plane sets, a pair
    * qualifies by matching in any table — the standard recall/bucket-size
    * trade.
    *
    * `planesPerTable` must track corpus size (buckets-per-table = 2^planes;
    * fixed planes ⇒ bucket size ∝ n ⇒ candidate pairs ∝ n²) — prefer
    * [[cosineNearDuplicatePairsAuto]] / [[lshParamsFor]] unless you are
    * pinning a layout for a reproducible test.
    */
  def cosineNearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      planesPerTable: Int = 12,
      numTables: Int = 4,
      maxBucketSize: Int = 2000
  ): DataFrame = {
    val tables = (0 until numTables).map { t =>
      struct(lit(t).as("table"),
        signBitSignature(col(vecCol), hyperplanes(planesPerTable, dim, seed = 42L + t)).as("sig"))
    }
    val buckets = Dedup.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(array(tables: _*)).as("ts"))
      .select(col("id"), col("v"), col("ts.table"), col("ts.sig"))
    // Vectors ride the ONE groupBy(table, sig) exchange inside the bucket
    // structs (corpus × numTables × vector bytes) and the exact cosine
    // verifies inline in the in-bucket pair expansion — candidate pairs
    // NEVER carry vectors through an exchange. The previous shape (id-only
    // buckets, vectors joined back per candidate pair) scaled with
    // candidates × vector bytes: at sf10 (200k random vectors, auto
    // params) that was ~195M candidate pairs × two 256 B vectors = 68 GB
    // of verify-join spill. A pair sharing k tables is re-scored k times;
    // the final distinct dedups survivors (same trade as jaccardPairs /
    // the IVF pairs path). Pair expansion + verify are fused in a generator
    // (survivor-only allocation — see BucketJaccardPairs for the
    // adjudication that motivated the shape; the double-explode spelling
    // materialized both vectors per candidate pair).
    Dedup.cappedBuckets(buckets, Seq("table", "sig"),
      struct(col("id"), col("v")), maxBucketSize)
      .select(graft.ops.expr.NativeSig.bucketCosinePairs(col("ms"), threshold))
      .distinct()
  }

  /** Index of the nearest centroid (squared-L2) for each vector — a per-row
    * argmin over a literal centroid table: broadcast-free, shuffle-free.
    * Native fused kernel; the HOF formulation ([[hofNearestCentroid]]) is
    * `k` interpreted `aggregate(zip_with(...))` trees per row with no CSE —
    * the dominant cost of every k-means assignment sweep.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.ops.expr.NativeSig.nearestCentroid(vec, centroids)

  /** Reference HOF formulation of [[nearestCentroid]] — kept as the
    * independent oracle for the native kernel's tests.
    */
  private[ops] def hofNearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    val dists = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(zip_with(vec, lit(c), (x, y) => {
          val d = x.cast(DoubleType) - y
          d * d
        }), lit(0.0), (acc, v) => acc + v).as("dist"),
        lit(i).as("cell"))
    }
    array_min(array(dists.toIndexedSeq: _*)).getField("cell")
  }

  /** Lloyd's k-means over the embedding column, driver-coordinated:
    * per-iteration, assignment is a map-only projection and the new means
    * need two aggregation shuffles (posexplode → (cell, dim) partial means →
    * per-cell vectors); only k·dim doubles ever reach the driver. Init is
    * deterministic (k smallest vector hashes). At real corpus scale, train
    * on a sample (`df.sample(...)`) — the centroids don't need every row.
    */
  def trainCentroids(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 5
  ): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    // every iteration re-reads the vectors (assignment + two aggs), so pin
    // them for the duration of training; all actions complete inside this
    // method, making this one of the few safe persist/unpersist scopes
    val vecs = df.select(col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents: Array[Array[Double]] = vecs
        .select(col(vecCol).as("v"))
        .withColumn("__h", xxhash64(col("v")))
        .orderBy("__h")
        .limit(k)
        .select("v").as[Array[Float]].collect()
        .map(_.map(_.toDouble))
      require(cents.length == k, s"not enough rows to seed $k centroids")
      lloyd(vecs, vecCol, cents, iters)
    } finally vecs.unpersist(blocking = false)
  }

  /** Lloyd iterations over a pinned vector frame, updating `cents` in place.
    * Per iteration: assignment is a map-only projection; the new means are
    * two aggregation shuffles (posexplode → (cell, dim) partial means →
    * per-cell vectors); only k·dim doubles reach the driver.
    */
  private def lloyd(
      vecs: DataFrame,
      vecCol: String,
      cents: Array[Array[Double]],
      iters: Int
  ): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    for (_ <- 0 until iters) {
      // assignment staged before the posexplode select: resolving a
      // generator alongside other expressions strips the struct-field
      // aliases inside nearestCentroid (FIELD_NOT_FOUND on `cell`)
      val updated = vecs
        .withColumn("__cell", nearestCentroid(col(vecCol), cents))
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("__cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("__cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("__cell"), col("ps").getField("m").as("c"))
        .as[(Int, Seq[Double])].collect()
      updated.foreach { case (cell, vs) => cents(cell) = vs.toArray }
    }
    cents
  }

  /** Driver-side k-means++ (D²-sampling) init over a collected candidate
    * set. Deterministic for a fixed seed. Incremental min-distance update:
    * each added centroid costs one pass over the candidates, so the whole
    * init is O(k · |pts| · dim) — candidates are a bounded mini-sample, not
    * the corpus.
    */
  private[ops] def kmeansPlusPlusInit(
      pts: Array[Array[Double]],
      k: Int,
      seed: Long
  ): Array[Array[Double]] = {
    require(pts.length >= k, s"k-means++ needs >= $k candidate points, got ${pts.length}")
    val rnd = new scala.util.Random(seed)
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rnd.nextInt(pts.length))
    val d2 = Array.fill(pts.length)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val last = cents(c - 1)
      var total = 0.0
      var i = 0
      while (i < pts.length) {
        var d = 0.0
        var j = 0
        val p = pts(i)
        while (j < last.length) { val t = p(j) - last(j); d += t * t; j += 1 }
        if (d < d2(i)) d2(i) = d
        total += d2(i)
        i += 1
      }
      if (total <= 0.0) {
        // all candidates coincide with chosen centroids — any pick is as
        // good as any other; stay deterministic
        cents(c) = pts(rnd.nextInt(pts.length))
      } else {
        val r = rnd.nextDouble() * total
        var acc = 0.0
        var pick = pts.length - 1
        i = 0
        var found = false
        while (i < pts.length && !found) {
          acc += d2(i)
          if (acc >= r) { pick = i; found = true }
          i += 1
        }
        cents(c) = pts(pick)
      }
      c += 1
    }
    cents
  }

  /** Cell count for a target per-cell population — the "size `cells` ∝ n"
    * rule from [[cosineNearDuplicatePairsIvf]]'s scaladoc as code. Pair
    * candidate volume is ~n²·nProbe²/(2·cells) on balanced cells, so
    * holding n/cells constant holds per-cell work constant as the corpus
    * grows; the only growing cost is the k·dim centroid table every
    * executor evaluates per row (at 2000/cell and 100 TB-scale n that
    * table itself becomes the knob to watch — raise `targetCellSize`
    * before `cells` crosses ~64k).
    */
  def ivfCellsFor(n: Long, targetCellSize: Int = 2000): Int = {
    require(targetCellSize >= 1, "targetCellSize must be >= 1")
    math.max(4, math.min(65536,
      math.ceil(n.toDouble / targetCellSize).toInt))
  }

  /** [[trainCentroids]] with the two upgrades corpus-scale training needs:
    *
    *   1. **Auto-sampling**: Lloyd iterations run on a uniform sample of
    *      ~`sampleTarget` rows (default `max(200·k, 20000)`) instead of the
    *      full corpus. Centroid quality depends on the DISTRIBUTION, not
    *      the row count — at 100 TB, full-corpus iterations are a cost hole
    *      (5 iterations × 3 passes × corpus) where a sample pass costs a
    *      single corpus scan (the sample itself) and fixed work after.
    *   2. **k-means++ init** (Arthur & Vassilvitskii, SODA 2007): seeds are
    *      D²-sampled from a bounded driver-side mini-sample of the sample
    *      (`min(max(20·k, 1000), sampleTarget)` rows), replacing the
    *      hash-arbitrary init — fewer empty/starved cells, lower distortion
    *      at the same iteration count, which is what IVF recall rides on.
    *
    * Deterministic for a fixed `seed` (sample, mini-sample, and D²-draws
    * all derive from it).
    */
  def trainCentroidsSampled(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 5,
      sampleTarget: Int = 0,
      seed: Long = 42L
  ): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val target = if (sampleTarget > 0) sampleTarget else math.max(200 * k, 20000)
    val all = df.select(col(vecCol))
    // row count from parquet/source statistics — no column data read
    val n = all.count()
    // 1.2× slack: Bernoulli sampling undershoots; a slightly larger sample
    // is free, a short one costs init quality
    val fraction = math.min(1.0, target.toDouble * 1.2 / math.max(n, 1L))
    val sampled = if (fraction >= 1.0) all
      else all.sample(withReplacement = false, fraction, seed)
    val vecs = sampled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val miniN = math.min(math.max(20 * k, 1000), target)
      // deterministic mini-sample: smallest content hashes — stable across
      // runs and partitionings, independent of row order
      val mini = vecs
        .select(col(vecCol).as("v"))
        .withColumn("__h", xxhash64(col("v"), lit(seed)))
        .orderBy("__h")
        .limit(miniN)
        .select("v").as[Array[Float]].collect()
        .map(_.map(_.toDouble))
      require(mini.length >= k,
        s"not enough rows to seed $k centroids (got ${mini.length})")
      val cents = kmeansPlusPlusInit(mini, k, seed)
      lloyd(vecs, vecCol, cents, iters)
    } finally vecs.unpersist(blocking = false)
  }

  /** IVF-style bucketed top-k: assign every vector to its nearest of
    * `centroids`, probe only the query's `nProbe` nearest cells. Centroids
    * come from [[trainCentroids]] or any offline source; assignment is a
    * per-row argmax over a literal array — broadcast-free, shuffle-free.
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      query: Seq[Float],
      k: Int,
      nProbe: Int = 2
  ): DataFrame = {
    def nearestCell(vec: Column): Column = nearestCentroid(vec, centroids)
    require(centroids.forall(_.length == query.length),
      s"ivfTopK: query has ${query.length} dims, centroids have ${centroids.head.length}")
    val qArr = query.map(_.toDouble).toArray
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(qArr).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      .sortBy(_._2)
      .take(nProbe)
      .map(_._1)
    scoreAgainst(df.withColumn("__cell", nearestCell(col(vecCol))), vecCol, query)
      .filter(col("__cell").isin(probeCells.toIndexedSeq: _*))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** [[cosineNearDuplicatePairsIvf]] with int8-quantized bucket payloads —
    * the memory-lean variant for wide embeddings or deep probe settings.
    *
    * Same candidate structure (nProbe cell assignment, one groupBy(cell)
    * exchange, bounded buckets, in-bucket pair expansion), but the vectors
    * riding the exchange are `4 + d` byte int8 payloads instead of `4·d`
    * byte float arrays (~4x smaller exchange write and bucket state — the
    * peak-memory term of this operator). The in-bucket filter computes the
    * scale-free quantized cosine at `threshold − margin`; survivors are
    * re-scored EXACTLY by joining the full-precision vectors back on id,
    * so the result admits nothing approximate, and misses a true pair only
    * if quantization moved its cosine by more than `margin` — the error
    * bound is ~2·(maxAbs/rms)/254 ≈ 0.03 for typical embeddings (see
    * [[graft.ops.expr.QuantKernels]]); the 0.04 default covers it.
    * Identical vectors quantize identically (cos_q = 1), so the
    * recall-floor guarantee of the exact path carries over unchanged.
    *
    * The re-score join back to `df` is two hash joins of the (small)
    * candidate pair set against the embedding table — at 100 TB that is a
    * shuffle of candidates ∝ near-duplicate density, not of n².
    */
  def cosineNearDuplicatePairsIvfQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroids: Array[Array[Double]],
      nProbe: Int = 2,
      maxBucketSize: Int = 20000,
      margin: Double = 0.04
  ): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    require(margin >= 0, "margin must be >= 0")
    import graft.ops.expr.NativeSig
    val probes = NativeSig.nearestCentroids(col(vecCol), centroids, nProbe)
    val assigned = graft.ops.Dedup.ensureParallelism(df)
      .select(col(idCol).as("id"),
        NativeSig.quantizeVec(col(vecCol)).as("qv"),
        explode(probes).as("cell"))
    // fused generator over int8 payloads, filtering at threshold − margin
    // (the exact re-score below restores precision; see class scaladoc)
    val cand = Dedup.cappedBuckets(assigned, Seq("cell"),
      struct(col("id"), col("qv")), maxBucketSize)
      .select(NativeSig.bucketCosinePairs(col("ms"), threshold - margin))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** IVF-bucketed cosine near-duplicate pairs — the LOW-threshold scale
    * path. Sign-bit LSH's candidate cost is ∝ n^(1+ρ) with ρ ≈ 0.7 once
    * the threshold angle widens (see [[lshParamsFor]]); cell buckets don't
    * pay that: every vector is assigned to its `nProbe` nearest centroids
    * (one fused codegen'd pass over a literal centroid table — no
    * broadcast, no shuffle), pairs form inside cells only, and the exact
    * cosine verifies inline in the bucket expansion — vectors ride the ONE
    * groupBy(cell) exchange inside the bucket structs and pairs-with-
    * vectors never enter an exchange (same shape as
    * [[graft.ops.Dedup.jaccardPairs]]'s verify).
    *
    * Candidate volume is Σ over cells of |b|²/2 with |b| ≈ n·nProbe/cells
    * on balanced cells — ~n²·nProbe²/(2·cells) total, so size `cells` ∝ n
    * to hold per-cell population constant (the [[trainCentroids]] sample
    * cost is k·dim doubles on the driver either way).
    *
    * RECALL: a pair is found iff its vectors share ≥ 1 probed cell.
    * Identical vectors share ALL probes (the kernel's tie-break is
    * deterministic) — the recall-floor guarantee the props oracle pins
    * (with the skew cap lifted); near-boundary pairs rely on nProbe ≥ 2
    * overlapping adjacent cells. Measure with `tools/RecallBench`-style
    * sweeps before trusting a (cells, nProbe) setting at a new scale.
    *
    * @param maxBucketSize skew cap per cell; dropped buckets are
    *   observable via [[graft.ops.Dedup.observedBucketStats]].
    */
  def cosineNearDuplicatePairsIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroids: Array[Array[Double]],
      nProbe: Int = 2,
      maxBucketSize: Int = 20000
  ): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val probes = graft.ops.expr.NativeSig.nearestCentroids(col(vecCol), centroids, nProbe)
    val assigned = graft.ops.Dedup.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"), explode(probes).as("cell"))
    // fused generator (see BucketJaccardPairs for the motivating
    // adjudication): survivor-only allocation in the cell expansion
    Dedup.cappedBuckets(assigned, Seq("cell"), struct(col("id"), col("v")), maxBucketSize)
      .select(graft.ops.expr.NativeSig.bucketCosinePairs(col("ms"), threshold))
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings, then prune
    * near-duplicates WITHIN each cluster — the scalable recipe for
    * "remove semantically redundant documents" at corpus scale, because
    * all-pairs cosine never leaves a cell.
    *
    * Pruning uses the deterministic DOMINANCE rule: drop row `i` iff some
    * row `j` with a smaller id sits in the same cell with
    * `cosine(i,j) ≥ threshold`. Unlike connected-components family dedup
    * ([[graft.ops.Cluster.keepClusterRepresentatives]] — available for the
    * transitive semantics) this never over-merges two items that are not
    * themselves similar, and it is engine-replayable as a plain EXISTS —
    * which is how the correctness gate checks it end to end.
    *
    * Scale shape: assignment is a per-row argmax against a broadcast-free
    * literal centroid table; the only exchange is the cell hash shuffle;
    * in-cell pairs run through the fused survivor-only generator with the
    * bounded-bucket cap + truncation observability every near-dup path
    * here shares. Pass `centroids` to pin assignment (reproducibility /
    * cross-run consistency); otherwise they are trained with the sampled
    * k-means++ trainer.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroids: Array[Array[Double]] = null,
      targetCellSize: Int = 2000,
      maxBucketSize: Int = 20000,
      seed: Long = 42L
  ): DataFrame = {
    val cents = Option(centroids).getOrElse {
      val k = ivfCellsFor(df.count(), targetCellSize)
      trainCentroidsSampled(df, vecCol, k, seed = seed)
    }
    // nProbe = 1: comparisons stay within the assigned cell — SemDeDup's
    // contract (cross-cell near-dups are the recall trade the paper makes)
    val pairs = cosineNearDuplicatePairsIvf(
      df, idCol, vecCol, threshold, cents, nProbe = 1, maxBucketSize = maxBucketSize)
    Dedup.dropPairedIds(df, idCol, pairs)
  }
}
