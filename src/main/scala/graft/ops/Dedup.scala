package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators: exact, MinHash+LSH, and n-gram Jaccard
  * verification — the standard near-dup stack for web-scale corpus cleaning.
  *
  * Scale design (the point of this engine):
  *   - exact dedup groups on a 128-bit content digest: marking shuffles
  *     only digests into its keeper, dropping shuffles whole rows.
  *   - MinHash signatures come from one native codegen'd kernel per row
  *     (no UDFs, no state). [[lshCandidatePairs]] shuffles only
  *     (id, band, band_hash) triples; [[nearDuplicatePairs]] ships each band
  *     row with its gram-hash array and verifies candidates inside the
  *     bucket, so pairs never enter an exchange with their arrays.
  *   - pathological buckets (boilerplate shared by millions of docs) are
  *     capped by `maxBucketSize` — the classic LSH skew guard; dropped
  *     buckets are reported through a `CollectMetrics` observation
  *     ([[observedBucketStats]]) rather than silently vanishing.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** CPU-dense per-row stages (signatures, shingling) need enough tasks even
    * when the input is a few fat row-groups — a 1-row-group parquet file
    * can't split, so a cluster would otherwise run the whole stage on one
    * core. No-op when the scan already has enough splits (the normal case
    * at corpus scale — public because source readers want the same guard:
    * a driver-regenerated single-row-group testdata table serialized every
    * scan-bound query to one task, measured at 1.5–4× wall inflation).
    *
    * SCAN-ROOTED FRAMES ONLY, by construction: when the plan already
    * contains an exchange (or a subquery), Spark wraps it in
    * AdaptiveSparkPlanExec, and probing `toRdd.getNumPartitions` there
    * EXECUTES every upstream query stage to resolve the final plan — a
    * full phantom run of the caller's pipeline per call (measured: one
    * extra scan → extract → langId pass per crawl-capstone invocation,
    * ~40% of its wall time). Downstream of any exchange the stage width is
    * governed by `spark.sql.shuffle.partitions` / AQE coalescing, exactly
    * the knobs the narrow-scan guard exists to bypass — so the guard is
    * both unsafe and unnecessary there, and the adaptive case returns the
    * frame untouched.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.queryExecution.executedPlan
    val adaptive = planned.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    if (adaptive) df
    // The probe must see Spark's actual split count (file-size heuristics
    // undercount exactly the case this guards: unsplittable row groups).
    // `queryExecution.toRdd` plans the query once on the driver without the
    // external-Row conversion layer of `df.rdd` and — on a non-adaptive,
    // exchange-free plan — without running a job: milliseconds, vs the
    // CPU-dense stage it protects.
    else if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Flags every row whose `keyCols` content already appeared on a row with a
    * smaller `idCol`. One hash-partitioned shuffle on the content columns;
    * `min(id)` aggregates map-side before shuffling. `idCol` must be unique
    * per row — with duplicate ids, every row tied at the group minimum is
    * kept. `idCol` and `keyCols` name top-level columns: a dotted name is
    * one column, not a struct-field path.
    */
  def markExactDuplicates(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    // The keeper AGGREGATION groups on a 128-bit content digest, not the
    // content — its exchange carries ~32-byte digests with map-side partial
    // min. The mark join-back then co-partitions the full frame (text
    // included) on the digest: ONE corpus-wide shuffle, inherent to
    // attaching a per-row flag (any alternative shuffles the text by id
    // instead). Net: one corpus shuffle + a digest-only aggregate.
    val withKey = df.withColumn("__content_key", contentKey(keyCols))
    val keeper = withKey
      .groupBy(col("__content_key"))
      .agg(min(quoted(idCol)).as("__keep_id"))
    withKey.join(keeper, "__content_key")
      .withColumn("is_dup", quoted(idCol) =!= col("__keep_id"))
      .drop("__keep_id", "__content_key")
  }

  /** Exact dedup that keeps the first (min-id) row per distinct content.
    *
    * NOT `markExactDuplicates(...).filter(!is_dup)`: dropping needs no
    * per-row flag, so the join-back disappears — `min_by(struct(*), id)`
    * keeps the whole winning row in ONE aggregation over the digest
    * (map-side partial min_by, a single exchange carrying one candidate
    * row per distinct content per map task, no second corpus shuffle).
    * The `min_by` buffer is not fixed-width, so both aggregates plan as
    * `SortAggregate`.
    *
    * A content group whose `idCol` is null on EVERY row has no min_by
    * winner (min_by skips null ordering values, yielding a null struct);
    * those rows are dropped — matching `markExactDuplicates(...).filter(!
    * is_dup)`, where `null =!= null` filters them out too.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.withColumn("__content_key", contentKey(keyCols))
      .groupBy(col("__content_key"))
      .agg(min_by(struct(cols.map(quoted): _*), quoted(idCol)).as("__row"))
      .filter(col("__row").isNotNull)
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  // backtick-quoted: a dotted source column name is one column, not a path
  private def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** md5 of `to_json(struct(keys))`, an unambiguous, null-distinguishing
    * serialization (a null key serializes as `{}`, apart from `""`).
    * Collisions at 2^64 rows: ~1e-20. The digest is typed nullable, so it
    * is coalesced to "-" (never an md5 hex): Catalyst then infers no
    * `isnotnull` filter on the mark's equi-join, which would compute the
    * digest a second time per row.
    */
  private def contentKey(keyCols: Seq[String]): Column =
    coalesce(md5(to_binary(to_json(struct(keyCols.map(quoted): _*)), lit("utf-8"))), lit("-"))

  // ------------------------------------------------------------------
  // Substring-level dedup (repeated-span masking)
  // ------------------------------------------------------------------

  /** SUBSTRING-level dedup: mask every token span that the corpus repeats.
    *
    * Doc-level dedup (exact / MinHash / SimHash) misses boilerplate repeated
    * INSIDE otherwise-unique pages — navigation chrome, license footers,
    * cookie banners. This operator hashes every overlapping `windowTokens`-
    * token window ([[graft.ops.expr.SigKernels.windowHashes]] — positions
    * preserved, duplicates kept), counts each window hash corpus-wide, and
    * removes from each document every token covered by a window whose hash
    * occurs at least `minRepeats` times (within-document repeats count —
    * the same 8-gram twice in one page is boilerplate too). Output adds:
    *
    *   - `text_clean`: the kept tokens joined by single spaces (uniform
    *     space normalization for masked and unmasked documents alike);
    *   - `n_repeated_windows`: this document's repeated-window occurrences;
    *   - `n_tokens_removed`: tokens dropped from this document.
    *
    * Documents with fewer than `windowTokens` tokens have no windows and
    * pass through unmasked (whole short duplicates belong to exact dedup).
    * Run AFTER doc-level dedup: exact duplicate documents repeat every
    * window and mask each other to empty text.
    *
    * Scale shape (the 100 TB contract):
    *   1. windows lower to per-position xxhash64 longs in the scan-side
    *      projection — only `(id, pos, hash)` triples (~20 bytes) ever enter
    *      an exchange, never window strings;
    *   2. corpus-wide frequency is ONE hash-keyed groupBy with map-side
    *      partial counts (long→long state, no collect buffers — a
    *      boilerplate hash seen a billion times costs one counter), joined
    *      back to the instances sort-merge. `hint("merge")` on both joins:
    *      instances and documents are corpus-sized by definition here, and
    *      duplicate-heavy corpora compress well enough that size estimates
    *      lie under the broadcast threshold (the q29 sf10 lesson). Like the
    *      document-frequency join in [[jaccardPairs]], the instance subtree
    *      is planned on two branches (the partial aggregate's input and the
    *      join's probe side), re-running the windowing scan. This is the
    *      RIGHT trade, not an accepted flaw: the one-scan alternative —
    *      `count(*) over (partition by h)` — must buffer every instance of
    *      a window per task to evaluate the unbounded frame, and the hot
    *      windows are precisely the target workload (a nav header on 10⁹
    *      pages = a 10⁹-row window group on ONE task). The double-scan
    *      shape streams: the frequency side partial-aggregates map-side
    *      (skew-proof by combiner), and the join-back's build side is ONE
    *      row per h, so no operator ever materializes an instance group;
    *   3. repeated positions aggregate per document (`collect_list` groups
    *      are bounded by document LENGTH — the same class of bound as the
    *      text itself) and the mask is applied in one codegen'd merge pass
    *      ([[graft.ops.expr.SigKernels.maskCovered]]). One corpus text
    *      shuffle total: the per-document join-back, inherent to attaching
    *      span info to rows.
    */
  def maskRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      minRepeats: Int = 2
  ): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    // every window occurrence matches itself once; minRepeats <= 1 would
    // mask every document to empty text
    require(minRepeats >= 2, s"minRepeats must be >= 2, got $minRepeats")
    val wins = ensureParallelism(df)
      .select(col(idCol).as("id"),
        graft.ops.expr.NativeSig.windowHashes(col(textCol), windowTokens).as("wh"))
      .select(col("id"), posexplode(col("wh")).as(Seq("pos", "h")))
    val rep = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__f"))
      .filter(col("__f") >= minRepeats)
      .select(col("h"))
    val perDoc = wins.join(rep.hint("merge"), "h")
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("__rpos"), count(lit(1)).as("__nrep"))
    // The join-back's left side hash-exchanges on id immediately, so an
    // inherited narrow-scan repartition(n) under it would move the full
    // (id, text) rows TWICE — strip it (the window branch above keeps its
    // own widened copy, where the CPU-dense hashing actually needs it).
    val base = org.apache.spark.sql.graft.ColumnBridge.stripTopRoundRobin(df)
    val cols = base.columns.toIndexedSeq
    base.join(perDoc.hint("merge"), base(idCol) === perDoc("id"), "left")
      .withColumn("__mask", graft.ops.expr.NativeSig.maskRepeatedWindows(
        col(textCol),
        coalesce(col("__rpos"), lit(Array.empty[Int])), windowTokens))
      .select(cols.map(base(_)) ++ Seq(
        col("__mask").getField("clean").as("text_clean"),
        coalesce(col("__nrep"), lit(0L)).as("n_repeated_windows"),
        coalesce(col("__mask").getField("removed").cast("long"), lit(0L))
          .as("n_tokens_removed")): _*)
  }

  /** [[maskRepeatedSpans]] + drop: removes documents whose text is entirely
    * repeated spans (clean text empty) and rewrites `textCol` with the
    * masked text for the rest. The standard "strip boilerplate, drop husks"
    * curation step.
    */
  def removeRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      minRepeats: Int = 2
  ): DataFrame = {
    val masked = maskRepeatedSpans(df, idCol, textCol, windowTokens, minRepeats)
    masked
      .filter(length(col("text_clean")) > 0)
      .withColumn(textCol, col("text_clean"))
      .drop("text_clean")
  }

  // ------------------------------------------------------------------
  // Cross-corpus segment (line / paragraph) dedup
  // ------------------------------------------------------------------

  /** SEGMENT-level cross-corpus dedup (the CCNet-family line dedup; same
    * idea as C4's repeated-span removal but at line/paragraph granularity
    * keyed on the segment VALUE corpus-wide): split every document on a
    * literal separator, keep each distinct segment in only ONE place in
    * the whole corpus, and reassemble. The web's per-line boilerplate —
    * cookie banners, "Home | About | Contact", footers — repeats across
    * *sites*, which within-document repetition signals
    * ([[Corpus.dupSegmentFraction]]) and token-window masking
    * ([[maskRepeatedSpans]], which needs `windowTokens` contiguous tokens)
    * both miss for short lines.
    *
    * Modes:
    *   - `keep_first` (default): a segment survives only at its first
    *     corpus occurrence — minimal `(idCol, position)` order, so output
    *     is deterministic and one copy of every line always survives.
    *   - `unique_only`: segments occurring more than once are dropped
    *     everywhere (the aggressive CCNet hash-sharding behavior).
    *
    * Output: the input row plus `text_dedup` (kept segments re-joined with
    * `sep`; "" when nothing survives) and `n_segments_removed`. EVERY
    * segment participates, including empty ones — corpus-wide dedup of
    * blank lines collapses paragraph spacing by design (the behavior of
    * the published pipelines); split on `"\n\n"`-style separators to
    * dedup paragraphs instead of lines.
    *
    * Scale shape (the 100 TB contract):
    *   1. the keeper table is ONE `groupBy(hash, seg).agg(min(id, pos))`
    *      — `min` partial-aggregates map-side, so the billion-occurrence
    *      blank line costs one comparator per task, never a billion-row
    *      window group (a `row_number() OVER (PARTITION BY seg)` would
    *      put every copy of the hottest line on one task — the exact
    *      workload this operator targets);
    *   2. the join back to instances is keyed `(xxhash64(seg), seg)` —
    *      the 8-byte hash drives partitioning/comparison and the raw
    *      segment rides only for exactness (hash collisions cannot merge
    *      distinct segments); build side is one row per DISTINCT segment;
    *      probe-side hot keys are AQE-splittable because the build group
    *      is a single row;
    *   3. reassembly is one per-document `collect_list` bounded by
    *      document length (the same bound as the text itself).
    */
  def dedupSegmentsAcrossCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      mode: String = "keep_first"
  ): DataFrame = {
    require(mode == "keep_first" || mode == "unique_only",
      s"mode must be keep_first|unique_only, got '$mode'")
    require(sep.nonEmpty, "sep must be non-empty")
    require(!df.columns.contains("text_dedup") &&
      !df.columns.contains("n_segments_removed"),
      "dedupSegmentsAcrossCorpus adds text_dedup/n_segments_removed; " +
        "rename the existing columns first")
    // PERSISTED: the plan references `df` three times — the keeper
    // aggregation and the instance-mark join each re-derive the segment
    // explode from it, and the final reassembly joins back to it. Without
    // the persist each reference re-executes the caller's WHOLE upstream
    // subtree (measured on the crawl-capstone gate: 3 full re-runs of the
    // scan → HTML-extract → langId pipeline per invocation, the dominant
    // cost). One materialization of the input is strictly cheaper than
    // re-running a CPU-dense upstream twice more at any scale; same
    // LRU-eviction trade as the [[multiIndexHammingPairs]] members persist
    // (no safe unpersist point while a lazy result references the frame —
    // eviction degrades to recompute, not failure).
    val input = ensureParallelism(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val segs = input
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("__pos", "__seg")))
      .withColumn("__k", xxhash64(col("__seg")))
    val keepers = mode match {
      case "keep_first" =>
        segs.groupBy(col("__k"), col("__seg"))
          .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
      case _ =>
        segs.groupBy(col("__k"), col("__seg"))
          .agg(count(lit(1)).as("__n"), min(struct(col("__id"), col("__pos"))).as("__first"))
          .filter(col("__n") === 1)
          .select(col("__k"), col("__seg"), col("__first"))
    }
    val marked = segs.join(keepers.hint("merge"), Seq("__k", "__seg"), "left")
      .select(col("__id"), col("__pos"), col("__seg"),
        (col("__first").isNotNull &&
          col("__first.__id") === col("__id") &&
          col("__first.__pos") === col("__pos")).as("__keep"))
    val reassembled = marked
      .groupBy(col("__id"))
      .agg(
        concat_ws(sep,
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__pos"), col("__seg"))))),
            s => s.getField("__seg"))).as("text_dedup"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_segments_removed"))
    input.join(reassembled.withColumnRenamed("__id", idCol), Seq(idCol), "left")
  }

  // ------------------------------------------------------------------
  // Shingles + MinHash
  // ------------------------------------------------------------------

  /** Distinct word n-gram shingles of a text column. Shorter-than-n texts
    * contribute their whole token sequence as one shingle so they can still
    * collide with identical short texts.
    */
  def shingles(text: Column, n: Int): Column =
    // Native one-pass kernel: the HOF formulation ([[hofShingles]]) is
    // re-evaluated wherever the plan branches (no CSE for interpreted
    // higher-order functions) and was the dominant cost of every near-dup
    // pipeline. Blank/whitespace-only text yields NO shingles (not [""]) so
    // the null-signature guard excludes it from banding — exact dedup owns
    // identical-empty documents.
    graft.ops.expr.NativeSig.wordShingles(text, n)

  /** Reference HOF formulation of [[shingles]] — kept as the independent
    * oracle for the native kernel's tests.
    */
  private[ops] def hofShingles(text: Column, n: Int): Column = {
    val toks = array_remove(split(text, "\\s+"), "")
    val k = size(toks)
    array_distinct(
      when(k === 0, array().cast("array<string>"))
        .when(k <= n, array(concat_ws(" ", toks)))
        .otherwise(
          transform(
            sequence(lit(0), k - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))
          )
        )
    )
  }

  /** 32-bit base hash per shingle — the ONE string-hash pass. The `numHashes`
    * MinHash components are cheap affine permutations of these values
    * ([[minhashSignature]]), the classic one-hash trick: hashing the strings
    * k times would cost k× the string traffic for no statistical gain.
    */
  def shingleHashes(sh: Column): Column =
    transform(sh, s => xxhash64(s).bitwiseAND(lit(0xFFFFFFFFL)))

  /** Deterministic affine coefficients (a, b) for the k permutations. Bounded
    * by 2^20 so `a * h32 + b < 2^52` — no Long overflow under ANSI mode.
    */
  private[ops] def affineCoeffs(numHashes: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Array.fill(numHashes)((rnd.nextInt((1 << 20) - 1).toLong + 1, rnd.nextInt(1 << 20).toLong))
  }

  /** MinHash signature from precomputed 32-bit shingle hashes: element `i` is
    * `min((a_i * h + b_i) mod p)` over the shingle hashes. Null/empty shingle
    * sets yield null signatures.
    *
    * IMPORTANT usage note: `hashes` must be a *materialized column* (from a
    * previous projection), not a nested expression — higher-order functions
    * are interpreted without common-subexpression elimination, so a nested
    * shingle expression would be re-evaluated once per component.
    */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    when(size(hashes) > 0,
      array(affineCoeffs(numHashes).map { case (a, b) =>
        array_min(transform(hashes, h => (h * a + b) % graft.ops.expr.SigKernels.MinHashPrime))
      }.toIndexedSeq: _*)
    )

  /** (bandIndex, bandHash) pairs for LSH banding: the signature is cut into
    * `bands` groups of `rowsPerBand` and each group hashed to one bucket key.
    */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("band_hash")
      )
    }: _*)

  /** Distinct candidate pairs from a (id, key...) bucket table: the
    * [[cappedBuckets]] members re-explode and self-join on the bucket key —
    * a spillable join that *streams* large buckets instead of materializing
    * B²/2-element arrays (measured 3× slower via in-bucket HOF expansion),
    * and the two sides reuse the same exchange.
    */
  private[ops] def bucketCandidatePairs(
      buckets: DataFrame,
      keyCols: Seq[String],
      maxBucketSize: Int
  ): DataFrame = {
    val members = cappedBuckets(buckets, keyCols, col("id"), maxBucketSize)
      .select(keyCols.map(col) :+ explode(col("ms")).as("id"): _*)
    // hint("merge"): members are corpus-sized on both sides — a broadcast
    // picked off a lying size estimate (tiny compressed parquet under a
    // duplicate-heavy corpus) would ship the whole bucket table to every
    // task; sort-merge also lets ReuseExchange share the one bucket shuffle
    members.as("a")
      .join(members.as("b").hint("merge"),
        keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The skew-capped bucket step of the bucketed pair generators: one
    * `groupBy(keys)` shuffle collects at most `maxBucketSize` `member`s per
    * bucket (map-side partial), observes the sizes as `graft_buckets_<n>`,
    * and returns `keys ++ ms` for buckets of 2..cap members, so black-hole
    * buckets (quadratic pair blowup) drop before any pair exists. Callers
    * either verify pairs inside `ms` or explode it and self-join on the
    * keys. `ms` is a list, not a set: every caller's input has one row per
    * member per bucket by construction, so list and set are equivalent.
    *
    * The bounded buffer holds ≤ cap members (gram arrays or vectors, ~KB
    * each) even for a bucket it drops, while its count stays the true size,
    * so the filter and the stats are exact. Past 128 bucket keys per task
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) the
    * partial collect sorts its rows. [[nearDuplicatePairs]] sizes buckets
    * with a window instead, which copies a k-member list k times: fine for
    * band buckets, not for IVF cells of thousands of vectors.
    */
  private[ops] def cappedBuckets(
      rows: DataFrame,
      keys: Seq[String],
      member: Column,
      maxBucketSize: Int
  ): DataFrame = {
    val ks = keys.map(col)
    observeBucketStats(
      rows.groupBy(ks: _*)
        .agg(graft.ops.expr.NativeSig.boundedCollectList(member, maxBucketSize).as("__bl"))
        .select(ks ++ Seq(col("__bl.items").as("ms"), col("__bl.cnt").as("__bsz")): _*),
      maxBucketSize)
      .filter(col("__bsz").between(2, maxBucketSize))
      .select(ks :+ col("ms"): _*)
  }

  /** Every candidate generator runs under a skew cap, and a capped bucket is
    * SILENT candidate loss — at 100 TB nobody eyeballs that. So the bucket
    * aggregation carries a `CollectMetrics` observation (zero extra jobs,
    * computed inside the same plan): max observed bucket size, number of
    * truncated (over-cap) buckets, and member rows inside them. Names are
    * `graft_buckets_<n>` (unique per operator instance — Spark requires
    * distinct observation names within one query, e.g. MinHash + SimHash
    * composed).
    *
    * Read them after an action with [[observedBucketStats]] (same frame), or
    * fleet-wide with a `QueryExecutionListener`/`StreamingQueryListener`
    * filtering on the name prefix — the standard alerting hook.
    */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong

  private[ops] def observeBucketStats(
      sized: DataFrame, maxBucketSize: Int, first: Column = lit(true)): DataFrame = {
    // `first` marks one row per bucket where `sized` has a row per member
    val truncated = first && col("__bsz") > maxBucketSize
    sized.observe(s"graft_buckets_${obsCounter.incrementAndGet()}",
      coalesce(max(col("__bsz")).cast("long"), lit(0L)).as("max_bucket"),
      coalesce(sum(when(truncated, 1L).otherwise(0L)), lit(0L)).as("buckets_truncated"),
      coalesce(sum(when(truncated, col("__bsz").cast("long")).otherwise(0L)), lit(0L))
        .as("rows_in_truncated"))
  }

  /** Observation for [[jaccardPairs]]'s `maxGramDf` stop-gram ceiling:
    * emitted on the PREFIX-ROW frame before the ceiling filter, so the
    * metrics report what the ceiling removed from candidate generation.
    */
  private def observeStopGramStats(prefixRows: DataFrame, maxGramDf: Long): DataFrame =
    prefixRows.observe(s"graft_stopgrams_${obsCounter.incrementAndGet()}",
      coalesce(sum(when(col("df") > maxGramDf, 1L).otherwise(0L)), lit(0L))
        .as("prefix_instances_dropped"),
      // approx (HLL): CollectMetrics rejects DISTINCT aggregates outright,
      // and an order-of-magnitude stop-gram count is all the alert needs
      coalesce(approx_count_distinct(when(col("df") > maxGramDf, col("g"))), lit(0L))
        .as("stop_grams"),
      coalesce(max(col("df")).cast("long"), lit(0L)).as("max_df_seen"))

  /** `(prefix_instances_dropped, stop_grams, max_df_seen)` summed/maxed over
    * every stop-gram observation in the frame's executed plan — the ceiling
    * counterpart of [[observedBucketStats]], same execution caveats (read
    * after an action on THIS frame; None when `maxGramDf` was off or the
    * plan collapsed to empty).
    */
  def observedStopGramStats(df: DataFrame): Option[(Long, Long, Long)] = {
    val all = org.apache.spark.sql.graft.ColumnBridge.observedMetricsAll(df)
      .toSeq.collect {
        case (name, row) if name.startsWith("graft_stopgrams_") =>
          (row.getLong(0), row.getLong(1), row.getLong(2))
      }
    if (all.isEmpty) None
    else Some((all.map(_._1).sum, all.map(_._2).sum, all.map(_._3).max))
  }

  /** `(max_bucket, buckets_truncated, rows_in_truncated)` from the LAST
    * action run directly on `df` (an operator result carrying the bucket
    * observation) — collect/write/foreach; note `count()` executes a DERIVED
    * agg plan and does not populate this frame's metrics. None before any
    * action, or on a frame further transformed before executing — derived
    * frames execute their own plan, so use a listener there.
    *
    * DEGENERATE-EMPTY caveat: if the query's output is completely empty,
    * AQE's empty-relation propagation may replace the executed plan (and
    * the observation node in it) with `EmptyRelationExec` after the
    * observed stage ran, returning None here. That case is not silent — the
    * operator produced ZERO candidates, the loudest possible truncation
    * signal; any partial output keeps the metrics reachable.
    */
  def observedBucketStats(df: DataFrame): Option[(Long, Long, Long)] = {
    // A frame composing several observed operators (e.g. MinHash + SimHash)
    // carries one observation per operator instance; picking an arbitrary
    // one could mask truncation on the others. Folded conservatively:
    // max of max-bucket, sum of truncated counts — None only when NO bucket
    // observation exists. Per-operator detail: [[observedBucketStatsAll]].
    val all = observedBucketStatsAll(df)
    if (all.isEmpty) None
    else Some((
      all.map(_._2._1).max,
      all.map(_._2._2).sum,
      all.map(_._2._3).sum))
  }

  /** Every `graft_buckets_<n>` observation in `df`'s executed plan, keyed by
    * observation name — one entry per observed operator instance composed
    * into the frame. Same execution caveats as [[observedBucketStats]].
    */
  def observedBucketStatsAll(df: DataFrame): Seq[(String, (Long, Long, Long))] =
    // not df.queryExecution.observedMetrics: that traversal treats the AQE
    // root as a leaf and returns {} for any observed query with an exchange
    org.apache.spark.sql.graft.ColumnBridge.observedMetricsAll(df).toSeq.collect {
      case (name, row) if name.startsWith("graft_buckets_") =>
        name -> ((row.getLong(0), row.getLong(1), row.getLong(2)))
    }

  /** Candidate near-duplicate pairs (idA < idB) that share at least one LSH
    * band bucket.
    *
    * @param maxBucketSize skew guard: buckets larger than this (boilerplate
    *   black holes — quadratic pair blowup) are dropped entirely.
    */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // Staged projections: each intermediate is materialized once per row
    // (folding them into one tree re-evaluates every inner stage per outer
    // reference — HOFs are interpreted, no CSE; measured 300× slower). The
    // signature itself uses the fused native expression (codegen'd one-pass
    // kernel, ~k·n multiply-adds; see graft.ops.expr.MinHashSignature).
    val buckets = ensureParallelism(df)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
      .select(col("id"), graft.ops.expr.NativeSig.minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"), explode(lshBandHashes(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.band_hash"))
    bucketCandidatePairs(buckets, Seq("band", "band_hash"), maxBucketSize)
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast(DoubleType)
    val uni = size(array_union(shA, shB)).cast(DoubleType)
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from banding, verified
    * with exact n-gram Jaccard ≥ `threshold` INSIDE the band buckets.
    * Returns (id_a, id_b, jaccard).
    *
    * ONE gram-hashing pass feeds everything: the text's shingles are hashed
    * straight from its UTF-8 bytes into sorted distinct xxhash64 longs
    * ([[graft.ops.expr.SigKernels.hashedShingles]], equal to
    * `hash_sorted_distinct(word_shingles(...))` with no string per
    * shingle), the minhash kernel consumes those longs directly (the values
    * ARE XXH64(token) — signatures bit-identical to hashing the strings,
    * pinned in NativeSigSpec), and the same array is the verify payload.
    *
    * Buckets are sized by a window, not an aggregation. Band rows (one per
    * document per band, each carrying its gram array) go straight into ONE
    * exchange hash-partitioned on the bucket key and are sorted by
    * `(band_hash, band, id)` — `band_hash` first, so the sort prefix is the
    * 64-bit hash and nearly every comparison ends there. One window over
    * that order gives each row its bucket's size (`count` over the whole
    * bucket) and its rank by id; the `graft_buckets_<n>` observation reads
    * the size on every row and counts truncated buckets and their rows on
    * each bucket's first row, so the stats stay exact. Rows outside
    * `size ∈ [2, maxBucketSize]` are dropped before any member list exists;
    * a second `collect_list` window over the same order (no new exchange or
    * sort) builds the `(id, len, ss)` member list of each surviving bucket,
    * kept on its first row, and pairs are expanded and merge-verified
    * map-side, so pairs-with-arrays never enter an exchange (the q29 sf1
    * lesson). No aggregate sizes the buckets: their keys are nearly
    * unique, so a map-side partial collect passes the 128-key object-hash
    * limit in every task and sorts every band row, then the reducer sorts
    * them again, for a ~6% row cut.
    *
    * Memory: an over-cap black-hole bucket is held in `WindowExec`'s
    * spillable row buffer while its size is counted (it was a capped
    * object buffer); member lists stay ≤ `maxBucketSize` by construction.
    * The list window writes a bucket's list into each of its rows before
    * all but the first are filtered, so a bucket of k members copies k
    * lists — the same k² order as verifying its k²/2 pairs.
    *
    * A pair sharing k bands is re-verified k times (≤ bands, with the
    * early-exit kernel) — CPU traded for never shuffling per-pair arrays.
    * The earlier shape, candidate pairs first and arrays joined back per
    * pair, scaled with candidates × array bytes: on a 100-clique corpus at
    * sf10 (500k docs, ~25M candidate pairs) it spilled 2.6 GB and failed
    * one run outright; bucket-resident arrays scale with docs × bands.
    */
  def nearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val base = ensureParallelism(df)
      .select(col(idCol).as("id"),
        graft.ops.expr.NativeSig.hashedShingles(col(textCol), shingleN).as("ss"))
    // staged: lshBandHashes references its sig argument once PER BAND —
    // inlining the signature kernel there would evaluate it `bands` times
    // per row (the same no-CSE trap lshCandidatePairs documents).
    // Blank docs shingle to an empty array → no band rows; exact dedup owns
    // identical-empty documents. The guard sits on the banding, not in a
    // filter on `ss`: Catalyst pushes such a filter below the projection
    // that computes `ss`, and shingles and hashes every document twice.
    val banded = base
      .select(col("id"), size(col("ss")).as("len"), col("ss"),
        graft.ops.expr.NativeSig.minhashSignature(col("ss"), numHashes).as("sig"))
      .select(col("id"), col("len"), col("ss"),
        explode(when(col("len") > 0, lshBandHashes(col("sig"), bands, rowsPerBand))).as("bb"))
      .select(col("bb.band"), col("bb.band_hash"), col("id"), col("len"), col("ss"))
    // not cappedBuckets: near-unique band keys would sort every band row
    val bucket = Window.partitionBy(col("band_hash"), col("band")).orderBy(col("id"))
    val wholeBucket = bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sized = banded.select(col("*"),
      count(lit(1)).over(wholeBucket).as("__bsz"), row_number().over(bucket).as("__rn"))
    observeBucketStats(sized, maxBucketSize, first = col("__rn") === 1)
      .filter(col("__bsz").between(2, maxBucketSize))
      .select(col("__rn"),
        collect_list(struct(col("id"), col("len"), col("ss"))).over(wholeBucket).as("ms"))
      .filter(col("__rn") === 1)
      // fused generator (3-field variant: no prefix rank, so length filter
      // + merge kernel only) — survivor-only allocation, same adjudication
      // as jaccardPairs' expansion
      .select(graft.ops.expr.NativeSig.bucketJaccardPairs(col("ms"), threshold))
      .distinct()
  }

  /** Candidate probability of the MinHash banding S-curve: a pair with
    * Jaccard `s` shares at least one of `bands` band hashes with
    * probability 1 − (1 − s^r)^b (r = rows per band). Computed via
    * log1p/expm1 so s^r underflow at high r degrades to 0.0, never NaN.
    */
  private[ops] def bandingRecall(s: Double, rowsPerBand: Int, bands: Int): Double = {
    val p = math.pow(s, rowsPerBand.toDouble)
    if (p >= 1.0) 1.0
    else -math.expm1(bands.toDouble * math.log1p(-p))
  }

  /** (numHashes, bands) for [[nearDuplicatePairs]] chosen from the Jaccard
    * threshold and a recall target via the banding S-curve — the MinHash
    * counterpart of [[graft.ops.Similarity.lshParamsFor]] (the cosine side
    * has had a configuration-free path since q19d; this closes the
    * asymmetry). Model: P(candidate | J = s) = 1 − (1 − s^r)^b with
    * r·b = numHashes (Broder '97 resemblance sketches; the S-curve
    * derivation is standard — e.g. Leskovec/Rajaraman/Ullman, MMDS §3.4).
    *
    * Selection rule: among divisor splits r·b = h, the LARGEST r whose
    * recall at `threshold` still meets `targetRecall` — larger r is a
    * sharper curve, i.e. strictly fewer sub-threshold false-positive
    * candidates for the same signature budget, and candidate expansion
    * (not signature hashing) is the term that grows at 100 TB. If even
    * r = 1 cannot reach the target at `numHashes`, the hash budget doubles
    * (up to `maxHashes`) before degrading LOUDLY to the max-recall split
    * (r = 1) — silent under-recall is the r10 banding-collapse lesson.
    *
    * The returned pair always satisfies bands | numHashes (the
    * [[nearDuplicatePairs]] contract).
    */
  def minhashParamsFor(
      threshold: Double,
      targetRecall: Double = 0.9,
      numHashes: Int = 64,
      maxHashes: Int = 512
  ): (Int, Int) = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0, 1)")
    require(numHashes >= 1 && maxHashes >= numHashes,
      "need 1 <= numHashes <= maxHashes")
    var h = numHashes
    while (h <= maxHashes) {
      val rs = (h to 1 by -1).filter(h % _ == 0)
      rs.find(r => bandingRecall(threshold, r, h / r) >= targetRecall) match {
        case Some(r) => return (h, h / r)
        // doubling clamps to maxHashes so a non-power-of-two budget ratio
        // still tries the full budget before degrading (96→192→384→512,
        // not 96→192→384→warn)
        case None if h < maxHashes => h = math.min(h * 2, maxHashes)
        case None =>
          // max-recall split at the largest budget; reachable only at tiny
          // thresholds × extreme targets (e.g. J=0.01 at recall 0.999 needs
          // >688 hashes). Loud, not silent: the caller asked for a recall
          // the budget cannot express.
          log.warn(
            s"minhashParamsFor: targetRecall=$targetRecall at threshold=" +
              s"$threshold unreachable within maxHashes=$maxHashes " +
              s"(best ${bandingRecall(threshold, 1, h)} at r=1); using " +
              s"(numHashes=$h, bands=$h)")
          return (h, h)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[nearDuplicatePairs]] with (numHashes, bands) derived from the
    * threshold via [[minhashParamsFor]] — the configuration-free scale
    * path. Unlike the cosine auto path this needs NO corpus count: band
    * buckets live in the full 64-bit band-hash space, so bucket fan-in is
    * set by content duplication (capped by `maxBucketSize`), not by
    * corpus size.
    */
  def nearDuplicatePairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      targetRecall: Double = 0.9,
      shingleN: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    val (h, b) = minhashParamsFor(threshold, targetRecall)
    nearDuplicatePairs(df, idCol, textCol, threshold, shingleN,
      numHashes = h, bands = b, maxBucketSize = maxBucketSize)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** Low-`chunkBits` mask, safe at the 64-bit boundary: `(1L << 64) == 1L`
    * in JVM semantics (shift count mod 64), so the naive `(1L << bits) - 1`
    * is 0 when maxHamming = 0 gives one 64-bit chunk — every chunk_val
    * collapsed to 0 and the bucket join degenerated to a watermark-wide
    * cross join (batch was saved only by maxBucketSize).
    */
  private[ops] def chunkMask(chunkBits: Int): Long =
    if (chunkBits >= 64) -1L else (1L << chunkBits) - 1L

  /** SimHash near-duplicate pairs. 64-bit signatures via the native codegen
    * expression; candidate generation uses the pigeonhole banding: with the
    * signature cut into `maxHamming + 1` chunks, any pair within `maxHamming`
    * bit flips shares at least one exact chunk. Verification is
    * `bit_count(a ^ b) <= maxHamming` — cheap enough to run on every
    * candidate. Same skew cap as MinHash LSH.
    */
  def simhashNearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    val sigs = ensureParallelism(df)
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("toks"))
      .select(col("id"), graft.ops.expr.NativeSig.simhash64(col("toks")).as("sig"))
    hammingNearDuplicatePairs(sigs, "id", "sig", maxHamming, maxBucketSize)
  }

  /** Near-duplicate pairs over ANY 64-bit signature column within
    * `maxHamming` bit flips — the candidate-generation + verification
    * engine behind [[simhashNearDuplicatePairs]], exposed for other 64-bit
    * fingerprint families (perceptual image hashes ride it via
    * [[Multimodal.imageNearDuplicatePairs]]). Null signatures (e.g.
    * undecodable images) are excluded — they can match nothing.
    * Verification `bit_count(a ^ b) <= maxHamming` runs inline on every
    * candidate; the same skew cap as MinHash LSH bounds hot buckets.
    *
    * Candidate generation DISPATCHES on the band:
    *   - `maxHamming <= 4`: 1-of-(h+1) pigeonhole banding
    *     ([[bandedHammingPairs]]) — at h=4 the key space is still
    *     5 × 2¹² = 20k buckets, and each item costs h+1 exchange rows.
    *   - `maxHamming >= 5`: multi-index Hamming search
    *     ([[multiIndexHammingPairs]]) — the banding key space collapses
    *     as 2^(64/(h+1)) (at h=10 a CORPUS-WIDE total of 11 × 2⁵ = 352
    *     buckets, so past ~cap×352 items every bucket overflows the skew
    *     cap and recall silently tends to zero); multi-index keeps
    *     2¹⁶-value keys at any band by probing a Hamming ball instead of
    *     narrowing the chunks.
    */
  def hammingNearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    requireSigColumn(df, sigCol)
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    if (maxHamming <= 4) bandedHammingPairs(df, idCol, sigCol, maxHamming, maxBucketSize)
    else multiIndexHammingPairs(df, idCol, sigCol, maxHamming, maxBucketSize)
  }

  private def requireSigColumn(df: DataFrame, sigCol: String): Unit = {
    // the null filters below exist for undecodable-media nulls ONLY — a
    // non-integral signature column (a hex-string fingerprint, say) would
    // cast to all-null and silently return zero pairs
    val sigType = df.schema(sigCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(sigType),
      s"hammingNearDuplicatePairs needs an integral 64-bit signature " +
        s"column; '$sigCol' is ${sigType.catalogString} — parse/convert it " +
        "first (a silent cast would drop every row as null)")
  }

  /** Low-band candidate generation: 1-of-(h+1) pigeonhole banding. With the
    * signature cut into `maxHamming + 1` chunks, any pair within
    * `maxHamming` bit flips shares at least one exact chunk. Correct at any
    * band, but the key space is (h+1) × 2^(64/(h+1)) — past h ≈ 5 the
    * chunks get so narrow that the whole corpus lands in a few hundred
    * buckets and the skew cap drops everything; [[hammingNearDuplicatePairs]]
    * dispatches those bands to [[multiIndexHammingPairs]] instead.
    */
  private[graft] def bandedHammingPairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame = {
    requireSigColumn(df, sigCol)
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    val sigs = df
      .select(col(idCol).as("id"), col(sigCol).cast(LongType).as("sig"))
      .filter(col("sig").isNotNull)
    val chunks = sigs.select(
      col("id"), col("sig"),
      explode(array((0 until nChunks).map { c =>
        struct(
          lit(c).as("chunk"),
          shiftrightunsigned(col("sig"), c * chunkBits)
            .bitwiseAND(lit(chunkMask(chunkBits))).as("chunk_val"))
      }: _*)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk"), col("cc.chunk_val"))
    // signatures (16 bytes) ride in the buckets, so the hamming check is
    // inline after the streaming self-join — no join-back stage
    val members = cappedBuckets(chunks, Seq("chunk", "chunk_val"),
      struct(col("id"), col("sig")), maxBucketSize)
      .select(col("chunk"), col("chunk_val"), explode(col("ms")).as("m"))
    members.as("a")
      .join(members.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.m.id") < col("b.m.id"))
      .select(
        col("a.m.id").as("id_a"), col("b.m.id").as("id_b"),
        bit_count(col("a.m.sig").bitwiseXOR(col("b.m.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Every bitmask of Hamming weight ≤ `radius` over the low `bits` bits,
    * the identity mask first. Count is Σ_{k≤radius} C(bits, k) — 137 for
    * (16, 2), the media-default ball.
    */
  private[ops] def ballMasks(bits: Int, radius: Int): Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer(0L)
    def rec(start: Int, left: Int, acc: Long): Unit = {
      if (left == 0) return
      var i = start
      while (i < bits) {
        buf += (acc | (1L << i))
        rec(i + 1, left - 1, acc | (1L << i))
        i += 1
      }
    }
    rec(0, radius, 0L)
    buf.toArray
  }

  /** High-band candidate generation: MULTI-INDEX Hamming search (Norouzi,
    * Punjani & Fleet, "Fast Search in Hamming Space with Multi-Index
    * Hashing", CVPR 2012), re-expressed as one Spark equi-join.
    *
    * The signature is cut into `numChunks` WIDE substrings (default
    * 4 × 16 bits). By pigeonhole, a pair within `maxHamming` bit flips has
    * at least one substring within `radius = ⌊maxHamming / numChunks⌋`
    * flips (if every chunk differed by ≥ radius+1, the total would be
    * ≥ numChunks·(⌊h/m⌋+1) > h). So:
    *
    *   - ANCHOR side: each item under its `numChunks` EXACT substring
    *     values, bucketed with the bounded collect + skew cap.
    *   - PROBE side: each item under every value in the radius-`radius`
    *     Hamming BALL around each substring (`ballMasks` XORed on —
    *     Σ_{k≤r} C(16,k) rows per chunk, 137 at the media default r=2).
    *   - One equi-join on `(chunk, value)`, hamming verified inline,
    *     `probe.id < anchor.id` keeps one discovery direction (the
    *     substring distance is symmetric, so both directions match).
    *
    * Why this survives scale where banding does not: the bucket key space
    * is numChunks × 2¹⁶ ≈ 262k REGARDLESS of the band — at h=10 the
    * 1-of-(h+1) banding has 5-bit chunks and 352 corpus-wide buckets, so
    * past ~cap×352 items every bucket overflows the skew cap and recall
    * collapses to zero. Here bucket population tracks genuine substring
    * popularity, not pigeonhole arithmetic.
    *
    * The whole engine runs at the DISTINCT-SIGNATURE level — the r11 probe
    * side carried every ITEM × every ball mask, so k items sharing one
    * signature (pixel-identical re-encodes of one logo across a crawl: the
    * canonical near-dup input, which exact BYTE dedup does not remove) put
    * k probe rows × cap anchor members into the single task owning the hot
    * (chunk, value) key — k×cap quadratic work in one task. Now:
    *
    *   1. `groupBy(sig)` collapses duplicate-heavy populations MAP-SIDE
    *      (partial aggregation — the hot signature reaches the exchange as
    *      one partial row per map partition), producing one member row per
    *      distinct signature: keeper = min(id) plus a `maxBucketSize`-capped
    *      member sample (truncation observed).
    *   2. Identical-signature groups pair WITHOUT any probe join: a
    *      keeper-star join-back (the segment-dedup keeper pattern,
    *      [[dedupSegments]]) pairs EVERY group member with the group keeper
    *      — linear in input, so "drop later copies" coverage is complete at
    *      ANY duplicate multiplicity — plus all pairs among the retained
    *      non-keeper sample, so the pair set equals brute force whenever the
    *      group fits the cap (star ∪ C(cap−1, 2) = C(k, 2) for k ≤ cap).
    *   3. Ball probing, the (chunk, value) equi-join, and hamming
    *      verification all run once per DISTINCT signature; verified
    *      signature pairs are dedup'd at the SIGNATURE level (far smaller
    *      than the id-pair set) and then re-expanded through the member
    *      table, capped per side.
    *
    * Costs, explicitly: the probe exchange carries
    * `Σ_j Σ_{k≤r_j} C(chunkBits, k)` rows per DISTINCT signature — with the
    * asymmetric per-chunk radii r_j = ⌊(h−j)/m⌋ that is 428 at the
    * image/video default h=10 and 188 at the audio default h=8 (16-byte
    * payload each) versus banding's h+1 = 11 — the price of a key space
    * that doesn't collapse.
    * Per-task bounds: the hot (chunk, value) key sees one probe row per
    * distinct signature in its ball × ≤cap anchor signatures; a verified
    * signature pair re-expands to ≤cap×cap id pairs streamed by the nested
    * explode; the keeper-star join is linear in input rows. Over-cap ANCHOR
    * buckets still emit pairs against their retained signatures (the probe
    * side streams), and BOTH discovery directions survive truncation via
    * least/greatest normalization. Member/bucket truncation stays
    * observable via [[observedBucketStats]] (two observations: member
    * groups, anchor buckets — folded conservatively).
    *
    * Output contract: one row per discovered (id_a < id_b) pair with its
    * hamming distance. Assumes `idCol` identifies rows (duplicate
    * (id, sig) rows are collapsed; an id carried under TWO distinct
    * signatures — not an id — may emit one row per discovering signature
    * pair).
    *
    * @param numChunks substring count; must divide 64. 4 (16-bit chunks)
    *   suits h in [5, 20]; 2 (32-bit chunks) only for tiny corpora with
    *   huge bands. More chunks ⇒ cheaper balls but smaller key space
    *   (8 × 2⁸ = 2k buckets — collapse-prone again).
    */
  def multiIndexHammingPairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      maxBucketSize: Int = 1000,
      numChunks: Int = 4
  ): DataFrame = {
    requireSigColumn(df, sigCol)
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    require(numChunks > 0 && 64 % numChunks == 0,
      s"numChunks must divide 64, got $numChunks")
    val chunkBits = 64 / numChunks
    // ASYMMETRIC per-chunk probe radii, r_j = ⌊(maxHamming − j) / numChunks⌋:
    // Σ_j (r_j + 1) = maxHamming + 1 exactly (Hermite's identity), so the
    // pigeonhole guarantee holds — if every chunk distance exceeded its
    // radius the total would be ≥ Σ(r_j+1) > maxHamming — with the MINIMAL
    // total ball volume (ball sizes grow combinatorially in the radius, and
    // this is the most-equal distribution of the required Σ r_j). At the
    // media default (h=10, m=4) the radii are (2,2,2,1): 428 probe rows per
    // distinct signature instead of the uniform ⌊h/m⌋ ball's 548; at h=8
    // (audio) they are (2,1,1,1): 188 instead of 548. Verified pairs are
    // unchanged — candidate generation still finds every pair within
    // maxHamming, and verification still drops everything beyond it.
    val radii = (0 until numChunks).map(j => math.max(0, (maxHamming - j) / numChunks))
    val maskSeqs = radii.map(r => ballMasks(chunkBits, r))
    require(maskSeqs.map(_.length.toLong).sum <= 100000,
      s"multi-index ball is ${maskSeqs.map(_.length).sum} probe masks per " +
        "item — raise numChunks or lower maxHamming (the probe exchange " +
        "would dwarf the corpus)")
    val sigs = ensureParallelism(df)
      .select(col(idCol).as("id"), col(sigCol).cast(LongType).as("sig"))
      .filter(col("sig").isNotNull)
    // one row per DISTINCT signature: keeper + capped member sample. The
    // groupBy partial-aggregates, so a million-copy hot signature reaches
    // the exchange as ≤ one capped partial row per map partition.
    //
    // PERSISTED: the engine's plan references this table six times (keeper
    // star, in-group pairs, anchor buckets, ball probes, and the two
    // re-expansion joins) — unpersisted, each reference re-ran the whole
    // input scan + groupBy subtree (measured: ~6 executions per run, a
    // third of q93's wall time at the gate). A member row is a signature,
    // a keeper id and a capped id sample — distinct-signature-sized at any
    // scale, far smaller than the six input rescans it replaces; same
    // LRU-eviction trade as [[Multimodal]]'s fingerprint cache (Spark has
    // no safe unpersist point for a frame a lazy result still references).
    // (persist sits UNDER the observation: a CollectMetrics node absorbed
    // into the cached subtree never reaches the outer query's observed
    // metrics — the observation must live in the consuming plan)
    // not cappedBuckets: a min(id) keeper, every group kept, under persist
    val members = observeBucketStats(
      sigs
        .groupBy(col("sig"))
        .agg(
          min(col("id")).as("keeper"),
          graft.ops.expr.NativeSig.boundedCollectList(
            col("id"), maxBucketSize).as("__ml"))
        .select(col("sig"), col("keeper"),
          array_distinct(col("__ml.items")).as("mids"),
          col("__ml.cnt").as("__bsz"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxBucketSize)
    // identical-signature pairs, no probe join:
    //  (a) keeper-star join-back — EVERY group member pairs with the group
    //      keeper (min id), linear in input, complete at any multiplicity;
    //      duplicate (id, sig) INPUT rows collapse first (the documented
    //      output contract — one row per discovered pair), a balanced
    //      (sig, id)-hashed exchange with no hot key
    val star = sigs.dropDuplicates("sig", "id")
      .join(members.filter(col("__bsz") >= 2)
        .select(col("sig"), col("keeper")).hint("merge"), Seq("sig"))
      .filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(0).as("hamming"))
    //  (b) all pairs among the retained NON-keeper sample — with (a) this
    //      is exactly C(k, 2) for groups within the cap, and a loud,
    //      observable truncation beyond it
    val inGroup = members
      .select(array_remove(col("mids"), col("keeper")).as("rest"))
      .filter(size(col("rest")) >= 2)
      .select(posexplode(col("rest")).as(Seq("__i", "__ida")), col("rest"))
      .select(col("__ida"),
        explode(slice(col("rest"), col("__i") + lit(2), size(col("rest"))))
          .as("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        lit(0).as("hamming"))
    // cross-signature candidates: ball probes ONCE per distinct signature.
    //
    // REPARTITIONED before the fan-out: the explode multiplies each row
    // ~Σ|ball_j| times (428 at the media default), so the stage's OUTPUT is
    // two to three orders of magnitude bigger than its input — AQE sizes
    // post-shuffle partitions on INPUT bytes and coalesced the tiny
    // distinct-signature exchange to 2 partitions at the gate, serializing
    // an 800 MB probe shuffle write onto 2 tasks (measured 17 s of q93's
    // 25). The explicit width (which AQE respects) restores the session's
    // parallelism; at real scale the distinct-signature table is big enough
    // that max(defaultParallelism, shuffle.partitions) never SHRINKS the
    // stage below its natural width by more than the config the operator
    // already runs under.
    val fanoutParts = math.max(
      df.sparkSession.sparkContext.defaultParallelism,
      try df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: NumberFormatException => 0 })
    // (chunk, value) packed into ONE long join key — value in the low
    // chunkBits bits, chunk index above them: half the key bytes on the
    // probe exchange and a single-column hash join key. Ball masks only
    // touch the low chunkBits bits, so XOR-probing preserves the tag.
    val dsigs = members.select(col("sig")).repartition(fanoutParts)
    val chunks = dsigs.select(
      col("sig"),
      explode(array((0 until numChunks).map { c =>
        shiftrightunsigned(col("sig"), c * chunkBits)
          .bitwiseAND(lit(chunkMask(chunkBits)))
          .bitwiseOR(lit(c.toLong << chunkBits))
      }: _*)).as("key"))
    // not cappedBuckets: singletons and over-cap samples stay probe targets
    val anchors = observeBucketStats(
      chunks
        .groupBy(col("key"))
        .agg(graft.ops.expr.NativeSig.boundedCollectList(
          col("sig"), maxBucketSize).as("__bl"))
        .select(col("key"),
          col("__bl.items").as("ss"), col("__bl.cnt").as("__bsz")),
      maxBucketSize)
      .select(col("key"), col("ss"))
    // per-chunk mask sets (asymmetric radii) looked up by the key's tag
    val masks2d = typedLit(maskSeqs.map(_.toSeq))
    val probes = chunks.select(
      col("sig"), col("key"),
      explode(element_at(masks2d,
        shiftrightunsigned(col("key"), chunkBits).cast(IntegerType) + lit(1)))
        .as("__mask"))
      .select(col("sig"), col("key").bitwiseXOR(col("__mask")).as("key"))
    // BOTH discovery directions kept (least/greatest, not `p < a`): under
    // anchor truncation the signature pair whose larger member was
    // truncated out of its bucket is still found by the larger signature
    // PROBING the smaller one's retained anchor.
    //
    // hint("shuffle_hash") on the ANCHOR side: the probe side is the ~400×
    // fan-out and a sort-merge join SORTED it (85M rows at the gate — the
    // single biggest stage). A shuffled hash join streams the probes
    // unsorted and builds the hash table from the anchor partition, whose
    // size is bounded: numChunks rows per distinct signature × ≤cap sig
    // entries each, divided across the shuffle partitions that scale with
    // the corpus — the per-partition build is MBs when partitioning is
    // sized to the data, exactly the "moderately small per partition"
    // shuffled-hash case. (Broadcast stays wrong: anchors are
    // distinct-signature-sized, i.e. corpus-sized, at scale.)
    val sigPairs = probes.as("p")
      .join(anchors.as("a").hint("shuffle_hash"), col("p.key") === col("a.key"))
      .select(col("p.sig").as("psig"), explode(col("a.ss")).as("asig"))
      .filter(col("psig") =!= col("asig"))
      .select(
        least(col("psig"), col("asig")).as("sig_a"),
        greatest(col("psig"), col("asig")).as("sig_b"),
        bit_count(col("psig").bitwiseXOR(col("asig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // re-expand verified signature pairs through the member table, capped
    // per side; each distinct sig pair streams ≤cap×cap unique id pairs
    val cross = sigPairs
      .join(members.select(col("sig").as("sig_a"), col("mids").as("__ma")),
        Seq("sig_a"))
      .join(members.select(col("sig").as("sig_b"), col("mids").as("__mb")),
        Seq("sig_b"))
      .select(col("hamming"), explode(col("__ma")).as("__ida"), col("__mb"))
      .select(col("hamming"), col("__ida"), explode(col("__mb")).as("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("hamming"))
    star.unionByName(inGroup).unionByName(cross)
  }

  /** Near-dup REMOVAL: drops every row that appears as the higher id of a
    * verified near-duplicate pair (the "keep first, drop later copies"
    * policy — greedy, one pass; a doc surviving one pair can still be
    * dropped by another, which is the standard corpus-cleaning behavior),
    * through [[dropPairedIds]].
    */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000
  ): DataFrame =
    dropPairedIds(df, idCol, nearDuplicatePairs(df, idCol, textCol, threshold,
      shingleN, numHashes, bands, maxBucketSize))

  /** Keep-first removal: drops every `df` row whose `idCol` is some pair's
    * `id_b`, by a left-anti join against the distinct `id_b`s (a k-clique
    * has k² pairs but k ids).
    */
  private[graft] def dropPairedIds(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drops = pairs.select(col("id_b").as("__drop_id")).distinct()
    df.join(drops, df(idCol) === col("__drop_id"), "left_anti")
  }

  /** [[dropNearDuplicates]] with (numHashes, bands) from
    * [[minhashParamsFor]] — threshold + recall target instead of banding
    * layout, the configuration-free drop path.
    */
  def dropNearDuplicatesAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      targetRecall: Double = 0.9,
      shingleN: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    val (h, b) = minhashParamsFor(threshold, targetRecall)
    dropNearDuplicates(df, idCol, textCol, threshold, shingleN,
      numHashes = h, bands = b, maxBucketSize = maxBucketSize)
  }

  /** EXACT-threshold Jaccard self-join via prefix filtering (the
    * AllPairs/PPJoin family): if J(A,B) ≥ t, the rarest-first prefixes of
    * length `|X| − ⌈t·|X|⌉ + 1` (under one global shingle order) must share
    * a shingle — so candidate generation is an equi-join on *rare prefix
    * shingles*, never an all-pairs loop. Same output contract as
    * [[bruteForceNearDuplicatePairs]] at any scale where that is O(n²)-dead.
    *
    * Shape: explode → global shingle frequencies (window over the same
    * instances) → per-doc rarest-first rank (window by id) → prefix filter
    * → arrays attached to PREFIX rows → one groupBy(g) bucket exchange →
    * in-bucket pair expansion with length + positional prunes and the
    * merge-kernel verification INLINE in the expansion stage —
    * pairs-with-arrays never enter an exchange (the kernel phase of
    * Vernica/Carey/Li's MapReduce set-similarity join, SIGMOD'10); only
    * `(id_a, id_b, jaccard)` survivors shuffle, into the final distinct.
    *
    * @param maxBucketSize skew guard on prefix-shingle buckets. Unlike LSH,
    *   dropping a bucket here sacrifices exactness — the default is high;
    *   lower it only when survival beats completeness. Also bounds the
    *   per-task sort-merge buffer in the verify join: a full bucket holds
    *   `members × (gram array)` bytes on each side of the same-key group.
    * @param hashGrams when true (default), shingles are hashed to sorted
    *   distinct xxhash64 longs by a fused codegen'd kernel
    *   ([[graft.ops.expr.SigKernels.hashedShingles]]) in the scan-side
    *   projection, straight from the text's bytes, so the window sorts, the
    *   bucket exchange, and the in-bucket merge verification all work on
    *   8-byte longs instead of word n-gram strings — measured at sf1:
    *   verify phase 8.1 → 5.7 s warm, peak execution memory halved. Jaccard
    *   only consumes gram EQUALITY, and prefix filtering only needs one
    *   consistent global gram order, so any injective-up-to-collision
    *   relabeling preserves the result; two distinct grams colliding in
    *   xxhash64 (~2⁻⁶⁴ per gram pair, dedup-guarded per doc) is the only
    *   divergence from the string path. Set false to verify on raw grams.
    * @param maxGramDf stop-gram ceiling on CANDIDATE GENERATION — the
    *   standard bounded-candidate mitigation for set-similarity joins on
    *   boilerplate-heavy corpora. `0` (default) is exact. When > 0, prefix
    *   grams whose document frequency exceeds the ceiling generate no
    *   candidates; verification over full gram arrays stays exact, so every
    *   REPORTED pair's jaccard is true — but a pair whose every shared
    *   prefix gram is above the ceiling is NOT FOUND (recall loss, bounded
    *   by how much of the corpus's prefix mass is boilerplate; measured in
    *   RECALL.json's jaccard_ceiling sweep). Candidate volume drops from
    *   Σ df² over prefix grams to Σ min(df, ceiling)² — the quadratic
    *   per-bucket term that makes duplicate-heavy corpora super-linear is
    *   capped by construction. Dropped-instance counts are observable via
    *   the same CollectMetrics contract as the bucket caps
    *   ([[observedStopGramStats]]).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3,
      maxBucketSize: Int = 100000,
      cacheShingles: Boolean = false,
      hashGrams: Boolean = true,
      maxGramDf: Long = 0
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Fused native kernel (shingle + hash + sort + dedup in one codegen'd
    // pass over the UTF-8 bytes): the HOF spelling
    // `array_distinct(transform(shingles, xxhash64))` is interpreted per
    // element and measured 3.5× the cost of the shingling it followed.
    // Output is SORTED, so the verify branch skips sort_array.
    val shCol =
      if (hashGrams) graft.ops.expr.NativeSig.hashedShingles(col(textCol), shingleN)
      else shingles(col(textCol), shingleN)
    // No filter on empty arrays: a blank doc explodes to no instances, so it
    // has no prefix row and the id join drops its array. Catalyst pushes a
    // `size(sh) > 0` filter below the projection that computes `sh` and
    // shingles twice — the same holds for the filter it infers from
    // `explode(sh)`, which the guarded generator input below avoids.
    val shBase = ensureParallelism(df)
      .select(col(idCol).as("id"), shCol.as("sh"))
    // The ranking path and the verification path are separate plan branches
    // over the shingled frame, and branches recompute everything below them.
    // Opt-in persistence pays the shingling map cost once instead of twice —
    // but Spark offers no safe place to unpersist a frame a lazy result
    // still depends on, so the cache entry lives until the context evicts
    // it (LRU): enable only when you own the session lifecycle.
    val sh =
      if (cacheShingles)
        shBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else shBase
    val inst = sh.select(col("id"), size(col("sh")).as("len"),
      explode(when(size(col("sh")) > 0, col("sh"))).as("g"))
    // Document frequency via groupBy + sort-merge join-back, NOT a window
    // over the instances: `count() over (partition by g)` buffers each
    // gram's ENTIRE instance group per task (windows have no partial
    // aggregation — ExternalAppendOnlyUnsafeRowArray holds the group), and
    // on a duplicate-heavy corpus a common gram's group is df rows in ONE
    // task — the sf10 rehearsal (500k docs, 100-cliques) stalled exactly
    // there, two straggler tasks disk-spilling half-million-row window
    // buffers. groupBy pre-counts map-side (the exchange carries partial
    // counts, not instances) and the join-back streams the instance side
    // against 1-row count groups. The price is that the instance subtree
    // (scan → shingle → explode) is planned on two branches — the partial
    // aggregate's input and the join's left side — re-executing the
    // shingling; `cacheShingles` exists when that matters. The per-doc
    // ranking window stays: its groups are doc-sized (bounded by document
    // length), safe at any scale.
    // hint("merge"): BOTH sides are corpus-sized by construction (instances
    // ∝ corpus grams, counts ∝ vocabulary) — the join strategy must not be
    // left to size estimates. The sf10 rehearsal's 100×-replicated text
    // compresses so well that parquet-derived estimates fell under the
    // broadcast threshold and the planner BROADCAST THE 26M-ROW INSTANCE
    // SIDE; the same estimate lie can happen on any highly-duplicated real
    // corpus, which near-dup inputs are by definition.
    val ranked = inst
      .join(inst.groupBy(col("g")).agg(count(lit(1)).as("df")).hint("merge"), "g")
      .withColumn("rn",
        row_number().over(
          Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
    // ceil guards subtract 1e-9 first: IEEE products overshoot exact
    // integer values (25 * 0.28 = 7.000000000000001 -> ceil 8 would drop a
    // boundary-exact J = 7/25 = 0.28 pair). The epsilon only ever LENGTHENS
    // the prefix / LOOSENS the length filter — extra candidates, never lost
    // pairs; verification stays exact.
    def ceilT(x: Column): Column =
      ceil(x * lit(threshold * (1 - 1e-12)) - lit(1e-9))
    val prefixAll = ranked
      .filter(col("rn") <= col("len") - ceilT(col("len")) + 1)
    // Stop-gram ceiling: applied to prefix rows only (candidate generation);
    // the gram arrays that verification consumes are untouched. Observed
    // BEFORE the filter so the drop volume is part of the query's metrics.
    val prefix = (if (maxGramDf > 0)
      observeStopGramStats(prefixAll, maxGramDf)
        .filter(col("df") <= maxGramDf)
    else prefixAll)
      .select(col("id"), col("len"), col("g"), col("rn"))
    // VERIFY INSIDE THE BUCKET EXPANSION (the kernel phase of the
    // MapReduce set-similarity join of Vernica, Carey & Li, SIGMOD'10):
    // the sorted gram arrays are attached to the PREFIX rows (a ~(1−t)
    // fraction of the instances), ride ONE groupBy(g) exchange inside the
    // bucket structs, and every candidate pair is scored by the native
    // merge kernel right in the expansion stage — pairs-with-arrays never
    // enter an exchange, only (id_a, id_b, jaccard) survivors do. A pair
    // sharing k prefix grams is scored k times; the early-exit merge
    // kernel makes re-scoring far cheaper than shuffling arrays per pair,
    // and the final distinct dedups true pairs only. The alternative —
    // dedup candidate pairs first, then attach both arrays by two joins —
    // exchanges every candidate pair WITH both arrays; at sf1 that was 4M
    // candidates × ~0.9 KB = 1.6 GB of verify-join sort spill, and the
    // same-JVM A/B measured it 2× slower even at t = 0.5 where the
    // occurrence redundancy is high. Arrays-in-buckets costs more shuffle
    // WRITE (~+75% at t = 0.5), but that is sequential I/O scored once;
    // the per-pair shape's cost is sort spill, which reread and rewrote
    // every over-size partition.
    val sorted =
      if (hashGrams) sh.select(col("id"), col("sh").as("ss"))
      else sh.select(col("id"), sort_array(col("sh")).as("ss"))
    // Pair expansion, the PPJoin positional prune (rn is the gram's
    // 1-based position in the doc's GLOBAL (df, g) sort — one consistent
    // order across docs — so for a shared gram at positions (i, j):
    // overlap ≤ min(i, j) + min(la−i, lb−j), and J ≥ t needs overlap ≥
    // t·(la+lb)/(1+t); upper bound ⇒ lossless, with the same ceil-epsilon
    // guard as ceilT), the length filter, and the merge-kernel verify all
    // live in the BucketJaccardPairs generator below.
    //
    // hint("merge") for the same reason as the df join-back above: the
    // array side is the whole corpus (one row per doc, gram array attached)
    // — never broadcastable at scale, whatever the estimates say
    val prefixArr = prefix.join(sorted.hint("merge"), "id")
    // the cap here drops EXACTNESS, not just candidates — all the more
    // reason the truncation is observable (read with observedBucketStats).
    // Pair expansion + prune + verify FUSED in one generator
    // (BucketJaccardPairs): the former double-explode spelling wrote an
    // UnsafeRow carrying both members' full gram arrays per CANDIDATE —
    // the SF10 adjudication measured the expansion as the allocation/
    // bandwidth hotspot of the whole operator and the source of the
    // 244-408 s run-to-run swing (G1 concurrent-mark CPU competing with
    // 32 fully-subscribed worker threads). The generator walks the bucket
    // array in place — same epsilon-guarded length filter, PPJoin
    // positional prune (documented above), and early-exit merge kernel —
    // and allocates only survivor triples, ~the true-pair count. Measured:
    // SF10 q29 408 → 82 s warm, spread 244-408 s → ±0.1 s.
    cappedBuckets(prefixArr, Seq("g"),
      struct(col("id"), col("len"), col("rn"), col("ss")), maxBucketSize)
      .select(graft.ops.expr.NativeSig.bucketJaccardPairs(col("ms"), threshold))
      .distinct()
  }

  /** Brute-force all-pairs n-gram Jaccard (reference implementation for
    * recall tests and small frames — O(n²), never for production scale).
    */
  def bruteForceNearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3
  ): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    sh.as("a")
      .join(sh.as("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }
}
