package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators: Gopher-style repetition/quality rules, per-key
  * quotas, and deterministic dataset splits — the filtering layer a
  * training-data pipeline runs between dedup and tokenization.
  *
  * Everything here is either a pure per-row `Column` expression (map-only,
  * embarrassingly parallel at any scale) or a single well-shaped shuffle
  * (window for quotas), so the plans survive a 100× scale-up unchanged.
  */
object Corpus {

  /** Non-distinct word n-grams ([[Dedup.shingles]] is the *distinct* variant
    * for set-similarity; repetition stats need multiplicity).
    */
  def ngrams(text: Column, n: Int): Column = {
    val toks = TextStats.tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))
        )
      )
  }

  /** Fraction of n-gram occurrences taken by the most frequent n-gram — the
    * classic repetition signal (high = boilerplate / word salad). Computed
    * per row with sort + longest-equal-run fold; pass a *materialized* n-gram
    * column (higher-order functions re-evaluate nested expressions).
    */
  def topNgramFraction(ngramsCol: Column): Column = {
    val sorted = array_sort(ngramsCol)
    val best = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(
          x.as("prev"),
          run.as("run"),
          greatest(acc.getField("best"), run).as("best")
        )
      },
      acc => acc.getField("best")
    )
    when(size(ngramsCol) === 0, lit(0.0))
      .otherwise(best.cast(DoubleType) / size(ngramsCol))
  }

  /** Fraction of lines that exactly duplicate an earlier line. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    when(size(lines) === 0, lit(0.0))
      .otherwise((size(lines) - size(array_distinct(lines))).cast(DoubleType) / size(lines))
  }

  /** Symbol marks (#, …, ...) per word — boilerplate/navigation signal. */
  def symbolToWordRatio(text: Column): Column = {
    val syms = size(regexp_extract_all(text, lit("""#|…|\.\.\."""), lit(0)))
    val toks = size(TextStats.tokens(text))
    when(toks === 0, lit(0.0)).otherwise(syms.cast(DoubleType) / toks)
  }

  /** Gopher-style keep decision from pre-computed signals: token count in
    * range, bounded repetition, plausible mean word length. Thresholds are
    * parameters — corpora differ; these defaults suit prose-like text.
    */
  def gopherKeep(
      tokenCount: Column,
      topNgramFrac: Column,
      meanWordLen: Column,
      minTokens: Int = graft.ops.expr.SigKernels.GopherMinTokens,
      maxTokens: Int = graft.ops.expr.SigKernels.GopherMaxTokens,
      maxRepetition: Double = graft.ops.expr.SigKernels.GopherMaxRepetition,
      minMeanWordLen: Double = graft.ops.expr.SigKernels.GopherMinMeanWordLen,
      maxMeanWordLen: Double = graft.ops.expr.SigKernels.GopherMaxMeanWordLen
  ): Column =
    tokenCount.between(minTokens, maxTokens) &&
      topNgramFrac < maxRepetition &&
      meanWordLen.between(minMeanWordLen, maxMeanWordLen)

  /** Lowercased HOST of a URL (scheme-optional) — a quota/dedup key. For
    * the true registrable domain (eTLD+1: `shop.example.co.uk` →
    * `example.co.uk`), compose [[WebText.registrableDomain]] over
    * [[WebText.urlHost]] — hosts under the same site would otherwise count
    * as separate quota keys.
    */
  def domainOf(url: Column): Column =
    lower(regexp_extract(url, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1))

  /** Keep at most `k` rows per key, by `ordering` — per-domain/source caps.
    * One hash shuffle on the key + per-partition sort (the same shape as any
    * windowed top-k); a hot key costs one task its sort, never a cross-node
    * blowup, because rank is evaluated streaming per partition.
    */
  def perKeyQuota(df: DataFrame, keyCols: Seq[String], ordering: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, "quota must be >= 1")
    // collision-safe temp name: withColumn would silently REPLACE a
    // pre-existing column of the same name, and the final drop would then
    // delete the caller's data
    val rn = Iterator.from(0).map(i => if (i == 0) "__rn" else s"__rn$i")
      .find(n => !df.columns.contains(n)).get
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= k)
      .drop(rn)
  }

  /** Deterministic weighted split assignment (train/val/test) from a stable
    * id hash: bucket = xxhash64(id, seed) mod `buckets`, cumulative-weight
    * thresholds pick the split. Pure map-side, reproducible run-to-run and
    * partition-independent — the properties a 100 TB split must have (a
    * `rand()` split is neither).
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      seed: Long = 0L,
      buckets: Int = 10000,
      splitCol: String = "split"
  ): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val bucket = pmod(xxhash64(col(idCol), lit(seed)), lit(buckets))
    val thresholds = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val expr = weights.zip(thresholds).init.foldRight(lit(weights.last._1): Column) {
      case (((name, _), cum), rest) =>
        when(bucket < math.round(cum * buckets), lit(name)).otherwise(rest)
    }
    df.withColumn(splitCol, expr)
  }

  /** Global token frequencies — the canonical corpus word count: explode +
    * one hash-partitioned aggregation with map-side partial counts, so the
    * shuffle carries (token, partial-count), never document text.
    */
  def tokenFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextStats.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))

  /** Top-k vocabulary by frequency (ties broken by token) — lowers to
    * TakeOrderedAndProject after the aggregation: per-partition top-k, no
    * global sort.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    tokenFrequencies(df, textCol)
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Single-pass Misra–Gries heavy-hitters sketch over the token stream —
    * one row `(n, err, items)` where `items` holds ≤ `budget`
    * `(token, est)` pairs with the guarantee `est ≤ true ≤ est + err`,
    * absent ⇒ true ≤ err. Aggregation state is `budget`-bounded per
    * partition and merges associatively, so there is NO (token) shuffle —
    * one partial sketch per map partition, one final merge. This is the
    * 100 TB vocabulary path: exact [[tokenFrequencies]] exchanges a row per
    * distinct token per partition (billions of keys on raw web n-grams);
    * this exchanges `numPartitions` fixed-size sketches.
    */
  def tokenSketch(df: DataFrame, textCol: String, budget: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    df.select(explode(TextStats.tokens(col(textCol))).as("token"))
      .agg(ColumnBridge.column(
        graft.ops.expr.MisraGriesSketch(
          ColumnBridge.expression(col("token")), budget).toAggregateExpression()).as("sk"))
      .select(col("sk.n").as("n"), col("sk.err").as("err"),
        col("sk.items").as("items"))
  }

  /** Exact top-k vocabulary via sketch → candidates → recount, with a
    * machine-checked exactness certificate. Pass 1 builds the MG sketch
    * (no token shuffle; ≤ `budget` candidate tokens reach the driver).
    * Pass 2 recounts ONLY the candidate tokens exactly (broadcast semi-join
    * filter, so the aggregation exchange carries ≤ `budget` distinct keys).
    * The result is provably the exact global top-k whenever the k-th
    * candidate's recounted frequency strictly exceeds the sketch's `err`
    * bound — every non-candidate token has true count ≤ err, so none can
    * reach rank k. If the certificate fails (budget too small for the
    * distribution's tail), falls back to the exact [[topTokens]] plan so
    * the answer is ALWAYS exact; pass `strict = true` to error instead —
    * at 100 TB you'd rather size the budget than silently pay the full
    * shuffle.
    *
    * Output matches [[topTokens]]: `(token, n)`, ties broken by token —
    * deterministic, DuckDB-replayable.
    */
  def topTokensSketch(
      df: DataFrame,
      textCol: String,
      k: Int,
      budget: Int = 8192,
      strict: Boolean = false): DataFrame = {
    require(budget >= k, s"sketch budget $budget must be >= k ($k)")
    val spark = df.sparkSession
    val toks = df.select(explode(TextStats.tokens(col(textCol))).as("token"))
    val skRow = tokenSketch(df, textCol, budget)
      .select(col("err"), col("items.token").as("cands"))
      .head()
    val err = skRow.getLong(0)
    val cands = skRow.getSeq[String](1).toList
    import spark.implicits._
    val candDf = cands.toDF("token")
    val top = toks
      .join(broadcast(candDf), Seq("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
    val topRows = top.collect() // ≤ k rows by construction
    // err == 0 ⇒ the sketch never evicted: it holds EVERY distinct token
    // exactly, so the recount is the complete answer (even with < k rows).
    // Otherwise the certificate needs a full k candidates whose k-th count
    // strictly beats the undercount bound — a SHORT candidate list under
    // err > 0 proves nothing (unseen tokens may outrank missing ranks).
    val certified =
      err == 0L || (topRows.length == k && topRows.last.getLong(1) > err)
    if (certified) {
      spark.createDataFrame(
        spark.sparkContext.parallelize(topRows.toIndexedSeq, 1), top.schema)
    } else if (strict) {
      throw new IllegalStateException(
        s"topTokensSketch certificate failed: k-th candidate count " +
          s"${topRows.last.getLong(1)} <= err bound $err at budget $budget — " +
          "raise the budget (err shrinks ~1/budget) or use topTokens")
    } else {
      topTokens(df, textCol, k)
    }
  }

  /** Engine-portable approximate distinct count per group via the KMV
    * sketch ([[graft.ops.expr.KmvSketch]]): `estimate` / `exact` /
    * `sketch_size` columns appended to the grouping keys. Unlike
    * `approx_count_distinct` the value is a pure function of the data
    * (md5-prefix ranks), so it is bit-stable across partitionings and
    * replayable in any SQL engine — and below `k` distinct values it IS
    * the exact count, flagged `exact = true`. Plans as bounded partial
    * aggregates (≤ k longs per partition), no per-distinct-value shuffle.
    */
  def approxDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int = 256,
      seed: Long = 42L
  ): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sketch = ColumnBridge.column(
      graft.ops.expr.KmvSketch(
        ColumnBridge.expression(col(valueCol).cast(StringType)), k, seed)
        .toAggregateExpression())
    df.groupBy(groupCols.map(col): _*)
      .agg(sketch.as("kmv"))
      .select(groupCols.map(col) ++ Seq(
        col("kmv.estimate").as("estimate"),
        col("kmv.exact").as("exact"),
        col("kmv.sketch_size").as("sketch_size")): _*)
  }

  /** One-pass corpus data card: the headline numbers a dataset release
    * documents — doc/char/token totals, exact-duplicate rate, token-count
    * mean/median, punctuation/stopword means, dominant language — as a
    * single-row frame from ONE scan + one global aggregate.
    *
    * Scale shape: every per-row signal projects map-side; ONE scan, then
    * Spark's standard mixed-distinct rewrite (two exchanges: the first
    * keyed on the md5 digest, carrying one row per distinct digest —
    * 16 bytes plus small partial buffers, never text). That
    * digest-cardinality exchange is inherent to an EXACT duplicate rate;
    * swap in [[approxDistinct]] when an estimate is acceptable and the
    * exchange must stay bounded. The exact median's state is the
    * distinct token-count VALUES (small: counts, not tokens). Means
    * follow the decimal-exact contract ([[profile]]):
    * per-row values rounded to 9, summed as decimal(38,12), divided once —
    * bit-stable across partitionings and engines, so the q73 gate
    * hash-compares the report itself (`lang_top` excluded there: the
    * classifier is library-private).
    */
  def report(df: DataFrame, textCol: String): DataFrame =
    reportBy(df, textCol, Seq.empty)

  /** [[report]] per group (`reportBy(docs, "text", Seq("source"))` — the
    * per-slice data card a mixture release publishes). Same one-scan
    * shape; the aggregate hashes on the group keys.
    */
  def reportBy(df: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame = {
    val text = col(textCol)
    val dec = DecimalType(38, 12)
    val base = df.select(
      groupCols.map(col) ++ Seq(
        length(text).as("__chars"),
        size(TextStats.tokens(text)).as("__ntok"),
        TextStats.punctRatio(text).as("__punct"),
        TextStats.stopwordRatio(text, TextStats.EnglishStopwords).as("__stop"),
        TextStats.langId(text).as("__lang"),
        md5(text).as("__h")): _*)
    val grouped =
      if (groupCols.isEmpty) base.groupBy()
      else base.groupBy(groupCols.map(col): _*)
    grouped.agg(
      count(lit(1)).as("n_docs"),
      sum(col("__chars").cast(LongType)).as("total_chars"),
      sum(col("__ntok").cast(LongType)).as("total_tokens"),
      round(lit(1.0) -
        count_distinct(col("__h")).cast(DoubleType) / count(lit(1)), 6)
        .as("exact_dup_rate"),
      round(sum(col("__ntok").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
        .as("mean_tokens"),
      round(percentile(col("__ntok"), lit(0.5)), 6).as("p50_tokens"),
      round(sum(round(col("__punct"), 9).cast(dec)).cast(DoubleType) / count(lit(1)), 6)
        .as("mean_punct_ratio"),
      round(sum(round(col("__stop"), 9).cast(dec)).cast(DoubleType) / count(lit(1)), 6)
        .as("mean_stopword_ratio"),
      mode(col("__lang")).as("lang_top"))
  }

  /** Canonical text normalization — the step before exact dedup, so that
    * case/whitespace/punctuation variants hash identically: lowercase,
    * optionally strip punctuation, collapse whitespace runs, trim. Pure
    * codegen'd builtins; compose with [[Dedup.markExactDuplicates]] on the
    * normalized column for "normalized-exact" dedup.
    */
  def normalizeText(text: Column, stripPunct: Boolean = true): Column = {
    // explicit whitespace class, not \s: Java's \s includes \x0B but RE2's
    // (DuckDB, Go) does not — spelled out, every engine agrees
    val ws = """ \t\n\x0B\f\r"""
    val lowered = lower(text)
    val depunct =
      if (stripPunct) regexp_replace(lowered, s"[^\\w$ws]", "") else lowered
    trim(regexp_replace(depunct, s"[$ws]+", " "))
  }

  /** PII patterns shared with redaction oracles: (regex, replacement
    * token), applied in order. Written in the regex subset where Java
    * (Spark) and RE2 (DuckDB/Go) agree — explicit classes, `\b`, `(?:)`,
    * bounded repeats — so an external validator can replay the exact same
    * redaction.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    ("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("""\b(?:\d{1,3}\.){3}\d{1,3}\b""", "<IP>"),
    ("""\b\d{3}[-. ]\d{3}[-. ]\d{4}\b""", "<PHONE>"))

  /** Redact personally identifying substrings (emails, IPv4 addresses,
    * phone numbers) to typed placeholder tokens — the standard scrub before
    * web text enters a training corpus. Pure chained `regexp_replace`
    * builtins: map-side, codegen'd, shuffle-free at any scale.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pattern, token)) =>
      regexp_replace(c, pattern, token)
    }

  /** [[redactPii]] as a frame op: adds `outCol` with the scrubbed text. */
  def redactPii(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    require(!df.columns.contains(outCol),
      s"redactPii adds '$outCol' but df already has it")
    df.withColumn(outCol, redactPii(col(textCol)))
  }

  /** Checksum/entropy-VALIDATED redaction: Luhn payment cards, mod-97
    * IBANs, high-entropy secrets — the classes a bare regex over-redacts
    * (9 in 10 random 16-digit strings fail Luhn: ids and timestamps
    * survive, real cards don't). Codegen'd single-pass scanners; see
    * [[graft.ops.expr.PiiValidate]] for the exact detection rules.
    */
  def redactValidated(text: Column,
      cards: Boolean = true, ibans: Boolean = true,
      secrets: Boolean = true): Column =
    graft.ops.expr.NativeSig.redactValidated(text, cards, ibans, secrets)

  /** The full scrub: validated classes first (card/IBAN/secret — their
    * replacement tokens contain no digits, so the regex classes can't
    * partially eat a card), then the regex classes (email/IPv4/phone).
    */
  def redactPiiAll(text: Column): Column = redactPii(redactValidated(text))

  /** [[redactPiiAll]] as a frame op — same collision contract as the
    * regex-only frame op above (one source of truth for the check).
    */
  def redactPiiAll(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    require(!df.columns.contains(outCol),
      s"redactPiiAll adds '$outCol' but df already has it")
    df.withColumn(outCol, redactPiiAll(col(textCol)))
  }

  /** TF-IDF weights per (document, token): `tf · ln(N / df)` with raw term
    * counts and un-smoothed idf (idf = 0 for a token in every document).
    * Shape: one explode → (id, token) count aggregation → document
    * frequency as a WINDOW over the same aggregated rows (a `groupBy` +
    * join-back would put the tf aggregate in two plan branches and compute
    * its exchange twice — branches share no work) — so the exploded ~16-byte
    * pairs shuffle once for tf and the (id, token, tf) rows once for df,
    * never text. The corpus size `N` comes from a pruned second scan of the
    * source (just the id column) broadcast as a 1-row aggregate; everything
    * stays one lazy plan (no driver-side count).
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = df
      .select(col(idCol).as("id"), explode(TextStats.tokens(col(textCol))).as("token"))
    val tf = pairs.groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("token"))))
    val n = df.select(countDistinct(col(idCol)).as("n"))
    withDf
      .crossJoin(broadcast(n))
      .withColumn("tf_idf", col("tf") * log(col("n").cast(DoubleType) / col("df")))
      .select(col("id").as(idCol), col("token"), col("tf"), col("tf_idf"))
  }

  /** Fixed-size overlapping token-window chunks — the step between curation
    * and embedding/tokenization in a RAG or pretraining pipeline. Chunk `i`
    * covers tokens `[i·stride, i·stride + chunkTokens)` with
    * `stride = chunkTokens − overlapTokens`; the last chunk may be short;
    * blank documents yield no chunks. Map-side only (tokens staged once —
    * higher-order functions get no CSE — then one `explode`): no shuffle,
    * output rows ≈ input tokens / stride at any scale.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlapTokens: Int = 0
  ): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlapTokens must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    // number of chunks = 1 + ceil((n − chunk) / stride) for n > chunk; the
    // double division is exact for any plausible token count (< 2^52)
    val nChunks = lit(1) + greatest(lit(0),
      ceil((col("__n") - chunkTokens).cast(DoubleType) / stride).cast(IntegerType))
    df.select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(
        col(idCol),
        col("chunk_idx").cast(LongType).as("chunk_idx"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens))).as("chunk"),
        least(lit(chunkTokens), col("__n") - col("chunk_idx") * stride)
          .cast(LongType).as("n_tokens"))
  }

  /** One-scan numeric column profile: count / nulls / mean / min / max /
    * quartiles per column, one output row per column. All statistics for
    * all columns aggregate in a SINGLE pass over the data (one partial agg
    * tree, no per-column scans), then pivot to long form driver-side-free
    * via an `explode` of one literal-struct array.
    *
    * The default `approx = true` computes the quartiles with
    * `approx_percentile` — bounded sketch state per column regardless of
    * cardinality, the only safe default for the first thing anyone runs on
    * an unknown 100 TB corpus. `approx = false` opts into Spark's exact
    * `percentile`, whose aggregation state is a map of DISTINCT VALUES:
    * the right contract for oracle checks and bounded-cardinality columns,
    * but an executor OOM on a continuous column at scale — it must be an
    * explicit choice, never the default.
    *
    * `accuracy` is `approx_percentile`'s inverse-error knob (relative rank
    * error ≤ 1/accuracy); ignored when `approx = false`.
    *
    * `mean` is computed as an EXACT decimal(38,18) sum divided once in
    * double — not `avg` — so the result is bit-identical across
    * partitionings and cluster sizes. A plain double `avg` accumulates in
    * partition order: re-partitioning the same data can flip the last ulp,
    * which surfaces as a changed 6th decimal after rounding (observed on
    * a mean landing exactly on a round-half boundary). Exact-decimal
    * summation costs one wider aggregation buffer per column and removes
    * the nondeterminism class entirely. Two quantization edges, both
    * documented because they are the price of exactness: (a) each value is
    * truncated to 18 fractional digits before summing, so columns whose
    * magnitudes sit below ~5e-19 profile to mean 0.0 while min/max show
    * the real values (scale 18 keeps this edge below double's own ~1e-16
    * relative precision for any value ≥ 0.01, i.e. unobservable for
    * realistic profile inputs); (b) a running sum exceeding 20 integer
    * digits overflows to null — not a plausible profile input.
    */
  def profile(
      df: DataFrame,
      cols: Seq[String],
      approx: Boolean = true,
      accuracy: Int = 10000
  ): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      // backtick-quote the SQL-string path so non-identifier column names
      // work like they do through col(c); count(when(...)) (not sum) keeps
      // nulls = 0 instead of NULL on a zero-row input
      val quoted = "`" + c.replace("`", "``") + "`"
      val pct =
        if (approx)
          expr(s"cast(approx_percentile($quoted, array(0.25D, 0.5D, 0.75D), $accuracy) as array<double>)")
        else expr(s"percentile($quoted, array(0.25D, 0.5D, 0.75D))")
      Seq(
        count(col(c)).as(s"__n_$c"),
        count(when(col(c).isNull, lit(1))).as(s"__nulls_$c"),
        (sum(col(c).cast(DecimalType(38, 18))).cast(DoubleType) /
          count(col(c))).as(s"__mean_$c"),
        min(col(c)).cast(DoubleType).as(s"__min_$c"),
        max(col(c)).cast(DoubleType).as(s"__max_$c"),
        pct.as(s"__pct_$c"))
    }
    val structs = cols.map { c =>
      struct(
        lit(c).as("column"),
        col(s"__n_$c").as("n"),
        col(s"__nulls_$c").as("nulls"),
        col(s"__mean_$c").as("mean"),
        col(s"__min_$c").as("min"),
        col(s"__max_$c").as("max"),
        col(s"__pct_$c").getItem(0).as("p25"),
        col(s"__pct_$c").getItem(1).as("p50"),
        col(s"__pct_$c").getItem(2).as("p75"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(structs: _*)).as("s"))
      .select(col("s.*"))
  }

  // ---------------------------------------------------------------------
  // Extended Gopher repetition/format rules (Rae et al. 2021, table A1).
  // The original metrics are character-weighted over lines/paragraphs and
  // n-grams; everything below keeps exact integer-over-integer semantics so
  // a SQL oracle replays the values verbatim. All per-row map work — zero
  // shuffle at any corpus size.
  // ---------------------------------------------------------------------

  /** Non-empty segments of `text` under a regex separator (lines `"\n"`,
    * paragraphs `"\n{2,}"`). Empty segments are dropped: a run of blank
    * lines would otherwise read as "duplicates" and poison the fractions.
    */
  def segments(text: Column, sepRegex: String): Column =
    array_remove(split(text, sepRegex), "")

  /** `struct(cnt, chars, dupCnt, dupChars)` over an array of segments:
    * total members and characters, members of any value occurring ≥ 2
    * times (ALL copies — Gopher counts the whole duplicated group, not
    * copies-beyond-the-first), and their characters. One `array_sort` +
    * run-length fold per row.
    */
  def dupGroupStats(parts: Column): Column = {
    val sorted = array_sort(parts)
    val folded = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("dupCnt"), lit(0L).as("dupChars")),
      (acc, x) => {
        val same = x === acc.getField("prev") && acc.getField("run") > 0
        val flushCnt = when(!same && acc.getField("run") >= 2, acc.getField("run")).otherwise(lit(0L))
        val flushChars = flushCnt * length(acc.getField("prev"))
        struct(
          x.as("prev"),
          when(same, acc.getField("run") + 1).otherwise(lit(1L)).as("run"),
          (acc.getField("dupCnt") + flushCnt).as("dupCnt"),
          (acc.getField("dupChars") + flushChars).as("dupChars")
        )
      },
      acc => {
        val flushCnt = when(acc.getField("run") >= 2, acc.getField("run")).otherwise(lit(0L))
        struct(
          (acc.getField("dupCnt") + flushCnt).as("dupCnt"),
          (acc.getField("dupChars") + flushCnt * length(acc.getField("prev"))).as("dupChars"))
      }
    )
    struct(
      size(parts).cast(LongType).as("cnt"),
      aggregate(parts, lit(0L), (a, x) => a + length(x)).as("chars"),
      folded.getField("dupCnt").as("dupCnt"),
      folded.getField("dupChars").as("dupChars"))
  }

  /** Fraction of segments that belong to a duplicated group (0 if none). */
  def dupSegmentFraction(stats: Column): Column =
    when(stats.getField("cnt") === 0, lit(0.0))
      .otherwise(stats.getField("dupCnt").cast(DoubleType) / stats.getField("cnt"))

  /** Fraction of segment characters inside duplicated groups (0 if none). */
  def dupSegmentCharFraction(stats: Column): Column =
    when(stats.getField("chars") === 0, lit(0.0))
      .otherwise(stats.getField("dupChars").cast(DoubleType) / stats.getField("chars"))

  /** Fraction of non-empty lines matching a regex (bullet starts, ellipsis
    * ends — Gopher's format rules: ≤ 90% bullets, ≤ 30% ellipses).
    */
  def lineMatchFraction(text: Column, pattern: String): Column = {
    val lines = segments(text, "\n")
    when(size(lines) === 0, lit(0.0)).otherwise(
      size(filter(lines, l => l.rlike(pattern))).cast(DoubleType) / size(lines))
  }

  /** Bullet-started line fraction. */
  def bulletLineFraction(text: Column): Column =
    lineMatchFraction(text, "^\\s*[-*•‣▪]")

  /** Ellipsis-terminated line fraction. */
  def ellipsisLineFraction(text: Column): Column =
    lineMatchFraction(text, "(\\.\\.\\.|…)\\s*$")

  /** Fraction of words containing at least one letter (Gopher: ≥ 80%). */
  def alphaWordFraction(text: Column): Column = {
    val toks = TextStats.tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.rlike("\\p{L}"))).cast(DoubleType) / size(toks))
  }

  /** Fraction of token positions covered by a word n-gram occurring ≥ 2
    * times in the document — the fused native kernel
    * ([[graft.ops.expr.DupNgramCoverage]]); SQL name `dup_ngram_coverage`.
    */
  def dupNgramCoverage(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.ops.expr.DupNgramCoverage(ColumnBridge.expression(text), n))
  }

  /** Reference semantics for [[dupNgramCoverage]] as staged higher-order
    * functions — O(G²) per row, test-only; RepetitionSpec pins it
    * bit-identical to the kernel.
    */
  def dupNgramTokenCoverageHof(text: Column, n: Int): Column = {
    val toks = TextStats.tokens(text)
    val k = size(toks)
    val grams = ngrams(text, n)
    val idx = transform(grams, (_, i) => i)
    val dupIdx = filter(idx, i =>
      size(filter(grams, g2 => g2 === element_at(grams, i + 1))) >= 2)
    val coveredIdx = array_distinct(flatten(transform(dupIdx, i => sequence(i, i + n - 1))))
    when(k < n || k === 0, lit(0.0))
      .otherwise(size(coveredIdx).cast(DoubleType) / k)
  }

  /** The full Gopher rule set over precomputed signal columns — every
    * threshold a parameter, defaults from the paper (duplicate-content
    * caps relaxed to the token-coverage variant for the n-gram family).
    */
  def gopherKeepFull(
      tokenCount: Column,
      meanWordLen: Column,
      dupLineFrac: Column,
      dupLineCharFrac: Column,
      dupParaFrac: Column,
      dupParaCharFrac: Column,
      dupNgramCov: Column,
      bulletFrac: Column,
      ellipsisFrac: Column,
      alphaFrac: Column,
      stopwordHits: Column,
      minTokens: Int = 20,
      maxTokens: Int = 1000000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxDupParaFrac: Double = 0.30,
      maxDupParaCharFrac: Double = 0.20,
      maxDupNgramCov: Double = 0.15,
      maxBulletFrac: Double = 0.90,
      maxEllipsisFrac: Double = 0.30,
      minAlphaFrac: Double = 0.80,
      minStopwordHits: Int = 2
  ): Column =
    tokenCount.between(minTokens, maxTokens) &&
      meanWordLen.between(minMeanWordLen, maxMeanWordLen) &&
      dupLineFrac <= maxDupLineFrac &&
      dupLineCharFrac <= maxDupLineCharFrac &&
      dupParaFrac <= maxDupParaFrac &&
      dupParaCharFrac <= maxDupParaCharFrac &&
      dupNgramCov <= maxDupNgramCov &&
      bulletFrac <= maxBulletFrac &&
      ellipsisFrac <= maxEllipsisFrac &&
      alphaFrac >= minAlphaFrac &&
      stopwordHits >= minStopwordHits

  /** Every extended repetition/format signal in one projection (one scan at
    * any scale), plus the composite `keep_full` decision. `ngramN` is the
    * duplicate-coverage n (Gopher sweeps 5..10; one n keeps the row narrow —
    * call [[dupNgramCoverage]] directly for more). `lang` keys the
    * stopword list ([[TextStats.stopwordsFor]] — the LangId function-word
    * table for 28 languages, `en` = the shipped default); for languages
    * with no whitespace function words (th/zh/ja/ko) the list is empty
    * and the minimum-stopword-hits gate is DISABLED (a ≥2 floor against
    * an empty list would reject every document) — the other nine Gopher
    * gates still apply.
    */
  def withRepetitionSignals(df: DataFrame, textCol: String, ngramN: Int = 5,
      lang: String = "en"): DataFrame = {
    val stopwords = TextStats.stopwordsFor(lang)
    val text = col(textCol)
    val lineStats = dupGroupStats(segments(text, "\n"))
    val paraStats = dupGroupStats(segments(text, "\n{2,}"))
    val withSignals = df
      .withColumn("token_count", size(TextStats.tokens(text)))
      .withColumn("mean_word_len", TextStats.meanTokenLength(text))
      .withColumn("__ls", lineStats)
      .withColumn("__ps", paraStats)
      .withColumn("dup_line_frac", dupSegmentFraction(col("__ls")))
      .withColumn("dup_line_char_frac", dupSegmentCharFraction(col("__ls")))
      .withColumn("dup_para_frac", dupSegmentFraction(col("__ps")))
      .withColumn("dup_para_char_frac", dupSegmentCharFraction(col("__ps")))
      .withColumn("dup_ngram_cov", dupNgramCoverage(text, ngramN))
      .withColumn("bullet_line_frac", bulletLineFraction(text))
      .withColumn("ellipsis_line_frac", ellipsisLineFraction(text))
      .withColumn("alpha_word_frac", alphaWordFraction(text))
      .withColumn("stopword_hits",
        size(array_intersect(TextStats.tokens(lower(text)), lit(stopwords.toArray))))
      .drop("__ls", "__ps")
    withSignals.withColumn("keep_full",
      gopherKeepFull(
        col("token_count"), col("mean_word_len"),
        col("dup_line_frac"), col("dup_line_char_frac"),
        col("dup_para_frac"), col("dup_para_char_frac"),
        col("dup_ngram_cov"), col("bullet_line_frac"),
        col("ellipsis_line_frac"), col("alpha_word_frac"),
        col("stopword_hits"),
        minStopwordHits = if (stopwords.isEmpty) 0 else 2))
  }

  /** The Gopher quality measures `token_count`, `top_ngram_frac`,
    * `mean_word_len`, `dup_line_frac` and `symbol_ratio`, plus the `keep`
    * decision ([[gopherKeep]]). One native kernel
    * ([[graft.ops.expr.SigKernels.qualitySignals]]) computes all five from
    * the UTF-8 bytes in a single struct, computed once and read field by
    * field; the values are those of the HOF formulations
    * (`size(`[[TextStats.tokens]]`)`, [[topNgramFraction]] over [[ngrams]],
    * [[TextStats.meanTokenLength]], [[duplicateLineFraction]],
    * [[symbolToWordRatio]]), with the same column types and nullability, a
    * null text included. Those formulations split, regex-match and fold
    * every document once per measure, interpreted per token.
    *
    * `keep` is a field of the same struct: Catalyst pushes a filter on
    * `keep` below the projection and substitutes its definition, so a
    * `keep` built from the three measures costed five more kernel calls in
    * the filter; one field costs one.
    */
  def withQualitySignals(df: DataFrame, textCol: String, ngramN: Int = 2): DataFrame = {
    val q = "__quality"
    df.withColumn(q, graft.ops.expr.NativeSig.qualitySignals(col(textCol), ngramN))
      .withColumns(scala.collection.immutable.ListMap(
        Seq("token_count", "top_ngram_frac", "mean_word_len", "dup_line_frac", "symbol_ratio",
          "keep").map(f => f -> col(s"$q.$f")): _*))
      .drop(q)
  }
}
