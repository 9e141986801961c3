package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming counterparts of the corpus-cleaning operators. The dftly
  * expression layer is stateless and works on streams unchanged; dedup is the
  * one operator that needs state, and unbounded state is the thing that kills
  * streaming jobs at scale — everything here bounds it with a watermark.
  */
object StreamingOps {

  /** Exact dedup on a stream with BOUNDED state: duplicates arriving within
    * the watermark delay are dropped; state for keys older than the watermark
    * is evicted. Dedup key is the same 128-bit content digest as the batch
    * operator (full content never enters the state store — 32 bytes per key).
    */
  def dedupExactWithinWatermark(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      delay: String
  ): DataFrame = {
    val contentKey = md5(to_binary(to_json(struct(keyCols.map(col): _*)), lit("utf-8")))
    df.withColumn("__content_key", contentKey)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__content_key")
      .drop("__content_key")
  }

  /** NEAR-duplicate candidate pairs on a stream with BOUNDED state — the
    * streaming counterpart of [[Dedup.simhashNearDuplicatePairs]], same
    * signature construction (whitespace tokens → codegen'd 64-bit SimHash)
    * and same pigeonhole guarantee: cut into `maxHamming + 1` chunks, any
    * pair within `maxHamming` bit flips shares at least one exact chunk.
    *
    * Shape: signatures and band keys are STATELESS map-side columns; the
    * only state is the stream–stream self-join on (chunk, chunk_val) with a
    * ±`delay` event-time bound, so the state store holds exactly the last
    * `delay` of (id, ts, sig, band) rows per side — ~40 bytes × chunks per
    * doc, watermark-evicted. Verification (`bit_count(xor) <= maxHamming`)
    * is inline in the join output, as in batch.
    *
    * Contract differences from batch, both inherent to streams:
    *   - a pair sharing several chunks emits once per shared chunk (batch
    *     runs `.distinct()`; on a stream that is another stateful agg —
    *     compose [[dedupExactWithinWatermark]] over (id_a, id_b) downstream
    *     if exactly-once pairs matter);
    *   - only pairs arriving within `delay` of each other are found — the
    *     watermark IS the dedup horizon, which is the standard trade for
    *     bounded state (no skew cap needed: the horizon bounds bucket size).
    */
  def simhashPairsWithinWatermark(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      delay: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val sigs = df
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        split(col(textCol), "\\s+").as("toks"))
      .select(col("id"), col("ts"),
        graft.ops.expr.NativeSig.simhash64(col("toks")).as("sig"))
    hammingPairsWithinWatermark(sigs, "id", "sig", "ts", delay, maxHamming)
  }

  /** Near-duplicate pairs over ANY precomputed 64-bit signature column on
    * a stream — the engine behind [[simhashPairsWithinWatermark]],
    * exposed so the multimodal fingerprint families ride the same bounded
    * state: perceptual image hashes ([[Multimodal.imagePHashes]]), audio
    * energy contours, video majority signatures. Null signatures
    * (undecodable media) are dropped before banding, matching the batch
    * engine's contract. Same pigeonhole guarantee, same per-row state
    * budget (~40 bytes × chunks), same emit-per-shared-chunk and
    * watermark-horizon trades as the simhash form.
    */
  def hammingPairsWithinWatermark(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      tsCol: String,
      delay: String,
      maxHamming: Int = 3
  ): DataFrame = {
    // maxHamming = 0 means ONE 64-bit chunk: chunkMask handles the JVM
    // (1L << 64) == 1L quirk, and bucketing on the full signature keeps
    // the bounded-state contract (exact-signature matches only).
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    // same contract as the batch engine: the null filter is for
    // undecodable-media nulls, not for masking a mistyped column
    val sigType = df.schema(sigCol).dataType
    require(Seq(
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
      .contains(sigType),
      s"hammingPairsWithinWatermark needs an integral 64-bit signature " +
        s"column; '$sigCol' is ${sigType.catalogString} — parse/convert it " +
        "first (a silent cast would drop every row as null)")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    val sigs = df
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), col("ts"), col("sig"),
        explode(array((0 until nChunks).map { c =>
          struct(
            lit(c).as("chunk"),
            shiftrightunsigned(col("sig"), c * chunkBits)
              .bitwiseAND(lit(Dedup.chunkMask(chunkBits))).as("chunk_val"))
        }: _*)).as("cc"))
      .select(col("id"), col("ts"), col("sig"), col("cc.chunk").as("chunk"),
        col("cc.chunk_val").as("chunk_val"))
      .withWatermark("ts", delay)
    val a = sigs.select(col("id").as("id_a"), col("ts").as("ts_a"),
      col("sig").as("sig_a"), col("chunk").as("chunk_a"), col("chunk_val").as("val_a"))
    val b = sigs.select(col("id").as("id_b"), col("ts").as("ts_b"),
      col("sig").as("sig_b"), col("chunk").as("chunk_b"), col("chunk_val").as("val_b"))
    a.join(b,
        col("chunk_a") === col("chunk_b") &&
          col("val_a") === col("val_b") &&
          col("id_a") < col("id_b") &&
          // event-time bound — REQUIRED for state eviction in a
          // stream-stream join; also the semantic dedup horizon
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $delay") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $delay"))
      .select(
        col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"),
        col("ts_a"), col("ts_b"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs on a stream with BOUNDED state —
    * the streaming counterpart of [[Similarity.cosineNearDuplicatePairs]]
    * and the sign-bit analogue of [[simhashPairsWithinWatermark]]: the same
    * deterministic random-hyperplane tables as batch (seed-compatible, so a
    * batch backfill and the live stream bucket identically), a pair
    * qualifies by colliding in ANY of `numTables` sign-bit buckets, and the
    * exact cosine verifies inline in the join output.
    *
    * Shape: signatures are STATELESS map-side columns (one fused
    * [[graft.ops.expr.NativeSig.signBitSignature]] kernel per table); the
    * only state is the stream–stream self-join on (table, sig) with a
    * ±`delay` event-time bound. Each side's state store holds the last
    * `delay` of (id, ts, vector, table, sig) rows — vectors must ride the
    * state (the verify needs them; there is no second stream to join back
    * to), so state is ~`numTables` × vector bytes per doc within the
    * horizon, watermark-evicted. No maxBucketSize cap is needed: the
    * horizon bounds bucket membership by time, not count.
    *
    * Contract (same trades as [[simhashPairsWithinWatermark]], both
    * inherent to streams):
    *   - a pair colliding in several tables emits once per shared table —
    *     compose [[dedupExactWithinWatermark]] over (id_a, id_b) downstream
    *     for exactly-once pairs;
    *   - only pairs arriving within `delay` of each other are found — the
    *     watermark IS the dedup horizon;
    *   - recall is the batch LSH model's (1−(1−(1−θ/π)^p)^t); size
    *     `planesPerTable`/`numTables` with [[Similarity.lshParamsFor]]
    *     against the expected docs-per-horizon, not the corpus size.
    */
  def cosinePairsWithinWatermark(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tsCol: String,
      delay: String,
      threshold: Double,
      dim: Int,
      planesPerTable: Int = 12,
      numTables: Int = 4
  ): DataFrame = {
    require(planesPerTable >= 1 && planesPerTable <= 63,
      s"planesPerTable must be in [1, 63], got $planesPerTable")
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    val tables = (0 until numTables).map { t =>
      struct(lit(t).as("table"),
        Similarity.signBitSignature(col(vecCol),
          Similarity.hyperplanes(planesPerTable, dim, seed = 42L + t)).as("sig"))
    }
    val buckets = df
      .select(col(idCol).as("id"), col(tsCol).as("ts"), col(vecCol).as("v"),
        explode(array(tables: _*)).as("tb"))
      .select(col("id"), col("ts"), col("v"),
        col("tb.table").as("table"), col("tb.sig").as("sig"))
      .withWatermark("ts", delay)
    val a = buckets.select(col("id").as("id_a"), col("ts").as("ts_a"),
      col("v").as("v_a"), col("table").as("table_a"), col("sig").as("sig_a"))
    val b = buckets.select(col("id").as("id_b"), col("ts").as("ts_b"),
      col("v").as("v_b"), col("table").as("table_b"), col("sig").as("sig_b"))
    a.join(b,
        col("table_a") === col("table_b") &&
          col("sig_a") === col("sig_b") &&
          col("id_a") < col("id_b") &&
          // event-time bound — REQUIRED for state eviction in a
          // stream-stream join; also the semantic dedup horizon
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $delay") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $delay"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"),
        col("ts_a"), col("ts_b"))
      .filter(col("cosine") >= threshold)
  }

  /** MinHash-LSH near-duplicate pairs on a stream with BOUNDED state — the
    * streaming counterpart of [[Dedup.nearDuplicatePairs]], completing the
    * streaming near-dup family (exact / SimHash / cosine / MinHash). Same
    * signature construction as batch, seed-compatible end to end: shingles
    * lower to sorted distinct xxhash64 longs, the fused minhash kernel
    * consumes those longs, and [[Dedup.lshBandHashes]] cuts the signature
    * into the same (band, band_hash) keys — so a batch backfill and the
    * live stream bucket identically (pinned in StreamingSpec).
    *
    * Shape: signatures and band keys are STATELESS map-side columns; the
    * only state is the stream–stream self-join on (band, band_hash) with a
    * ±`delay` event-time bound. The sorted gram-hash array rides the state
    * (the exact-Jaccard verify needs it inline — there is no second stream
    * to join back to), so each side holds ~`bands` × gram-array longs per
    * doc within the horizon, watermark-evicted — the streaming analogue of
    * the batch rule that arrays ride buckets, never per-pair exchanges.
    *
    * Contract (same trades as the SimHash/cosine variants, inherent to
    * streams): a pair sharing several bands emits once per shared band
    * (compose [[dedupExactWithinWatermark]] over (id_a, id_b) downstream
    * for exactly-once pairs); only pairs within `delay` of each other are
    * found — the watermark IS the dedup horizon, and it also bounds bucket
    * membership by time, replacing the batch skew cap.
    */
  def minhashPairsWithinWatermark(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      delay: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // blank docs shingle to an empty array → no band rows (exact dedup owns
    // identical-empty documents, as in batch); guarded on the banding, as
    // in batch, so the shingling is not pushed into a filter and run twice
    val banded = df
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        graft.ops.expr.NativeSig.hashedShingles(col(textCol), shingleN).as("ss"))
      .select(col("id"), col("ts"), col("ss"),
        graft.ops.expr.NativeSig.minhashSignature(col("ss"), numHashes).as("sig"))
      .select(col("id"), col("ts"), col("ss"),
        explode(when(size(col("ss")) > 0,
          Dedup.lshBandHashes(col("sig"), bands, rowsPerBand))).as("bb"))
      .select(col("id"), col("ts"), col("ss"),
        col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
      .withWatermark("ts", delay)
    val a = banded.select(col("id").as("id_a"), col("ts").as("ts_a"),
      col("ss").as("ss_a"), col("band").as("band_a"), col("band_hash").as("hash_a"))
    val b = banded.select(col("id").as("id_b"), col("ts").as("ts_b"),
      col("ss").as("ss_b"), col("band").as("band_b"), col("band_hash").as("hash_b"))
    a.join(b,
        col("band_a") === col("band_b") &&
          col("hash_a") === col("hash_b") &&
          col("id_a") < col("id_b") &&
          // event-time bound — REQUIRED for state eviction in a
          // stream-stream join; also the semantic dedup horizon
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $delay") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $delay"))
      .select(col("id_a"), col("id_b"),
        graft.ops.expr.NativeSig.jaccardSorted(
          col("ss_a"), col("ss_b"), threshold).as("jaccard"),
        col("ts_a"), col("ts_b"))
      .filter(col("jaccard") >= threshold)
  }

  /** Event sessionization: per-key sessions closed after `gap` of
    * inactivity, with count and start/end bounds. Built on Spark's native
    * `session_window` (merging windowed state, watermark-evicted) rather
    * than hand-rolled `flatMapGroupsWithState` — the built-in keeps state in
    * the state store's merging format and survives scale-out/retries with
    * exactly-once semantics for free. Works identically on batch frames.
    *
    * @param delay watermark delay (how late events may arrive); sessions
    *   emit once the watermark passes their end. Pass `null` when the
    *   input stream ALREADY carries a watermark (e.g. chained after
    *   [[dedupExactWithinWatermark]]): Spark's multi-stateful-operator
    *   support forbids re-stamping a watermark mid-chain, so the upstream
    *   one is reused as-is.
    */
  def sessionize(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      gap: String,
      delay: String
  ): DataFrame =
    (if (delay == null) df else df.withWatermark(tsCol, delay))
      .groupBy((keyCols.map(col) :+ session_window(col(tsCol), gap)): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_event"),
        max(col(tsCol)).as("last_event")
      )
      .select(
        keyCols.map(col) ++ Seq(
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("first_event"), col("last_event")
        ): _*
      )
}
