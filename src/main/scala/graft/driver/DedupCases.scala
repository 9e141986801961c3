package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Driver queries for exact, fuzzy, Hamming and segment dedup, clustering,
  * decontamination and substring masking.
  */
private[graft] object DedupCases {

  /** CTE: distinct word-n-gram shingles per document — the oracle
    * counterpart of [[Dedup.shingles]] (used by q29, q38, q47).
    */
  private def shingleCteSqlN(n: Int, name: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) = 0 THEN []
       |         WHEN len(toks) <= $n THEN [array_to_string(toks, ' ')]
       |         ELSE list_distinct([array_to_string(toks[i:i+${n - 1}], ' ')
       |                             for i in generate_series(1, len(toks)-${n - 1})])
       |    END AS grams
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(text, '$wsClassSql'), t -> t <> '') AS toks
       |        FROM documents)
       |)""".stripMargin

  private val shingleCteSql: String = shingleCteSqlN(3, "sh")

  /** Signature corpora for the q82/q93 multi-index Hamming gates. */
  private def sigFixture(s: SparkSession, dir: String, withHot: Boolean): DataFrame = {
    val base = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 3 === 0)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        xxhash64(col("l_orderkey"), col("l_linenumber")).as("sig"))
      .distinct()
    if (!withHot) {
      val planted = base.filter(col("id") % 97 === 0)
        .select((col("id") + 1000000000L).as("id"), col("sig"))
      base.unionByName(planted)
    } else {
      val planted = base.filter(col("id") % 97 === 0)
        .select((col("id") + 1000000000L).as("id"),
          col("sig").bitwiseXOR(lit(0x111111L)).as("sig")) // 6 bit flips
      val hot = s.range(50000)
        .select((col("id") + 5000000000L).as("id"), lit(0x0BADCAFEL).as("sig"))
      base.unionByName(planted).unionByName(hot)
    }
  }

  private val plantedSigs = new FrameFixture(sigFixture(_, _, withHot = false))
  private val hotSigs = new FrameFixture(sigFixture(_, _, withHot = true))

  val cases: Seq[Case] = Seq(
    Case("q13_dedup_exact", (s, dir) =>
      Dedup.markExactDuplicates(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("is_dup")),
      Sql("""SELECT doc_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup
        |FROM documents""".stripMargin)),
    // LSH candidate generation uses xxhash64 banding — engine-specific →
    // rows-only driver check; recall is covered by OpsSpec's planted-dup test.
    Case("q17_minhash_pairs", (s, dir) =>
      Dedup.nearDuplicatePairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Exempt("xxhash64 LSH banding is engine-specific; property companion q17b_minhash_est")),
    Case("q20_simhash_pairs", (s, dir) =>
      Dedup.simhashNearDuplicatePairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming")),
      Exempt("bucket layout is hash-specific; property companion q20b_simhash_props")),
    // SimHash PROPERTY oracle (bucket layout is hash-specific → q20 stays
    // rows-only; this states a recall floor): every text-identical pair
    // MUST be reported — identical text ⇒ identical signature ⇒ hamming 0 ⇒
    // pigeonhole banding cannot miss it. The corpus is unioned with an
    // id-shifted copy of itself on BOTH sides so the guaranteed pair set is
    // non-vacuous (≥ one pair per document).
    Case("q20b_simhash_props", (s, dir) => {
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dd = d0.unionByName(
        d0.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val found = Dedup.simhashNearDuplicatePairs(dd, "doc_id", "text", maxHamming = 8)
        .select(col("id_a"), col("id_b"), lit(1).as("__f"))
      dd.as("x").join(dd.as("y"),
        col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .join(found, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("__f").isNotNull.as("ok"))
    },
      Sql("""WITH dd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS ok
        |FROM dd a JOIN dd b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin)),
    // Exact n-gram Jaccard near-dup pairs via prefix filtering (equi-join on
    // rare prefix shingles — the brute-force formulation is O(n²)-dead past
    // a few thousand docs). Fully oracle-checked: DuckDB computes the same
    // exact output with an all-pairs sweep; nearest pair is 0.4 from the
    // threshold. Cross-checks q17 (MinHash+LSH finds the same pairs).
    Case("q29_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Sql(s"""WITH $shingleCteSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.grams, b.grams))::DOUBLE
         |        / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
         |  AND len(list_intersect(a.grams, b.grams))::DOUBLE
         |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5""".stripMargin)),
    // Dup-FAMILY clustering: connected components over the exact-Jaccard
    // pair graph (distributed min-label propagation with pointer jumping);
    // members get the family min id, singletons keep their own id, and the
    // min-id representative of each family is the keeper.
    Case("q38_cluster", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      graft.ops.Cluster.assignClusters(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster"),
          (col("doc_id") === col("cluster")).as("keep"))
    },
      // Transitive closure by recursive CTE (UNION dedup = fixpoint): exactly
      // the semantics the distributed pointer-jumping loop must reproduce.
      Sql(s"""WITH RECURSIVE $shingleCteSql, pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
         |    AND len(list_intersect(a.grams, b.grams))::DOUBLE
         |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
         |), edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach AS (
         |  SELECT u AS v, u AS r FROM edges
         |  UNION
         |  SELECT u AS v, v AS r FROM edges
         |  UNION
         |  SELECT reach.v AS v, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
         |), comp AS (
         |  SELECT v, min(r) AS comp FROM reach GROUP BY v
         |)
         |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster,
         |  d.doc_id = coalesce(c.comp, d.doc_id) AS keep
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.v""".stripMargin)),
    // MinHash signature ESTIMATES vs exact Jaccard, on the exactly-known
    // pair set: |estimate − exact| ≤ 0.25 (4σ at k=64) for every pair. The
    // signatures are deterministic (fixed coefficients), so this either
    // always passes or catches a real estimator/kernel regression — it
    // upgrades q17's rows-only status to an oracle-checked claim about
    // MinHash itself.
    Case("q17b_minhash_est", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      val sigs = docs
        .select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
        .select(col("id"), graft.ops.expr.NativeSig.minhashSignature(col("sh"), 64).as("sig"))
      val est = size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), b => b)).cast("double") / 64
      pairs
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (abs(est - col("jaccard")) <= 0.25).as("est_ok"))
    },
      // The oracle asserts TRUE for exactly the q29 pair set: the estimate
      // bound is the Spark-side claim, the pair membership is DuckDB's.
      Sql(s"""WITH $shingleCteSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS est_ok
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
         |  AND len(list_intersect(a.grams, b.grams))::DOUBLE
         |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5""".stripMargin)),
    // Benchmark decontamination: training docs sharing a word 8-gram with
    // the eval subset (doc_id % 7 == 0 — every eval doc is its own train
    // hit, plus any true cross-document overlaps).
    Case("q47_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontam.markContaminated(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") % 7 === 0), "text", n = 8)
        .select(col("doc_id"), col("contaminated"))
    },
      Sql(s"""WITH ${shingleCteSqlN(8, "sh8")},
         |tg AS (SELECT doc_id, unnest(grams) AS g FROM sh8),
         |eg AS (SELECT DISTINCT unnest(grams) AS g FROM sh8 WHERE doc_id % 7 = 0),
         |hits AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g))
         |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin)),
    // Per-eval-doc contamination FRACTION (the graded number benchmark
    // cards report, vs q47's binary train-side mark): eval = doc_id%7==0,
    // train = the REST of the corpus (eval docs excluded, else every
    // fraction is trivially 1.0) — fractions measure true cross-document
    // 8-gram overlap. DuckDB replays shingling + the distinct-gram
    // semi-join + per-doc counting verbatim.
    Case("q81_contamination_frac", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontam.contaminationFraction(
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 7 =!= 0), "text", n = 8)
    },
      Sql(s"""WITH ${shingleCteSqlN(8, "sh8")},
         |eg AS (SELECT doc_id, unnest(grams) AS g FROM sh8 WHERE doc_id % 7 = 0),
         |tg AS (SELECT DISTINCT unnest(grams) AS g FROM sh8 WHERE doc_id % 7 <> 0),
         |per AS (
         |  SELECT eg.doc_id, count(*) AS n_grams, count(tg.g) AS n_seen
         |  FROM eg LEFT JOIN tg ON eg.g = tg.g
         |  GROUP BY eg.doc_id
         |)
         |SELECT d.doc_id AS eval_id,
         |  coalesce(per.n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(per.n_seen, 0)::BIGINT AS n_seen,
         |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
         |       ELSE per.n_seen::DOUBLE / per.n_grams END AS contamination
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
         |LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin)),
    // MULTI-INDEX HAMMING COLLAPSE GATE: the corpus regime where the old
    // 1-of-(h+1) banding silently lost everything. At h=10 banding has
    // 11 × 2⁵ = 352 corpus-wide buckets; at sf0.1 this corpus is ~200k
    // signatures (lineitem ÷ 3, ~6.3k rows per banded bucket ≫ the 1000
    // cap) — the old shape dropped every bucket and emitted ZERO pairs
    // (pinned with truncation stats in MultiIndexHammingSpec). The
    // dispatcher now routes h ≥ 5 to multi-index search (4 × 16-bit
    // substrings, radius-2 ball probes — Norouzi et al., CVPR'12), whose
    // key space never collapses. Planted identical-signature duplicates
    // (id + 10⁹) are the floor; the oracle derives them arithmetically —
    // hamming-0 pairs are exactly the planted copies (xxhash64 collisions
    // across ~2×10⁵ keys: P ≈ 1e-9).
    Case("q82_mih_collapse_gate", (s, dir) => {
      // sig corpus in sigFixture (distinct: the synthetic lineitem repeats
      // (orderkey, linenumber) pairs, and a repeated key is a repeated id
      // AND sig — one item)
      graft.ops.Dedup.hammingNearDuplicatePairs(
          plantedSigs(s, dir), "id", "sig",
          maxHamming = 10, maxBucketSize = 1000)
        .filter(col("hamming") === 0)
        .select(col("id_a"), col("id_b"))
    },
      // Hamming-0 pairs are exactly the planted (id, id + 10⁹) copies: the
      // oracle derives the pair set arithmetically — it cannot compute
      // Spark's xxhash64, but it doesn't need to: equal keys ⇒ equal sigs
      // (hamming 0, the floor the engine MUST find), and distinct keys
      // colliding in xxhash64 across ~2×10⁵ rows has P ≈ 1e-9.
      Sql("""SELECT id AS id_a, id + 1000000000 AS id_b
        |FROM (SELECT DISTINCT (l_orderkey * 10 + l_linenumber) AS id
        |      FROM lineitem WHERE l_orderkey % 3 = 0)
        |WHERE id % 97 = 0""".stripMargin),
      fixture = Some(plantedSigs)),
    // DUPLICATE-HEAVY MULTI-INDEX GATE (the r11 probe-side skew regime):
    // 50k copies of ONE signature — pixel-identical re-encodes, the
    // canonical near-dup population — alongside ~sf-scaled distinct sigs
    // with planted 6-bit-flip near pairs. The distinct-signature engine
    // must (a) find every planted DISTINCT-sig pair through the hot
    // regime, and (b) pair every hot copy with the group keeper (min id)
    // via the linear star join-back — both families arithmetically
    // oracle-able, and nothing quadratic crosses an exchange
    // (MultiIndexHammingSpec pins the per-task shuffle bound at k=100k).
    Case("q93_mih_dupheavy_gate", (s, dir) => {
      graft.ops.Dedup.hammingNearDuplicatePairs(
          hotSigs(s, dir), "id", "sig",
          maxHamming = 10, maxBucketSize = 1000)
        // the two arithmetically-derivable families: planted near pairs
        // (ids differ by exactly 1e9, hamming = popcount(0x111111) = 6)
        // and hot-group keeper-star pairs (keeper = 5e9, hamming 0);
        // retained-sample in-group pairs are cap-arbitrary and excluded
        .filter((col("hamming") === 6 &&
            col("id_b") === col("id_a") + 1000000000L) ||
          (col("hamming") === 0 && col("id_a") === 5000000000L))
        .select(col("id_a"), col("id_b"),
          when(col("hamming") === 6, lit("near")).otherwise(lit("star"))
            .as("kind"))
    },
      // Both q93 families are pure arithmetic: planted pairs are (id,
      // id + 1e9) for id % 97 = 0 (equal keys ⇒ sigs differing by exactly
      // the 6 planted bit flips; accidental pairs would also need ids
      // differing by exactly 1e9 — impossible across the id ranges), and
      // the hot group's keeper-star pairs are (5e9, 5e9 + x) for x in
      // 1..49999 (keeper = min id of the 50k-copy group).
      Sql("""SELECT id AS id_a, id + 1000000000 AS id_b, 'near' AS kind
        |FROM (SELECT DISTINCT (l_orderkey * 10 + l_linenumber) AS id
        |      FROM lineitem WHERE l_orderkey % 3 = 0)
        |WHERE id % 97 = 0
        |UNION ALL
        |SELECT 5000000000 AS id_a, 5000000000 + x AS id_b, 'star' AS kind
        |FROM unnest(generate_series(1, 49999)) t(x)""".stripMargin),
      fixture = Some(hotSigs)),
    // AUTO-TUNED MinHash banding under the q20b recall-floor construction:
    // minhashParamsFor picks (numHashes, bands) from the threshold via the
    // S-curve 1-(1-s^r)^b — the MinHash counterpart of q19d's cosine auto
    // path. The floor is parameter-independent: identical text ⇒ identical
    // shingle set ⇒ identical minhash signature at ANY (h, b) ⇒ same band
    // hash in every band, and jaccard = 1 passes any threshold — so the
    // planted identical pairs MUST be reported whatever the tuner chose.
    Case("q96_minhash_auto_props", (s, dir) => {
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(size(graft.ops.Dedup.shingles(col("text"), 3)) > 0)
      val dd = d0.unionByName(
        d0.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val found = graft.ops.Dedup.nearDuplicatePairsAuto(dd, "doc_id", "text",
          threshold = 0.8, targetRecall = 0.9, maxBucketSize = Int.MaxValue)
        .select(col("id_a"), col("id_b"), lit(1).as("__f"))
      dd.as("x").join(dd.as("y"),
        col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .join(found, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("__f").isNotNull.as("ok"))
    },
      // auto-tuned MinHash recall floor: identical-text pairs (original ×
      // id-shifted copy) must all be found — ok is constructively TRUE.
      // Docs with no shingles (blank text) are excluded on both sides.
      Sql(s"""WITH $shingleCteSql, nz AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN sh ON sh.doc_id = d.doc_id WHERE len(sh.grams) > 0
         |), dd AS (
         |  SELECT doc_id, text FROM nz
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM nz
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS ok
         |FROM dd a JOIN dd b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin)),
    // Cross-corpus segment (line) dedup, keep-first mode: every document
    // wrapped in the SAME header/footer lines — corpus-wide line dedup
    // must keep each shared line exactly once (at its minimal
    // (doc_id, position) occurrence) and keep unique body lines where
    // they stand. Oracle replays the full keep-first window arithmetic.
    Case("q89_segment_dedup", (s, dir) => {
      val wrapped = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Shared header boilerplate.\n"), col("text"),
          lit("\nShared footer boilerplate.")).as("text"))
      graft.ops.Dedup.dedupSegmentsAcrossCorpus(wrapped, "doc_id", "text")
        .select(col("doc_id"), col("text_dedup"), col("n_segments_removed"))
    },
      // keep-first segment dedup: the full window arithmetic — a segment
      // survives only at its minimal (doc_id, pos) corpus occurrence.
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |    'Shared header boilerplate.' || chr(10) || text || chr(10) ||
        |      'Shared footer boilerplate.' AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS seg,
        |    unnest(generate_series(1, len(string_split(t, chr(10))))) AS pos
        |  FROM d),
        |r AS (
        |  SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM s)
        |SELECT doc_id,
        |  coalesce(string_agg(seg, chr(10) ORDER BY pos)
        |    FILTER (WHERE rn = 1), '') AS text_dedup,
        |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_segments_removed
        |FROM r GROUP BY doc_id""".stripMargin)),
    // unique_only mode: lines occurring more than once corpus-wide vanish
    // EVERYWHERE (the aggressive CCNet hash-sharding behavior) — the
    // shared header/footer disappear from every document, and a body line
    // survives only if its text is corpus-unique.
    Case("q89b_segment_dedup_unique", (s, dir) => {
      val wrapped = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Shared header boilerplate.\n"), col("text"),
          lit("\nShared footer boilerplate.")).as("text"))
      graft.ops.Dedup.dedupSegmentsAcrossCorpus(wrapped, "doc_id", "text",
          mode = "unique_only")
        .select(col("doc_id"), col("text_dedup"), col("n_segments_removed"))
    },
      Sql("""WITH d AS (
        |  SELECT doc_id,
        |    'Shared header boilerplate.' || chr(10) || text || chr(10) ||
        |      'Shared footer boilerplate.' AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS seg,
        |    unnest(generate_series(1, len(string_split(t, chr(10))))) AS pos
        |  FROM d),
        |r AS (
        |  SELECT doc_id, pos, seg,
        |    count(*) OVER (PARTITION BY seg) AS c
        |  FROM s)
        |SELECT doc_id,
        |  coalesce(string_agg(seg, chr(10) ORDER BY pos)
        |    FILTER (WHERE c = 1), '') AS text_dedup,
        |  sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_segments_removed
        |FROM r GROUP BY doc_id""".stripMargin)),
    // Connected-components SHUFFLE-regime stress pin: a synthetic 50k-node
    // path-block graph (chains of 16 — pointer jumping needs ~5 rounds)
    // forced past both fast paths (localSolveMaxEdges=0,
    // broadcastMaxLabelRows=0), so the 100 TB code path stays under the
    // oracle gate and the bench. Components are closed-form:
    // component(id) = (id div 16) * 16.
    Case("q48_cluster_shuffle", (s, dir) => {
      val n = 50000L
      val k = 16L
      val edges = s.range(n - 1).filter((col("id") + 1) % k =!= 0)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      graft.ops.Cluster.connectedComponents(edges,
        broadcastMaxLabelRows = 0L, localSolveMaxEdges = 0L)
    },
      Sql("""SELECT g AS id, (g // 16) * 16 AS component
        |FROM generate_series(0, 49999) t(g)""".stripMargin)),
    // SUBSTRING-level dedup: corpus-repeated 8-token windows masked out of
    // every document. Fully oracle-checked: DuckDB reconstructs the window
    // frequency table on the window STRINGS and re-derives the masked text;
    // the Spark side groups on xxhash64(window) — equivalent up to 64-bit
    // hash collisions (~(distinct windows)²/2^64, immaterial at any tested
    // scale).
    Case("q52_substring_mask", (s, dir) =>
      Dedup.maskRepeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 8, minRepeats = 2)
        .select(col("doc_id"), col("text_clean"),
          col("n_repeated_windows"), col("n_tokens_removed")),
      // Window positions are 1-based here (generate_series/list slicing) vs
      // 0-based in Spark — positions never cross engines, only the masked
      // text does, and the coverage predicate `p <= j < p + 8` is consistent
      // within each side.
      Sql(s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '$wsClassSql'), x -> x <> '') AS toks
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, unnest([{'pos': i, 'win': array_to_string(toks[i:i+7], ' ')}
         |                         for i in generate_series(1, len(toks) - 7)],
         |                        recursive := true)
         |  FROM t WHERE len(toks) >= 8
         |), rep AS (
         |  SELECT win FROM w GROUP BY win HAVING count(*) >= 2
         |), occ AS (
         |  SELECT w.doc_id, w.pos FROM w JOIN rep USING (win)
         |), perdoc AS (
         |  SELECT doc_id, list(pos) AS rpos, count(*) AS nrep FROM occ GROUP BY doc_id
         |), m AS (
         |  SELECT t.doc_id, len(toks) AS ntok, coalesce(nrep, 0) AS nrep,
         |    [toks[j] for j in generate_series(1, len(toks))
         |     if len(list_filter(coalesce(rpos, []), p -> p <= j AND j < p + 8)) = 0] AS kept
         |  FROM t LEFT JOIN perdoc USING (doc_id)
         |)
         |SELECT doc_id,
         |  -- array_to_string is a string_agg: NULL on an empty kept list,
         |  -- where the Spark kernel builds '' — coalesce aligns them
         |  coalesce(array_to_string(kept, ' '), '') AS text_clean,
         |  nrep::BIGINT AS n_repeated_windows,
         |  (ntok - len(kept))::BIGINT AS n_tokens_removed
         |FROM m""".stripMargin)),
    // Bloom-filter cross-corpus membership: build a filter of the
    // reference slice's texts (distributed build, OR-merged partials),
    // probe every document map-side. The gate checks the NO-FALSE-
    // NEGATIVE direction exactly — every true member must probe seen, so
    // the output over the reference slice is the slice itself (any build/
    // serialize/probe defect loses members and diffs). The false-positive
    // rate is probabilistic by design and is pinned in BloomSpec instead.
    Case("q70_bloom_seen", (s, dir) => {
      val docs = t(s, dir, "documents")
      val reference = docs.filter(col("doc_id") % 5 === 0)
      val bloom = graft.ops.Decontam.buildBloom(
        reference, "text", expectedItems = 1000L)
      graft.ops.Decontam.markSeenBloom(docs, "text", bloom)
        .filter(col("doc_id") % 5 === 0 && col("seen"))
        .select(col("doc_id"))
    },
      // No-false-negative oracle: the reference slice must re-emerge whole.
      Sql("SELECT doc_id FROM documents WHERE doc_id % 5 = 0")),
    // Text normalization + normalized-exact dedup: case/punctuation/
    // whitespace variants collapse to one hash key.
    Case("q37_normalize", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("norm", graft.ops.Corpus.normalizeText(col("text")))
      Dedup.markExactDuplicates(d, "doc_id", Seq("norm"))
        .select(col("doc_id"), col("norm"), col("is_dup"))
    },
      // explicit whitespace class on both sides: Java \s includes \x0B, RE2's
      // does not — the spelled-out class removes the dialect divergence
      Sql("""WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^\w \t\n\x0B\f\r]', '', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM documents
        |)
        |SELECT doc_id, norm,
        |  doc_id <> min(doc_id) OVER (PARTITION BY norm) AS is_dup
        |FROM n""".stripMargin))
  )
}
