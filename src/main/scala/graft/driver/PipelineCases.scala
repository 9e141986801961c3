package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** Driver queries for YAML pipelines, sampling and mixing, snapshot diff
  * and DSIR data selection.
  */
private[graft] object PipelineCases {

  /** q101/q101b's shared DuckDB replay of the DSIR weight computation:
    * tokens → unigram+bigram gram occurrences → 2-nibble md5 buckets →
    * Laplace-smoothed log-ratio per bucket (target = the doc_id % 7
    * slice of the same corpus) → per-document occurrence sum. Term order
    * inside the ratio matches Dsir.withLogWeights exactly so both engines
    * run the identical IEEE expression.
    */
  private def dsirWeightCtes: String =
    """tok AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '') AS l
      |  FROM documents),
      |uni AS (SELECT doc_id, unnest(l) AS g FROM tok),
      |bi AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS g
      |  FROM (SELECT doc_id, l,
      |          unnest(generate_series(1, len(l) - 1)) AS i FROM tok)),
      |gb AS (SELECT doc_id, substr(md5(g), 1, 2) AS bucket
      |  FROM (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi)),
      |rawc AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS rc
      |  FROM gb GROUP BY bucket),
      |tgtc AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS tc
      |  FROM gb WHERE doc_id % 7 = 0 GROUP BY bucket),
      |tot AS (SELECT (SELECT SUM(rc) FROM rawc) AS cr,
      |               (SELECT COALESCE(SUM(tc), 0) FROM tgtc) AS ct),
      |ratios AS (SELECT r.bucket,
      |    ln(COALESCE(t.tc, 0) + 1) - ln((SELECT ct FROM tot) + 256.0)
      |    - ln(r.rc + 1) + ln((SELECT cr FROM tot) + 256.0) AS lr
      |  FROM rawc r LEFT JOIN tgtc t ON r.bucket = t.bucket),
      |perdoc AS (SELECT gb.doc_id, SUM(rt.lr) AS w
      |  FROM gb JOIN ratios rt USING (bucket) GROUP BY gb.doc_id),
      |weights AS (SELECT d.doc_id, COALESCE(p.w, 0.0) AS w
      |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id)""".stripMargin

  /** DuckDB replay of [[graft.ops.Dsir.gumbelNoise]] for q101b: the first
    * 8 md5 nibbles of `seed:id` decoded digit-by-digit (no hex→int cast in
    * either engine's contract), then the double-log Gumbel transform.
    */
  private def dsirGumbelSql(seed: Long): String = {
    val h = s"substr(md5('$seed:' || CAST(doc_id AS VARCHAR)), 1, 8)"
    val v = (1 to 8).map { j =>
      val scale = java.lang.Math.pow(16.0, (8 - j).toDouble).toLong
      s"(strpos('0123456789abcdef', substr($h, $j, 1)) - 1) * $scale.0"
    }.mkString("(", " + ", ")")
    s"-ln(-ln(($v + 0.5) / 4294967296.0))"
  }

  /** q50's pipeline, which q50b checks. */
  private def e2eCuration(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pipeline.runOnDir(s,
      """source: documents
        |steps:
        |  - qualitySignals: text
        |  - filter: $token_count >= 5
        |  - dedupExact: {id: doc_id, keys: [text]}
        |  - redact: {text: text, as: clean}
        |  - shuffle: {id: doc_id, seed: 13}
        |  - pack: {id: doc_id, text: clean, seqTokens: 128, orderBy: [pos]}
        |""".stripMargin, dir)

  val cases: Seq[Case] = Seq(
    // Rollup aggregation through the pipeline verb — subtotal rows per
    // returnflag and a grand total, aggregates integral-valued so the
    // oracle hash-matches exactly.
    Case("q43_rollup", (s, dir) =>
      graft.pipeline.Pipeline.runOnDir(s,
        """source: lineitem
          |steps:
          |  - groupBy: {cols: [l_returnflag, l_linestatus], mode: rollup}
          |    agg:
          |      total_qty: {sum: $l_quantity}
          |      n: {count: "*"}
          |""".stripMargin, dir),
      Sql("""SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS total_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),
    // Multiset set-ops through the pipeline verb: order keys with no
    // lineitem rows (EXCEPT ALL == anti-join here since keys are unique).
    Case("q44_setops", (s, dir) =>
      graft.pipeline.Pipeline.runOnDir(s,
        """source: orders
          |steps:
          |  - select: {o_orderkey: $o_orderkey}
          |  - except: {table: lineitem, cols: [l_orderkey], all: true}
          |""".stripMargin, dir),
      Sql("""SELECT o_orderkey FROM orders
        |EXCEPT ALL
        |SELECT l_orderkey FROM lineitem""".stripMargin)),
    // END-TO-END curation showcase: the whole training-data pipeline in one
    // YAML config — quality signals → filter → exact dedup → PII redaction
    // → seeded global shuffle → sequence packing of the shuffled epoch.
    // Shuffle order is engine-specific (xxhash64) → rows-only driver check;
    // every verb is individually oracle-checked elsewhere.
    Case("q50_e2e_curation", e2eCuration,
      Exempt("xxhash64 shuffle order is engine-specific; property companion q50b_e2e_props")),
    // E2E INTEGRATION PROPERTY oracle for q50: DuckDB independently pushes
    // token counts through the whole pipeline (filter ∘ dedup are
    // order-insensitive here: distinct texts with ≥5 tokens; redaction is
    // token-count-neutral on this corpus — verified zero PII matches) and
    // derives the exact expected sequence set 0..ceil(total/128)-1. The
    // row-set compare then enforces: right NUMBER of sequences, contiguous
    // ids, and every non-tail sequence slot-exact at 128 — across a shuffle
    // order DuckDB cannot see.
    Case("q50b_e2e_props", (s, dir) => {
      val frags = e2eCuration(s, dir)
      val perSeq = frags.groupBy(col("seq_id")).agg(sum(col("n_tokens")).as("filled"))
      perSeq
        .crossJoin(broadcast(perSeq.agg(max(col("seq_id")).as("__mx"))))
        .select(col("seq_id"),
          (col("filled") === 128 || col("seq_id") === col("__mx")).as("ok"))
    },
      Sql(s"""WITH kept AS (
         |  SELECT DISTINCT text,
         |    len(list_filter(string_split_regex(text, '$wsClassSql'), x -> x <> ''))::BIGINT AS n
         |  FROM documents
         |)
         |SELECT unnest(range(0,
         |  (SELECT ((sum(n) + 127) // 128)::BIGINT FROM kept WHERE n >= 5))) AS seq_id,
         |  TRUE AS ok""".stripMargin)),
    // Corpus snapshot diff: two derived snapshots of the documents table
    // (old drops %7 ids; new drops %11 ids and rewrites %5 texts), then
    // the content-hash full-outer diff — added/removed/changed/unchanged
    // per id. (id, md5) is all the exchange carries; the oracle replays
    // the identical join and CASE.
    Case("q71_snapshot_diff", (s, dir) => {
      val d = t(s, dir, "documents")
      val old = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"))
      val neu = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.ops.SnapshotDiff.diff(old, neu, "doc_id", Seq("text"))
    },
      // The same derived snapshots, hashes, full-outer join, and CASE.
      Sql("""WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
        |      FROM documents WHERE doc_id % 11 <> 0)
        |SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h = n.h THEN 'unchanged' ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin)),
    // Config-driven relational pipeline (graft.pipeline): join + groupBy +
    // aggregation verbs around the dftly expression core. Aggregates chosen
    // to be FP-exact (integral sums, count, max) so the oracle hash-matches.
    // Pipeline window verb under the oracle gate: latest order per customer
    // with the previous price alongside (rank + lag over one window spec).
    Case("q34_pipeline_window", (s, dir) =>
      graft.pipeline.Pipeline.runOnDir(s,
        """source: orders
          |steps:
          |  - window:
          |      partitionBy: [o_custkey]
          |      orderBy: [-o_orderdate, o_orderkey]
          |      cols:
          |        rk: row_number
          |        prev_price: {lag: $o_totalprice}
          |  - filter: $rk == 1
          |  - select:
          |      o_custkey: $o_custkey
          |      o_orderkey: $o_orderkey
          |      prev_price: $prev_price ?? -1.0
          |""".stripMargin, dir),
      Sql("""SELECT o_custkey, o_orderkey, coalesce(prev_price, -1.0) AS prev_price
        |FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER w AS rk,
        |    lag(o_totalprice) OVER w AS prev_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey)
        |) WHERE rk = 1""".stripMargin)),
    Case("q22_pipeline", (s, dir) =>
      graft.pipeline.Pipeline.runOnDir(s,
        """source: lineitem
          |steps:
          |  - join: {table: orders, on: {l_orderkey: o_orderkey}, how: inner}
          |  - filter: $o_orderstatus == 'F'
          |  - groupBy: [l_returnflag]
          |    agg:
          |      total_qty: {sum: $l_quantity}
          |      n: {count: "*"}
          |      max_price: {max: $l_extendedprice}
          |""".stripMargin, dir),
      Sql("""SELECT l_returnflag,
        |  sum(l_quantity) AS total_qty,
        |  count(*) AS n,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY l_returnflag""".stripMargin)),
    // Deterministic content-keyed sampling (ops/Sampling.scala): unlike
    // df.sample (partition-order RNG) the md5-rank decision is a pure row
    // property, so the EXACT selected row set replays in DuckDB — the
    // oracle compares rows, not statistics (contrast q28's tolerance gate).
    // Map-only: zero shuffle at any scale.
    Case("q57_sample_det", (s, dir) =>
      graft.ops.Sampling.deterministicSample(
        t(s, dir, "documents"), "doc_id", fraction = 0.25, seed = 7L)
        .select(col("doc_id"), col("source"), col("n_chars")),
      Sql(s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)
         |      < '${graft.ops.Sampling.thresholdHex(0.25)}'""".stripMargin)),
    // Exact k-per-stratum sample via the salted two-phase window; the
    // oracle replays the full ranking in one window (small data) and must
    // produce the identical row set the salted plan does.
    Case("q57b_stratified", (s, dir) =>
      graft.ops.Sampling.topKPerStratum(
        t(s, dir, "documents"), Seq("source"), 10, "doc_id", seed = 7L)
        .select(col("source"), col("doc_id")),
      Sql("""SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13),
        |               doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin)),
    // Exact-count data mixture: largest-remainder allocation of a 200-row
    // budget at weights .5/.3/.2 over three disjoint pseudo-sources; the
    // oracle re-derives each source's smallest-rank rows with the same
    // embedded allocation constants.
    Case("q57c_mix", (s, dir) => {
      val d = t(s, dir, "documents")
      val srcs = Seq(
        "web" -> d.filter(col("doc_id") % 3 === 0),
        "book" -> d.filter(col("doc_id") % 3 === 1),
        "code" -> d.filter(col("doc_id") % 3 === 2))
      graft.ops.Sampling.mixCorpora(
        srcs, Seq("web" -> 0.5, "book" -> 0.3, "code" -> 0.2),
        totalRows = 200, keyCol = "doc_id", seed = 7L)
        .select(col("mix_source"), col("doc_id"))
    },
      Sql {
        // same allocation code path the Spark query uses — the constants
        // cannot drift between the two sides
        val ks = graft.ops.Sampling
          .allocate(Seq("web" -> 0.5, "book" -> 0.3, "code" -> 0.2), 200).toMap
        Seq("web" -> 0, "book" -> 1, "code" -> 2).map { case (n, m) =>
          s"""SELECT mix_source, doc_id FROM (
             |  SELECT '$n' AS mix_source, doc_id,
             |    row_number() OVER (
             |      ORDER BY substr(md5('7:$n:' || CAST(doc_id AS VARCHAR)), 1, 13),
             |               '$n:' || CAST(doc_id AS VARCHAR)) AS rn
             |  FROM documents WHERE doc_id % 3 = $m) WHERE rn <= ${ks(n)}""".stripMargin
        }.mkString("\nUNION ALL\n")
      }),
    // Fraction-mode mixture — the 100 TB path: map-only Bernoulli per
    // source (no windows, no counts), source name folded into the rank key
    // so overlapping id spaces stay decorrelated.
    Case("q57d_mix_frac", (s, dir) => {
      val d = t(s, dir, "documents")
      val srcs = Seq(
        "even" -> d.filter(col("doc_id") % 2 === 0),
        "odd" -> d.filter(col("doc_id") % 2 === 1))
      graft.ops.Sampling.mixCorporaByFraction(
        srcs, Seq("even" -> 0.3, "odd" -> 0.6), keyCol = "doc_id", seed = 11L)
        .select(col("mix_source"), col("doc_id"))
    },
      Sql(s"""SELECT 'even' AS mix_source, doc_id FROM documents
         |WHERE doc_id % 2 = 0
         |  AND substr(md5('11:even:' || CAST(doc_id AS VARCHAR)), 1, 13)
         |      < '${graft.ops.Sampling.thresholdHex(0.3)}'
         |UNION ALL
         |SELECT 'odd' AS mix_source, doc_id FROM documents
         |WHERE doc_id % 2 = 1
         |  AND substr(md5('11:odd:' || CAST(doc_id AS VARCHAR)), 1, 13)
         |      < '${graft.ops.Sampling.thresholdHex(0.6)}'""".stripMargin)),
    // DSIR importance weights (Dsir.dsirLogWeights): raw = documents,
    // target = the doc_id % 7 slice; hashed unigram+bigram bag models at
    // 256 buckets (md5-prefix bucket keys — the engine-portable hash
    // convention). The oracle replays the ENTIRE computation: token
    // lists, bigram adjacency, bucket hashing, Laplace-smoothed log
    // ratios and the per-document occurrence sum.
    Case("q101_dsir_weights", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.Dsir.dsirLogWeights(
          d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
          nibbles = 2, maxN = 2)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"))
    },
      Sql(s"""WITH $dsirWeightCtes
         |SELECT doc_id, round(w, 6) AS log_weight FROM weights""".stripMargin)),
    // DSIR Gumbel top-k selection (Dsir.dsirSample): the 100 largest
    // log_weight + Gumbel(seed:id) keys — an exact softmax sample without
    // replacement, md5-derived noise so the oracle re-ranks the identical
    // keys (nibble-decoded uniform, double-log Gumbel transform) and must
    // select the same 100 documents.
    Case("q101b_dsir_sample", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.Dsir.dsirSample(
          d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
          k = 100, nibbles = 2, maxN = 2, seed = 9L)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"))
    },
      Sql(s"""WITH $dsirWeightCtes
         |SELECT doc_id, round(w, 6) AS log_weight FROM (
         |  SELECT doc_id, w, w + ${dsirGumbelSql(9L)} AS gkey
         |  FROM weights
         |  ORDER BY gkey DESC, doc_id LIMIT 100)""".stripMargin))
  )
}
