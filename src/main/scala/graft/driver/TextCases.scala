package graft.driver

import org.apache.spark.sql.functions._

import graft.SparkEntry.{LangGateEn, LangGateFr, LangGateRu, HtmlFixturePara,
  DeFixturePara, FrFixturePara, EnUnderDePara, MojibakeSuffix, MojibakeCases,
  UnicodeCases, CompressionCases, UrlCanonCases}
import graft.ops.{Dedup, TextStats}

/** Driver queries for text signals and filters: stats, quality and Gopher
  * rules, language id, HTML extraction, encoding repair, redaction, n-gram
  * models.
  */
private[graft] object TextCases {

  private val stopListSql: String =
    TextStats.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The [[graft.ops.expr.LangModel]] token features as a DuckDB VALUES
    * list — the oracle replays the exact linear model from the same Scala
    * tables the native expression compiles (one source of truth; no
    * apostrophes in the word lists, so plain quoting is safe).
    */
  private val langTokenValuesSql: String =
    graft.ops.expr.LangModel.TokenFeatures
      .map { case (tok, lang, w) => s"('$tok', '$lang', $w)" }
      .mkString(", ")

  /** Character-range score for one language as RE2 class counts. */
  private def langCharScoreSql(lang: String): String = {
    val entries = graft.ops.expr.LangModel.CharRangeFeatures.filter(_._3 == lang)
    if (entries.isEmpty) "0"
    else entries.map { case (lo, hi, _, w) =>
      val cls =
        if (lo == hi) "[\\x{%04X}]".format(lo)
        else "[\\x{%04X}-\\x{%04X}]".format(lo, hi)
      s"len(regexp_extract_all(text, '$cls')) * $w"
    }.mkString(" + ")
  }

  val cases: Seq[Case] = Seq(
    Case("q14_textstats", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextStats.tokenCountWs(col("text")).cast("long").as("tok_ws"),
        TextStats.tokenCountBpe(col("text")).cast("long").as("tok_bpe"),
        round(TextStats.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextStats.stopwordRatio(col("text"), TextStats.EnglishStopwords), 6)
          .as("stop_ratio"),
        TextStats.langId(col("text")).as("lang_id"),
        round(TextStats.qualityScore(col("text"), col("n_chars")), 6).as("quality")
      )
    },
      // lang_id replays the FULL LangModel linear classifier: token scores
      // via a VALUES join over the shared feature table, char-range scores
      // as RE2 class counts, argmax with the canonical tie-break order.
      Sql {
        val langs = graft.ops.expr.LangModel.Langs
        val pivotCols = langs.map(l =>
          s"coalesce(sum(CASE WHEN lang = '$l' THEN s END), 0) AS t_$l")
          .mkString(",\n         |    ")
        val scoreCols = langs.map(l =>
          s"coalesce(tp.t_$l, 0) + ${langCharScoreSql(l)} AS s_$l")
          .mkString(",\n         |    ")
        val bestExpr = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
        val caseChain = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'")
          .mkString("\n         |    ")
        s"""WITH lt AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '$wsClassSql'), t -> t <> '')) AS tok
           |  FROM documents
           |), fw AS (
           |  SELECT * FROM (VALUES $langTokenValuesSql) v(tok, lang, w)
           |), tsc AS (
           |  SELECT doc_id, lang, sum(w) AS s FROM lt JOIN fw USING (tok) GROUP BY doc_id, lang
           |), tp AS (
           |  SELECT doc_id,
           |    $pivotCols
           |  FROM tsc GROUP BY doc_id
           |), sc AS (
           |  SELECT d.doc_id, d.text, d.n_chars,
           |    $scoreCols
           |  FROM documents d LEFT JOIN tp ON d.doc_id = tp.doc_id
           |), b AS (
           |  SELECT *, $bestExpr AS best FROM sc
           |)
           |SELECT doc_id,
           |  CAST(length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) AS BIGINT) AS tok_ws,
           |  CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS tok_bpe,
           |  round(CASE WHEN length(text) = 0 THEN 0.0
           |        ELSE CAST(length(regexp_extract_all(text, '[^\\w \\t\\n\\x0B\\f\\r]')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
           |  round(CASE WHEN length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) = 0 THEN 0.0
           |        ELSE CAST(length(list_intersect(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> ''), $stopListSql)) AS DOUBLE)
           |             / length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) END, 6) AS stop_ratio,
           |  CASE
           |    $caseChain
           |    ELSE 'und' END AS lang_id,
           |  round(least(1.0, n_chars / 500.0) * 0.4
           |      + least(1.0, (CASE WHEN length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) = 0 THEN 0.0
           |          ELSE CAST(length(list_intersect(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> ''), $stopListSql)) AS DOUBLE)
           |               / length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) END) * 4.0) * 0.4
           |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
           |          ELSE CAST(length(regexp_extract_all(text, '[^\\w \\t\\n\\x0B\\f\\r]')) AS DOUBLE) / length(text) END) * 5.0) * 0.2, 6) AS quality
           |FROM b""".stripMargin
      }),
    Case("q18_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp")),
      Exempt("fingerprint bits are engine-specific; property companion q18b_fingerprint_props")),
    // Fingerprint PROPERTY oracle (bits are engine-specific → q18 stays
    // rows-only; this states the structure): the fingerprint is exactly a
    // function of the token sequence — equal token sequences share one
    // fingerprint, and no two distinct sequences collide on this corpus.
    // Linear shape (two aggregations), no pair table.
    Case("q18b_fingerprint_props", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.tokens(col("text")).as("toks"))
      val byToks = d.groupBy(col("toks")).agg(count_distinct(col("fp")).as("nfp"))
      val byFp = d.groupBy(col("fp")).agg(count_distinct(col("toks")).as("ntk"))
      d.join(byToks, "toks").join(byFp, "fp")
        .select(col("doc_id"),
          ((col("nfp") === 1) && (col("ntk") === 1)).as("ok"))
    },
      Sql("SELECT doc_id, TRUE AS ok FROM documents")),
    // Full-PSL registrable domain: planted hosts under multi-label
    // registries ABSENT from the compact subset (co.il, com.pl), a
    // PRIVATE-section suffix (github.io), wildcard (*.ck) and exception
    // (!www.ck) rules, an unlisted TLD (implicit *), a host that IS a
    // public suffix, and a single label. The fixture rule text is in the
    // published PSL format; the oracle pins every answer hand-derived
    // from the published algorithm.
    Case("q77_psl_domain", (s, dir) => {
      import s.implicits._
      val rules = graft.ops.expr.PslRules.parse(
        """// fixture excerpt in the published format
          |uk
          |co.uk
          |il
          |co.il
          |ac.il
          |pl
          |com.pl
          |net.pl
          |ck
          |*.ck
          |!www.ck
          |jp
          |// PRIVATE section
          |github.io
          |""".stripMargin)
      Seq(
        1L -> "shop.example.co.uk", 2L -> "site.example.co.il",
        3L -> "deep.sub.blog.github.io", 4L -> "foo.bar.ck",
        5L -> "www.ck", 6L -> "a.www.ck", 7L -> "example.com",
        8L -> "keta.jp", 9L -> "co.uk", 10L -> "localhost",
        11L -> "x.y.com.pl", 12L -> "sub.host.example.org")
        .toDF("hid", "host")
        .select(col("hid"),
          graft.ops.WebText.registrableDomainPsl(col("host"), rules).as("rdomain"))
    },
      // hand-derived per the published PSL algorithm:
      //   co.uk/co.il/com.pl/github.io normal rules → suffix + 1 label;
      //   *.ck makes bar.ck a suffix → foo.bar.ck; !www.ck beats it → www.ck;
      //   unlisted com/org fall to the implicit * (last label);
      //   a host that IS a suffix and a single label pass through
      Sql("""SELECT hid::BIGINT AS hid, rdomain FROM (VALUES
        |  (1, 'example.co.uk'),
        |  (2, 'example.co.il'),
        |  (3, 'blog.github.io'),
        |  (4, 'foo.bar.ck'),
        |  (5, 'www.ck'),
        |  (6, 'www.ck'),
        |  (7, 'example.com'),
        |  (8, 'keta.jp'),
        |  (9, 'co.uk'),
        |  (10, 'localhost'),
        |  (11, 'y.com.pl'),
        |  (12, 'example.org')) t(hid, rdomain)""".stripMargin)),
    // Gopher-style quality signals: token count, top-2-gram repetition,
    // mean word length, composite keep decision. All ratios are exact
    // integer-over-integer divisions, so the oracle hash-matches.
    Case("q26_quality", (s, dir) =>
      graft.ops.Corpus.withQualitySignals(t(s, dir, "documents"), "text")
        .select(col("doc_id"),
          col("token_count").cast("long").as("token_count"),
          round(col("top_ngram_frac"), 6).as("rep2"),
          round(col("mean_word_len"), 6).as("mean_wlen"),
          col("keep")),
      Sql("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> t <> '') AS toks
        |  FROM documents
        |), ng AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 2 THEN []
        |         ELSE [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
        |    END AS grams
        |  FROM tk
        |), sig AS (
        |  SELECT doc_id, len(toks) AS ntok,
        |    CASE WHEN len(grams) = 0 THEN 0.0
        |         ELSE list_max([len(list_filter(grams, g -> g = x)) for x in list_distinct(grams)])::DOUBLE
        |              / len(grams) END AS rep2,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE list_sum([length(t) for t in toks])::DOUBLE / len(toks) END AS mwl
        |  FROM ng
        |)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS token_count,
        |  round(rep2, 6) AS rep2, round(mwl, 6) AS mean_wlen,
        |  (ntok BETWEEN 20 AND 1000000 AND rep2 < 0.05 AND mwl BETWEEN 3.0 AND 10.0) AS keep
        |FROM sig""".stripMargin)),
    // Per-source quota: top-3 documents per source by quality — the
    // per-domain cap every corpus-curation pipeline applies.
    Case("q27_quota", (s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("q", TextStats.qualityScore(col("text"), col("n_chars")))
      graft.ops.Corpus.perKeyQuota(
        scored, Seq("source"), Seq(col("q").desc, col("doc_id").asc), 3)
        .select(col("source"), col("doc_id"))
    },
      Sql(s"""WITH scored AS (
         |  SELECT source, doc_id,
         |    round(least(1.0, n_chars / 500.0) * 0.4
         |      + least(1.0, (CASE WHEN length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) = 0 THEN 0.0
         |          ELSE CAST(length(list_intersect(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> ''), $stopListSql)) AS DOUBLE)
         |               / length(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) END) * 4.0) * 0.4
         |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE CAST(length(regexp_extract_all(text, '[^\\w \\t\\n\\x0B\\f\\r]')) AS DOUBLE) / length(text) END) * 5.0) * 0.2, 6) AS q
         |  FROM documents
         |)
         |SELECT source, doc_id FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
         |  FROM scored
         |) WHERE rn <= 3""".stripMargin)),
    // Deterministic hash split: assignment bits are engine-specific
    // (xxhash64), but the *properties* are oracle-checkable — every split
    // non-empty and within tolerance of its weight.
    Case("q28_split", (s, dir) => {
      val sp = graft.ops.Corpus.assignSplit(
        t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val expected = when(col("split") === "train", 0.8).otherwise(0.1)
      // tolerance ≈ 4σ of the binomial at n=500 (sd ~0.018): passes hash
      // noise (train is 0.746 on this data), fails wrong thresholds.
      // total via a broadcast 1-row cross join, not a global window — an
      // unpartitioned window funnels everything to one task (and WARNs);
      // the grouped frame re-aggregates for the total, which AQE broadcasts.
      val grouped = sp.groupBy(col("split")).agg(count(lit(1)).as("n"))
      grouped
        .crossJoin(broadcast(grouped.groupBy().agg(sum(col("n")).as("total"))))
        .select(col("split"),
          (abs(col("n") / col("total") - expected) < lit(0.08)).as("frac_ok"))
    },
      Sql("""SELECT * FROM (VALUES ('test', TRUE), ('train', TRUE), ('val', TRUE))
        |  AS v(split, frac_ok)""".stripMargin)),
    // Fixed-size overlapping token-window chunks (64 tokens, 16 overlap) —
    // map-side explode, no shuffle.
    Case("q39_chunks", (s, dir) =>
      graft.ops.Corpus.chunkDocuments(
        t(s, dir, "documents"), "doc_id", "text", chunkTokens = 64, overlapTokens = 16),
      Sql("""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        |)
        |SELECT doc_id, unnest([{
        |    'chunk_idx': i,
        |    'chunk': array_to_string(toks[(i*48+1):(i*48+64)], ' '),
        |    'n_tokens': least(64, n - i*48)::BIGINT
        |  } for i in generate_series(0, greatest(0, ceil((n - 64)/48.0))::BIGINT)],
        |  recursive := true)
        |FROM c""".stripMargin)),
    // Okapi BM25 for one tokenized query: map-side isin filter before any
    // shuffle, broadcast df/N/avgdl constants.
    Case("q40_bm25", (s, dir) =>
      graft.ops.Retrieval.bm25(
        t(s, dir, "documents"), "doc_id", "text", Seq("the", "data", "model"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25")),
      Sql("""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS token
        |  FROM documents
        |), lens AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('the', 'data', 'model') GROUP BY doc_id, token
        |), dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY token
        |), stats AS (
        |  SELECT count(*) AS n,
        |    avg(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''))) AS avgdl
        |  FROM documents
        |)
        |SELECT tf.doc_id,
        |  round(sum(ln(1 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5))
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl))), 6) AS bm25
        |FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id""".stripMargin)),
    // One-scan numeric profile with EXACT quartiles (DuckDB quantile_cont
    // and Spark percentile share the linear-interpolation definition).
    // approx = false is EXPLICIT here — the library default is the
    // sketch-state approx_percentile (scale-safe); the oracle needs exact.
    Case("q41_profile", (s, dir) =>
      // exact percentile's per-row aggregation state is CPU-dense: worth
      // the one exchange to escape the 3-split scan (2.4 s vs 3.3 s)
      graft.ops.Corpus.profile(
        Dedup.ensureParallelism(t(s, dir, "lineitem")),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        approx = false)
        .select(col("column"), col("n"), col("nulls"),
          round(col("mean"), 6).as("mean"), col("min"), col("max"),
          round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p75"), 6).as("p75")),
      // mean on BOTH sides: exact decimal sum → one double division — the
      // pre-round double is bit-identical (IEEE division of identical
      // operands), so round(...,6) can never split on a half boundary the
      // way partition-ordered double avg() sums can (l_discount's true mean
      // is exactly 0.0499185 — a round-half landmine)
      Sql(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS "column", count($c) AS n,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
           |  round(sum($c::DECIMAL(38,12))::DOUBLE / count($c), 6) AS mean,
           |  min($c)::DOUBLE AS min, max($c)::DOUBLE AS max,
           |  round(quantile_cont($c, 0.25), 6) AS p25,
           |  round(quantile_cont($c, 0.5), 6) AS p50,
           |  round(quantile_cont($c, 0.75), 6) AS p75
           |FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n"))),
    // DOM-block main-content extraction: planted page fixtures (nav
    // chrome, good paragraph, link-list footer; short-between-goods
    // context rescue; entity/br/script handling) segmented and classified
    // by the jusText-style kernel, every block's features exploded to
    // scalars. The oracle pins EVERY feature of EVERY block as literal
    // VALUES — hand derivations in HtmlBlocksSpec.
    Case("q86_html_blocks", (s, dir) => {
      import s.implicits._
      val p = HtmlFixturePara
      Seq(
        1L -> ("<html><head><title>T</title></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>" +
          s"<p>$p</p>" +
          "<div class=\"foot\"><a href=\"/tos\">Terms</a></div>" +
          "</body></html>"),
        2L -> s"<p>$p</p><p>Nice short note.</p><p>$p</p>",
        3L -> ("<div>A &amp; B &#8217;x&#8217; costs &#x24;5<br>" +
          "second <script>var x=1;</script>part</div>"))
        .toDF("tid", "html")
        .select(col("tid"),
          explode(graft.ops.WebText.htmlBlocks(col("html"))).as("b"))
        .select(col("tid"), col("b.idx").as("idx"), col("b.tag").as("tag"),
          col("b.in_chrome").as("in_chrome"), col("b.text").as("text"),
          col("b.n_chars").cast("long").as("n_chars"),
          col("b.n_words").cast("long").as("n_words"),
          col("b.link_density").as("link_density"),
          col("b.stop_ratio").as("stop_ratio"),
          col("b.label").as("label"), col("b.content").as("content"))
    },
      // Every feature of every block pinned (derivations in HtmlBlocksSpec;
      // the shared paragraph constant is spliced into the VALUES so fixture
      // and oracle can never drift apart)
      Sql {
        val p = HtmlFixturePara
        s"""SELECT tid::BIGINT AS tid, idx::INT AS idx, tag, in_chrome, text,
           |  n_chars::BIGINT AS n_chars, n_words::BIGINT AS n_words,
           |  link_density::DOUBLE AS link_density,
           |  stop_ratio::DOUBLE AS stop_ratio, label, content
           |FROM (VALUES
           |  (1, 0, 'nav', TRUE, 'Home About', 10, 2, 1.0, 0.0, 'bad', FALSE),
           |  (1, 1, 'p', FALSE, '$p', 220, 46, 0.0, 20.0/46.0, 'good', TRUE),
           |  (1, 2, 'div', FALSE, 'Terms', 5, 1, 1.0, 0.0, 'bad', FALSE),
           |  (2, 0, 'p', FALSE, '$p', 220, 46, 0.0, 20.0/46.0, 'good', TRUE),
           |  (2, 1, 'p', FALSE, 'Nice short note.', 16, 3, 0.0, 0.0, 'short', TRUE),
           |  (2, 2, 'p', FALSE, '$p', 220, 46, 0.0, 20.0/46.0, 'good', TRUE),
           |  (3, 0, 'div', FALSE, 'A & B ’x’ costs $$5', 18, 6, 0.0, 1.0/6.0, 'short', FALSE),
           |  (3, 1, 'div', FALSE, 'second part', 11, 2, 0.0, 0.0, 'short', FALSE)
           |) t(tid, idx, tag, in_chrome, text, n_chars, n_words,
           |    link_density, stop_ratio, label, content)""".stripMargin
      }),
    // Main-content extraction end-to-end over the same fixtures: the
    // kept-block join IS the document text a crawl pipeline stores.
    Case("q86b_main_content", (s, dir) => {
      import s.implicits._
      val p = HtmlFixturePara
      Seq(
        1L -> ("<html><head><title>T</title></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>" +
          s"<p>$p</p>" +
          "<div class=\"foot\"><a href=\"/tos\">Terms</a></div>" +
          "</body></html>"),
        2L -> s"<p>$p</p><p>Nice short note.</p><p>$p</p>",
        3L -> ("<div>A &amp; B &#8217;x&#8217; costs &#x24;5<br>" +
          "second <script>var x=1;</script>part</div>"))
        .toDF("tid", "html")
        .select(col("tid"),
          graft.ops.WebText.extractMainContent(col("html")).as("main_text"))
    },
      Sql {
        val p = HtmlFixturePara
        s"""SELECT tid::BIGINT AS tid, main_text FROM (VALUES
           |  (1, '$p'),
           |  (2, '$p' || chr(10) || 'Nice short note.' || chr(10) || '$p'),
           |  (3, '')) t(tid, main_text)""".stripMargin
      }),
    // DOM-block classifier over the REAL corpus (q86 pins 3 fixtures;
    // this replays the context-free classification + keep decision on
    // every document): each doc's text wrapped in chrome (nav + footer,
    // both bad by declaration/link-density) around one <p>. The corpus is
    // single-spaced punctuation-free ASCII (checked), so DuckDB replays
    // the whole classifier arithmetic — length, per-occurrence stopword
    // ratio, the good/near-good/short/bad ladder, and kept = good.
    // Thresholds 0.12/0.05 (vs the 0.20/0.10 defaults) so all four labels
    // actually occur on this keyword-salad corpus (13/294/177/16 at
    // sf0.01).
    Case("q87_content_classify_corpus", (s, dir) => {
      val rules = graft.ops.expr.HtmlContent.ContentRules(
        stopwordsLow = 0.05, stopwordsHigh = 0.12)
      val page = concat(
        lit("<html><body><nav><a href=\"/\">Home</a> " +
          "<a href=\"/a\">About</a></nav><p>"),
        col("text"),
        lit("</p><footer><a href=\"/t\">Terms</a></footer></body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
          graft.ops.WebText.htmlBlocks(page, rules).as("bs"),
          graft.ops.WebText.extractMainContent(page, rules).as("kept"))
        .select(col("doc_id"),
          element_at(filter(col("bs"),
            b => b.getField("tag") === "p"), 1).getField("label").as("label"),
          col("kept"))
    },
      // full classifier arithmetic replayed: the corpus text is single-
      // spaced punctuation-free ASCII, so block text == text, n_chars ==
      // length, words == the split, and the stopword ratio is a plain
      // list_filter count. Ladder order matches HtmlContent.contextFree;
      // kept == text iff the block classifies good (chrome neighbors are
      // bad, so the context pass keeps exactly the goods).
      Sql("""WITH f AS (
        |  SELECT doc_id, text AS t, length(text) AS n,
        |    string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, t, n, len(ws) AS nw,
        |    len(list_filter(ws, w -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it','that',
        |       'for','on','with','as','at','by','be','this','are'], w)))
        |      AS stops
        |  FROM f)
        |SELECT doc_id,
        |  CASE WHEN n < 70 THEN 'short'
        |       WHEN stops::DOUBLE / nw >= 0.12 AND n > 200 THEN 'good'
        |       WHEN stops::DOUBLE / nw >= 0.05 THEN 'near-good'
        |       ELSE 'bad' END AS label,
        |  CASE WHEN n >= 70 AND stops::DOUBLE / nw >= 0.12 AND n > 200
        |       THEN t ELSE '' END AS kept
        |FROM g""".stripMargin)),
    // WARC crawl-archive round trip (ISO 28500, the CommonCrawl shipping
    // format): every document becomes one HTTP-response record, written as
    // record-per-gzip-member .warc.gz shards (attempt-unique temp + rename
    // commit), read back by the per-file streaming parser. The oracle
    // replays every projected field from `documents` — uri construction,
    // the constant status/content-type the writer stamps, byte-exact body
    // text, and the WARC Content-Length arithmetic (77 bytes of fixed
    // HTTP chrome + the digits of the body length + the body itself).
    // MULTILINGUAL jusText GATE (the r12 verdict's quality-ladder item):
    // the same block classifier driven by rulesForLang — a German page
    // under the German function-word table classifies good, a French one
    // under fr likewise, and the ENGLISH paragraph under the GERMAN rules
    // drops to bad (zero stopword hits) — the lang key changes the
    // decision, not just a list. Every block's features and labels are
    // hand-derived VALUES literals (the q86 pattern).
    Case("q86c_justext_lang", (s, dir) => {
      import s.implicits._
      val deRules = graft.ops.expr.HtmlContent.rulesForLang("de")
      val frRules = graft.ops.expr.HtmlContent.rulesForLang("fr")
      val de = Seq(
        1L -> ("<html><body><nav><a href=\"/\">Start</a> " +
          "<a href=\"/u\">Über uns</a></nav>" +
          s"<p>$DeFixturePara</p>" +
          "<footer><a href=\"/i\">Impressum</a></footer></body></html>"),
        2L -> s"<p>$EnUnderDePara</p>")
        .toDF("tid", "html")
        .select(col("tid"),
          explode(graft.ops.WebText.htmlBlocks(col("html"), deRules)).as("b"))
      val fr = Seq(3L -> s"<p>$FrFixturePara</p>")
        .toDF("tid", "html")
        .select(col("tid"),
          explode(graft.ops.WebText.htmlBlocks(col("html"), frRules)).as("b"))
      de.unionByName(fr)
        .select(col("tid"), col("b.idx").as("idx"), col("b.tag").as("tag"),
          col("b.in_chrome").as("in_chrome"), col("b.text").as("text"),
          col("b.n_chars").cast("long").as("n_chars"),
          col("b.n_words").cast("long").as("n_words"),
          col("b.link_density").as("link_density"),
          col("b.stop_ratio").as("stop_ratio"),
          col("b.label").as("label"), col("b.content").as("content"))
    },
      // Multilingual jusText: feature + label rows hand-derived from the
      // algorithm (same derivation style as q86). de: 45 words, 18 of them
      // in the German function-word table (der×?/und/das/…) → ratio 0.4 ≥
      // 0.20 and 238 chars > 200 → good; fr likewise (16/40); the English
      // paragraph under GERMAN rules: 0 hits → bad.
      Sql(s"""SELECT tid::BIGINT AS tid, idx::INT AS idx, tag, in_chrome, text,
         |  n_chars::BIGINT AS n_chars, n_words::BIGINT AS n_words,
         |  link_density::DOUBLE AS link_density,
         |  stop_ratio::DOUBLE AS stop_ratio, label, content
         |FROM (VALUES
         |  (1, 0, 'nav', TRUE, 'Start Über uns', 14, 3, 1.0, 0.0, 'bad', FALSE),
         |  (1, 1, 'p', FALSE, '$DeFixturePara', 238, 45, 0.0, 18.0/45.0, 'good', TRUE),
         |  (1, 2, 'footer', TRUE, 'Impressum', 9, 1, 1.0, 0.0, 'bad', FALSE),
         |  (2, 0, 'p', FALSE, '$EnUnderDePara', 189, 21, 0.0, 0.0, 'bad', FALSE),
         |  (3, 0, 'p', FALSE, '$FrFixturePara', 229, 40, 0.0, 16.0/40.0, 'good', TRUE)
         |) t(tid, idx, tag, in_chrome, text, n_chars, n_words,
         |    link_density, stop_ratio, label, content)""".stripMargin)),
    // LANG-KEYED GOPHER GATE: a third of the corpus gets a German
    // function-word suffix planted; the de ladder counts hits against the
    // German table (en stays on the shipped list), and a stoplist-less
    // lang (zh) DISABLES the ≥2 floor instead of rejecting everything.
    // Full q65-style signal + keep_full replay per lang in DuckDB.
    Case("q87b_gopher_lang", (s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" der die und das ist von mit den")))
          .otherwise(col("text")).as("t2"))
      def one(lang: String, sfx: String) =
        graft.ops.Corpus.withRepetitionSignals(planted, "t2", lang = lang)
          .select(col("doc_id"),
            col("stopword_hits").cast("long").as(s"hits_$sfx"),
            col("keep_full").as(s"keep_$sfx"))
      one("de", "de").join(one("zh", "zh"), "doc_id")
        .join(one("en", "en"), "doc_id")
    },
      // lang-keyed Gopher: three full signal+keep replays (de list / empty
      // zh list with the floor disabled / the shipped en list) joined
      Sql {
        val deList = "['der','die','und','das','ist','von','mit','den'," +
          "'ein','nicht','im','dem','des','auf','für','eine','als','auch'," +
          "'sich','werden']"
        val enList = EnStopListSql
        val plantedBase =
          """  SELECT doc_id,
            |    CASE WHEN doc_id % 3 = 0
            |         THEN text || ' der die und das ist von mit den'
            |         ELSE text END AS text
            |  FROM documents""".stripMargin
        s"""SELECT de.doc_id,
           |  de.hits AS hits_de, de.keep AS keep_de,
           |  zh.hits AS hits_zh, zh.keep AS keep_zh,
           |  en.hits AS hits_en, en.keep AS keep_en
           |FROM ${gopherKeepReplaySql(plantedBase, deList, 2)} de
           |JOIN ${gopherKeepReplaySql(plantedBase, "[]::VARCHAR[]", 0)} zh USING (doc_id)
           |JOIN ${gopherKeepReplaySql(plantedBase, enList, 2)} en USING (doc_id)""".stripMargin
      }),
    // CHECKSUM-VALIDATED PII, corpus-scale Luhn arithmetic: one synthetic
    // 16-digit number per order (pure integer arithmetic, no hashes — both
    // engines agree bit-for-bit), redacted only when Luhn mod-10 passes
    // (~1 in 10 naturally). The oracle re-derives the ENTIRE decision —
    // digit doubling, 9-subtraction, mod 10 — per row in DuckDB and
    // reconstructs the expected text either way.
    Case("q97_redact_card", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"),
          concat(lit("pay card 4"),
            lpad(((col("l_orderkey") % 100000000L) * 7919L + 11L)
              .cast("string"), 15, "0"),
            lit(" today")).as("text"))
        .select(col("l_orderkey"),
          graft.ops.Corpus.redactValidated(col("text")).as("text_redacted")),
      // full Luhn replay: double every second digit from the right, subtract
      // 9 when >9, sum mod 10 — redact exactly when it passes
      Sql("""WITH c AS (
        |  SELECT l_orderkey,
        |    '4' || lpad(CAST((l_orderkey % 100000000) * 7919 + 11 AS VARCHAR),
        |                15, '0') AS num
        |  FROM lineitem WHERE l_linenumber = 1
        |), v AS (
        |  SELECT l_orderkey, num,
        |    list_sum([CASE WHEN (16 - p) % 2 = 1 THEN
        |        CASE WHEN 2 * CAST(num[p] AS INT) > 9
        |             THEN 2 * CAST(num[p] AS INT) - 9
        |             ELSE 2 * CAST(num[p] AS INT) END
        |      ELSE CAST(num[p] AS INT) END
        |      for p in generate_series(1, 16)]) % 10 = 0 AS ok
        |  FROM c
        |)
        |SELECT l_orderkey,
        |  CASE WHEN ok THEN 'pay card <CARD> today'
        |       ELSE 'pay card ' || num || ' today' END AS text_redacted
        |FROM v""".stripMargin)),
    // Fixture matrix for the validated classes a corpus query can't plant:
    // valid/corrupted IBAN (ISO 13616 mod-97), high-entropy secret vs
    // low-entropy lookalike, hex-digest rule, separator-grouped card, and
    // the validated→regex composition (card+IBAN+email+IP in one string).
    // Every expected output is a DuckDB literal (the q94 pattern).
    Case("q97b_redact_fixtures", (s, dir) => {
      import s.implicits._
      Seq(
        (1L, "iban GB82WEST12345698765432 ok"),
        (2L, "iban GB82WEST12345698765433 ok"),
        (3L, "key A1b2C3d4E5f6G7h8J9k0LmNoPqRs end"),
        (4L, "low aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa end"),
        (5L, "sha e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855 x"),
        (6L, "mix 4111111111111111 GB82WEST12345698765432 a@b.co 10.1.2.3"),
        (7L, "card 4111-1111-1111-1111 and bad 4111111111111112")
      ).toDF("id", "text")
        .select(col("id"),
          graft.ops.Corpus.redactPiiAll(col("text")).as("text_redacted"))
    },
      Sql("""SELECT * FROM (VALUES
        |  (1::BIGINT, 'iban <IBAN> ok'),
        |  (2::BIGINT, 'iban GB82WEST12345698765433 ok'),
        |  (3::BIGINT, 'key <SECRET> end'),
        |  (4::BIGINT, 'low aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa end'),
        |  (5::BIGINT, 'sha <SECRET> x'),
        |  (6::BIGINT, 'mix <CARD> <IBAN> <EMAIL> <IP>'),
        |  (7::BIGINT, 'card <CARD> and bad 4111111111111112')
        |) AS t(id, text_redacted)""".stripMargin)),
    // PII redaction: emails/IPv4s/phones → typed tokens, map-side chained
    // regexp_replace. The synthetic corpus has no PII, so deterministic PII
    // is injected from doc_id on BOTH sides — every row redacts
    // non-vacuously and the patterns are replayed verbatim by DuckDB
    // (written in the Java∩RE2 regex subset).
    Case("q49_redact", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10.0."), (col("doc_id") % 250).cast("string"),
          lit(".17 or 555-123-4567")).as("text"))
      graft.ops.Corpus.redactPii(docs, "text", "clean")
        .select(col("doc_id"), col("clean"))
    },
      Sql {
        val injected = "text || ' contact user' || doc_id || '@example.com via 10.0.' " +
          "|| (doc_id % 250) || '.17 or 555-123-4567'"
        val redacted = graft.ops.Corpus.PiiPatterns.foldLeft(s"($injected)") {
          case (e, (pattern, token)) => s"regexp_replace($e, '$pattern', '$token', 'g')"
        }
        s"SELECT doc_id, $redacted AS clean FROM documents"
      }),
    // Mojibake repair, roundtrip-oracled over the real corpus: the corpus
    // text (pure ASCII in the testdata) gets a unicode-rich suffix covering
    // 2-byte (é), 3-byte punctuation/CJK (— № 中 ’), and 4-byte
    // (😀) UTF-8; the corruption is the engine's own latin-1 misdecode
    // (decode(encode(x,'UTF-8'),'ISO-8859-1') — byte-exact, total over all
    // bytes), and fixEncoding must invert it EXACTLY on every row. The
    // oracle never sees the corruption: it just emits the clean text.
    Case("q55_fix_encoding", (s, dir) => {
      val clean = concat(col("text"), lit(MojibakeSuffix))
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextStats.fixEncoding(
          decode(encode(clean, "UTF-8"), "ISO-8859-1")).as("fixed"))
    },
      // The mojibake roundtrips: the oracle never sees the corruption — the
      // engine-side misdecode must be inverted exactly, so expected output is
      // just clean text + the (quote-free) suffix constant, spliced verbatim.
      Sql(s"SELECT doc_id, text || '$MojibakeSuffix' AS fixed FROM documents")),
    // Double mojibake: the misdecode applied twice (the classic "fixed" a
    // mojibake file by re-encoding it wrong again). Same oracle — the
    // default 3-pass repair must peel both layers.
    Case("q55b_fix_encoding_double", (s, dir) => {
      def garble(c: org.apache.spark.sql.Column) =
        decode(encode(c, "UTF-8"), "ISO-8859-1")
      val clean = concat(col("text"), lit(MojibakeSuffix))
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextStats.fixEncoding(garble(garble(clean))).as("fixed"))
    },
      Sql(s"SELECT doc_id, text || '$MojibakeSuffix' AS fixed FROM documents")),
    // cp1252-flavored mojibake (the Windows-specials path latin-1
    // corruption can't generate: â€™ Ã© â‚¬ …) plus the must-NOT-touch
    // cases — clean unicode, pure ASCII, genuine latin-1 bytes — as planted
    // fixtures with hand-derived expected outputs in a VALUES oracle
    // (derivations pinned in FixEncodingSpec).
    Case("q55c_fix_encoding_cp1252", (s, dir) => {
      import s.implicits._
      MojibakeCases.map { case (tid, garbled, _) => (tid, garbled) }
        .toDF("tid", "garbled")
        .select(col("tid"),
          graft.ops.TextStats.fixEncoding(col("garbled")).as("fixed"))
    },
      Sql {
        val rows = MojibakeCases
          .map { case (tid, _, exp) => s"($tid, '$exp')" }.mkString(", ")
        s"SELECT tid::BIGINT AS tid, fixed FROM (VALUES $rows) t(tid, fixed)"
      }),
    // HTML stripping under a ROUND-TRIP oracle: every document is wrapped
    // in a fixed HTML shell (head/style/script/comment/entities/tags) and
    // stripHtml must recover exactly `Header & more <text> Tail <quoted>
    // end` — the oracle rebuilds that from the RAW text column, so the
    // entire strip chain (block removal, tag removal, entity decode order,
    // whitespace collapse) is verified without DuckDB replaying any regex.
    // (Corpus text is <>&-free and single-spaced — checked — so the
    // expected string is plain concatenation.)
    Case("q61_strip_html", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.WebText.stripHtml(concat(
          lit("<html><head><title>T</title><style>p { color: red; }" +
            "</style></head><body><h1>Header &amp; more</h1><!-- note -->" +
            "<p class=\"a\">"),
          col("text"),
          lit("</p><br/><script type=\"text/javascript\">if (1<2) { x=1; }" +
            "</script><div>Tail &lt;quoted&gt;&nbsp;end It&#8217;s " +
            "&#x2019;q&#x2019; &#169; &amp;#8217; &#xD800; &#999999999;" +
            "</div></body></html>")
        )).as("clean")),
      // Round-trip: the expected clean text is rebuilt from the raw column
      // (corpus text is <>&-free and single-spaced, so no replay of the
      // strip chain is needed — see the query comment).
      // numeric-ref tail hand-derived: &#8217;/&#x2019; → ’, &#169; → ©,
      // &amp;#8217; decodes ONCE to the literal &#8217;, the surrogate ref
      // and the out-of-range ref stay literal text
      Sql("""SELECT doc_id,
        |  'Header & more ' || text ||
        |  ' Tail <quoted> end It’s ’q’ © &#8217; &#xD800; &#999999999;' AS clean
        |FROM documents""".stripMargin)),
    // URL extraction + host + registrable domain (eTLD+1) over planted
    // URLs whose shape is a pure function of doc_id — the oracle rebuilds
    // url/host/domain from doc_id directly, so extraction boundaries, the
    // host regex, and the public-suffix logic (two- vs three-label) are
    // all independently verified.
    Case("q62_url_domains", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("See https://Blog.Example"),
          (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 3 === 0, lit(".co.uk/path?q=1 and more"))
            .when(col("doc_id") % 3 === 1, lit(".com/index.html text"))
            .otherwise(lit(".com.au:8080/x#frag tail"))).as("body"))
      val url = element_at(graft.ops.WebText.extractUrls(col("body")), 1)
      d.select(col("doc_id"), url.as("url"),
          graft.ops.WebText.urlHost(url).as("host"))
        .withColumn("domain", graft.ops.WebText.registrableDomain(col("host")))
    },
      // url/host/domain rebuilt from doc_id — same construction as the query.
      Sql("""SELECT doc_id,
        |  'https://Blog.Example' || (doc_id % 7) ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.co.uk/path?q=1'
        |      WHEN 1 THEN '.com/index.html'
        |      ELSE '.com.au:8080/x#frag' END AS url,
        |  'blog.example' || (doc_id % 7) ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.co.uk'
        |      WHEN 1 THEN '.com' ELSE '.com.au' END AS host,
        |  'example' || (doc_id % 7) ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.co.uk'
        |      WHEN 1 THEN '.com' ELSE '.com.au' END AS domain
        |FROM documents""".stripMargin)),
    // Composition gate: registrable domain → per-domain quota (the
    // standard crawl-corpus site cap). Planted URLs are a pure function of
    // doc_id; the oracle replays the domain construction and the window
    // directly. One hash shuffle on the domain key, rank streamed per
    // partition — the same plan at any scale.
    Case("q64_domain_quota", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://s"), (col("doc_id") % 5).cast("string"),
          lit(".example"), (col("doc_id") % 17).cast("string"),
          when(col("doc_id") % 2 === 0, lit(".co.uk/p"))
            .otherwise(lit(".com/p"))).as("url"))
      val withDom = d.withColumn("domain",
        graft.ops.WebText.registrableDomain(
          graft.ops.WebText.urlHost(col("url"))))
      graft.ops.Corpus.perKeyQuota(withDom, Seq("domain"), Seq(col("doc_id")), 3)
        .select(col("doc_id"), col("domain"))
    },
      Sql("""SELECT doc_id, domain FROM (
        |  SELECT doc_id,
        |    'example' || (doc_id % 17) ||
        |      CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END AS domain,
        |    row_number() OVER (
        |      PARTITION BY (doc_id % 17), (doc_id % 2) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin)),
    // Extended Gopher repetition/format rules (beyond q26's basics):
    // duplicate line/paragraph member+char fractions, duplicate-5-gram
    // token coverage (fused native kernel), bullet/ellipsis line shares,
    // alpha-word share, distinct-stopword hits, and the full composite
    // keep. Every fraction is an exact integer-over-integer division, so
    // the DuckDB oracle replays values verbatim (unnest + count windows
    // for the group stats, position coverage for the n-gram rule). All
    // map-only — one scan, zero shuffle at any corpus size.
    // The synthetic corpus has no natural repetition (flat prose, no
    // newlines), so the gate plants it deterministically from doc_id —
    // the same construction the oracle replays: %4==0 duplicated lines +
    // paragraphs, %4==1 repeated leading n-grams, %4==2 bullet/ellipsis
    // lines, %4==3 untouched.
    Case("q65_gopher_rep", (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.withColumn("text2",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
            lit("\n"), substring(col("text"), 1, 40), lit("\n\n"),
            substring(col("text"), 1, 25), lit("\n\n"), substring(col("text"), 1, 25)))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" "), substring(col("text"), 1, 60)))
        .when(col("doc_id") % 4 === 2,
          concat(lit("- alpha\n- beta\nmore...\n"), col("text")))
        .otherwise(col("text")))
      graft.ops.Corpus.withRepetitionSignals(planted, "text2")
        .select(col("doc_id"),
          col("token_count").cast("long").as("token_count"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("dup_para_frac"), 6).as("dup_para_frac"),
          round(col("dup_para_char_frac"), 6).as("dup_para_char_frac"),
          round(col("dup_ngram_cov"), 6).as("dup_ngram_cov"),
          round(col("bullet_line_frac"), 6).as("bullet_frac"),
          round(col("ellipsis_line_frac"), 6).as("ellipsis_frac"),
          round(col("alpha_word_frac"), 6).as("alpha_frac"),
          col("stopword_hits").cast("long").as("stopword_hits"),
          col("keep_full"))
    },
      // Full replay of the extended Gopher signal pass over the same planted
      // text: unnest + count windows for line/paragraph duplicate groups,
      // zipped-unnest position coverage for the duplicate-5-gram rule, list
      // lambdas for the format fractions. Every fraction is an exact
      // integer-over-integer division; keep_full re-derives from the
      // UNROUNDED values exactly as the Scala side does.
      Sql("""WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || substring(text, 1, 40)
        |           || chr(10) || substring(text, 1, 40) || chr(10) || chr(10)
        |           || substring(text, 1, 25) || chr(10) || chr(10) || substring(text, 1, 25)
        |         WHEN doc_id % 4 = 1 THEN text || ' ' || substring(text, 1, 60)
        |         WHEN doc_id % 4 = 2 THEN '- alpha' || chr(10) || '- beta' || chr(10) || 'more...' || chr(10) || text
        |         ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk,
        |                list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tkl
        |         FROM base),
        |lines AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS seg FROM base),
        |paras AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\n{2,}'), x -> x <> '') AS seg FROM base),
        |lstat AS (
        |  SELECT doc_id, count(*) AS cnt, sum(length(l)) AS chars,
        |    count(*) FILTER (WHERE c >= 2) AS dupcnt,
        |    coalesce(sum(length(l)) FILTER (WHERE c >= 2), 0) AS dupchars
        |  FROM (SELECT doc_id, l, count(*) OVER (PARTITION BY doc_id, l) AS c
        |        FROM (SELECT doc_id, unnest(seg) AS l FROM lines))
        |  GROUP BY doc_id),
        |pstat AS (
        |  SELECT doc_id, count(*) AS cnt, sum(length(l)) AS chars,
        |    count(*) FILTER (WHERE c >= 2) AS dupcnt,
        |    coalesce(sum(length(l)) FILTER (WHERE c >= 2), 0) AS dupchars
        |  FROM (SELECT doc_id, l, count(*) OVER (PARTITION BY doc_id, l) AS c
        |        FROM (SELECT doc_id, unnest(seg) AS l FROM paras))
        |  GROUP BY doc_id),
        |gramrows AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS gi,
        |    unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
        |                          i -> array_to_string(tk[i : i + 4], ' '))) AS g
        |  FROM toks),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(gi, gi + 4)) AS pos
        |  FROM (SELECT doc_id, gi, count(*) OVER (PARTITION BY doc_id, g) AS c FROM gramrows)
        |  WHERE c >= 2),
        |covstat AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id),
        |sig AS (
        |  SELECT b.doc_id,
        |    len(t.tk) AS token_count,
        |    CASE WHEN len(t.tk) = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t.tk, x -> length(x)))::DOUBLE / len(t.tk) END AS mean_word_len,
        |    CASE WHEN coalesce(ls.cnt, 0) = 0 THEN 0.0 ELSE ls.dupcnt::DOUBLE / ls.cnt END AS dup_line_frac,
        |    CASE WHEN coalesce(ls.chars, 0) = 0 THEN 0.0 ELSE ls.dupchars::DOUBLE / ls.chars END AS dup_line_char_frac,
        |    CASE WHEN coalesce(ps2.cnt, 0) = 0 THEN 0.0 ELSE ps2.dupcnt::DOUBLE / ps2.cnt END AS dup_para_frac,
        |    CASE WHEN coalesce(ps2.chars, 0) = 0 THEN 0.0 ELSE ps2.dupchars::DOUBLE / ps2.chars END AS dup_para_char_frac,
        |    CASE WHEN len(t.tk) < 5 THEN 0.0 ELSE coalesce(cs.covered, 0)::DOUBLE / len(t.tk) END AS dup_ngram_cov,
        |    CASE WHEN coalesce(ls.cnt, 0) = 0 THEN 0.0
        |         ELSE len(list_filter(ln.seg, x -> regexp_matches(x, '^\s*[-*•‣▪]')))::DOUBLE / ls.cnt END AS bullet_frac,
        |    CASE WHEN coalesce(ls.cnt, 0) = 0 THEN 0.0
        |         ELSE len(list_filter(ln.seg, x -> regexp_matches(x, '(\.\.\.|…)\s*$')))::DOUBLE / ls.cnt END AS ellipsis_frac,
        |    CASE WHEN len(t.tk) = 0 THEN 0.0
        |         ELSE len(list_filter(t.tk, x -> regexp_matches(x, '\p{L}')))::DOUBLE / len(t.tk) END AS alpha_frac,
        |    len(list_intersect(t.tkl,
        |      ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are'])) AS stopword_hits
        |  FROM base b
        |  JOIN toks t USING (doc_id)
        |  JOIN lines ln USING (doc_id)
        |  LEFT JOIN lstat ls USING (doc_id)
        |  LEFT JOIN pstat ps2 USING (doc_id)
        |  LEFT JOIN covstat cs USING (doc_id))
        |SELECT doc_id, token_count::BIGINT AS token_count,
        |  round(dup_line_frac, 6) AS dup_line_frac,
        |  round(dup_line_char_frac, 6) AS dup_line_char_frac,
        |  round(dup_para_frac, 6) AS dup_para_frac,
        |  round(dup_para_char_frac, 6) AS dup_para_char_frac,
        |  round(dup_ngram_cov, 6) AS dup_ngram_cov,
        |  round(bullet_frac, 6) AS bullet_frac,
        |  round(ellipsis_frac, 6) AS ellipsis_frac,
        |  round(alpha_frac, 6) AS alpha_frac,
        |  stopword_hits::BIGINT AS stopword_hits,
        |  (token_count BETWEEN 20 AND 1000000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        |   AND dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20
        |   AND dup_ngram_cov <= 0.15 AND bullet_frac <= 0.90
        |   AND ellipsis_frac <= 0.30 AND alpha_frac >= 0.80
        |   AND stopword_hits >= 2) AS keep_full
        |FROM sig""".stripMargin)),
    // Unicode normalization against hand-written expected forms (written
    // from the Unicode composition/compatibility tables, independent of
    // the JVM Normalizer under test): NFC composes combining sequences,
    // NFKC additionally folds ligatures/fullwidth/fractions.
    Case("q63_unicode", (s, dir) => {
      import s.implicits._
      UnicodeCases.map { case (tid, raw, _, _) => (tid, raw) }
        .toDF("tid", "raw")
        .select(col("tid"),
          graft.ops.WebText.normalizeUnicode(col("raw"), "NFC").as("nfc"),
          graft.ops.WebText.normalizeUnicode(col("raw"), "NFKC").as("nfkc"))
    },
      Sql {
        val rows = UnicodeCases
          .map { case (tid, _, nfc, nfkc) => s"($tid, '$nfc', '$nfkc')" }
          .mkString(", ")
        s"SELECT tid::BIGINT AS tid, nfc, nfkc FROM (VALUES $rows) t(tid, nfc, nfkc)"
      }),
    // Global vocabulary top-k — the canonical corpus word count.
    Case("q30_vocab", (s, dir) =>
      graft.ops.Corpus.topTokens(t(s, dir, "documents"), "text", 20)
        .select(col("token"), col("n")),
      Sql("""SELECT token, count(*) AS n
        |FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin)),
    // Sketch-exact vocabulary: Misra–Gries candidate generation + exact
    // recount of candidates only, strict certificate (k-th count > err
    // bound) — so green means the sketch route PROVABLY returned the exact
    // global top-20, byte-identical to q30's full-shuffle answer, while the
    // scale plan exchanges numPartitions bounded sketches instead of every
    // distinct token.
    Case("q59_vocab_sketch", (s, dir) =>
      graft.ops.Corpus.topTokensSketch(
        t(s, dir, "documents"), "text", 20, budget = 4096, strict = true)
        .select(col("token"), col("n")),
      // Same exact answer as q30 — the sketch path certifies exactness, so the
      // oracle is the plain exact top-20.
      Sql("""SELECT token, count(*) AS n
        |FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin)),
    // Engine-portable approximate distinct count (KMV sketch): per-source
    // distinct-token estimates whose VALUE the oracle replays exactly —
    // the md5-prefix ranks are a pure function of the data, so DuckDB
    // derives the same k-th smallest rank and the same (k−1)/v_k estimate
    // (contrast approx_count_distinct, which could only be range-checked).
    // Plans as ≤k-long partial aggregates per partition: no
    // per-distinct-token exchange at any corpus size.
    Case("q66_kmv_distinct", (s, dir) => {
      val tok = t(s, dir, "documents").select(col("source"),
        explode(TextStats.tokens(col("text"))).as("tok"))
      graft.ops.Corpus.approxDistinct(tok, Seq("source"), "tok", k = 256, seed = 7L)
        .select(col("source"), round(col("estimate"), 4).as("est_distinct"),
          col("exact"))
    },
      // Exact replay of the KMV estimate: same md5-prefix ranks, same k-th
      // smallest distinct rank, same (k−1)/normalized-v_k arithmetic.
      Sql("""WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |ranks AS (
        |  SELECT DISTINCT source,
        |    CAST('0x' || substring(md5('7:' || tok), 1, 13) AS UBIGINT) AS r
        |  FROM toks),
        |ord AS (
        |  SELECT source, r,
        |    row_number() OVER (PARTITION BY source ORDER BY r) AS rn,
        |    count(*) OVER (PARTITION BY source) AS nd
        |  FROM ranks)
        |SELECT source,
        |  round(CASE WHEN nd < 256 THEN nd::DOUBLE
        |             ELSE 255.0 / (r / 4503599627370496.0) END, 4) AS est_distinct,
        |  (nd < 256) AS exact
        |FROM ord
        |WHERE rn = CASE WHEN nd >= 256 THEN 256 ELSE nd END""".stripMargin)),
    // Compression-ratio quality signal on planted fixtures: repetitive
    // text must flag low-entropy, hex/prose/empty must not (threshold
    // 0.3, fixtures engineered far from it on both sides).
    Case("q75_compress_ratio", (s, dir) => {
      import s.implicits._
      CompressionCases.map { case (tid, text, _) => (tid, text) }
        .toDF("tid", "text")
        .select(col("tid"),
          (TextStats.compressionRatio(col("text")) < 0.3).as("low_entropy"))
    },
      Sql {
        val rows = CompressionCases
          .map { case (tid, _, low) => s"($tid, $low)" }
          .mkString(", ")
        s"SELECT tid::BIGINT AS tid, low_entropy FROM (VALUES $rows) t(tid, low_entropy)"
      }),
    // URL canonicalization against hand-derived expectations: fragment,
    // scheme/authority case, default ports, tracking params, root slash
    // (WebText.canonicalizeUrl — the web-corpus dedup/quota key).
    Case("q74_url_canon", (s, dir) => {
      import s.implicits._
      UrlCanonCases.map { case (tid, raw, _) => (tid, raw) }
        .toDF("tid", "raw")
        .select(col("tid"),
          graft.ops.WebText.canonicalizeUrl(col("raw")).as("canon"))
    },
      Sql {
        val rows = UrlCanonCases
          .map { case (tid, _, expected) => s"($tid, '$expected')" }
          .mkString(", ")
        s"SELECT tid::BIGINT AS tid, canon FROM (VALUES $rows) t(tid, canon)"
      }),
    // One-pass corpus data card: doc/char/token totals, exact-dup rate
    // (md5 digests on the exchange, never text), decimal-exact means,
    // exact median. lang_top stays out of the gate (library-private
    // classifier); everything else hash-compares against the SQL replay.
    Case("q73_corpus_report", (s, dir) =>
      graft.ops.Corpus.report(t(s, dir, "documents"), "text")
        .drop("lang_top"),
      // The same per-row signals (java \w and RE2 \w agree on ASCII), the
      // same rounded-decimal means, exact median via quantile_cont (the
      // q41 exact-percentile equivalence).
      Sql("""WITH base AS (
        |  SELECT length(text) AS chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS ntok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE / length(text) END AS punct,
        |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) = 0 THEN 0.0
        |         ELSE len(list_intersect(
        |                list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''),
        |                ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are']))::DOUBLE
        |              / len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) END AS stop,
        |    md5(text) AS h
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |  sum(chars)::BIGINT AS total_chars,
        |  sum(ntok)::BIGINT AS total_tokens,
        |  round(1.0 - count(DISTINCT h)::DOUBLE / count(*), 6) AS exact_dup_rate,
        |  round(sum(CAST(ntok AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS mean_tokens,
        |  round(quantile_cont(ntok, 0.5), 6) AS p50_tokens,
        |  round(sum(CAST(round(punct, 9) AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS mean_punct_ratio,
        |  round(sum(CAST(round(stop, 9) AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS mean_stopword_ratio
        |FROM base""".stripMargin)),
    // Per-slice data card — the per-source table a mixture release
    // publishes; same formulas, grouped.
    Case("q73b_report_by_source", (s, dir) =>
      graft.ops.Corpus.reportBy(t(s, dir, "documents"), "text", Seq("source"))
        .drop("lang_top"),
      Sql("""WITH base AS (
        |  SELECT source, length(text) AS chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS ntok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE / length(text) END AS punct,
        |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) = 0 THEN 0.0
        |         ELSE len(list_intersect(
        |                list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''),
        |                ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are']))::DOUBLE
        |              / len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) END AS stop,
        |    md5(text) AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  sum(chars)::BIGINT AS total_chars,
        |  sum(ntok)::BIGINT AS total_tokens,
        |  round(1.0 - count(DISTINCT h)::DOUBLE / count(*), 6) AS exact_dup_rate,
        |  round(sum(CAST(ntok AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS mean_tokens,
        |  round(quantile_cont(ntok, 0.5), 6) AS p50_tokens,
        |  round(sum(CAST(round(punct, 9) AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS mean_punct_ratio,
        |  round(sum(CAST(round(stop, 9) AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS mean_stopword_ratio
        |FROM base GROUP BY source""".stripMargin)),
    // Distributed logistic-regression training (learned quality filter):
    // two full-batch iterations, each ONE aggregate reducing the corpus
    // to numFeatures+2 decimal sums. The determinism contract (sigmoids
    // rounded to 6, gradient terms to 9, exact decimal sums, left-to-
    // right dot products) makes the learned WEIGHTS bit-stable across
    // engines — the oracle replays the full unrolled training in SQL.
    Case("q72_logreg_train", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(
        (col("n_chars") / 1000.0).as("x1"),
        (size(TextStats.tokens(col("text"))) / 100.0).as("x2"),
        ((col("doc_id") % 10) / 10.0).as("x3"),
        when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"))
      val w = graft.ops.LogReg.train(d, Seq("x1", "x2", "x3"), "y",
        iters = 2, lr = 0.5)
      Seq(("x1", w(0)), ("x2", w(1)), ("x3", w(2)), ("bias", w(3)))
        .toDF("feature", "weight")
    },
      // Full unrolled replay of the two training iterations: iteration i's
      // gradient CTE aggregates the same rounded per-row terms into exact
      // decimal sums, its weight CTE applies the same HALF_UP-rounded
      // update, and iteration 2 reads iteration 1's weights via a 1-row
      // cross join. Dot products associate left-to-right in feature order,
      // exactly as LogReg.sigmoid builds them.
      Sql("""WITH data AS (
        |  SELECT CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS x1,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS DOUBLE)
        |      / CAST(100.0 AS DOUBLE) AS x2,
        |    CAST(doc_id % 10 AS DOUBLE) / CAST(10.0 AS DOUBLE) AS x3,
        |    CASE WHEN n_chars >= 300 THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM documents),
        |g1 AS (
        |  SELECT
        |    sum(CAST(round((y - 0.5) * x1, 9) AS DECIMAL(38,12))) AS s_x1,
        |    sum(CAST(round((y - 0.5) * x2, 9) AS DECIMAL(38,12))) AS s_x2,
        |    sum(CAST(round((y - 0.5) * x3, 9) AS DECIMAL(38,12))) AS s_x3,
        |    sum(CAST(round(y - 0.5, 9) AS DECIMAL(38,12))) AS s_b,
        |    count(*) AS n
        |  FROM data),
        |w1 AS (
        |  SELECT
        |    round((0.5 * CAST(s_x1 AS DOUBLE)) / n, 9) AS w1x1,
        |    round((0.5 * CAST(s_x2 AS DOUBLE)) / n, 9) AS w1x2,
        |    round((0.5 * CAST(s_x3 AS DOUBLE)) / n, 9) AS w1x3,
        |    round((0.5 * CAST(s_b AS DOUBLE)) / n, 9) AS w1b
        |  FROM g1),
        |g2 AS (
        |  SELECT
        |    sum(CAST(round((y - round(1.0 / (1.0 + exp(-(x1 * w1x1 + x2 * w1x2 + x3 * w1x3 + w1b))), 6)) * x1, 9) AS DECIMAL(38,12))) AS s_x1,
        |    sum(CAST(round((y - round(1.0 / (1.0 + exp(-(x1 * w1x1 + x2 * w1x2 + x3 * w1x3 + w1b))), 6)) * x2, 9) AS DECIMAL(38,12))) AS s_x2,
        |    sum(CAST(round((y - round(1.0 / (1.0 + exp(-(x1 * w1x1 + x2 * w1x2 + x3 * w1x3 + w1b))), 6)) * x3, 9) AS DECIMAL(38,12))) AS s_x3,
        |    sum(CAST(round(y - round(1.0 / (1.0 + exp(-(x1 * w1x1 + x2 * w1x2 + x3 * w1x3 + w1b))), 6), 9) AS DECIMAL(38,12))) AS s_b,
        |    count(*) AS n,
        |    any_value(w1x1) AS w1x1, any_value(w1x2) AS w1x2,
        |    any_value(w1x3) AS w1x3, any_value(w1b) AS w1b
        |  FROM data CROSS JOIN w1),
        |w2 AS (
        |  SELECT
        |    round(w1x1 + (0.5 * CAST(s_x1 AS DOUBLE)) / n, 9) AS w2x1,
        |    round(w1x2 + (0.5 * CAST(s_x2 AS DOUBLE)) / n, 9) AS w2x2,
        |    round(w1x3 + (0.5 * CAST(s_x3 AS DOUBLE)) / n, 9) AS w2x3,
        |    round(w1b + (0.5 * CAST(s_b AS DOUBLE)) / n, 9) AS w2b
        |  FROM g2)
        |SELECT 'x1' AS feature, w2x1 AS weight FROM w2
        |UNION ALL SELECT 'x2', w2x2 FROM w2
        |UNION ALL SELECT 'x3', w2x3 FROM w2
        |UNION ALL SELECT 'bias', w2b FROM w2""".stripMargin)),
    // TF-IDF per (doc, token) — raw tf, un-smoothed idf; ln on both engines
    // is IEEE double, rounded to 6 to absorb last-ulp libm differences.
    Case("q36_tfidf", (s, dir) =>
      graft.ops.Corpus.tfIdf(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("token"), col("tf"),
          round(col("tf_idf"), 6).as("tf_idf")),
      Sql("""WITH pairs AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM pairs GROUP BY doc_id, token
        |), dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY token
        |), n AS (
        |  SELECT count(DISTINCT doc_id) AS n FROM documents
        |)
        |SELECT tf.doc_id, tf.token, tf.tf,
        |  round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS tf_idf
        |FROM tf JOIN dfreq USING (token) CROSS JOIN n""".stripMargin)),
    // Bigram-LM perplexity quality scoring (ops/LangModel.scala), corpus
    // self-scored: Laplace-smoothed bigram probabilities, per-bigram log
    // probs rounded to 6 then summed EXACTLY as decimal(38,12) — the whole
    // training + scoring computation replays in DuckDB, including V and
    // the context/bigram count tables.
    Case("q58_perplexity", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.LangModel.scorePerplexity(d, "doc_id", "text", d, "text")
    },
      Sql(s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '$wsClassSql'), t -> t <> '') AS ts
         |  FROM documents
         |), bigr AS (
         |  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS prev, unnest(ts[2:len(ts)]) AS w
         |  FROM toks WHERE len(ts) >= 2
         |), voc AS (
         |  SELECT count(DISTINCT t) AS V FROM (SELECT unnest(ts) AS t FROM toks)
         |), ctx AS (
         |  SELECT prev, count(*) AS c_prev FROM bigr GROUP BY prev
         |), big AS (
         |  SELECT prev, w, count(*) AS c_bg FROM bigr GROUP BY prev, w
         |), lp AS (
         |  SELECT b.doc_id,
         |    round(ln((bg.c_bg + 1)::DOUBLE / (c.c_prev + v.V)::DOUBLE), 6) AS logp
         |  FROM bigr b
         |  JOIN big bg USING (prev, w)
         |  JOIN ctx c USING (prev)
         |  CROSS JOIN voc v
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  round(sum(CAST(logp AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS avg_logp,
         |  round(exp(-(sum(CAST(logp AS DECIMAL(38,12)))::DOUBLE / count(*))), 4) AS ppl
         |FROM lp GROUP BY doc_id""".stripMargin)),
    // Interpolated Kneser–Ney perplexity (the KenLM-class smoothing real
    // CCNet-style filtering uses): trained on the EVEN documents, scored
    // on all — odd documents hit unseen contexts/words, so the backoff
    // AND the floored continuation distribution are both exercised and
    // replayed. Full count + probability arithmetic in the oracle.
    Case("q90_perplexity_kn", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.LangModel.scorePerplexityKneserNey(
        d, "doc_id", "text", d.filter(col("doc_id") % 2 === 0), "text")
    },
      Sql(s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '$wsClassSql'), t -> t <> '') AS ts
         |  FROM documents
         |), bigr AS (
         |  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS prev, unnest(ts[2:len(ts)]) AS w
         |  FROM toks WHERE len(ts) >= 2
         |), tbigr AS (
         |  SELECT prev, w FROM bigr WHERE doc_id % 2 = 0
         |), voc AS (
         |  SELECT count(DISTINCT t) AS V
         |  FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id % 2 = 0)
         |), big AS (
         |  SELECT prev, w, count(*) AS c_bg FROM tbigr GROUP BY prev, w
         |), ctx AS (
         |  SELECT prev, sum(c_bg) AS c_prev, count(*) AS n1_prev
         |  FROM big GROUP BY prev
         |), n1w AS (
         |  SELECT w, count(*) AS n1_w FROM big GROUP BY w
         |), nbig AS (
         |  SELECT count(*) AS N FROM big
         |), lp AS (
         |  SELECT b.doc_id,
         |    round(ln(
         |      CASE WHEN c.c_prev IS NOT NULL THEN
         |        (GREATEST(COALESCE(bg.c_bg, 0)::DOUBLE - 0.75, 0.0)
         |          + 0.75 * c.n1_prev::DOUBLE *
         |            ((COALESCE(nw.n1_w, 0) + 1)::DOUBLE / (nb.N + v.V)::DOUBLE))
         |        / c.c_prev::DOUBLE
         |      ELSE (COALESCE(nw.n1_w, 0) + 1)::DOUBLE / (nb.N + v.V)::DOUBLE
         |      END), 6) AS logp
         |  FROM bigr b
         |  LEFT JOIN big bg USING (prev, w)
         |  LEFT JOIN ctx c USING (prev)
         |  LEFT JOIN n1w nw USING (w)
         |  CROSS JOIN nbig nb CROSS JOIN voc v
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  round(sum(CAST(logp AS DECIMAL(38,12)))::DOUBLE / count(*), 6) AS avg_logp,
         |  round(exp(-(sum(CAST(logp AS DECIMAL(38,12)))::DOUBLE / count(*))), 4) AS ppl
         |FROM lp GROUP BY doc_id""".stripMargin)),
    // Multi-code lang_id through the SQL registration (GraftExtensions
    // `lang_id(text[, maxLangs])` → LangIdTopExpr): the same classifier
    // classes as q107c driven PURELY through selectExpr over registered
    // temp functions — config-only SQL curation must produce the exact
    // cc-index languages shape indexWarc emits, at k = 1, 2 and 3
    // (k=1 equals the single-code form by construction; the bilingual
    // class lists both codes at k >= 2).
    Case("q107d_langid_sql", (s, dir) => {
      graft.ops.expr.NativeSig.register(s)
      val body = when(col("id") % 4 === 0, lit(LangGateEn))
        .when(col("id") % 4 === 1, lit(LangGateFr))
        .when(col("id") % 4 === 2, lit(LangGateRu))
        .otherwise(lit(LangGateEn + " " + LangGateFr))
      s.range(0, 200).select(col("id"), body.as("text"))
        .selectExpr("id", "lang_id(text) AS lang1",
          "lang_id(text, 2) AS lang2", "lang_id(text, 3) AS lang3")
    },
      Sql("""SELECT i AS id,
        |  CASE i % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'ru'
        |       ELSE 'fr' END AS lang1,
        |  CASE i % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'ru'
        |       ELSE 'fr,en' END AS lang2,
        |  CASE i % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'ru'
        |       ELSE 'fr,en' END AS lang3
        |FROM (SELECT range AS i FROM range(0, 200))""".stripMargin)),
    // ISO 639-3 edge mapping (TextStats.toIso639_3 / SQL iso639_3): the
    // published cc-index spells `languages` in 639-3 (`eng`, `fra,eng`)
    // where this library's classifier emits 639-1 — this is the
    // documented bridge for joining against the published artifact.
    // Driven through BOTH surfaces (the SQL registration composing
    // iso639_3(lang_id(text)) and the Scala column API over the
    // multi-code form); unknown codes and `und` pass through.
    Case("q107f_langid_iso3", (s, dir) => {
      graft.ops.expr.NativeSig.register(s)
      val body = when(col("id") % 4 === 0, lit(LangGateEn))
        .when(col("id") % 4 === 1, lit(LangGateFr))
        .when(col("id") % 4 === 2, lit(LangGateRu))
        .otherwise(lit(LangGateEn + " " + LangGateFr))
      s.range(0, 200).select(col("id"), body.as("text"))
        .withColumn("lang1", expr("iso639_3(lang_id(text))"))
        .withColumn("lang3", graft.ops.TextStats.toIso639_3(
          graft.ops.TextStats.langId(col("text"), 3)))
        .withColumn("passthrough", expr("iso639_3('und,xx')"))
        .select(col("id"), col("lang1"), col("lang3"), col("passthrough"))
    },
      Sql("""SELECT i AS id,
        |  CASE i % 4 WHEN 0 THEN 'eng' WHEN 1 THEN 'fra' WHEN 2 THEN 'rus'
        |       ELSE 'fra' END AS lang1,
        |  CASE i % 4 WHEN 0 THEN 'eng' WHEN 1 THEN 'fra' WHEN 2 THEN 'rus'
        |       ELSE 'fra,eng' END AS lang3,
        |  'und,xx' AS passthrough
        |FROM (SELECT range AS i FROM range(0, 200))""".stripMargin))
  )
}
