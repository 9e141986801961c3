package graft.driver

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PublishedSamples
import graft.SparkEntry.{CapstonePromo, CapstoneRu, CapstoneMarker,
  CapstoneSpam}

/** Driver queries for crawl formats read and written end to end: WARC, WET,
  * WAT, tar, JSONL and CSV shards, the streaming event gate and the crawl
  * capstone.
  */
private[graft] object CrawlCases {

  /** q99's fixture archive write (the capstone's planted corpus rendered
    * to a zstd-dict WARC archive — the fixture half of the gate; the
    * pipeline half is [[q99Pipeline]]). See the q99 case's comments for
    * the construction's intent.
    */
  private def q99WriteArchive(s: SparkSession, dir: String, fixture: File): Unit = {
    require(CapstonePromo.length > 200 && CapstoneRu.length > 200)
    val out = new File(fixture, "cap").getPath
    val base0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = base0.unionByName(
      base0.select((col("doc_id") + 1001000L).as("doc_id"), col("text")))
    val pagePrefix = "<html><body><nav><a href=\"/\">Home</a> " +
      "<a href=\"/a\">About</a></nav>"
    val pageSuffix = "<footer><a href=\"/t\">Terms</a></footer></body></html>"
    // %13==2: machine-repeated spam — dup 5-gram coverage blows the
    // Gopher cap, so the keep_full gate must FIRE on this class (the
    // promo paragraph makes every other signal healthy on every page;
    // the copy shift 1001000 = 7·11·13·1000 keeps this class aligned
    // between originals and copies too)
    val inner = when(col("doc_id") % 13 === 2, lit(CapstoneSpam))
      .otherwise(concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" pay 4111 1111 1111 1111 now"))
          .when(col("doc_id") % 5 === 1, lit(" ref 4111 1111 1111 1112 end"))
          .otherwise(lit(""))))
    // ORIGINAL page bytes: ASCII chrome UTF-8-encoded, the marker as
    // raw cp1252 bytes under an iso-8859-1 label (Spark's encode()
    // cannot emit cp1252 for ’/…; a binary literal can). The +1001000
    // COPY of the same page is UTF-8 bytes under a utf-8 label —
    // byte-divergent, decode-CONVERGENT twins: only the WHATWG label
    // remap makes them equal, so the exact-dedup collapse downstream
    // is the charset detector (see CapstoneMarker's scaladoc).
    val isCopy = col("doc_id") >= 1001000L
    val body = when(col("doc_id") % 11 === 0,
        lit((pagePrefix + "<p>" + CapstoneRu + "</p>" + pageSuffix)
          .getBytes("UTF-8")))
      .when(isCopy,
        encode(concat(
          lit(pagePrefix + "<p>" + CapstonePromo + "</p><p>"), inner,
          lit(CapstoneMarker + "</p>" + pageSuffix)), "UTF-8"))
      .otherwise(concat(
        encode(concat(
          lit(pagePrefix + "<p>" + CapstonePromo + "</p><p>"), inner),
          "UTF-8"),
        lit(CapstoneMarker.getBytes("windows-1252")),
        encode(lit("</p>" + pageSuffix), "UTF-8")))
    val src = base.select(
      concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
        lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
      body.as("body"),
      when(col("doc_id") % 11 === 0 || isCopy, lit("text/html; charset=utf-8"))
        .otherwise(lit("text/html; charset=iso-8859-1")).as("ct"))
    // Shard count scales with the session: a WARC scan is one task per
    // shard (whole-archive decode), so a 4-shard fixture pinned the
    // TIMED pipeline's scan stage to 4 tasks on any box — measuring the
    // fixture's narrowness, not the operator (real crawl segments carry
    // far more shards than a node has cores; the lower-core driver bench
    // gets proportionally fewer shards, keeping the scaling row honest).
    // Payloads are byte-identical under any sharding, so the declared
    // query's result set is unchanged (oracle-verified).
    graft.sources.Warc.writeWarcResponses(
      src.repartition(math.max(4, s.sparkContext.defaultParallelism)),
      out, "uri", "body", overwrite = true,
      contentTypeCol = Some("ct"), codec = "zstd-dict")
  }

  /** q99's archive, written once per (sf dir, JVM). */
  private val capstoneArchive = new FilesFixture("graft_warc_cap_", q99WriteArchive)

  /** q99's 13-leg pipeline over the fixture archive — the TIMED half. */
  private def q99Pipeline(s: SparkSession, dir: String, out: String): DataFrame =
    graft.pipeline.Pipeline.run(s,
      s"""source: {format: warc, path: "$out"}
         |steps:
         |  - filter: "$$http_status == 200"
         |  - withColumns:
         |      doc_id: "(extract group 1 of /([0-9]+)$$/ from $$target_uri)::int"
         |  - extractContent: {html: text, as: main,
         |      stopwordsLow: 0.0, stopwordsHigh: 0.0}
         |  - filter: "len_chars($$main) > 0"
         |  - langId: {text: main, as: lang}
         |  - filter: "$$lang != 'ru'"
         |  - repetitionSignals: {text: main}
         |  - filter: "$$keep_full"
         |  - dedupExact: {id: doc_id, keys: [main]}
         |  - dedupSegments: {id: doc_id, text: main}
         |  - decontaminate: {table: evalset, id: doc_id,
         |      text: text_dedup, evalText: text, mode: remove}
         |  - redact: {text: text_dedup, as: clean, validated: true}
         |  - pack: {id: doc_id, text: clean, seqTokens: 256, orderBy: [doc_id]}
         |""".stripMargin,
      name =>
        if (name == "evalset")
          t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        else t(s, dir, name))
      .select(col("doc_id").cast("long").as("doc_id"), col("seq_id"),
        col("seq_offset"), col("doc_offset"), col("n_tokens"))

  /** q56's fixture build: the doubled event corpus written as ts-ordered
    * JSONL shards plus the two flush sentinels — the construction half of
    * the gate (see the q56 case's comments). Bench runs this OUTSIDE the
    * timed region (the q80/q99 "bench-prepared" pattern): the timed
    * region measures the streaming dedup + sessionization, not the
    * fixture's JSON write.
    */
  private def q56WriteShards(s: SparkSession, dir: String, fixture: File): Unit = {
    FileUtils.deleteQuietly(fixture); fixture.mkdirs()
    val in = new java.io.File(fixture, "in"); in.mkdirs()
    val ev = graft.sources.Readers.readEvents(s, dir)
      .select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("user_id"))
    val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
    // each event twice, ts-ordered shards (equal keys co-partition)
    val staging = new java.io.File(fixture, "_staging")
    ev.unionAll(ev).repartitionByRange(4, col("ts_us"))
      .sortWithinPartitions("ts_us")
      .write.json(staging.getPath)
    var i = 0
    for (f <- staging.listFiles.sortBy(_.getName) if f.getName.startsWith("part-")) {
      val dst = new java.io.File(in, f"shard-$i%05d.jsonl")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
      i += 1
    }
    FileUtils.deleteQuietly(staging)
    for ((off, j) <- Seq(3600000000L, 7200000000L).zipWithIndex) {
      val f = new java.io.File(in, s"zz-flush-$j.jsonl")
      val w = new java.io.FileWriter(f)
      try w.write(s"""{"event_id":-1,"ts_us":${maxUs + off},"user_id":-1}""" + "\n")
      finally w.close()
      f.setLastModified(1000000L * (i + j + 1))
    }
  }

  /** q56's event shards, written once per (sf dir, JVM). */
  private val eventShards = new FilesFixture("graft_stream_e2e_", q56WriteShards)

  val cases: Seq[Case] = Seq(
    Case("q88_warc_roundtrip", (s, dir) => {
      val fixture = scratchDir("graft_warc_", dir)
      val out = new java.io.File(fixture, "rt").getPath
      val src = t(s, dir, "documents").select(
        concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text").as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(4), out, "uri", "body", overwrite = true)
      graft.sources.Warc.readWarc(s, out).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("uri"),
        col("warc_type"),
        col("http_status").as("status"),
        col("http_content_type").as("ctype"),
        col("payload").cast("string").as("body"),
        col("content_length").as("clen"),
        col("truncated"))
    },
      // WARC round trip: every field the reader surfaces is derivable from
      // `documents` — the writer stamps constant status/content-type, the
      // record Content-Length is 77 fixed HTTP-chrome bytes + the digits of
      // the body byte count + the body bytes.
      Sql("""SELECT doc_id,
        |  'https://site' || (doc_id % 50) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  200 AS status,
        |  'text/html; charset=UTF-8' AS ctype,
        |  text AS body,
        |  (77 + length(CAST(octet_length(encode(text)) AS VARCHAR))
        |     + octet_length(encode(text)))::BIGINT AS clen,
        |  false AS truncated
        |FROM documents""".stripMargin)),
    // Crawl-curation e2e from YAML over the warc source: the config-driven
    // user's CommonCrawl opening move — read the archive, keep HTTP 200s,
    // group by registrable domain (PSL) with per-domain doc and char
    // totals. Fully oracle-replayed (domains are site<N>.com by
    // construction, so eTLD+1 arithmetic is replayable).
    Case("q88b_warc_curation", (s, dir) => {
      val fixture = scratchDir("graft_warc_", dir)
      val out = new java.io.File(fixture, "cur").getPath
      val src = t(s, dir, "documents").select(
        concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text").as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(4), out, "uri", "body", overwrite = true)
      graft.pipeline.Pipeline.run(s,
        s"""source: {format: warc, path: "$out"}
           |steps:
           |  - filter: "$$http_status == 200"
           |  - withColumns:
           |      body: $$payload::str
           |  - domainOf: {url: target_uri, as: domain}
           |  - groupBy: [domain]
           |    agg:
           |      n_docs: {count: "*"}
           |      total_chars: {sum: "len_chars($$body)"}
           |""".stripMargin,
        name => t(s, dir, name))
    },
      Sql("""SELECT 'site' || (doc_id % 50) || '.com' AS domain,
        |  count(*) AS n_docs,
        |  sum(length(text))::BIGINT AS total_chars
        |FROM documents
        |GROUP BY 1""".stripMargin)),
    // THE CRAWL-OPENING CAPSTONE (r12 verdict item 5): ONE YAML config
    // chaining the full curation path — dictionary-zstd WARC read →
    // charset decode (iso-8859-1-labeled cp1252 originals vs utf-8
    // twins; any mis-decode breaks the twin collapse at the dedup leg
    // and the whole keep-set goes red — see CapstoneMarker) →
    // jusText extractContent → langId gate (planted Cyrillic pages must
    // drop; an a-z corpus can never classify ru, so the keep-set is
    // constructive) → full-Gopher keep_full → exact dedup (planted
    // whole-corpus copies at +1001000 ≡ 0 mod 5·7·11, so every plant
    // aligns) → cross-corpus segment dedup (the promo paragraph on every
    // page collapses to its keep-first winner) → 8-gram decontamination
    // against an eval slice → checksum-validated redaction (grouped
    // Luhn-valid card collapses 4 tokens to one; the invalid twin must
    // not) → sequence packing. The oracle replays the ENTIRE keep-set
    // and the exact packed-sequence arithmetic in DuckDB.
    Case("q99_crawl_capstone", (s, dir) => {
      // bench-prepared: the archive is already on disk for this JVM — the
      // timed region measures the 13-leg pipeline, not the fixture write
      val fixture = capstoneArchive.ensure(s, dir)
      q99Pipeline(s, dir, new File(fixture, "cap").getPath)
    },
      // THE CAPSTONE ORACLE: DuckDB re-derives the whole keep-set — the
      // jusText main (promo always good; the doc paragraph kept iff ≥ 70
      // chars, near-good rescued by the good promo neighbor, short dropped
      // against the bad footer), the langId exclusion (doc_id % 11), the
      // full Gopher keep over the derived main, exact dedup (min doc_id
      // per main), keep-first segment dedup (row_number over (doc_id,
      // pos)), 8-gram decontamination against the % 7 eval slice, the
      // Luhn-valid grouped-card redaction (and NOT the invalid twin) — and
      // then replays the exact packed-sequence arithmetic (exclusive
      // running sum, span explosion, per-sequence token splits).
      Sql {
        val mainDerivation =
          s"""  SELECT doc_id,
             |    CASE WHEN length(docline) >= 70
             |         THEN '$CapstonePromo' || chr(10) || docline
             |         ELSE '$CapstonePromo' END AS text
             |  FROM (
             |    SELECT doc_id,
             |      CASE WHEN doc_id % 13 = 2 THEN '$CapstoneSpam'
             |           ELSE text ||
             |             CASE WHEN doc_id % 5 = 0 THEN ' pay 4111 1111 1111 1111 now'
             |                  WHEN doc_id % 5 = 1 THEN ' ref 4111 1111 1111 1112 end'
             |                  ELSE '' END
             |      END || '$CapstoneMarker' AS docline
             |    FROM (SELECT doc_id, text FROM documents
             |          UNION ALL SELECT doc_id + 1001000, text FROM documents)
             |    WHERE doc_id % 11 <> 0)""".stripMargin
        def grams8(fromSql: String, textCol: String): String =
          s"""SELECT doc_id,
             |  CASE WHEN len(toks) = 0 THEN []
             |       WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
             |       ELSE list_distinct([array_to_string(toks[i:i+7], ' ')
             |                           for i in generate_series(1, len(toks)-7)])
             |  END AS grams
             |FROM (SELECT doc_id,
             |        list_filter(string_split_regex($textCol, '$wsClassSql'), t -> t <> '') AS toks
             |      FROM $fromSql)""".stripMargin
        s"""WITH m1 AS (
           |$mainDerivation),
           |keep1 AS (
           |  SELECT m1.doc_id, m1.text AS main
           |  FROM m1 JOIN ${gopherKeepReplaySql(mainDerivation, EnStopListSql, 2)} g
           |    USING (doc_id)
           |  WHERE g.keep),
           |d1 AS (SELECT min(doc_id) AS doc_id, main FROM keep1 GROUP BY main),
           |segs AS (
           |  SELECT doc_id, unnest(generate_series(1, len(lines))) AS pos,
           |         unnest(lines) AS seg
           |  FROM (SELECT doc_id, string_split(main, chr(10)) AS lines FROM d1)),
           |marked AS (
           |  SELECT doc_id, pos, seg,
           |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
           |  FROM segs),
           |d2 AS (
           |  SELECT doc_id,
           |    coalesce(string_agg(seg, chr(10) ORDER BY pos) FILTER (WHERE rn = 1), '') AS text_dedup
           |  FROM marked GROUP BY doc_id),
           |eg AS (SELECT DISTINCT unnest(grams) AS g
           |       FROM (${grams8("(SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0)", "text")})),
           |tg AS (SELECT doc_id, unnest(grams) AS g
           |       FROM (${grams8("(SELECT doc_id, text_dedup FROM d2)", "text_dedup")})),
           |hits AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g)),
           |p0 AS (
           |  SELECT d2.doc_id,
           |    len(list_filter(string_split_regex(
           |      replace(d2.text_dedup, '4111 1111 1111 1111', '<CARD>'),
           |      '$wsClassSql'), t -> t <> ''))::BIGINT AS n
           |  FROM d2 LEFT JOIN hits ON d2.doc_id = hits.doc_id
           |  WHERE hits.doc_id IS NULL),
           |p1 AS (
           |  SELECT doc_id, n,
           |    coalesce(sum(n) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
           |  FROM p0 WHERE n > 0)
           |SELECT doc_id, s AS seq_id,
           |  (greatest(cum, s * 256) - s * 256)::BIGINT AS seq_offset,
           |  (greatest(cum, s * 256) - cum)::BIGINT AS doc_offset,
           |  (least(cum + n, (s + 1) * 256) - greatest(cum, s * 256))::BIGINT AS n_tokens
           |FROM (SELECT doc_id, n, cum,
           |        unnest(generate_series(cum // 256, (cum + n - 1) // 256)) AS s
           |      FROM p1)""".stripMargin
      },
      fixture = Some(capstoneArchive)),
    // WET (conversion-record) gate: CommonCrawl's extracted-text sibling
    // format — WARC-Type: conversion, record Content-Type text/plain,
    // content block = the text itself (no HTTP envelope). The generic
    // reader must surface these with null HTTP fields and the raw text
    // payload; every reader field replayed arithmetically in DuckDB.
    Case("q88e_wet_conversion", (s, dir) => {
      val fixture = scratchDir("graft_warc_", dir)
      val out = new java.io.File(fixture, "wet").getPath
      val src = t(s, dir, "documents").select(
        concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text"))
      graft.sources.Warc.writeWetConversions(
        src.repartition(4), out, "uri", "text", overwrite = true)
      graft.sources.Warc.readWarc(s, out).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("uri"),
        col("warc_type"),
        col("content_type").as("ctype"),
        col("http_status").isNull.as("no_http"),
        col("payload").cast("string").as("text"),
        col("content_length").as("clen"),
        col("truncated"))
    },
      // WET conversion records: no HTTP envelope, so content_length is the
      // text's UTF-8 octet length exactly; HTTP fields are null
      Sql("""SELECT doc_id,
        |  'https://site' || (doc_id % 50) || '.com/doc/' || doc_id AS uri,
        |  'conversion' AS warc_type,
        |  'text/plain' AS ctype,
        |  true AS no_http,
        |  text AS text,
        |  octet_length(encode(text))::BIGINT AS clen,
        |  false AS truncated
        |FROM documents""".stripMargin)),
    // .warc.zst roundtrip: the same reader-field replay as q88 over
    // ZSTD-compressed shards (newer CommonCrawl segments ship zstd;
    // member-per-record concatenated frames, no shared dictionary —
    // the reader's continuous-mode decode). Same oracle arithmetic.
    Case("q88c_warc_zst_roundtrip", (s, dir) => {
      val fixture = scratchDir("graft_warc_", dir)
      val out = new java.io.File(fixture, "zst").getPath
      val src = t(s, dir, "documents").select(
        concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text").as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(4), out, "uri", "body", overwrite = true,
        codec = "zstd")
      graft.sources.Warc.readWarc(s, out).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("uri"),
        col("warc_type"),
        col("http_status").as("status"),
        col("payload").cast("string").as("body"),
        col("content_length").as("clen"),
        col("truncated"))
    },
      Sql("""SELECT doc_id,
        |  'https://site' || (doc_id % 50) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  200 AS status,
        |  text AS body,
        |  (77 + length(CAST(octet_length(encode(text)) AS VARCHAR))
        |     + octet_length(encode(text)))::BIGINT AS clen,
        |  false AS truncated
        |FROM documents""".stripMargin)),
    // Same reader-field replay through the DICTIONARY-compressed layout:
    // each shard leads with a trained per-shard dictionary in the iipc
    // 0x184D2A5D skippable frame, members compress against it, and the
    // reader must decode every field identically to the plain-frame path.
    Case("q88d_warc_zst_dict_roundtrip", (s, dir) => {
      val fixture = scratchDir("graft_warc_", dir)
      val out = new java.io.File(fixture, "zstdict").getPath
      val src = t(s, dir, "documents").select(
        concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text").as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(2), out, "uri", "body", overwrite = true,
        codec = "zstd-dict")
      graft.sources.Warc.readWarc(s, out).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("uri"),
        col("warc_type"),
        col("http_status").as("status"),
        col("payload").cast("string").as("body"),
        col("content_length").as("clen"),
        col("truncated"))
    },
      // same Content-Length arithmetic as q88, zstd member framing
      Sql("""SELECT doc_id,
        |  'https://site' || (doc_id % 50) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  200 AS status,
        |  text AS body,
        |  (77 + length(CAST(octet_length(encode(text)) AS VARCHAR))
        |     + octet_length(encode(text)))::BIGINT AS clen,
        |  false AS truncated
        |FROM documents""".stripMargin)),
    // CHARSET-AWARE WARC DECODE GATE: plant pages in the legacy encodings
    // real crawls carry (~10% of CommonCrawl HTML is non-UTF-8) and
    // replay the whole sniffing chain — HTTP header charset param,
    // meta-tag prescan (both spellings), BOM precedence over a LYING
    // header, unknown-label fallthrough, UTF-16 — through the pipeline's
    // `format: warc` source (text: true default). The oracle pins the
    // expected DECODED strings as literals (the q55c convention).
    Case("q94_warc_charset", (s, dir) => {
      import s.implicits._
      val fixture = scratchDir("graft_warc_cs_", dir)
      val out = new java.io.File(fixture, "cs").getPath
      def b(text: String, cs: String) = text.getBytes(cs)
      val utf16le = {
        val body = "utf16 page é".getBytes("UTF-16LE")
        Array(0xff.toByte, 0xfe.toByte) ++ body
      }
      val bomUtf8 =
        Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ b("bom wins: é", "UTF-8")
      val pages: Seq[(String, Array[Byte], String)] = Seq(
        ("https://enc.test/p1", b("café – déjà vu €", "windows-1252"),
          "text/html; charset=windows-1252"),
        ("https://enc.test/p2", b("こんにちは世界", "Shift_JIS"),
          "text/html; charset=Shift_JIS"),
        ("https://enc.test/p3",
          b("<html><head><meta charset=\"shift_jis\"></head>" +
            "<body>日本語テキスト</body></html>", "Shift_JIS"),
          "text/html"),
        ("https://enc.test/p4", bomUtf8, "text/html; charset=windows-1252"),
        ("https://enc.test/p5", b("plain utf-8: ünïcödé ✓", "UTF-8"),
          "text/html"),
        ("https://enc.test/p6", utf16le, "text/html"),
        ("https://enc.test/p7",
          b("<html><head><meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=windows-1252\"></head>" +
            "<body>smart “quotes”</body></html>", "windows-1252"),
          "text/html"),
        ("https://enc.test/p8", b("fallback äßç", "UTF-8"),
          "text/html; charset=x-bogus-enc"))
      graft.sources.Warc.writeWarcResponses(
        pages.toDF("uri", "body", "ct"), out, "uri", "body",
        overwrite = true, contentTypeCol = Some("ct"))
      graft.pipeline.Pipeline.run(s,
        s"""source: {format: warc, path: "$out"}
           |steps:
           |  - filter: "$$http_status == 200"
           |""".stripMargin,
        name => t(s, dir, name))
        .select(
          regexp_extract(col("target_uri"), "/p(\\d+)$", 1)
            .cast("long").as("page"),
          col("text"))
    },
      // The expected DECODED strings, literal: each page's bytes were
      // produced driver-side by encoding exactly these strings in the
      // charset the sniffing chain must pick (header param, meta prescan,
      // BOM-over-lying-header, UTF-16LE, unknown-label fallthrough).
      Sql("""SELECT page::BIGINT AS page, text FROM (VALUES
        |  (1, 'café – déjà vu €'),
        |  (2, 'こんにちは世界'),
        |  (3, '<html><head><meta charset="shift_jis"></head><body>日本語テキスト</body></html>'),
        |  (4, 'bom wins: é'),
        |  (5, 'plain utf-8: ünïcödé ✓'),
        |  (6, 'utf16 page é'),
        |  (7, '<html><head><meta http-equiv="Content-Type" content="text/html; charset=windows-1252"></head><body>smart “quotes”</body></html>'),
        |  (8, 'fallback äßç')) t(page, text)""".stripMargin)),
    // WHATWG LABEL-TABLE + PRESCAN-CONFINEMENT GATE (the r12 verdict's top
    // item): the latin-1/ascii label family must decode as windows-1252
    // (0x80–0x9F punctuation survives instead of becoming C1 controls),
    // spec remaps (iso-8859-9→cp1254), the replacement-encoding firewall,
    // decoy charset= in comments/scripts/other tags must NOT win the
    // prescan, the http-equiv content form needs its pragma, and the two
    // meta quirks (utf-16 label→utf-8, x-user-defined→cp1252). Expected
    // DECODED strings pinned as DuckDB literals (the q94 pattern).
    Case("q94b_whatwg_labels", (s, dir) => {
      import s.implicits._
      val fixture = scratchDir("graft_warc_lbl_", dir)
      val out = new java.io.File(fixture, "lbl").getPath
      def b(text: String, cs: String) = text.getBytes(cs)
      val decoyHtml = "<!-- charset=shift_jis --><script>var s='charset=big5';" +
        "</script><a href=\"/x?charset=utf-16be\">x</a>" +
        "<meta charset=windows-1252>quotes “–€”"
      val pages: Seq[(String, Array[Byte], String)] = Seq(
        ("https://lbl.test/p1", b("euro € smart “quotes” – dash", "windows-1252"),
          "text/html; charset=iso-8859-1"),
        ("https://lbl.test/p2", b("naïve café – €", "windows-1252"),
          "text/html; charset=latin1"),
        ("https://lbl.test/p3", b("price € — em", "windows-1252"),
          "text/html; charset=us-ascii"),
        ("https://lbl.test/p4", b(decoyHtml, "windows-1252"), "text/html"),
        ("https://lbl.test/p5",
          b("<meta name=\"description\" content=\"charset=big5 tutorial\">é ok",
            "UTF-8"), "text/html"),
        ("https://lbl.test/p6", b("<html>attack</html>", "UTF-8"),
          "text/html; charset=iso-2022-kr"),
        ("https://lbl.test/p7", b("<meta charset=utf-16le>tricky é", "UTF-8"),
          "text/html"),
        ("https://lbl.test/p8", b("<meta charset=x-user-defined>€–", "windows-1252"),
          "text/html"),
        ("https://lbl.test/p9", b("türkçe € “tr” şğ", "windows-1254"),
          "text/html; charset=iso-8859-9"),
        // header x-user-defined: the spec's byte→PUA decode (0x80+b →
        // U+F780+b); the meta quirk (cp1252) applies only in meta position
        ("https://lbl.test/p10",
          "ab".getBytes("US-ASCII") ++ Array(0x80.toByte, 0xff.toByte),
          "text/html; charset=x-user-defined"))
      graft.sources.Warc.writeWarcResponses(
        pages.toDF("uri", "body", "ct"), out, "uri", "body",
        overwrite = true, contentTypeCol = Some("ct"))
      graft.pipeline.Pipeline.run(s,
        s"""source: {format: warc, path: "$out"}
           |steps:
           |  - filter: "$$http_status == 200"
           |""".stripMargin,
        name => t(s, dir, name))
        .select(
          regexp_extract(col("target_uri"), "/p(\\d+)$", 1)
            .cast("long").as("page"),
          col("text"))
    },
      // WHATWG label table + prescan confinement: every byte sequence was
      // authored driver-side by encoding EXACTLY these strings in the
      // charset the spec's label table / prescan rules must pick. p1–p3:
      // latin-1/ascii labels → cp1252 (the € / curly quotes / dashes only
      // decode right under the remap); p4: decoys in a comment, a script
      // body, and an <a> attribute lose to the real <meta>; p5: content=
      // charset without the content-type pragma never wins (utf-8 wins);
      // p6: replacement encoding → one U+FFFD; p7: meta utf-16 label reads
      // as utf-8; p8: meta x-user-defined reads as cp1252; p9: iso-8859-9
      // label → windows-1254.
      Sql(("""SELECT page::BIGINT AS page, text FROM (VALUES
        |  (1, 'euro € smart “quotes” – dash'),
        |  (2, 'naïve café – €'),
        |  (3, 'price € — em'),
        |  (4, '<!-- charset=shift_jis --><script>var s=''charset=big5'';""" +
        """</script><a href="/x?charset=utf-16be">x</a>""" +
        """<meta charset=windows-1252>quotes “–€”'),
        |  (5, '<meta name="description" content="charset=big5 tutorial">é ok'),
        |  (6, chr(65533)),
        |  (7, '<meta charset=utf-16le>tricky é'),
        |  (8, '<meta charset=x-user-defined>€–'),
        |  (9, 'türkçe € “tr” şğ'),
        |  (10, 'ab' || chr(63360) || chr(63487))) t(page, text)""").stripMargin)),
    // Compressed-JSONL ingestion, oracle-checked as a roundtrip: documents
    // → gzip .jsonl shards (df.write.json with gzip codec) → readJsonl with
    // an EXPLICIT schema (the 100 TB path: no inference pass, parse-time
    // projection) → rows, which must equal the parquet originals. Exercises
    // the full reader stack — codec detection, line splitting, schema'd
    // parse — against real corpus text (embedded quotes/newlines/unicode).
    // CSV roundtrip with a planted type-torn shard: documents (newlines
    // flattened — CSV stays line-splittable, the readCsv scale contract)
    // → csv shards → schema'd read with badRecords=drop must recover
    // EXACTLY the clean rows. The oracle is the source table with the
    // same newline flattening.
    Case("q98_csv_roundtrip", (s, dir) => {
      val fixture = scratchDir("graft_csv_", dir).getPath
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "[\\n\\r]", " ").as("text"))
        .write.mode("overwrite").csv(fixture)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(fixture, "zz-torn-shard.csv"),
        "notanumber,torn row\n".getBytes("UTF-8"))
      graft.sources.Readers.readCsv(s, fixture,
        schema = "doc_id BIGINT, text STRING", badRecords = "drop")
        .select(col("doc_id"), col("text"))
    },
      Sql("""SELECT doc_id,
        |  regexp_replace(text, '[\n\r]', ' ', 'g') AS text
        |FROM documents""".stripMargin)),
    Case("q53_jsonl", (s, dir) => {
      // keyed by data dir AND this JVM's pid: two concurrent Verify runs on
      // different checkouts of the same sfDir must not clobber each other's
      // fixture mid-overwrite
      val fixture = scratchDir("graft_jsonl_", dir).getPath
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .write.mode("overwrite").option("compression", "gzip").json(fixture)
      // plant a corrupt shard: the drop policy must recover EXACTLY the
      // clean rows — the oracle (the source table) checks both the parse
      // fidelity and the bad-record policy in one go
      val corrupt = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(
          new java.io.File(fixture, "zz-corrupt-shard.jsonl.gz")))
      corrupt.write("{\"doc_id\": not json}\ntotal garbage\n".getBytes("UTF-8"))
      corrupt.close()
      graft.sources.Readers.readJsonl(s, fixture,
        schema = "doc_id BIGINT, text STRING", badRecords = "drop")
        .select(col("doc_id"), col("text"))
    },
      // Roundtrip identity: if the gzip-JSONL write+read preserved every row
      // and byte, the result is exactly the source table's projection.
      Sql("SELECT doc_id, text FROM documents")),
    // Mixed-codec JSONL ingestion: the same roundtrip oracle as q53, over a
    // directory mixing gzip shards, ZSTD shards (how modern corpus drops
    // actually ship — e.g. `.jsonl.zst` web-crawl dumps), and a planted
    // corrupt zst shard. Spark's JSON WRITER has no zstd codec, so the zst
    // shards are built by stream-compressing Spark-written plain parts with
    // zstd-jni (already on every Spark classpath — it backs shuffle
    // compression); the READ side resolves `.zst` through Hadoop's codec
    // factory with zero configuration, which is the property under test.
    Case("q53b_jsonl_zst", (s, dir) => {
      val fixture = scratchDir("graft_jsonl_zst_", dir)
      FileUtils.deleteQuietly(fixture); fixture.mkdirs()
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val gzTmp = new java.io.File(fixture, "_gz_tmp")
      val plainTmp = new java.io.File(fixture, "_plain_tmp")
      docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite")
        .option("compression", "gzip").json(gzTmp.getPath)
      docs.filter(col("doc_id") % 2 === 1).write.mode("overwrite")
        .json(plainTmp.getPath)
      // driver-side shard plumbing only — file moves/recompression, never
      // row materialization; scales with shard count, not corpus size
      var i = 0
      for (f <- gzTmp.listFiles if f.getName.startsWith("part-")) {
        java.nio.file.Files.move(f.toPath,
          new java.io.File(fixture, f"shard-gz-$i%05d.jsonl.gz").toPath)
        i += 1
      }
      i = 0
      for (f <- plainTmp.listFiles if f.getName.startsWith("part-")) {
        val zo = new com.github.luben.zstd.ZstdOutputStream(
          new java.io.FileOutputStream(
            new java.io.File(fixture, f"shard-zst-$i%05d.jsonl.zst")))
        try java.nio.file.Files.copy(f.toPath, zo) finally zo.close()
        i += 1
      }
      FileUtils.deleteQuietly(gzTmp); FileUtils.deleteQuietly(plainTmp)
      val corrupt = new com.github.luben.zstd.ZstdOutputStream(
        new java.io.FileOutputStream(
          new java.io.File(fixture, "zz-corrupt-shard.jsonl.zst")))
      try corrupt.write("{\"doc_id\": broken}\nnot json at all\n".getBytes("UTF-8"))
      finally corrupt.close()
      graft.sources.Readers.readJsonl(s, fixture.getPath,
        schema = "doc_id BIGINT, text STRING", badRecords = "drop")
        .select(col("doc_id"), col("text"))
    },
      // Same roundtrip identity over the mixed gz+zst+corrupt directory: the
      // drop policy must recover exactly the clean rows regardless of codec.
      Sql("SELECT doc_id, text FROM documents")),
    // Streaming end-to-end under the oracle gate: the full ingestion chain
    // readJsonlStream → watermarked exact dedup → session windows, driven
    // over a deterministic file-fed micro-batch sequence (one shard per
    // trigger), with the final sessions compared to a DuckDB gaps-and-
    // islands replay of the batch semantics.
    //
    // Determinism by construction, not by luck:
    //   - shards are ts-range-partitioned and processed in ts order, so no
    //     event is ever late and the watermark never drops data;
    //   - every event is planted TWICE with identical payload in the SAME
    //     shard (range partitioning keys equal ts together), so the dedup
    //     operator must remove exactly one copy — session n_events doubles
    //     if it doesn't, and the oracle counts each event once;
    //   - timestamps travel as epoch-micros BIGINT (JSON timestamp
    //     formats truncate to millis — the r8 lesson generalized);
    //   - two sentinel flush shards (+1 h, +2 h past max ts, user −1) give
    //     append-mode emission its two-batch runway: the first advances
    //     the watermark past every real session end, the second triggers
    //     the emission batch. The sentinels' own session never emits and
    //     is filtered from the sink read regardless.
    Case("q56_stream_e2e", (s, dir) => {
      // bench-prepared (the q80/q99 pattern): the JSONL shards already
      // landed for this JVM — the timed region measures the streaming
      // dedup + sessionization, not the fixture's doubled-corpus JSON
      // write. Sink/checkpoint are fresh per invocation either way
      // (input shards are reusable; streaming state is not).
      val fixture = eventShards.ensure(s, dir)
      val in = new java.io.File(fixture, "in")
      wipeRunDirs(fixture)
      val runTag = java.lang.Long.toHexString(System.nanoTime())
      val sink = new java.io.File(fixture, s"sink_$runTag").getPath
      val ckpt = new java.io.File(fixture, s"ckpt_$runTag").getPath

      val stream = graft.sources.Readers.readJsonlStream(s, in.getPath,
          schema = "event_id BIGINT, ts_us BIGINT, user_id BIGINT",
          maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val deduped = graft.ops.StreamingOps.dedupExactWithinWatermark(
        stream, Seq("event_id", "ts_us", "user_id"), "ts", "10 minutes")
      val sessions = graft.ops.StreamingOps.sessionize(
        deduped, Seq("user_id"), "ts", "30 minutes", delay = null)
      // State-partition sizing is a real scale knob, sized to STATE VOLUME
      // not CPU count: 32 partitions × 2 stateful ops × 6 micro-batches =
      // 384 state-store commits for a few MB of state — commit latency
      // dominates. 8 partitions is right for this horizon; a 100 TB
      // deployment sizes it UP with state, via the same conf. Scoped to
      // this query's planning and restored (batch queries want 32 here).
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = sessions.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)

      s.read.parquet(sink).filter(col("user_id") >= 0).select(
        col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"),
        unix_micros(col("first_event")).as("first_us"),
        unix_micros(col("last_event")).as("last_us"))
    },
      // The streaming e2e replayed relationally: dedup = DISTINCT (the
      // planted duplicates are byte-identical), sessionize = gaps-and-islands
      // with Spark's tie rule (a gap of EXACTLY 30 min starts a new session:
      // merge only when next_ts < last_ts + gap), session_end = last + gap.
      Sql("""WITH d AS (
        |  SELECT DISTINCT event_id, ts, user_id FROM events
        |), x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), g AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM x
        |)
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |  count(*)::BIGINT AS n_events,
        |  epoch_us(min(ts)) AS first_us,
        |  epoch_us(max(ts)) AS last_us
        |FROM g GROUP BY user_id, sid""".stripMargin),
      fixture = Some(eventShards)),
    // WebDataset-style tar-shard roundtrip: documents → multi-part tar
    // shards (txt + src entries per sample, shards rolled per task) →
    // sample rows → original columns. The oracle is the source table, so
    // GREEN certifies writer framing, reader parsing, consecutive-key
    // grouping, and byte fidelity in one gate (q53's pattern for jsonl).
    Case("q68_tar_roundtrip", (s, dir) => {
      val fixture = scratchDir("graft_tar_", dir)
      FileUtils.deleteQuietly(fixture); fixture.mkdirs()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      graft.sources.TarShards.writeTarShards(
        docs.repartition(4), fixture.getAbsolutePath,
        keyCol = "doc_id",
        parts = Seq("txt" -> col("text"), "src" -> col("source")),
        maxEntriesPerShard = 100)
      graft.sources.TarShards.readTarShards(s, fixture.getAbsolutePath)
        .select(col("key").cast("long").as("doc_id"),
          element_at(col("data"), "txt").cast("string").as("text"),
          element_at(col("data"), "src").cast("string").as("source"))
    },
      // Roundtrip oracle: the source table itself — any framing, parsing,
      // grouping, or byte-fidelity defect shows as a row diff.
      Sql("SELECT doc_id, text, source FROM documents")),
    // WARC revisit records (Warc.writeWarcRevisits / resolveRevisits —
    // the CommonCrawl multi-crawl dedup convention): crawl1 holds 50
    // response records, crawl2 holds 150 revisit stubs whose
    // WARC-Payload-Digest is the sha1-base32 of an ORIGINAL's body
    // (content-keyed, under different urls), except every (i%10==7)th
    // which digests content that exists in no crawl. Both archives are
    // read as one frame and resolved: every linked stub must regain its
    // original's payload (replayed from the residue arithmetic), every
    // dangler must stay empty with a null resolved_from, and responses
    // must pass through untouched.
    Case("q105_warc_revisit", (s, dir) => {
      val fixture = scratchDir("graft_revisit_", dir)
      val orig = new java.io.File(fixture, "crawl1").getPath
      val rev = new java.io.File(fixture, "crawl2").getPath
      val responses = s.range(0, 50).select(
        concat(lit("https://o.test/d/"), col("id").cast("string")).as("uri"),
        concat(lit("content "), col("id").cast("string")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        responses, orig, "uri", "body", overwrite = true)
      val revisits = s.range(0, 150).select(
        concat(lit("https://r.test/m/"), col("id").cast("string")).as("uri"),
        concat(lit("sha1:"), graft.sources.Warc.payloadDigest(
          when(col("id") % 10 === 7,
            concat(lit("missing "), col("id").cast("string")))
            .otherwise(concat(lit("content "), (col("id") % 50).cast("string")))
            .cast("binary"))).as("digest"))
      graft.sources.Warc.writeWarcRevisits(
        revisits, rev, "uri", "digest", overwrite = true)
      graft.sources.Warc.resolveRevisits(
          graft.sources.Warc.readWarc(s, fixture.getPath + "/*"))
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("warc_type"),
          col("resolved_from").isNotNull.as("resolved"))
    },
      Sql("""WITH i AS (SELECT range AS i FROM range(0, 150))
        |SELECT 'https://o.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       'content ' || CAST(i AS VARCHAR) AS body,
        |       'response' AS warc_type, FALSE AS resolved
        |FROM i WHERE i < 50
        |UNION ALL
        |SELECT 'https://r.test/m/' || CAST(i AS VARCHAR) AS target_uri,
        |       CASE WHEN i % 10 = 7 THEN ''
        |            ELSE 'content ' || CAST((i % 50) AS VARCHAR) END AS body,
        |       'revisit' AS warc_type, i % 10 <> 7 AS resolved
        |FROM i""".stripMargin)),
    // WAT metadata records (Wat.writeWat / parseWat — the metadata member
    // of CommonCrawl's WARC/WAT/WET artifact trio): formulaic HTML pages
    // with a title and two double-quoted links each render to metadata
    // records whose JSON envelope carries Head.Title + Links; reading the
    // archive back and parsing the envelope must reproduce every (page,
    // link, title) triple — the oracle replays them from the residue
    // arithmetic (a wrong envelope path or a dropped link goes red).
    Case("q110_wat_roundtrip", (s, dir) => {
      val fixture = scratchDir("graft_wat_", dir)
      val watDir = new java.io.File(fixture, "wat").getPath
      val html = concat(
        lit("<html><head><title>Page "), col("id").cast("string"),
        lit("</title></head><body><a href=\"https://t"),
        (col("id") % 7).cast("string"), lit(".test/a/"),
        col("id").cast("string"),
        lit("\">one</a><p>x</p><a href=\"/rel/"),
        (col("id") % 3).cast("string"),
        lit("\">two</a></body></html>"))
      val src = s.range(0, 200).select(
        concat(lit("https://w.test/p/"), col("id").cast("string")).as("uri"),
        html.as("html"))
      graft.sources.Wat.writeWat(src.repartition(2), watDir, "uri", "html",
        overwrite = true)
      graft.sources.Wat.parseWat(graft.sources.Warc.readWarc(s, watDir))
        .select(col("target_uri"), col("title"),
          explode(col("links")).as("__l"))
        .select(col("target_uri"), col("title"),
          col("__l.url").as("link"), col("__l.path").as("link_path"))
    },
      Sql("""WITH i AS (SELECT range AS i FROM range(0, 200)),
        |k AS (SELECT unnest([0, 1]) AS k)
        |SELECT 'https://w.test/p/' || CAST(i AS VARCHAR) AS target_uri,
        |       'Page ' || CAST(i AS VARCHAR) AS title,
        |       CASE k WHEN 0 THEN 'https://t' || CAST((i % 7) AS VARCHAR)
        |                        || '.test/a/' || CAST(i AS VARCHAR)
        |              ELSE '/rel/' || CAST((i % 3) AS VARCHAR) END AS link,
        |       'A@/href' AS link_path
        |FROM i CROSS JOIN k""".stripMargin)),
    // WAT envelope completion (r15 VERDICT item #2): the HTTP Headers
    // map and the top-level Container both survive write → read →
    // parse — and the Container is PROVEN REAL by fetching exactly its
    // (filename, offset, length) from the response archive and getting
    // the described page back. A wrong sidecar join or a stale offset
    // returns the wrong body; the oracle replays every field.
    Case("q110b_wat_container", (s, dir) => {
      val fixture = scratchDir("graft_watc_", dir)
      val warcDir = new java.io.File(fixture, "warc").getPath
      val watDir = new java.io.File(fixture, "wat").getPath
      val html = concat(
        lit("<html><head><title>Page "), col("id").cast("string"),
        lit("</title></head><body><a href=\"/n/"),
        (col("id") % 5).cast("string"), lit("\">n</a></body></html>"))
      val src = s.range(0, 150).select(
        concat(lit("https://wc.test/p/"), col("id").cast("string")).as("uri"),
        html.as("html"),
        map(lit("Content-Type"), lit("text/html"),
          lit("X-Crawl"), concat(lit("c"), (col("id") % 4).cast("string")))
          .as("hdrs"))
      graft.sources.Wat.writeWarcWithWat(src.repartition(2), warcDir, watDir,
        "uri", "html", overwrite = true, headersCol = Some("hdrs"),
        container = true)
      val parsed = graft.sources.Wat.parseWat(
        graft.sources.Warc.readWarc(s, watDir))
      val plan = parsed.select(
        col("container_filename").as("filename"),
        col("container_offset").as("range_start"),
        (col("container_offset") + col("container_length")).as("range_end"))
      val fetched = graft.sources.Warc.readWarcRanges(s, warcDir, plan)
        .select(col("target_uri"), col("payload").cast("string").as("body"))
      parsed.select(col("target_uri"), col("title"),
          element_at(col("http_headers"), "X-Crawl").as("x_crawl"))
        .join(fetched, "target_uri")
        .select(col("target_uri"), col("title"), col("x_crawl"), col("body"))
    },
      Sql("""SELECT 'https://wc.test/p/' || CAST(i AS VARCHAR) AS target_uri,
        |       'Page ' || CAST(i AS VARCHAR) AS title,
        |       'c' || CAST((i % 4) AS VARCHAR) AS x_crawl,
        |       '<html><head><title>Page ' || CAST(i AS VARCHAR)
        |         || '</title></head><body><a href="/n/'
        |         || CAST((i % 5) AS VARCHAR) || '">n</a></body></html>' AS body
        |FROM (SELECT range AS i FROM range(0, 150))""".stripMargin)),
    // WARC spec annex record shapes through readWarc + resolveRevisits:
    // a Heritrix-style warcinfo (application/warc-fields — NOT an http
    // block), the archive.org robots.txt response, and a WARC-1.1
    // identical-payload-digest revisit whose WARC-Refers-To names the
    // response — resolution must hand the revisit the response's payload.
    Case("q111b_warc_spec", (s, dir) => {
      val fixture = scratchDir("graft_warcpub_", dir)
      fixture.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(fixture, "spec.warc").toPath,
        PublishedSamples.WarcSpecFile)
      graft.sources.Warc.resolveRevisits(
          graft.sources.Warc.readWarc(s, fixture.getPath))
        .select(col("warc_type"), col("target_uri"), col("record_id"),
          col("warc_date"), col("http_status"), col("http_content_type"),
          col("payload").cast("string").as("body"),
          col("payload_digest"), col("refers_to"), col("warc_profile"),
          col("resolved_from"))
    },
      Sql("""SELECT warc_type, target_uri, record_id, warc_date,
        |       CAST(http_status AS INT) AS http_status, http_content_type,
        |       body, payload_digest, refers_to, warc_profile, resolved_from
        |FROM (VALUES
        |  ('warcinfo', NULL, '<urn:uuid:d7ae5c10-e6b3-4d27-967d-34780c58ba39>',
        |   '2006-09-19T17:20:14Z', NULL, NULL,
        |   e'software: Heritrix 1.12.0 http://crawler.archive.org\r\nhostname: crawling017.archive.org\r\nip: 207.241.227.234\r\nisPartOf: testcrawl-20050708\r\ndescription: testcrawl with WARC output\r\noperator: IA_Admin\r\nformat: WARC file version 1.0\r\n',
        |   NULL, NULL, NULL, NULL),
        |  ('response', 'http://www.archive.org/robots.txt',
        |   '<urn:uuid:92283950-ef2f-4d72-b224-f54c6ec90bb0>',
        |   '2006-09-19T17:20:24Z', 200, 'text/plain; charset=UTF-8',
        |   e'User-agent: *\nDisallow: /cgi-bin/\n',
        |   'sha1:COG3DOA5RTNLK7TES7YYMA3RQV6RVV45', NULL, NULL, NULL),
        |  ('revisit', 'http://www.archive.org/robots.txt',
        |   '<urn:uuid:16da6da0-bcdc-49c3-927e-57494593b943>',
        |   '2007-03-06T00:43:35Z', 200, 'text/plain; charset=UTF-8',
        |   e'User-agent: *\nDisallow: /cgi-bin/\n',
        |   'sha1:COG3DOA5RTNLK7TES7YYMA3RQV6RVV45',
        |   '<urn:uuid:92283950-ef2f-4d72-b224-f54c6ec90bb0>',
        |   'http://netpreserve.org/warc/1.1/revisit/identical-payload-digest',
        |   '<urn:uuid:92283950-ef2f-4d72-b224-f54c6ec90bb0>')
        |) AS t(warc_type, target_uri, record_id, warc_date, http_status,
        |       http_content_type, body, payload_digest, refers_to,
        |       warc_profile, resolved_from)""".stripMargin)),
    // Published WAT envelope layout through a real metadata record:
    // top-level Container, bookkeeping keys the subset schema must
    // IGNORE (Format, *-Length, Response-Message, Metas, alt), the
    // Headers map, and Links entries carrying path/text/title beside
    // url — all surfaced field-for-field.
    Case("q111c_wat_published", (s, dir) => {
      val fixture = scratchDir("graft_watpub_", dir)
      val out = new java.io.File(fixture, "wat").getPath
      import s.implicits._
      val df = Seq(("http://r.example/", PublishedSamples.WatEnvelope))
        .toDF("uri", "env")
      graft.sources.Warc.writeWarcMetadata(df, out, "uri", "env",
        overwrite = true)
      graft.sources.Wat.parseWat(graft.sources.Warc.readWarc(s, out))
        .select(col("target_uri"), col("title"),
          col("container_filename"), col("container_offset"),
          col("container_length"),
          element_at(col("http_headers"), "Server").as("server"),
          explode(col("links")).as("__l"))
        .select(col("target_uri"), col("title"),
          col("container_filename"), col("container_offset"),
          col("container_length"), col("server"),
          col("__l.url").as("link_url"), col("__l.path").as("link_path"),
          col("__l.text").as("link_text"),
          col("__l.title").as("link_title"))
    },
      Sql("""SELECT * FROM (VALUES
        |  ('http://r.example/', 'Real Page',
        |   'CC-MAIN-20240722115029-20240722145029-00434.warc.gz',
        |   CAST(593 AS BIGINT), CAST(2012 AS BIGINT), 'Apache',
        |   'http://t.example/a', 'A@/href', 'anchor text', NULL),
        |  ('http://r.example/', 'Real Page',
        |   'CC-MAIN-20240722115029-20240722145029-00434.warc.gz',
        |   CAST(593 AS BIGINT), CAST(2012 AS BIGINT), 'Apache',
        |   '/img/logo.png', 'IMG@/src', NULL, NULL),
        |  ('http://r.example/', 'Real Page',
        |   'CC-MAIN-20240722115029-20240722145029-00434.warc.gz',
        |   CAST(593 AS BIGINT), CAST(2012 AS BIGINT), 'Apache',
        |   '/style.css', 'LINK@/href', NULL, 'css title')
        |) AS t(target_uri, title, container_filename, container_offset,
        |       container_length, server, link_url, link_path, link_text,
        |       link_title)""".stripMargin)),
    // HTTP payload transfer/content decoding (r16 VERDICT top item):
    // real WARC response records store the RAW captured message —
    // `Transfer-Encoding: chunked` framing and `Content-Encoding: gzip`
    // included — and readers must undo both before any text consumer
    // sees the bytes. The PublishedSamples coded records fix every
    // STORED byte (the gzip streams were generated once outside this
    // library and pasted as hex, like the digests), so the decoded
    // texts, the coding columns, the stored-block digests and the
    // unsupported-br passthrough are all hand-written oracle literals.
    Case("q112_http_decode", (s, dir) => {
      val fixture = scratchDir("graft_coded_", dir)
      fixture.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(fixture, "coded.warc").toPath,
        PublishedSamples.CodedWarcFile)
      graft.sources.Warc.readWarc(s, fixture.getPath)
        .select(col("target_uri"),
          // decoded rows show their text; the br row keeps STORED bytes
          // (not valid UTF-8 — surfaced as byte length, not a string)
          when(col("payload_decoded"), col("payload").cast("string"))
            .as("body"),
          length(col("payload")).cast("long").as("payload_len"),
          col("payload_decoded"),
          col("http_transfer_encoding").as("te"),
          col("http_content_encoding").as("ce"),
          col("payload_digest"), col("truncated"))
    },
      // q112 family: the coded-capture fixture's stored bytes are fixed
      // constants, so decoded texts, coding columns, digests and the br
      // passthrough are hand-written literals (br's stored body is not
      // valid UTF-8 — surfaced as its 21-byte length, body NULL)
      Sql("""SELECT target_uri, body,
        |  CAST(CASE WHEN body IS NULL THEN 21 ELSE length(body) END
        |       AS BIGINT) AS payload_len,
        |  payload_decoded, te, ce, payload_digest, truncated
        |FROM (VALUES
        |  ('http://coded.example/chunked', e'Wikipedia in \r\n\r\nchunks.',
        |   TRUE, 'chunked', NULL,
        |   'sha1:YXT4BYEXT6EGMF5Q3QLCBN52E64SFXS4', FALSE),
        |  ('http://coded.example/gzipped',
        |   e'The quick brown fox jumps over the lazy dog. Plain English prose, stored gzip-coded in the archive, exactly as real captures arrive from the server.\n',
        |   TRUE, NULL, 'gzip',
        |   'sha1:2WLFLN4DXAGJKV4HDP2QXUKGZP2YSDY6', FALSE),
        |  ('http://coded.example/both',
        |   e'Chunked and gzipped together: the transfer coding frames the wire bytes while the content coding compresses the entity, and a reader must undo both in order.\n',
        |   TRUE, 'chunked', 'gzip',
        |   'sha1:UPBERXOYSZH3SZMKW5YOABA7LVBDSXNZ', FALSE),
        |  ('http://coded.example/brotli', NULL, FALSE, NULL, 'br',
        |   NULL, FALSE)
        |) AS t(target_uri, body, payload_decoded, te, ce, payload_digest,
        |       truncated)""".stripMargin)),
    // Coded-body WRITER (writeWarcResponses(contentEncoding = "gzip")):
    // archives store each HTTP entity content-coded — the shape real
    // crawls ship and a storage saving independent of the member codec.
    // The write → read loop must hand back the ORIGINAL entity bytes
    // (readers decode by default), with the coding surfaced on every
    // row; digest-keys-the-coded-block is spec-pinned (WarcSpec) since
    // gzip output bytes are not oracle-stable across environments.
    Case("q112d_warc_coded_write", (s, dir) => {
      val fixture = scratchDir("graft_cew_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val src = s.range(0, 200).select(
        concat(lit("https://ce.test/p/"), col("id").cast("string")).as("uri"),
        concat(lit("<html><p>entity "), col("id").cast("string"),
          lit("</p></html>"),
          expr("repeat('pad', CAST(id % 5 AS INT))")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(2), arc, "uri", "body",
        overwrite = true, contentEncoding = "gzip")
      graft.sources.Warc.readWarc(s, arc)
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("http_content_encoding").as("ce"),
          col("payload_decoded"), col("truncated"))
    },
      Sql("""SELECT 'https://ce.test/p/' || CAST(i AS VARCHAR) AS target_uri,
        |       '<html><p>entity ' || CAST(i AS VARCHAR) || '</p></html>'
        |         || repeat('pad', CAST(i % 5 AS INT)) AS body,
        |       'gzip' AS ce, TRUE AS payload_decoded, FALSE AS truncated
        |FROM (SELECT range AS i FROM range(0, 200))""".stripMargin)),
    // warcinfo shard-head records (writeWarcResponses(warcinfo = true)):
    // one partition, 100 records at 40/shard → exactly 3 shards, each
    // opening with a warcinfo record (application/warc-fields content,
    // readers surface warc_type = 'warcinfo'); responses unaffected. The
    // oracle states the per-type counts and the info records' shape.
    Case("q88f_warcinfo", (s, dir) => {
      val fixture = scratchDir("graft_warcinfo_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val src = s.range(0, 100).select(
        concat(lit("https://wi.test/p/"), col("id").cast("string")).as("uri"),
        concat(lit("body "), col("id").cast("string")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.coalesce(1), arc, "uri", "body",
        overwrite = true, maxRecordsPerShard = 40, warcinfo = true)
      graft.sources.Warc.readWarc(s, arc)
        .groupBy(col("warc_type"), col("content_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("record_index") === 0, 1).otherwise(0))
            .as("shard_heads"))
    },
      Sql("""SELECT * FROM (VALUES
        |  ('warcinfo', 'application/warc-fields',
        |   CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('response', 'application/http; msgtype=response',
        |   CAST(100 AS BIGINT), CAST(0 AS BIGINT))
        |) AS t(warc_type, content_type, n, shard_heads)""".stripMargin)),
    // WAT from a REAL crawl's headers (readWarc → writeWat): the archive
    // is read back, and the envelope's HTTP Headers come from the
    // reader's full http_headers map — the original server headers ride
    // into the WAT without any payload re-parse. The oracle replays the
    // per-row Content-Type the response writer stamped.
    Case("q110c_wat_headers_from_warc", (s, dir) => {
      val fixture = scratchDir("graft_wathdr_", dir)
      val warcDir = new java.io.File(fixture, "warc").getPath
      val watDir = new java.io.File(fixture, "wat").getPath
      val src = s.range(0, 150).select(
        concat(lit("https://wh.test/p/"), col("id").cast("string")).as("uri"),
        concat(lit("<html><head><title>H"), col("id").cast("string"),
          lit("</title></head><body><a href=\"/x/"),
          (col("id") % 3).cast("string"),
          lit("\">x</a></body></html>")).as("html"),
        concat(lit("text/html; charset=cs"), (col("id") % 4).cast("string"))
          .as("ct"))
      graft.sources.Warc.writeWarcResponses(src.repartition(2), warcDir,
        "uri", "html", overwrite = true, contentTypeCol = Some("ct"))
      val back = graft.sources.Warc.readWarc(s, warcDir)
        .select(col("target_uri").as("uri"),
          col("payload").cast("string").as("html"),
          col("http_headers"))
      graft.sources.Wat.writeWat(back, watDir, "uri", "html",
        overwrite = true, headersCol = Some("http_headers"))
      graft.sources.Wat.parseWat(graft.sources.Warc.readWarc(s, watDir))
        .select(col("target_uri"), col("title"),
          element_at(col("http_headers"), "Content-Type").as("ct"))
    },
      Sql("""SELECT 'https://wh.test/p/' || CAST(i AS VARCHAR) AS target_uri,
        |       'H' || CAST(i AS VARCHAR) AS title,
        |       'text/html; charset=cs' || CAST((i % 4) AS VARCHAR) AS ct
        |FROM (SELECT range AS i FROM range(0, 150))""".stripMargin)),
    // Cross-crawl deduplicating WRITE (Warc.writeWarcDeduped /
    // markRevisits — the producer half of the revisit convention): crawl
    // A archives 40 pages; batch B re-captures every A payload under new
    // urls (each up to three times) plus 10 genuinely-new payloads, each
    // appearing twice within B. The writer must emit responses ONLY for
    // first-seen payloads (batch-first by uri for the new ones, nothing
    // for payloads already in A's index) and revisit stubs for the rest —
    // and reading BOTH crawls back through resolveRevisits must regain
    // every payload. The oracle replays the response/revisit split and
    // the resolved bodies from the residue arithmetic.
    Case("q108_warc_dedup_write", (s, dir) => {
      val fixture = scratchDir("graft_warcdedup_", dir)
      val arcA = new java.io.File(fixture, "a").getPath
      val arcB = new java.io.File(fixture, "b").getPath
      val a = s.range(0, 40).select(
        concat(lit("https://a.test/d/"), col("id").cast("string")).as("uri"),
        concat(lit("pay "), col("id").cast("string")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        a, arcA, "uri", "body", overwrite = true)
      // zero-padded uris: the within-batch "first" is min(uri), and the
      // padding makes string order equal numeric order
      val b = s.range(0, 120).select(
        concat(lit("https://b.test/m/"),
          lpad(col("id").cast("string"), 3, "0")).as("uri"),
        concat(lit("pay "), (col("id") % 50).cast("string")).as("body"))
      graft.sources.Warc.writeWarcDeduped(
        b.repartition(2), arcB, "uri", "body",
        priorDigests = graft.sources.Warc.indexWarc(s, arcA),
        overwrite = true, index = true)
      graft.sources.Warc.resolveRevisits(
          graft.sources.Warc.readWarc(s, fixture.getPath + "/*"))
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("warc_type"),
          col("resolved_from").isNotNull.as("resolved"))
    },
      Sql("""SELECT 'https://a.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       'pay ' || CAST(i AS VARCHAR) AS body,
        |       'response' AS warc_type, FALSE AS resolved
        |FROM (SELECT range AS i FROM range(0, 40))
        |UNION ALL
        |SELECT 'https://b.test/m/' || lpad(CAST(i AS VARCHAR), 3, '0') AS target_uri,
        |       'pay ' || CAST((i % 50) AS VARCHAR) AS body,
        |       CASE WHEN i >= 40 AND i < 50 THEN 'response'
        |            ELSE 'revisit' END AS warc_type,
        |       NOT (i >= 40 AND i < 50) AS resolved
        |FROM (SELECT range AS i FROM range(0, 120))""".stripMargin))
  )
}
