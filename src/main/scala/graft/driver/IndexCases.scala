package graft.driver

import org.apache.spark.sql.functions._

import graft.PublishedSamples
import graft.SparkEntry.{LangGateEn, LangGateFr, LangGateRu,
  SurtPublishedPairs}

/** Driver queries for crawl indexes and link structure: CDX/CDXJ, ZipNum,
  * SURT keys, cc-index, sitemaps, robots and the link graph.
  */
private[graft] object IndexCases {

  val cases: Seq[Case] = Seq(
    // robots.txt compliance filtering (RFC 9309) over the corpus: three
    // planted robots files (longest-match + allow-override, an
    // agent-specific group with wildcard/anchor patterns, an
    // empty-Disallow allow-all) plus a domain with NO robots row (the
    // protocol's default-allow). URLs derive from doc_id so the oracle is
    // the hand-derived decision table over (domain, path) — every branch
    // of group selection, precedence, and wildcard matching is exercised
    // through the YAML verb (compile-once-per-domain, left join, eval).
    Case("q92_robots_filter", (s, dir) => {
      import s.implicits._
      val robots = Seq(
        ("site0.com", "User-agent: *\nDisallow: /private/\nAllow: /private/ok"),
        ("site1.com", "User-agent: graftbot\nDisallow: /x*z$\nUser-agent: *\nDisallow: /"),
        ("site2.com", "User-agent: *\nDisallow:")
      ).toDF("host", "robots_txt")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), (col("doc_id") % 4).cast("string"),
          lit(".com"),
          element_at(typedLit(Seq(
            "/private/ok", "/private/no", "/xz", "/xz/deep", "/open")),
            (col("doc_id") % 5).cast("int") + 1)).as("url"))
      graft.pipeline.Pipeline.run(s,
        """source: docs
          |steps:
          |  - robotsFilter: {url: url, robots: robots, agent: graftbot, mode: mark}
          |""".stripMargin,
        name => if (name == "docs") docs
                else if (name == "robots") robots
                else t(s, dir, name))
        .select(col("doc_id"), col("url"), col("robots_ok"))
    },
      // robots decision table, hand-derived per (domain, path): site0 blocks
      // /private/no (Disallow /private/ len 9) but allows /private/ok (Allow
      // len 11 wins); site1's graftbot group blocks only /x*z$ (so /xz);
      // site2's empty Disallow and site3's missing robots allow everything.
      Sql("""SELECT doc_id,
        |  'https://site' || (doc_id % 4) || '.com' ||
        |    (CASE doc_id % 5 WHEN 0 THEN '/private/ok' WHEN 1 THEN '/private/no'
        |      WHEN 2 THEN '/xz' WHEN 3 THEN '/xz/deep' ELSE '/open' END) AS url,
        |  NOT ((doc_id % 4 = 0 AND doc_id % 5 = 1)
        |    OR (doc_id % 4 = 1 AND doc_id % 5 = 2)) AS robots_ok
        |FROM documents""".stripMargin)),
    // Host-level link graph + PageRank (LinkGraph): 300 synthetic pages on
    // hosts h0..h29 link by residue formulas to hosts h0..h39 (h30..h39
    // receive links but host no pages — the dangling class), exercising
    // double-quoted, single-quoted and protocol-relative hrefs; mailto /
    // fragment / relative decoys must NOT produce cross-host edges (the
    // relative link resolves to the page's own host and drops as a
    // self-loop). Three exact power iterations with dangling-mass
    // redistribution; the oracle re-derives the edge set from the residue
    // arithmetic and unrolls the same three iterations as CTEs (damping
    // factor written as 0.85::DOUBLE so both engines run the identical
    // IEEE recurrence).
    Case("q100_linkgraph_pagerank", (s, dir) => {
      val pages = s.range(0, 300).select(
        concat(lit("https://h"), (col("id") % 30).cast("string"),
          lit(".test/page/"), col("id").cast("string")).as("url"),
        concat(
          lit("<html><body><a href=\"http://h"),
          ((col("id") * 3 + 1) % 40).cast("string"),
          lit(".test/p\">x</a> <A HREF='https://h"),
          ((col("id") * 7 + 2) % 40).cast("string"),
          lit(".test/q?z'>y</A> <a href=\"//h"),
          ((col("id") * 11 + 5) % 40).cast("string"),
          lit(".test/r\">z</a> <a href=\"mailto:a@b.test\">m</a>" +
            " <a href=\"/local\">l</a> <a href=\"#top\">t</a>" +
            "</body></html>")).as("html"))
      graft.ops.LinkGraph.rankHosts(pages, "url", "html", iterations = 3)
        .select(col("host"), round(col("rank"), 6).as("rank"))
    },
      Sql {
        // the exact recurrence LinkGraph.pageRank documents, unrolled: per
        // iteration the dangling mass (rank on hosts with no out-edges), the
        // per-dst contribution sum, and the damped update — every constant
        // cast ::DOUBLE so DuckDB's decimal literals don't diverge from
        // Spark's IEEE arithmetic
        val iters = (0 until 3).map { k =>
          s"""dm$k AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r$k
             |  WHERE host NOT IN (SELECT src FROM e)),
             |c$k AS (SELECT e.dst AS host, SUM(r$k.r / dg.d) AS c
             |  FROM e JOIN r$k ON e.src = r$k.host JOIN dg ON dg.src = e.src
             |  GROUP BY e.dst),
             |r${k + 1} AS (SELECT v.host,
             |    (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
             |      + 0.85::DOUBLE * (COALESCE(c$k.c, 0) +
             |        (SELECT dm FROM dm$k) / (SELECT n FROM nn)) AS r
             |  FROM v LEFT JOIN c$k ON v.host = c$k.host)""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT range AS i FROM range(0, 300)),
           |e0 AS (
           |  SELECT 'h' || CAST((i % 30) AS VARCHAR) || '.test' AS src,
           |         'h' || CAST(((3 * i + 1) % 40) AS VARCHAR) || '.test' AS dst
           |  FROM p WHERE (3 * i + 1) % 40 <> (i % 30)
           |  UNION ALL
           |  SELECT 'h' || CAST((i % 30) AS VARCHAR) || '.test',
           |         'h' || CAST(((7 * i + 2) % 40) AS VARCHAR) || '.test'
           |  FROM p WHERE (7 * i + 2) % 40 <> (i % 30)
           |  UNION ALL
           |  SELECT 'h' || CAST((i % 30) AS VARCHAR) || '.test',
           |         'h' || CAST(((11 * i + 5) % 40) AS VARCHAR) || '.test'
           |  FROM p WHERE (11 * i + 5) % 40 <> (i % 30)),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |v AS (SELECT src AS host FROM e UNION SELECT dst AS host FROM e),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
           |dg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY src),
           |r0 AS (SELECT host, 1.0::DOUBLE / (SELECT n FROM nn) AS r FROM v),
           |$iters
           |SELECT host, round(r3.r, 6) AS rank FROM r3""".stripMargin
      }),
    // Domain-level rank (LinkGraph.pageRank + domainRank): hosts
    // hK.d(K%4).co.uk — four registrable domains under a PSL two-level
    // suffix — ranked 3 damped iterations, then the stationary mass
    // aggregated per domain. The oracle unrolls the same recurrence (the
    // q100 CTE pattern) and replays the domain rollup as a GROUP BY on
    // the host-string suffix.
    Case("q100d_domain_rank", (s, dir) => {
      val edges = s.range(0, 300).select(
        concat(lit("h"), (col("id") % 30).cast("string"),
          lit(".d"), ((col("id") % 30) % 4).cast("string"),
          lit(".co.uk")).as("src"),
        concat(lit("h"), ((col("id") * 3 + 1) % 40).cast("string"),
          lit(".d"), (((col("id") * 3 + 1) % 40) % 4).cast("string"),
          lit(".co.uk")).as("dst"))
        .where(col("src") =!= col("dst"))
      graft.ops.LinkGraph.domainRank(
          graft.ops.LinkGraph.pageRank(edges, iterations = 3))
        .select(col("domain"), round(col("rank"), 6).as("rank"))
    },
      Sql {
        val iters = (0 until 3).map { k =>
          s"""dm$k AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r$k
             |  WHERE host NOT IN (SELECT src FROM e)),
             |c$k AS (SELECT e.dst AS host, SUM(r$k.r / dg.d) AS c
             |  FROM e JOIN r$k ON e.src = r$k.host JOIN dg ON dg.src = e.src
             |  GROUP BY e.dst),
             |r${k + 1} AS (SELECT v.host,
             |    (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
             |      + 0.85::DOUBLE * (COALESCE(c$k.c, 0) +
             |        (SELECT dm FROM dm$k) / (SELECT n FROM nn)) AS r
             |  FROM v LEFT JOIN c$k ON v.host = c$k.host)""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT range AS i FROM range(0, 300)),
           |e0 AS (
           |  SELECT 'h' || CAST((i % 30) AS VARCHAR) || '.d' || CAST(((i % 30) % 4) AS VARCHAR) || '.co.uk' AS src,
           |         'h' || CAST(((3 * i + 1) % 40) AS VARCHAR) || '.d' || CAST((((3 * i + 1) % 40) % 4) AS VARCHAR) || '.co.uk' AS dst
           |  FROM p WHERE (3 * i + 1) % 40 <> (i % 30)),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |v AS (SELECT src AS host FROM e UNION SELECT dst AS host FROM e),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
           |dg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY src),
           |r0 AS (SELECT host, 1.0::DOUBLE / (SELECT n FROM nn) AS r FROM v),
           |$iters
           |SELECT substr(host, strpos(host, '.') + 1) AS domain,
           |       round(SUM(r), 6) AS rank
           |FROM r3 GROUP BY 1""".stripMargin
      }),
    // <base href> edge attribution (LinkGraph.baseHost/hostEdges): pages
    // in three classes — host-changing absolute base (relative AND rooted
    // links must attribute to the base host), rooted base (host unchanged
    // → relative links are self-loops and drop), and no base — plus a
    // data-href decoy the extractor must NOT read as a link. The oracle
    // re-derives the distinct edge set per class from the residue
    // arithmetic.
    Case("q100c_base_href", (s, dir) => {
      val pages = s.range(0, 240).select(
        concat(lit("https://h"), (col("id") % 20).cast("string"),
          lit(".test/p/"), col("id").cast("string")).as("url"),
        concat(
          when(col("id") % 3 === 0,
            concat(lit("<base href=\"https://b"),
              (col("id") % 7).cast("string"), lit(".test/dir/\">")))
            .when(col("id") % 3 === 1, lit("<base href=\"/subroot/\">"))
            .otherwise(lit("")),
          lit("<a href=\"r/"), col("id").cast("string"), lit("\">rel</a>"),
          lit("<a href=\"/x\">rooted</a>"),
          lit("<a href=\"http://h"), ((col("id") * 3 + 1) % 25).cast("string"),
          lit(".test/p\">abs</a>"),
          lit("<a data-href=\"http://decoy"), (col("id") % 9).cast("string"),
          lit(".test/d\">decoy</a>")).as("html"))
      graft.ops.LinkGraph.hostEdges(pages, "url", "html")
    },
      Sql("""WITH p AS (SELECT range AS i FROM range(0, 240)),
        |e0 AS (
        |  SELECT 'h' || CAST((i % 20) AS VARCHAR) || '.test' AS src,
        |         'h' || CAST(((3 * i + 1) % 25) AS VARCHAR) || '.test' AS dst
        |  FROM p WHERE (3 * i + 1) % 25 <> (i % 20)
        |  UNION ALL
        |  SELECT 'h' || CAST((i % 20) AS VARCHAR) || '.test',
        |         'b' || CAST((i % 7) AS VARCHAR) || '.test'
        |  FROM p WHERE i % 3 = 0)
        |SELECT DISTINCT src, dst FROM e0""".stripMargin)),
    // Anchor-text corpus (LinkGraph.anchorTexts): per-occurrence
    // (src, dst, anchor) triples for CROSS-host links only; inner markup
    // stripped and whitespace collapsed in the anchor. The fixture plants
    // a formulaic anchor (with a <b> tag the extractor must strip), a
    // relative nav link and a same-host absolute link (both must drop);
    // the oracle re-derives every surviving triple, duplicates included
    // (i and i+100 produce identical rows — occurrence semantics).
    Case("q100b_anchor_texts", (s, dir) => {
      val pages = s.range(0, 200).select(
        concat(lit("https://h"), (col("id") % 20).cast("string"),
          lit(".test/p/"), col("id").cast("string")).as("url"),
        concat(
          lit("<html><body><a href=\"http://h"),
          ((col("id") * 3 + 1) % 25).cast("string"),
          lit(".test/x\">to <b>h"),
          ((col("id") * 3 + 1) % 25).cast("string"),
          lit("</b> site</a><a href='/local'>Home</a>" +
            "<a href=\"https://h"),
          (col("id") % 20).cast("string"),
          lit(".test/self\">self</a></body></html>")).as("html"))
      graft.ops.LinkGraph.anchorTexts(pages, "url", "html")
    },
      Sql("""WITH p AS (SELECT range AS i FROM range(0, 200))
        |SELECT 'h' || CAST((i % 20) AS VARCHAR) || '.test' AS src,
        |       'h' || CAST(((3 * i + 1) % 25) AS VARCHAR) || '.test' AS dst,
        |       'to h' || CAST(((3 * i + 1) % 25) AS VARCHAR) || ' site' AS anchor
        |FROM p WHERE (3 * i + 1) % 25 <> (i % 20)""".stripMargin)),
    // CDXJ index → byte-range fetch plan (sources/Cdx.scala): 1000
    // formulaic captures over 7 WARC files are rendered as REAL cdxj
    // lines (plus torn lines every 97th — they must parse to null payload
    // and drop), written to disk, re-read through the parser, filtered to
    // status 200, and coalesced into ranged GETs with a 150-byte gap
    // tolerance. The oracle re-derives the surviving captures from the
    // residue arithmetic and replays the island windowing (running-max
    // previous end, not lag — containment-safe) in DuckDB.
    Case("q102_cdxj_plan", (s, dir) => {
      val fixture = scratchDir("graft_cdxj_", dir)
      val idx = new java.io.File(fixture, "idx").getPath
      val lines = s.range(0, 1000).select(
        when(col("id") % 97 === 0, lit("torn line without json payload"))
          .otherwise(concat(
            lit("test)/p/"), col("id").cast("string"),
            lit(" 20240101000000 {\"url\":\"https://t/p\",\"status\":\""),
            when(col("id") % 5 === 0, lit("404")).otherwise(lit("200")),
            lit("\",\"offset\":\""),
            (floor(col("id") / 7) * 1000).cast("long").cast("string"),
            lit("\",\"length\":\""),
            (lit(800) + (col("id") % 3) * 100).cast("string"),
            lit("\",\"filename\":\"warc-"), (col("id") % 7).cast("string"),
            lit(".warc.gz\"}"))).as("value"))
      lines.coalesce(1).write.mode("overwrite").text(idx)
      val caps = graft.sources.Cdx.readCdxj(s, idx)
        .filter(col("status") === 200)
      graft.sources.Cdx.fetchPlan(caps, gapBytes = 150L)
    },
      Sql("""WITH i AS (SELECT range AS i FROM range(0, 1000)),
        |cap AS (SELECT 'warc-' || CAST((i % 7) AS VARCHAR) || '.warc.gz' AS filename,
        |               (i // 7) * 1000 AS o,
        |               800 + (i % 3) * 100 AS len
        |        FROM i WHERE i % 97 <> 0 AND i % 5 <> 0),
        |f AS (SELECT filename, o, o + len AS e FROM cap),
        |m AS (SELECT filename, o, e,
        |        MAX(e) OVER (PARTITION BY filename ORDER BY o, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |      FROM f),
        |isl AS (SELECT filename, o, e,
        |          SUM(CASE WHEN pme IS NULL OR o > pme + 150 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY filename ORDER BY o, e
        |              ROWS UNBOUNDED PRECEDING) AS island
        |        FROM m)
        |SELECT filename, MIN(o) AS range_start, MAX(e) AS range_end,
        |       COUNT(*) AS n_captures, MAX(e) - MIN(o) AS bytes
        |FROM isl GROUP BY filename, island""".stripMargin)),
    // The full CDX selective-access loop under one oracle (q103): write a
    // REAL .warc.gz archive with its CDXJ sidecar index (member offsets
    // measured by the writer), read the index back, keep only host-class
    // s1's captures, coalesce them into byte ranges at gap 0 (so no
    // interstitial record can ride along), decode ONLY those ranges, and
    // emit the records' uri/body/status. The oracle re-derives the exact
    // record set and payload text from the residue arithmetic — any wrong
    // offset, length or dictionary handling breaks the gzip decode or the
    // record set, and the gate goes red.
    Case("q103_cdx_ranged_fetch", (s, dir) => {
      val fixture = scratchDir("graft_cdxwarc_", dir)
      val out = new java.io.File(fixture, "arc").getPath
      val src = s.range(0, 400).select(
        concat(lit("https://s"), (col("id") % 5).cast("string"),
          lit(".test/d/"), col("id").cast("string")).as("uri"),
        concat(expr("repeat('x', 100 + CAST(id % 7 AS INT) * 10)"),
          col("id").cast("string")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(3), out, "uri", "body",
        overwrite = true, index = true, maxRecordsPerShard = 60)
      val idx = graft.sources.Cdx.readCdxj(s, out, glob = Some("*.cdxj"))
        .filter(col("surt_key").startsWith("test,s1)"))
      val plan = graft.sources.Cdx.fetchPlan(idx, gapBytes = 0L)
      graft.sources.Warc.readWarcRanges(s, out, plan)
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("http_status"))
    },
      Sql("""SELECT 'https://s1.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       repeat('x', 100 + (i % 7) * 10) || CAST(i AS VARCHAR) AS body,
        |       200 AS http_status
        |FROM (SELECT range AS i FROM range(0, 400)) WHERE i % 5 = 1""".stripMargin)),
    // Sitemap parsing (Sitemaps.parseSitemaps): 120 formulaic documents —
    // urlsets with two entries each (entity-escaped query URLs, lastmod
    // dates, changefreq, priority) and every 10th a sitemapindex with two
    // children — exploded to one row per discovered URL. The oracle
    // re-derives every loc / parsed lastmod / hint / kind from the
    // residue arithmetic, including the &amp; decode.
    Case("q104_sitemap_parse", (s, dir) => {
      val host = concat(lit("https://h"), (col("id") % 6).cast("string"),
        lit(".test"))
      // lastmod cycles the W3C-datetime forms the protocol allows: date,
      // full datetime, fractional seconds, minute precision — all must
      // parse; loc carries BOTH escape families (&amp; and the numeric
      // &#38;) the XML escaping table permits
      val lmSuffix = when(col("id") % 4 === 0, lit(""))
        .when(col("id") % 4 === 1, lit("T10:20:30Z"))
        .when(col("id") % 4 === 2, lit("T10:20:30.125+00:00"))
        .otherwise(lit("T10:20Z"))
      def urlBlock(k: Int) = concat(
        lit("<url><loc>"), host, lit(s"/p/"), col("id").cast("string"),
        lit(s"/$k?a=1&amp;b=$k&#38;c=2</loc><lastmod>2024-03-0"),
        (col("id") % 9 + 1).cast("string"), lmSuffix,
        lit("</lastmod><changefreq>"),
        when(col("id") % 3 === 0, lit("daily"))
          .when(col("id") % 3 === 1, lit("weekly")).otherwise(lit("monthly")),
        lit("</changefreq><priority>0."), (col("id") % 10).cast("string"),
        lit("</priority></url>"))
      def childBlock(k: Int) = concat(
        lit("<sitemap><loc>"), host, lit("/sm/"), col("id").cast("string"),
        lit(s"/$k.xml</loc><lastmod>2024-01-0"),
        (col("id") % 5 + 1).cast("string"),
        lit("</lastmod></sitemap>"))
      val xml = when(col("id") % 10 === 9,
        concat(lit("<sitemapindex>"), childBlock(0), childBlock(1),
          lit("</sitemapindex>")))
        .otherwise(concat(lit("<urlset>"), urlBlock(0), urlBlock(1),
          lit("</urlset>")))
      graft.ops.Sitemaps.parseSitemaps(
          s.range(0, 120).select(col("id").as("doc_id"), xml.as("xml")),
          "xml")
        .select(col("doc_id"), col("loc"),
          col("lastmod").cast("string").as("lastmod"),
          col("changefreq"), col("priority"), col("kind"))
    },
      Sql("""WITH i AS (SELECT range AS i FROM range(0, 120)),
        |k AS (SELECT unnest([0, 1]) AS k),
        |urls AS (
        |  SELECT i.i AS doc_id,
        |    'https://h' || CAST((i % 6) AS VARCHAR) || '.test/p/'
        |      || CAST(i AS VARCHAR) || '/' || CAST(k AS VARCHAR)
        |      || '?a=1&b=' || CAST(k AS VARCHAR) || '&c=2' AS loc,
        |    CASE i % 4
        |      WHEN 0 THEN CAST(CAST(('2024-03-0' || CAST((i % 9 + 1) AS VARCHAR)) AS TIMESTAMP) AS VARCHAR)
        |      WHEN 1 THEN '2024-03-0' || CAST((i % 9 + 1) AS VARCHAR) || ' 10:20:30'
        |      WHEN 2 THEN '2024-03-0' || CAST((i % 9 + 1) AS VARCHAR) || ' 10:20:30.125'
        |      ELSE '2024-03-0' || CAST((i % 9 + 1) AS VARCHAR) || ' 10:20:00'
        |    END AS lastmod,
        |    CASE i % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |      ELSE 'monthly' END AS changefreq,
        |    CAST(('0.' || CAST((i % 10) AS VARCHAR)) AS DOUBLE) AS priority,
        |    'url' AS kind
        |  FROM i CROSS JOIN k WHERE i % 10 <> 9),
        |kids AS (
        |  SELECT i.i AS doc_id,
        |    'https://h' || CAST((i % 6) AS VARCHAR) || '.test/sm/'
        |      || CAST(i AS VARCHAR) || '/' || CAST(k AS VARCHAR) || '.xml' AS loc,
        |    CAST(CAST(('2024-01-0' || CAST((i % 5 + 1) AS VARCHAR)) AS TIMESTAMP) AS VARCHAR) AS lastmod,
        |    CAST(NULL AS VARCHAR) AS changefreq,
        |    CAST(NULL AS DOUBLE) AS priority,
        |    'sitemap' AS kind
        |  FROM i CROSS JOIN k WHERE i % 10 = 9)
        |SELECT * FROM urls UNION ALL SELECT * FROM kids""".stripMargin)),
    // The no-sidecar archive loop (Warc.indexWarc + Cdx.cdxjLines +
    // zipnum): an archive written WITHOUT any index is walked at the gzip
    // member level (real header parse + Inflater consumption counts →
    // member offsets), the computed captures render to CDXJ lines,
    // cluster into a ZipNum index, and one host's pages are then fetched
    // by prefix query → byte-range plan → ranged decode. Every link in
    // the chain is load-bearing: a wrong member offset or zipnum block
    // boundary breaks the gzip decode or loses rows, and the oracle
    // replays the final payload text arithmetically.
    Case("q107_warc_index_zipnum", (s, dir) => {
      val fixture = scratchDir("graft_warcidx_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val zp = new java.io.File(fixture, "zip").getPath
      val src = s.range(0, 300).select(
        concat(lit("https://s"), (col("id") % 5).cast("string"),
          lit(".test/d/"), col("id").cast("string")).as("uri"),
        concat(lit("body "), col("id").cast("string"),
          expr("repeat('y', CAST(id % 11 AS INT))")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(3), arc, "uri", "body",
        overwrite = true, maxRecordsPerShard = 40)
      graft.sources.Cdx.writeZipnum(
        graft.sources.Cdx.cdxjLines(graft.sources.Warc.indexWarc(s, arc)),
        zp, linesPerBlock = 10, overwrite = true)
      val caps = graft.sources.Cdx.queryZipnum(s, zp, "test,s2)")
      val plan = graft.sources.Cdx.fetchPlan(caps, gapBytes = 0L)
      graft.sources.Warc.readWarcRanges(s, arc, plan)
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("http_status"))
    },
      Sql("""SELECT 'https://s2.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       'body ' || CAST(i AS VARCHAR) || repeat('y', CAST(i % 11 AS INT)) AS body,
        |       200 AS http_status
        |FROM (SELECT range AS i FROM range(0, 300)) WHERE i % 5 = 2""".stripMargin)),
    // The sidecar-less loop over a ZSTD archive (q107's chain with the
    // codec flipped to zstd-dict): member boundaries now come from a real
    // zstd FRAME walk — skippable dictionary frame captured, data-frame
    // extents measured from block headers — and the ranged fetch must
    // re-read the head dictionary to decode mid-file members. Any wrong
    // frame boundary breaks the zstd decode; the oracle replays the
    // fetched payload text arithmetically.
    Case("q107b_warc_index_zstd", (s, dir) => {
      val fixture = scratchDir("graft_warcidxz_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val zp = new java.io.File(fixture, "zip").getPath
      val src = s.range(0, 300).select(
        concat(lit("https://s"), (col("id") % 5).cast("string"),
          lit(".test/d/"), col("id").cast("string")).as("uri"),
        concat(lit("zbody "), col("id").cast("string"),
          expr("repeat('q', CAST(id % 13 AS INT))")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(3), arc, "uri", "body",
        overwrite = true, maxRecordsPerShard = 40, codec = "zstd-dict")
      graft.sources.Cdx.writeZipnum(
        graft.sources.Cdx.cdxjLines(graft.sources.Warc.indexWarc(s, arc)),
        zp, linesPerBlock = 10, overwrite = true)
      val caps = graft.sources.Cdx.queryZipnum(s, zp, "test,s4)")
      val plan = graft.sources.Cdx.fetchPlan(caps, gapBytes = 0L)
      graft.sources.Warc.readWarcRanges(s, arc, plan)
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("http_status"))
    },
      Sql("""SELECT 'https://s4.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       'zbody ' || CAST(i AS VARCHAR) || repeat('q', CAST(i % 13 AS INT)) AS body,
        |       200 AS http_status
        |FROM (SELECT range AS i FROM range(0, 300)) WHERE i % 5 = 4""".stripMargin)),
    // The sidecar-less loop over a PLAIN uncompressed archive (q107's
    // chain with codec = "none"): no member layer exists, so indexWarc's
    // offsets are raw record byte offsets and the ranged fetch decodes
    // with no decompression at all — the r15 VERDICT gap #4 (local/test
    // dumps ship uncompressed; the indexer must not refuse them). Wrong
    // record framing (a mis-bracketed trailing CRLF) would desync every
    // subsequent offset; the oracle replays the fetched payloads.
    Case("q107e_warc_index_plain", (s, dir) => {
      val fixture = scratchDir("graft_warcidxp_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val zp = new java.io.File(fixture, "zip").getPath
      val src = s.range(0, 300).select(
        concat(lit("https://s"), (col("id") % 5).cast("string"),
          lit(".test/d/"), col("id").cast("string")).as("uri"),
        concat(lit("pbody "), col("id").cast("string"),
          expr("repeat('w', CAST(id % 9 AS INT))")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(3), arc, "uri", "body",
        overwrite = true, maxRecordsPerShard = 40, codec = "none")
      graft.sources.Cdx.writeZipnum(
        graft.sources.Cdx.cdxjLines(graft.sources.Warc.indexWarc(s, arc)),
        zp, linesPerBlock = 10, overwrite = true)
      val caps = graft.sources.Cdx.queryZipnum(s, zp, "test,s1)")
      val plan = graft.sources.Cdx.fetchPlan(caps, gapBytes = 0L)
      graft.sources.Warc.readWarcRanges(s, arc, plan)
        .select(col("target_uri"),
          col("payload").cast("string").as("body"),
          col("http_status"))
    },
      Sql("""SELECT 'https://s1.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       'pbody ' || CAST(i AS VARCHAR) || repeat('w', CAST(i % 9 AS INT)) AS body,
        |       200 AS http_status
        |FROM (SELECT range AS i FROM range(0, 300)) WHERE i % 5 = 1""".stripMargin)),
    // indexWarc's languages/charset fields (the published cc-index
    // populates both; consumers filter on them before fetching): three
    // single-language classes plus one genuinely BILINGUAL class rendered
    // as HTML bodies under two charset labels — the WHATWG sniff must
    // report what the decode DOES (iso-8859-1 label → windows-1252), the
    // langid must classify through the tag strip, singles must stay
    // single codes (the shared-script/shared-token shadows stay out) and
    // the mixed page must list BOTH codes primary-first ("fr,en" — the
    // multi-code published shape). Expected values are hand-derived
    // literals in the oracle, q102c-style.
    Case("q107c_warc_index_langs", (s, dir) => {
      val fixture = scratchDir("graft_warcidxl_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val body = concat(lit("<html><body><p>"),
        when(col("id") % 4 === 0, lit(LangGateEn))
          .when(col("id") % 4 === 1, lit(LangGateFr))
          .when(col("id") % 4 === 2, lit(LangGateRu))
          .otherwise(lit(LangGateEn + " " + LangGateFr)),
        lit(" "), col("id").cast("string"), lit("</p></body></html>"))
      val ct = when(col("id") % 4 === 1,
        lit("text/html; charset=iso-8859-1"))
        .otherwise(lit("text/html; charset=utf-8"))
      val src = s.range(0, 120).select(
        concat(lit("https://l.test/d/"), col("id").cast("string")).as("uri"),
        body.as("body"), ct.as("ct"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(2), arc, "uri", "body",
        overwrite = true, contentTypeCol = Some("ct"))
      graft.sources.Warc.indexWarc(s, arc)
        .select(col("url"), col("languages"), col("charset"),
          col("mime"), col("status"))
    },
      Sql("""SELECT 'https://l.test/d/' || CAST(i AS VARCHAR) AS url,
        |       CASE i % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'ru'
        |            ELSE 'fr,en' END AS languages,
        |       CASE i % 4 WHEN 1 THEN 'windows-1252' ELSE 'UTF-8' END AS charset,
        |       'text/html' AS mime, 200 AS status
        |FROM (SELECT range AS i FROM range(0, 120))""".stripMargin)),
    // REAL-ARTIFACT interop anchors (r15 VERDICT top item): every other
    // format gate validates against this repo's own understanding of the
    // conventions (self-roundtrips, hand-derived rules). These three read
    // verbatim-LAYOUT published samples (graft.PublishedSamples — the
    // pywb/cc-index CDXJ docs shape, the WARC spec annex record shapes,
    // the iipc WAT envelope layout) through the REAL readers, and the
    // oracle rows are hand-transcribed literals — the class of check that
    // catches convention drift (the r13 FNV-digest miss) which
    // self-roundtrips structurally cannot.
    //
    // Published CDXJ lines through readCdxj: spaces after JSON colons,
    // quoted numerics, keys outside the subset schema (mime-detected,
    // redirect), charset/languages (ISO 639-3 in the wild — surfaced
    // verbatim), crawl-data/... filenames — plus SURT PARITY: this
    // library's surt(url) must equal each line's published key.
    Case("q111_cdxj_published", (s, dir) => {
      val fixture = scratchDir("graft_cdxjpub_", dir)
      fixture.mkdirs()
      val f = new java.io.File(fixture, "published.cdxj")
      java.nio.file.Files.write(f.toPath,
        (PublishedSamples.CdxjLines.mkString("\n") + "\n").getBytes("UTF-8"))
      graft.sources.Cdx.readCdxj(s, f.getAbsolutePath)
        .select(col("surt_key"), col("ts").cast("string").as("ts"),
          col("url"), col("mime"), col("status"), col("digest"),
          col("filename"), col("offset"), col("length"),
          col("languages"), col("charset"),
          (graft.sources.Cdx.surt(col("url")) === col("surt_key"))
            .as("surt_parity"))
    },
      // q111 family: every expected value is a hand-transcribed literal
      // from the published sample — never computed by the code under test
      Sql("""SELECT surt_key, ts, url, mime, CAST(status AS INT) AS status,
        |       digest, filename, CAST("offset" AS BIGINT) AS offset,
        |       CAST(length AS BIGINT) AS length, languages, charset,
        |       surt_parity
        |FROM (VALUES
        |  ('com,example)/', '2017-07-30 22:38:50', 'http://example.com',
        |   'text/html', 200, 'G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK',
        |   'example.warc.gz', 771, 1219, NULL, NULL, TRUE),
        |  ('org,commoncrawl)/faq', '2024-07-14 03:11:34',
        |   'https://commoncrawl.org/faq', 'text/html', 200,
        |   'UYXVCD72DAPCRXBBKFE6KIZWCY5F3OAY',
        |   'crawl-data/CC-MAIN-2024-30/segments/1720763514759.39/warc/CC-MAIN-20240714031134-20240714061134-00000.warc.gz',
        |   754067, 9754, 'eng', 'UTF-8', TRUE),
        |  ('org,commoncrawl)/', '2024-07-22 12:07:56',
        |   'https://commoncrawl.org/', 'warc/revisit', 200,
        |   '3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ',
        |   'crawl-data/CC-MAIN-2024-30/segments/1720763514759.39/crawldiagnostics/CC-MAIN-20240722115029-20240722145029-00434.warc.gz',
        |   130171, 545, NULL, NULL, TRUE),
        |  ('com,example)/path?a=1&b=2', '2023-06-01 00:00:00',
        |   'https://www.example.com/path?b=2&a=1', 'text/html', 301,
        |   'AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA', 'redirect.warc.gz',
        |   0, 412, NULL, NULL, TRUE)
        |) AS t(surt_key, ts, url, mime, status, digest, filename,
        |       "offset", length, languages, charset, surt_parity)""".stripMargin)),
    // indexWarc over the same coded captures: `digest` keys the STORED
    // payload block (the crawl convention — the br record carries no
    // digest header, so the indexer must RECOMPUTE over stored bytes
    // and land on the outside-computed constant), while charset and
    // languages sniff the DECODED sample (gzip bytes would classify as
    // garbage; the unsupported br coding falls back to stored bytes
    // and honestly reads 'und').
    Case("q112b_warc_index_coded", (s, dir) => {
      val fixture = scratchDir("graft_codedidx_", dir)
      fixture.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(fixture, "coded.warc").toPath,
        PublishedSamples.CodedWarcFile)
      graft.sources.Warc.indexWarc(s, fixture.getPath)
        .select(col("surt_key"), col("ts").cast("string").as("ts"),
          col("url"), col("mime"), col("status"), col("digest"),
          col("charset"), col("languages"))
    },
      Sql("""SELECT surt_key, ts, url, mime, CAST(status AS INT) AS status,
        |       digest, charset, languages
        |FROM (VALUES
        |  ('example,coded)/chunked', '2024-01-02 03:04:05',
        |   'http://coded.example/chunked', 'text/plain', 200,
        |   'YXT4BYEXT6EGMF5Q3QLCBN52E64SFXS4', 'UTF-8', 'en'),
        |  ('example,coded)/gzipped', '2024-01-02 03:04:05',
        |   'http://coded.example/gzipped', 'text/html', 200,
        |   '2WLFLN4DXAGJKV4HDP2QXUKGZP2YSDY6', 'UTF-8', 'en'),
        |  ('example,coded)/both', '2024-01-02 03:04:05',
        |   'http://coded.example/both', 'text/html', 200,
        |   'UPBERXOYSZH3SZMKW5YOABA7LVBDSXNZ', 'UTF-8', 'en'),
        |  ('example,coded)/brotli', '2024-01-02 03:04:05',
        |   'http://coded.example/brotli', 'text/plain', 200,
        |   'XYNO4TIWTAPFNQLBSEEG3AKGT7ZFMVKY', 'UTF-8', 'und')
        |) AS t(surt_key, ts, url, mime, status, digest, charset,
        |       languages)""".stripMargin)),
    // indexWarc(languageCodes = "iso639_3"): the published cc-index
    // spells `languages` in ISO 639-3 — the indexer emits that spelling
    // natively over the same fixture classes as q107c (three singles +
    // the bilingual page), so an index produced here key-matches the
    // published field with no caller-side rewrite.
    Case("q112c_warc_index_iso3", (s, dir) => {
      val fixture = scratchDir("graft_warcidx3_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val body = concat(lit("<html><body><p>"),
        when(col("id") % 4 === 0, lit(LangGateEn))
          .when(col("id") % 4 === 1, lit(LangGateFr))
          .when(col("id") % 4 === 2, lit(LangGateRu))
          .otherwise(lit(LangGateEn + " " + LangGateFr)),
        lit(" "), col("id").cast("string"), lit("</p></body></html>"))
      val ct = when(col("id") % 4 === 1,
        lit("text/html; charset=iso-8859-1"))
        .otherwise(lit("text/html; charset=utf-8"))
      val src = s.range(0, 120).select(
        concat(lit("https://l3.test/d/"), col("id").cast("string")).as("uri"),
        body.as("body"), ct.as("ct"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(2), arc, "uri", "body",
        overwrite = true, contentTypeCol = Some("ct"))
      graft.sources.Warc.indexWarc(s, arc, languageCodes = "iso639_3")
        .select(col("url"), col("languages"), col("charset"),
          col("mime"), col("status"))
    },
      Sql("""SELECT 'https://l3.test/d/' || CAST(i AS VARCHAR) AS url,
        |       CASE i % 4 WHEN 0 THEN 'eng' WHEN 1 THEN 'fra'
        |            WHEN 2 THEN 'rus' ELSE 'fra,eng' END AS languages,
        |       CASE i % 4 WHEN 1 THEN 'windows-1252' ELSE 'UTF-8' END AS charset,
        |       'text/html' AS mime, 200 AS status
        |FROM (SELECT range AS i FROM range(0, 120))""".stripMargin)),
    // ZipNum published-layout anchor (r16 VERDICT item #2): the
    // two-level index's cluster.idx in the published pywb layout
    // (tab-separated `<surt> <ts>  <shard>  <offset>  <length>  <seq>`,
    // seq 1-based, two shard files) through the REAL readClusterIdx —
    // every parsed field a hand-transcribed literal. Closes the last
    // self-roundtrip-only format family (q106/q109 validate against
    // this library's own writer).
    Case("q113_zipnum_published", (s, dir) => {
      val fixture = scratchDir("graft_zippub_", dir)
      fixture.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(fixture, "cluster.idx").toPath,
        (PublishedSamples.ClusterIdxLines.mkString("\n") + "\n")
          .getBytes("UTF-8"))
      graft.sources.Cdx.readClusterIdx(s, fixture.getPath)
        .select(col("block_key"), col("filename"), col("offset"),
          col("length"), col("seq"))
    },
      // q113 family: published ZipNum cluster.idx layout — parsed fields
      // and the hand-computed candidate plan are literal tables
      Sql("""SELECT block_key, filename, CAST("offset" AS BIGINT) AS offset,
        |       CAST(length AS BIGINT) AS length, CAST(seq AS BIGINT) AS seq
        |FROM (VALUES
        |  ('0,100,22,165)/ 20170417004624', 'cdx-00000.gz', 0, 195191, 1),
        |  ('com,example)/ 20200101000000', 'cdx-00000.gz', 195191, 180000, 2),
        |  ('com,example)/path 20200601120000', 'cdx-00000.gz', 375191, 170500, 3),
        |  ('net,example)/ 20210101000000', 'cdx-00000.gz', 545691, 160000, 4),
        |  ('org,commoncrawl)/ 20240101000000', 'cdx-00001.gz', 0, 150000, 1),
        |  ('org,wikipedia)/ 20240201000000', 'cdx-00001.gz', 150000, 140000, 2)
        |) AS t(block_key, filename, "offset", length, seq)""".stripMargin)),
    // ...and the candidate-block PLAN over those published lines for a
    // `com,example)/` prefix query: blocks 1-3 of cdx-00000.gz are the
    // candidates (block 1 because keys <= the next block's key can live
    // in it, block 4 and shard 2 excluded by key range / per-shard
    // lead), and their contiguous offsets coalesce into ONE ranged GET
    // — start/end/count all hand-computed from the sample's numbers.
    Case("q113b_zipnum_plan_published", (s, dir) => {
      val fixture = scratchDir("graft_zipplan_", dir)
      fixture.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(fixture, "cluster.idx").toPath,
        (PublishedSamples.ClusterIdxLines.mkString("\n") + "\n")
          .getBytes("UTF-8"))
      graft.sources.Cdx.zipnumPlan(
          graft.sources.Cdx.readClusterIdx(s, fixture.getPath),
          "com,example)/")
        .select(col("filename"), col("range_start"), col("range_end"),
          col("n_captures"), col("bytes"))
    },
      Sql("""SELECT 'cdx-00000.gz' AS filename, CAST(0 AS BIGINT) AS range_start,
        |       CAST(545691 AS BIGINT) AS range_end,
        |       CAST(3 AS BIGINT) AS n_captures,
        |       CAST(545691 AS BIGINT) AS bytes""".stripMargin)),
    // Columnar cc-index loop (r16 VERDICT item #4): archives → indexWarc
    // → parquet index in the PUBLISHED cc-index-table column shape →
    // read back through the adapter → surt-prefix filter → fetchPlan →
    // ranged decode. The published-columns table is the index format
    // most Spark users reach for first; the adapter makes it a drop-in
    // start for the same selective-access loop the CDXJ/ZipNum paths
    // drive.
    Case("q114_ccindex_parquet", (s, dir) => {
      val fixture = scratchDir("graft_ccidx_", dir)
      val arc = new java.io.File(fixture, "arc").getPath
      val tab = new java.io.File(fixture, "ccindex").getPath
      val src = s.range(0, 300).select(
        concat(lit("https://c"), (col("id") % 5).cast("string"),
          lit(".test/d/"), col("id").cast("string")).as("uri"),
        concat(lit("cbody "), col("id").cast("string"),
          expr("repeat('z', CAST(id % 7 AS INT))")).as("body"))
      graft.sources.Warc.writeWarcResponses(
        src.repartition(3), arc, "uri", "body",
        overwrite = true, maxRecordsPerShard = 40)
      graft.sources.Cdx.writeCcIndexTable(
        graft.sources.Warc.indexWarc(s, arc), tab, overwrite = true)
      val caps = graft.sources.Cdx.readCcIndexTable(s, tab)
        .where(col("surt_key").startsWith("test,c2)"))
      val plan = graft.sources.Cdx.fetchPlan(caps, gapBytes = 0L)
      graft.sources.Warc.readWarcRanges(s, arc, plan)
        .where(col("target_uri").startsWith("https://c2."))
        .select(col("target_uri"),
          col("payload").cast("string").as("body"), col("http_status"))
    },
      Sql("""SELECT 'https://c2.test/d/' || CAST(i AS VARCHAR) AS target_uri,
        |       'cbody ' || CAST(i AS VARCHAR) || repeat('z', CAST(i % 7 AS INT)) AS body,
        |       200 AS http_status
        |FROM (SELECT range AS i FROM range(0, 300)) WHERE i % 5 = 2""".stripMargin)),
    // ZipNum index MERGE (Cdx.mergeZipnum / readZipnumLines): two
    // monthly-crawl-style indexes with FULLY overlapping key ranges
    // (every host in both) union-then-rewrite into one globally-sorted
    // index, and a host query over the merged artifact must return both
    // crawls' captures — wrong block boundaries or dropped lines in the
    // lazy shard scan lose rows here.
    Case("q109_zipnum_merge", (s, dir) => {
      val fixture = scratchDir("graft_zipmerge_", dir)
      val d1 = new java.io.File(fixture, "m1").getPath
      val d2 = new java.io.File(fixture, "m2").getPath
      val out = new java.io.File(fixture, "merged").getPath
      def lines(lo: Int, hi: Int) = s.range(lo, hi).select(concat(
        lit("test,h"), (col("id") % 5).cast("string"), lit(")/p/"),
        col("id").cast("string"),
        lit(" 20240101000000 {\"url\":\"https://h"),
        (col("id") % 5).cast("string"),
        lit(".test/p/"), col("id").cast("string"),
        lit("\",\"status\":\"200\",\"offset\":\""),
        (col("id") * 100).cast("string"),
        lit("\",\"length\":\"90\",\"filename\":\"w-"),
        (col("id") % 3).cast("string"),
        lit(".warc.gz\"}")).as("value"))
      graft.sources.Cdx.writeZipnum(lines(0, 1000), d1,
        linesPerBlock = 25, numShards = 2, overwrite = true)
      graft.sources.Cdx.writeZipnum(lines(1000, 2000), d2,
        linesPerBlock = 25, numShards = 2, overwrite = true)
      graft.sources.Cdx.mergeZipnum(s, Seq(d1, d2), out,
        linesPerBlock = 40, numShards = 3, overwrite = true)
      graft.sources.Cdx.queryZipnum(s, out, "test,h2)")
        .select(col("surt_key"), col("url"), col("offset"),
          col("length"), col("filename"))
    },
      Sql("""WITH i AS (SELECT range AS i FROM range(0, 2000))
        |SELECT 'test,h2)/p/' || CAST(i AS VARCHAR) AS surt_key,
        |       'https://h2.test/p/' || CAST(i AS VARCHAR) AS url,
        |       i * 100 AS offset, CAST(90 AS BIGINT) AS length,
        |       'w-' || CAST((i % 3) AS VARCHAR) || '.warc.gz' AS filename
        |FROM i WHERE i % 5 = 2""".stripMargin)),
    // ZipNum clustered index (Cdx.writeZipnum/queryZipnum): the published
    // cc-index's two-level layout — sorted CDXJ lines packed into
    // independently-gzipped blocks with a cluster.idx of block keys, so a
    // prefix query touches only candidate blocks. 2000 formulaic capture
    // lines over 7 hosts are written at 50 lines/block across 3 shards,
    // then host h3's captures are answered ENTIRELY through the
    // cluster-index plan (any wrong block offset breaks the gunzip; any
    // wrong plan boundary loses rows at block edges). The oracle
    // re-derives the full h3 capture set from residue arithmetic.
    Case("q106_zipnum_query", (s, dir) => {
      val fixture = scratchDir("graft_zipnum_", dir)
      val idx = new java.io.File(fixture, "idx").getPath
      val lines = s.range(0, 2000).select(concat(
        lit("test,h"), (col("id") % 7).cast("string"), lit(")/p/"),
        col("id").cast("string"),
        lit(" 20240101000000 {\"url\":\"https://h"),
        (col("id") % 7).cast("string"),
        lit(".test/p/"), col("id").cast("string"),
        lit("\",\"status\":\"200\",\"offset\":\""),
        (col("id") * 100).cast("string"),
        lit("\",\"length\":\"90\",\"filename\":\"w-"),
        (col("id") % 4).cast("string"),
        lit(".warc.gz\"}")).as("value"))
      graft.sources.Cdx.writeZipnum(lines, idx,
        linesPerBlock = 50, numShards = 3, overwrite = true)
      graft.sources.Cdx.queryZipnum(s, idx, "test,h3)")
        .select(col("surt_key"), col("url"), col("offset"),
          col("length"), col("filename"))
    },
      Sql("""WITH i AS (SELECT range AS i FROM range(0, 2000))
        |SELECT 'test,h3)/p/' || CAST(i AS VARCHAR) AS surt_key,
        |       'https://h3.test/p/' || CAST(i AS VARCHAR) AS url,
        |       i * 100 AS offset,
        |       CAST(90 AS BIGINT) AS length,
        |       'w-' || CAST((i % 4) AS VARCHAR) || '.warc.gz' AS filename
        |FROM i WHERE i % 7 = 3""".stripMargin)),
    // Published-index SURT parity (Cdx.surt vs the IA canonicalization the
    // real CommonCrawl cc-index keys go through): verbatim (url, key)
    // pairs covering www/www<d> hosts, multi-param + bare + repeated query
    // args, default and explicit ports, userinfo, session-id params (query
    // and ASP.NET path forms), trailing slashes and fragments. The oracle
    // carries the expected keys as literals — hand-derived from the surt
    // library's DefaultIAURLCanonicalizer rules — so any canonicalization
    // drift (e.g. keeping `www,` as a host label, or source-order query
    // args, both of which silently empty a join against the published
    // index) goes red here.
    Case("q102c_surt_published", (s, dir) => {
      import s.implicits._
      SurtPublishedPairs.zipWithIndex
        .map { case ((u, _), i) => (i.toLong, u) }.toDF("id", "url")
        .select(col("id"), col("url"),
          graft.sources.Cdx.surt(col("url")).as("surt_key"))
    },
      Sql {
        // literal expected keys — the gate IS the pair table; Spark's surt
        // must reproduce every key character-for-character
        val rows = SurtPublishedPairs.zipWithIndex.map { case ((u, k), i) =>
          s"  ($i, '$u', '$k')"
        }.mkString(",\n")
        s"""SELECT CAST(id AS BIGINT) AS id, url, surt_key FROM (VALUES
           |$rows) AS t(id, url, surt_key)""".stripMargin
      }),
    // SURT key (Cdx.surt): formulaic mixed-case URLs with queries and
    // fragments; every output key re-derived character-for-character from
    // the residue arithmetic in DuckDB.
    Case("q102b_surt", (s, dir) =>
      s.range(0, 300).select(
        col("id").as("id"),
        graft.sources.Cdx.surt(concat(
          lit("https://W"), (col("id") % 5).cast("string"),
          lit(".Ex"), (col("id") % 3).cast("string"),
          lit(".COM/P/"), col("id").cast("string"),
          lit("?q="), (col("id") % 4).cast("string"),
          lit("#frag"))).as("surt_key")),
      Sql("""SELECT i AS id,
        |  'com,ex' || CAST((i % 3) AS VARCHAR) || ',w' || CAST((i % 5) AS VARCHAR)
        |    || ')/p/' || CAST(i AS VARCHAR) || '?q=' || CAST((i % 4) AS VARCHAR)
        |    AS surt_key
        |FROM (SELECT range AS i FROM range(0, 300))""".stripMargin))
  )
}
