package graft.sources

import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CommonCrawl index (CDXJ) support — the layer a 100 TB consumer actually
  * starts from: instead of scanning every WARC byte, query the published
  * capture index (one line per capture: SURT key, 14-digit timestamp, JSON
  * payload with the warc `filename`/`offset`/`length`), filter down to the
  * captures you want, and fetch only those byte ranges. Format per the
  * pywb/OpenWayback CDXJ convention used by the CommonCrawl `cc-index`
  * (https://github.com/webrecorder/pywb/wiki/CDX-Index-Format; ISO 28500
  * WARC is the payload these point into).
  *
  * Three pieces:
  *   1. [[surt]] — the Sort-friendly URI Reordering Transform key
  *      (`com,example)/path?q`), the index's primary key; pure column
  *      expression, engine-portable.
  *   2. [[readCdxj]] — CDXJ lines → typed frame. Line-splittable text
  *      (newline-framed like jsonl), so a 300 GB index shards across the
  *      cluster for free; the JSON payload parses with an explicit schema
  *      (`from_json` — no sampling pass over 100 TB of index).
  *   3. [[fetchPlan]] — filtered captures → per-WARC-file byte-range plan:
  *      ranges sorted per file and COALESCED when the gap between
  *      consecutive captures is under `gapBytes` (one ranged GET amortizes
  *      over adjacent members; a gap bigger than the merge tolerance is
  *      cheaper as two requests). Classic gaps-and-islands, expressed as
  *      one window + one aggregation — both keyed by filename, so the plan
  *      for each WARC file lands in one place.
  */
object Cdx {

  /** SURT form of a URL with the Internet Archive DEFAULT CANONICALIZATION
    * — the key family the published CommonCrawl cc-index and the pywb/
    * OpenWayback ecosystem actually use (the `surt` library's
    * `DefaultIAURLCanonicalizer`; a verbatim-key SURT would silently match
    * NOTHING when joined against the real index, because the published
    * keys strip `www.` and alphabetize query args). Rules, in order:
    *
    *   1. tab/CR/LF removed anywhere, surrounding spaces trimmed, the
    *      whole URL lowercased, fragment dropped;
    *   2. userinfo (`user:pass@`) stripped; host dots tidied (runs
    *      collapsed, leading/trailing dropped); ONE leading `www.` /
    *      `www<digits>.` host label stripped (IA `massageHost`);
    *   3. scheme-default ports dropped (`http:80`, `https:443`,
    *      `ftp:21`); any other explicit port keys after the reversed
    *      host — `com,example:8080)/`;
    *   4. path: spaces percent-encode to `%20` (so the key can live in a
    *      space-delimited CDXJ line); ASP.NET cookieless-session path
    *      segments (`/(s(…24…))/…aspx`) stripped (the IA path-session
    *      rules); ONE trailing slash dropped unless the path is just `/`
    *      (`/goo/` keys as `/goo` — the surt library's README example);
    *   5. query: spaces percent-encode; the IA session-id parameters
    *      strip (`jsessionid`/`phpsessid`/`sid` 32-char values,
    *      `aspsessionid*`, `cfid`+`cftoken` — session noise would
    *      otherwise make every capture of a page key uniquely); args
    *      split on `&` and ALPHABETIZED by (name, value) — python-tuple
    *      order: a bare arg sorts before `name=` with a value; an empty
    *      query (or one emptied by the session strip) drops its `?`.
    *
    * So `https://www.Example.com:443/goo/?b=2&a=1#f` keys as
    * `com,example)/goo?a=1&b=2` — string-sortable, one registrable
    * domain's captures contiguous, and JOINABLE against the published
    * index. Internationalized hosts fold to punycode; IPv4 hosts
    * (decimal/octal/`0x`-hex spellings, the WHATWG `inet_aton`
    * convention) normalize to canonical dotted-quad before reversal; and
    * bracketed IPv6 literals canonicalize per RFC 5952 and stay ATOMIC —
    * `http://[2001:0DB8::2:1]:8080/x` keys as `[2001:db8::2:1]:8080)/x`,
    * no comma reversal (their dots are a v4-mapped tail, not domain
    * labels). All via [[graft.ops.expr.SurtHostNorm]] — a codegen'd
    * static call inside the expression, identity fast path for ASCII
    * non-IP hosts. Null for unparseable URLs (no `scheme://host`). Out
    * of scope (documented, not silent): the Google-canonicalizer
    * percent-decode/re-encode cycles and IPv6 zone ids — keys for such
    * URLs may diverge from the published index; everything else matches
    * the IA rules.
    */
  def surt(url: Column): Column = {
    val u = lower(trim(regexp_replace(url, "[\\t\\n\\r]", "")))
    val scheme = regexp_extract(u, "^([a-z][a-z0-9+.\\-]*)://", 1)
    // host: a bracketed IPv6 literal (colons inside must not read as a
    // port separator) or anything up to :/?#
    val rawHost = regexp_extract(u,
      "^[a-z][a-z0-9+.\\-]*://(?:[^/@?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#]+)", 1)
    val dotted = regexp_replace(
      regexp_replace(rawHost, "\\.{2,}", "."), "^\\.|\\.$", "")
    val host = graft.ops.expr.NativeSig.surtHostNorm(
      regexp_replace(dotted, "^www[0-9]*\\.", ""))
    val port = regexp_extract(u,
      "^[a-z][a-z0-9+.\\-]*://(?:[^/@?#]*@)?(?:\\[[^\\]/?#]*\\]|[^/:?#]+):([0-9]+)(?=[/?#]|$)", 1)
    val keepPort = (port =!= "") &&
      !((scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443") ||
        (scheme === "ftp" && port === "21"))
    // a bracketed IPv6 host is atomic — no label reversal (its dots, if
    // any, are a v4-mapped tail, not registrable-domain labels)
    val rev = when(host.startsWith("["), host)
      .otherwise(array_join(reverse(split(host, "\\.")), ","))
    val revPort = when(keepPort, concat(rev, lit(":"), port)).otherwise(rev)
    // path + query, fragment dropped
    val pq = regexp_extract(u, "^[a-z][a-z0-9+.\\-]*://[^/?#]*([^#]*)", 1)
    val rawPath = regexp_extract(pq, "^([^?]*)", 1)
    val hasQuery = instr(pq, "?") > 0
    val rawQuery = regexp_extract(pq, "^[^?]*\\?(.*)$", 1)
    val pEsc = regexp_replace(rawPath, " ", "%20")
    val pSess1 = regexp_replace(pEsc,
      "^(.*/)\\((?:[a-z]\\([0-9a-z]{24}\\))+\\)/([^?]+\\.aspx.*)$", "$1$2")
    val pSess2 = regexp_replace(pSess1,
      "^(.*/)\\([0-9a-z]{24}\\)/([^?]+\\.aspx.*)$", "$1$2")
    val pSlash = regexp_replace(pSess2, "(.)/$", "$1")
    val path = when(pSlash === "", lit("/")).otherwise(pSlash)
    val qEsc = regexp_replace(rawQuery, " ", "%20")
    val qStripped = QuerySessionPatterns.foldLeft(qEsc)(
      (q, pat) => regexp_replace(q, pat, "$1$2"))
    val qParts = split(qStripped, "&", -1)
    val qStructs = transform(qParts, a => {
      val i = instr(a, "=")
      struct(
        when(i > 0, a.substr(lit(1), i - lit(1))).otherwise(a).as("k"),
        when(i > 0, lit(1)).otherwise(lit(0)).as("h"),
        when(i > 0, a.substr(i + lit(1), length(a))).otherwise(lit("")).as("v"))
    })
    val qSorted = array_join(
      transform(array_sort(qStructs), st =>
        when(st.getField("h") === 1,
          concat(st.getField("k"), lit("="), st.getField("v")))
          .otherwise(st.getField("k"))), "&")
    val query = when(!hasQuery, lit("")).otherwise(qSorted)
    val tail = when(query === "", path)
      .otherwise(concat(path, lit("?"), query))
    when(host.isNull || host === "", lit(null).cast("string"))
      .otherwise(concat(revPort, lit(")"), tail))
  }

  /** The IA query-session-id strip patterns (applied in this order, each
    * at most once, anchored over the whole query — the `surt` library's
    * `stripQuerySessionID` rule set). `$1$2` replacement: Java substitutes
    * the empty string for a non-participating group, matching the python
    * `group(1) [+ group(2)]` join.
    */
  private val QuerySessionPatterns = Seq(
    "^(.*)(?:jsessionid=[0-9a-z]{32})(?:&(.*))?$",
    "^(.*)(?:phpsessid=[0-9a-z]{32})(?:&(.*))?$",
    "^(.*)(?:sid=[0-9a-z]{32})(?:&(.*))?$",
    "^(.*)(?:aspsessionid[a-z]{8}=[a-z]{24})(?:&(.*))?$",
    "^(.*)(?:cfid=[^&]+&cftoken=[^&]+)(?:&(.*))?$")

  /** JVM-side [[surt]] with the identical rules — the WARC writer's index
    * sidecar ([[Warc.writeWarcResponses]] `index = true`) runs per record
    * inside the shard writer where no Column can. Parity with the column
    * expression is spec-pinned (CdxSpec "surtString parity"); the trim
    * strips only ASCII spaces to match Spark's `trim`. (Query sorting
    * compares with `String.compareTo` here vs UTF8String byte order in the
    * column — identical for BMP text, which is all a lowercased query can
    * realistically hold; supplementary-plane query args are the one
    * documented divergence.)
    */
  def surtString(url: String): String = {
    if (url == null) return null
    val u = url.replaceAll("[\\t\\n\\r]", "")
      .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ')
      .reverse.toLowerCase(java.util.Locale.ROOT)
    val scheme = SchemeRe.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val rawHost = SchemeHostRe.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val host = graft.ops.expr.SurtHostNorm.normalizeString(
      rawHost.replaceAll("\\.{2,}", ".")
        .replaceAll("^\\.|\\.$", "").replaceAll("^www[0-9]*\\.", ""))
    if (host.isEmpty) null
    else {
      val port = PortRe.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
      val keepPort = port.nonEmpty &&
        !((scheme == "http" && port == "80") ||
          (scheme == "https" && port == "443") ||
          (scheme == "ftp" && port == "21"))
      val rev =
        if (host.startsWith("[")) host
        else host.split("\\.", -1).reverse.mkString(",")
      val revPort = if (keepPort) rev + ":" + port else rev
      val pq = PathQueryRe.findFirstMatchIn(u)
        .flatMap(m => Option(m.group(1))).getOrElse("")
      val qAt = pq.indexOf('?')
      val rawPath = if (qAt >= 0) pq.substring(0, qAt) else pq
      val pSlash = rawPath.replace(" ", "%20")
        .replaceAll("^(.*/)\\((?:[a-z]\\([0-9a-z]{24}\\))+\\)/([^?]+\\.aspx.*)$", "$1$2")
        .replaceAll("^(.*/)\\([0-9a-z]{24}\\)/([^?]+\\.aspx.*)$", "$1$2")
        .replaceAll("(.)/$", "$1")
      val path = if (pSlash.isEmpty) "/" else pSlash
      val query =
        if (qAt < 0) ""
        else {
          val stripped = QuerySessionPatterns.foldLeft(
            pq.substring(qAt + 1).replace(" ", "%20"))(
            (q, pat) => q.replaceAll(pat, "$1$2"))
          stripped.split("&", -1).sortBy { a =>
            val i = a.indexOf('=')
            if (i >= 0) (a.substring(0, i), 1, a.substring(i + 1))
            else (a, 0, "")
          }.mkString("&")
        }
      revPort + ")" + path + (if (query.isEmpty) "" else "?" + query)
    }
  }

  private val SchemeRe = "^([a-z][a-z0-9+.\\-]*)://".r
  private val SchemeHostRe =
    "^[a-z][a-z0-9+.\\-]*://(?:[^/@?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#]+)".r
  private val PortRe =
    "^[a-z][a-z0-9+.\\-]*://(?:[^/@?#]*@)?(?:\\[[^\\]/?#]*\\]|[^/:?#]+):([0-9]+)(?=[/?#]|$)".r
  private val PathQueryRe =
    "^[a-z][a-z0-9+.\\-]*://[^/?#]*([^#]*)".r

  /** Payload schema of the CommonCrawl cc-index CDXJ JSON block. All
    * fields arrive as JSON strings (the published format quotes numbers);
    * [[readCdxj]] casts the numerics.
    */
  val CdxjPayloadSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("mime", StringType),
    StructField("status", StringType),
    StructField("digest", StringType),
    StructField("length", StringType),
    StructField("offset", StringType),
    StructField("filename", StringType),
    StructField("languages", StringType),
    StructField("charset", StringType)))

  /** Read a CDXJ index (plain or .gz shards — Spark's text source handles
    * the codec by extension) into
    * `(surt_key, ts, url, mime, status, digest, filename, offset, length,
    * languages, charset)`. `ts` parses the 14-digit capture timestamp to a
    * UTC timestamp; `offset`/`length` cast to long; `status` to int
    * (null when the capture has none, e.g. revisit records). Malformed
    * lines (no JSON block, bad JSON) yield null payload fields rather than
    * failing the read — index shards at this scale always carry a few torn
    * lines; filter `filename IS NULL` to drop or inspect them. `glob`
    * restricts the listing (e.g. `Some("*.cdxj")` when reading the writer's
    * sidecars out of a directory that also holds the `.warc.gz` shards).
    */
  def readCdxj(
      spark: SparkSession,
      path: String,
      glob: Option[String] = None
  ): DataFrame = {
    val reader = spark.read
    val lines = glob.fold(reader)(g => reader.option("pathGlobFilter", g))
      .text(path)
    parseCdxjLines(lines)
  }

  /** CDXJ line frame (one string column named `value`) → typed captures —
    * the parsing half of [[readCdxj]], shared with the ZipNum ranged
    * reader ([[readZipnumRanges]]) whose lines arrive from decompressed
    * blocks rather than the text source.
    */
  def parseCdxjLines(lines: DataFrame): DataFrame = {
    // "<surt> <14-digit ts> <json>" — split on the first two single spaces
    val parsed = lines.select(
      regexp_extract(col("value"), "^(\\S+) (\\d{14}) (\\{.*)$", 1).as("surt_key"),
      regexp_extract(col("value"), "^(\\S+) (\\d{14}) (\\{.*)$", 2).as("__ts14"),
      from_json(
        regexp_extract(col("value"), "^(\\S+) (\\d{14}) (\\{.*)$", 3),
        CdxjPayloadSchema).as("__p"))
    parsed.select(
      when(col("surt_key") === "", lit(null).cast("string"))
        .otherwise(col("surt_key")).as("surt_key"),
      // try_: a torn line's empty ts must yield null, not an ANSI parse
      // error that fails the whole read
      try_to_timestamp(col("__ts14"), lit("yyyyMMddHHmmss")).as("ts"),
      col("__p.url").as("url"),
      col("__p.mime").as("mime"),
      // try_cast throughout: a capture with a malformed numeric field is
      // one null row, never a failed 100 TB index scan (ANSI casts throw)
      expr("try_cast(__p.status AS INT)").as("status"),
      col("__p.digest").as("digest"),
      col("__p.filename").as("filename"),
      expr("try_cast(__p.offset AS BIGINT)").as("offset"),
      expr("try_cast(__p.length AS BIGINT)").as("length"),
      col("__p.languages").as("languages"),
      col("__p.charset").as("charset"))
  }

  /** Byte-range fetch plan from filtered captures: per WARC file, the
    * capture ranges sorted by offset and merged when the gap to the
    * previous range end is ≤ `gapBytes` (0 merges only touching/overlapping
    * ranges). Returns
    * `(filename, range_start, range_end, n_captures, bytes)` with
    * `range_end` exclusive and `bytes = range_end − range_start` (the GET
    * size, including any swallowed gap bytes).
    *
    * Scale shape: ONE shuffle keyed by filename (the window), then the
    * island aggregation — per-file capture counts are bounded by WARC
    * sizing convention (~1 GB archives ⇒ tens of thousands of members), so
    * no window partition can be corpus-sized. The running maximum of range
    * ends (not a plain `lag`) makes containment-safe islands: a capture
    * fully inside an earlier long member must not split the island.
    */
  // ------------------------------------------------------------- zipnum
  //
  // The published cc-index's TWO-LEVEL layout (the pywb "ZipNum" cluster
  // format): index lines are sorted and packed into independently-gzipped
  // BLOCKS of ~3000 lines concatenated into shard files, and a small
  // plain-text `cluster.idx` holds one line per block —
  //   `<surt> <ts>\t<shard file>\t<offset>\t<length>\t<seq>`
  // — so a prefix query touches cluster.idx (1/3000 of the index, ~100 MB
  // for a 300 GB index), binary-searches the block ranges, and fetches
  // ONLY those compressed blocks. This is the entry a real 100 TB
  // consumer uses: without it, "query the index" means scanning 300 GB.

  /** Write a ZipNum-clustered index from a frame of CDXJ LINES: globally
    * range-sorted by line text (CDX files sort lexicographically — the
    * SURT key is the line prefix, so text order IS key order), packed
    * into gzip blocks of `linesPerBlock` lines, one member per block,
    * concatenated into `cdx-NNNNN.gz` shards with a `cdx-NNNNN.idx`
    * cluster sidecar per shard (glob `*.idx` reads the full cluster
    * index). One range exchange, then each task streams its shard,
    * committed through [[ShardCommit]] like the WARC writer. `seq` in the
    * sidecar is the block ordinal within its shard.
    */
  def writeZipnum(
      lines: DataFrame,
      outDir: String,
      lineCol: String = "value",
      linesPerBlock: Int = 3000,
      numShards: Int = 0,
      overwrite: Boolean = false
  ): Unit = {
    require(linesPerBlock > 0, "linesPerBlock must be positive")
    val c = col(lineCol).cast("string")
    val projected = lines.select(c.as("__line"))
      .where(col("__line").isNotNull && col("__line") =!= "")
    val sorted = (if (numShards > 0)
                    projected.repartitionByRange(numShards, col("__line"))
                  else projected.repartitionByRange(col("__line")))
      .sortWithinPartitions(col("__line"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      lines.sparkSession.sparkContext.hadoopConfiguration)
    ShardCommit.prepare(outDir, conf.value, overwrite, "writeZipnum")
    sorted.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val pid = TaskContext.getPartitionId()
        val fs = FileSystem.get(new java.net.URI(outDir), conf.value)
        val shardName = f"cdx-$pid%05d.gz"
        val shard = ShardCommit.open(fs, outDir, shardName)
        val out = shard.out
        val idx = new scala.collection.mutable.ArrayBuffer[String]()
        var seq = 0
        try {
          val buf = new scala.collection.mutable.ArrayBuffer[String](
            math.min(linesPerBlock, 4096))
          def flush(): Unit = if (buf.nonEmpty) {
            val first = buf.head
            // the cluster key is the line's "<surt> <ts>" prefix (first
            // two space-delimited tokens); a torn line without both
            // tokens keys by what it has — it still locates its block
            val sp1 = first.indexOf(' ')
            val sp2 = if (sp1 < 0) -1 else first.indexOf(' ', sp1 + 1)
            val key = if (sp2 > 0) first.substring(0, sp2) else first
            val posBefore = out.getPos
            val gz = new GZIPOutputStream(new MemberSink(out), 1 << 16)
            buf.foreach { l =>
              gz.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              gz.write('\n')
            }
            gz.close()
            idx += s"$key\t$shardName\t$posBefore\t${out.getPos - posBefore}\t$seq"
            seq += 1
            buf.clear()
          }
          rows.foreach { r =>
            buf += r.getString(0)
            if (buf.length >= linesPerBlock) flush()
          }
          flush()
        } finally out.close()
        ShardCommit.commit(fs, shard.tmp, shard.dest, "writeZipnum")
        ShardCommit.writeLines(fs, new Path(outDir, f"cdx-$pid%05d.idx"), idx, "writeZipnum")
      }
    }
  }

  /** Read the cluster index (`*.idx` next to the `cdx-*.gz` shards) into
    * `(block_key, filename, offset, length, seq)` — one row per
    * compressed block, `block_key` = the block's FIRST `<surt> <ts>` key.
    * Torn lines yield null numeric fields (try_cast) and drop at
    * planning.
    */
  def readClusterIdx(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.option("pathGlobFilter", "*.idx").text(path)
    lines.select(
      regexp_extract(col("value"), "^([^\\t]+)\\t", 1).as("block_key"),
      regexp_extract(col("value"), "^[^\\t]+\\t([^\\t]+)\\t", 1).as("filename"),
      expr("try_cast(regexp_extract(value, '^[^\\t]+\\t[^\\t]+\\t([0-9]+)\\t', 1) AS BIGINT)")
        .as("offset"),
      expr("try_cast(regexp_extract(value, '^[^\\t]+\\t[^\\t]+\\t[0-9]+\\t([0-9]+)\\t', 1) AS BIGINT)")
        .as("length"),
      expr("try_cast(regexp_extract(value, '\\t([0-9]+)$', 1) AS BIGINT)")
        .as("seq"))
      .where(col("block_key") =!= "")
  }

  /** Render a capture frame ([[readCdxj]]'s column shape — what
    * [[Warc.indexWarc]] emits) back into CDXJ LINES (`value` string
    * column), the input [[writeZipnum]] clusters. Numerics are quoted
    * (the published format quotes them), null fields are omitted from
    * the JSON (ditto), and rows without a key or timestamp drop — they
    * cannot be index lines. `indexWarc → cdxjLines → writeZipnum →
    * queryZipnum` is the complete "archives in, queryable index out"
    * loop for archives written without sidecars.
    */
  def cdxjLines(captures: DataFrame): DataFrame = {
    val cols = captures.columns.toSet
    def strField(n: String): Column =
      (if (cols.contains(n)) col(n).cast("string")
       else lit(null).cast("string")).as(n)
    val payload = to_json(struct(
      strField("url"), strField("mime"), strField("status"),
      strField("digest"), strField("length"), strField("offset"),
      strField("filename"), strField("languages"), strField("charset")))
    captures
      .where(col("surt_key").isNotNull && col("ts").isNotNull)
      .select(concat_ws(" ",
        col("surt_key"),
        date_format(col("ts"), "yyyyMMddHHmmss"),
        payload).as("value"))
  }

  /** Candidate-block plan for a SURT-prefix query: each block covers the
    * key range [its `block_key`, the NEXT block's key), so the blocks
    * that can contain keys starting with `prefix` are those with
    * `next_key > prefix` and `block_key < prefix+MAX` — with `next_key`
    * computed PER SHARD FILE (a `lead` partitioned by filename; shards
    * sort internally by construction). Per-shard coverage stays correct
    * when shard key ranges OVERLAP: a cluster index unioned from several
    * independently-written zipnum directories (N monthly crawls' `.idx`
    * files read as one listing, or a [[mergeZipnum]] input) plans each
    * shard against its own boundaries instead of silently excluding
    * blocks whose interleaved global neighbor came from a different
    * shard. For globally-sorted disjoint shards the cost over a global
    * window is at most one extra post-filtered block per shard (the last
    * block of each shard has no in-shard successor and stays a
    * candidate). The window input is the cluster index,
    * 1/`linesPerBlock` of the index by construction (~100 MB per 300 GB
    * of index). Candidates then coalesce per shard file through
    * [[fetchPlan]] (adjacent blocks merge into one ranged GET).
    */
  def zipnumPlan(
      clusterIdx: DataFrame,
      prefix: String,
      gapBytes: Long = 0L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(prefix.nonEmpty, "zipnumPlan: empty prefix would fetch the world")
    val prefixEnd = prefix + "\uFFFF"
    val w = Window.partitionBy(col("filename"))
      .orderBy(col("block_key"), col("seq"))
    val marked = clusterIdx
      .where(col("offset").isNotNull && col("length").isNotNull)
      .withColumn("__next_key", lead(col("block_key"), 1).over(w))
    val candidates = marked.where(
      (col("__next_key").isNull || col("__next_key") > lit(prefix)) &&
        col("block_key") < lit(prefixEnd))
    fetchPlan(
      candidates.select(col("filename"), col("offset"), col("length")),
      gapBytes)
  }

  /** Decode ONLY a [[zipnumPlan]]'s byte ranges of the `cdx-*.gz` shards
    * into typed captures — seek + bounded read per range (the ranged GET
    * at web scale), each range a concatenation of independently-gzipped
    * blocks (`GZIPInputStream` reads concatenated members natively).
    * Memory per task: the COMPRESSED range buffer (capped at
    * `maxRangeBytes` — that is the GET) plus ONE decompressed line —
    * lines stream out of the gunzip lazily, so a broad prefix whose plan
    * coalesces a whole shard into one range (CDXJ text decompresses
    * 3-5×) never materializes gigabytes of strings in a task.
    */
  def readZipnumRanges(
      spark: SparkSession,
      dir: String,
      plan: DataFrame,
      maxRangeBytes: Long = 1L << 30
  ): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val ranges = plan.select(
      col("filename").cast("string"),
      col("range_start").cast("long"),
      col("range_end").cast("long")).as[(String, Long, Long)]
    val lines = ranges.mapPartitions { it =>
      it.flatMap { case (fn, start, end) =>
        require(fn != null && start >= 0 && end > start,
          s"readZipnumRanges: bad range ($fn, $start, $end)")
        require(end - start <= maxRangeBytes,
          s"readZipnumRanges: range ($fn, $start, $end) is ${end - start} " +
            s"bytes, over maxRangeBytes=$maxRangeBytes — replan with a " +
            "smaller zipnumPlan gapBytes (or raise maxRangeBytes)")
        val p = new Path(dir, fn)
        val fs = p.getFileSystem(conf.value)
        val in = fs.open(p)
        val bytes =
          try {
            val len = math.toIntExact(end - start)
            val buf = new Array[Byte](len)
            in.seek(start)
            in.readFully(buf, 0, len)
            buf
          } finally in.close()
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes), 1 << 16)
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(gz,
            java.nio.charset.StandardCharsets.UTF_8))
        // lazy line emission: the iterator owns the reader and closes it
        // on the null line — per-task decompressed state is ONE line, not
        // the whole range's text
        new Iterator[String] {
          private var nextLine = advance()
          private def advance(): String = {
            val l = br.readLine()
            if (l == null) br.close()
            l
          }
          override def hasNext: Boolean = nextLine != null
          override def next(): String = {
            val l = nextLine; nextLine = advance(); l
          }
        }
      }
    }.toDF("value")
    parseCdxjLines(lines)
  }

  /** Full scan of a ZipNum directory's CDXJ LINES (every block of every
    * `cdx-*.gz` shard, in shard order): one task per shard, lines gunzip
    * lazily off a seekable stream (`GZIPInputStream` reads the
    * concatenated block members natively) — per-task memory is one line,
    * whatever the shard size. The raw-lines counterpart of
    * [[queryZipnum]]: feeds [[mergeZipnum]] and any whole-index pass
    * (parse with [[parseCdxjLines]]). `dir` may glob over several index
    * directories.
    */
  def readZipnumLines(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // path-only projection: no content read, no binaryFile 2 GiB ceiling
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.gz").load(dir)
      .select(col("path")).as[String]
    files.mapPartitions { paths =>
      paths.flatMap { pstr =>
        val p = new Path(pstr)
        val fs = p.getFileSystem(conf.value)
        val in = fs.open(p)
        val tc = TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => in.close())
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(
            new java.util.zip.GZIPInputStream(in, 1 << 16),
            java.nio.charset.StandardCharsets.UTF_8))
        new Iterator[String] {
          private var nextLine = advance()
          private def advance(): String = {
            val l = br.readLine()
            if (l == null) br.close()
            l
          }
          override def hasNext: Boolean = nextLine != null
          override def next(): String = {
            val l = nextLine; nextLine = advance(); l
          }
        }
      }
    }.toDF("value")
  }

  /** Merge N ZipNum index directories into ONE globally-sorted index —
    * the standard operation on the real artifact (each monthly crawl
    * publishes its own sorted index; a consumer querying the union wants
    * one): union-then-rewrite through [[writeZipnum]]'s single range
    * exchange. Query-time alternative without a rewrite: read the dirs'
    * shards + `.idx` files as one listing — [[zipnumPlan]] plans per
    * shard file, so overlapping shard key ranges stay correct; the merge
    * buys back the single-artifact layout, block-level locality and the
    * smaller cluster index.
    */
  def mergeZipnum(
      spark: SparkSession,
      dirs: Seq[String],
      outDir: String,
      linesPerBlock: Int = 3000,
      numShards: Int = 0,
      overwrite: Boolean = false
  ): Unit = {
    require(dirs.nonEmpty, "mergeZipnum: no input directories")
    writeZipnum(
      dirs.map(readZipnumLines(spark, _)).reduce(_ unionByName _),
      outDir, linesPerBlock = linesPerBlock, numShards = numShards,
      overwrite = overwrite)
  }

  /** The one-call prefix query over a ZipNum index directory:
    * cluster.idx → candidate blocks → ranged block decode → the exact
    * `surt_key` prefix filter (block granularity over-fetches by up to
    * one block on each side; the final filter is precise). This is the
    * full published-index access path — a 300 GB index answers a
    * host/domain query by reading ~100 MB of cluster index and only the
    * matching compressed blocks.
    */
  def queryZipnum(
      spark: SparkSession,
      dir: String,
      prefix: String,
      gapBytes: Long = 0L
  ): DataFrame = {
    val plan = zipnumPlan(readClusterIdx(spark, dir), prefix, gapBytes)
    readZipnumRanges(spark, dir, plan)
      .where(col("surt_key").startsWith(prefix))
  }

  // ------------------------------------------------- columnar cc-index
  //
  // CommonCrawl publishes the SAME capture index a second time as a
  // columnar parquet table (the cc-index-table layout: flat
  // `url_*`/`fetch_*`/`content_*`/`warc_*` columns, partitioned by
  // crawl/subset) — the format most Spark users reach for first. These
  // adapters map between that published column shape and this library's
  // capture shape ([[readCdxj]]'s columns, what [[Warc.indexWarc]]
  // emits), so the selective-access loop (filter → [[fetchPlan]] →
  // [[Warc.readWarcRanges]]) can start from the parquet index directly.

  /** Read a parquet index in the published cc-index-table column shape
    * into the [[readCdxj]] capture shape. Missing published columns
    * surface as nulls (the table grew columns over crawls); extra
    * columns are ignored — and because this is a plain projection over
    * the parquet source, column pruning and predicate pushdown reach
    * the scan (a `surt_key` prefix filter prunes row groups via
    * min/max; `crawl=`/`subset=` partition dirs prune at listing).
    */
  def readCcIndexTable(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val have = df.columns.toSet
    def c(n: String, t: String): Column =
      if (have.contains(n)) col(n).cast(t) else lit(null).cast(t)
    df.select(
      c("url_surtkey", "string").as("surt_key"),
      c("fetch_time", "timestamp").as("ts"),
      c("url", "string").as("url"),
      c("content_mime_type", "string").as("mime"),
      c("fetch_status", "int").as("status"),
      c("content_digest", "string").as("digest"),
      c("warc_filename", "string").as("filename"),
      c("warc_record_offset", "bigint").as("offset"),
      c("warc_record_length", "bigint").as("length"),
      c("content_languages", "string").as("languages"),
      c("content_charset", "string").as("charset"))
  }

  /** The reverse projection: a capture frame ([[Warc.indexWarc]] /
    * [[readCdxj]] shape) in the published cc-index-table column names
    * and types (`warc_record_offset`/`_length` are INTEGER and
    * `fetch_status` SMALLINT in the published table — safe: the WARC
    * sizing convention keeps shards around 1 GiB, far under 2^31).
    */
  def ccIndexTableColumns(captures: DataFrame): DataFrame =
    captures.select(
      col("surt_key").as("url_surtkey"),
      col("ts").cast("timestamp").as("fetch_time"),
      col("url"),
      col("mime").as("content_mime_type"),
      col("status").cast("smallint").as("fetch_status"),
      col("digest").as("content_digest"),
      col("filename").as("warc_filename"),
      col("offset").cast("int").as("warc_record_offset"),
      col("length").cast("int").as("warc_record_length"),
      col("languages").as("content_languages"),
      col("charset").as("content_charset"))

  /** Write a capture frame as a parquet index in the published
    * cc-index-table column shape — sorted within partitions by the SURT
    * key so parquet row-group min/max statistics make later prefix
    * queries skip row groups (the columnar analogue of the ZipNum
    * cluster's block pruning).
    */
  def writeCcIndexTable(
      captures: DataFrame,
      outDir: String,
      overwrite: Boolean = false
  ): Unit =
    ccIndexTableColumns(captures)
      .sortWithinPartitions(col("url_surtkey"))
      .write.mode(if (overwrite) "overwrite" else "errorifexists")
      .parquet(outDir)

  /** The canonical SURT prefix for a whole HOST (`example.com` →
    * `com,example)/`) — the range key for host queries against the
    * published index; inherits the full canonicalization (www-strip,
    * dot tidying) so it matches the keys [[surt]] produces. Null for
    * an unusable host. For a registrable-DOMAIN prefix (all hosts
    * under it), strip the trailing `)/`: `com,example`.
    */
  def surtHostPrefix(host: String): String = {
    if (host == null) return null
    surtString("http://" + host + "/")
  }

  def fetchPlan(captures: DataFrame, gapBytes: Long = 0L): DataFrame = {
    require(gapBytes >= 0L, s"gapBytes must be >= 0, got $gapBytes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("filename"))
      .orderBy(col("offset"), col("end"))
    // length > 0: a malformed capture with "length":"0" (try_cast keeps
    // it) would otherwise yield a degenerate range_end == range_start row
    // that aborts the downstream ranged read — torn-index tolerance means
    // dropping it here, same as the null fields
    val rows = captures
      .where(col("filename").isNotNull && col("offset").isNotNull &&
        col("length").isNotNull && col("offset") >= 0 && col("length") > 0)
      .select(col("filename"), col("offset").cast("long").as("offset"),
        (col("offset") + col("length")).cast("long").as("end"))
    val marked = rows
      .withColumn("__prev_max_end",
        max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new_island",
        when(col("__prev_max_end").isNull ||
          col("offset") > col("__prev_max_end") + gapBytes, 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    marked.groupBy(col("filename"), col("__island"))
      .agg(
        min(col("offset")).as("range_start"),
        max(col("end")).as("range_end"),
        count(lit(1)).as("n_captures"))
      .select(col("filename"), col("range_start"), col("range_end"),
        col("n_captures"),
        (col("range_end") - col("range_start")).as("bytes"))
  }
}
