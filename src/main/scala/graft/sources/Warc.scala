package graft.sources

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** WARC (Web ARChive, ISO 28500 — the format CommonCrawl and the wayback
  * ecosystem ship crawls in) ingestion and emission. Re-implemented from
  * the published format specification; the reference has no I/O surface at
  * all (parser.py:326-344) — this is beyond-reference crawl ingestion, the
  * front door of a web-scale training-data pipeline (crawl → extract →
  * language-ID → quality → dedup all exist downstream in this library).
  *
  * Format recap (spec, WARC-1.1 §4): a WARC file is a sequence of records,
  * each `WARC/1.x CRLF`, header lines (`Name: value`, continuations start
  * with SP/HT), an empty line, then exactly `Content-Length` bytes of
  * content block, then two CRLFs. A `.warc.gz` is a CONCATENATION of gzip
  * members, one record per member (the spec's recommended layout) —
  * `GZIPInputStream` reads concatenated members natively, so one streaming
  * pass parses both layouts. For `response` records the content block is
  * an HTTP/1.x message; the row splits it into status, headers and payload.
  *
  * Scale shape (same as [[TarShards]]):
  *   - READ: one task per WARC file via the `binaryFile` source — gzip
  *     members are not seekable-splittable without a side index, matching
  *     how the format ships (CommonCrawl: ~1 GiB .warc.gz files, tens of
  *     thousands per crawl — file count IS the parallelism; the 2 GiB
  *     `binaryFile` cap is above the format's customary shard size).
  *     Per-record memory is bounded by `maxPayloadBytes`: larger payloads
  *     are truncated (flagged in the `truncated` column), never buffered.
  *   - WRITE: one `.warc.gz` per task (rolled every `maxRecordsPerShard`),
  *     record-per-gzip-member, streamed to the Hadoop filesystem and
  *     committed through [[ShardCommit]] (attempt-unique temp, rename on
  *     finish, non-empty-dir refusal).
  */
object Warc {

  /** One parsed WARC record. HTTP fields are populated only for records
    * whose content block is an `application/http` message (responses /
    * requests); for every other record `payload` is the raw content block.
    */
  case class WarcRow(
      warc_file: String,
      record_index: Int,
      warc_type: String,
      record_id: Option[String],
      target_uri: Option[String],
      warc_date: Option[String],
      content_type: Option[String],
      content_length: Long,
      http_status: Option[Int],
      http_content_type: Option[String],
      payload: Array[Byte],
      truncated: Boolean,
      // dedup/revisit linkage headers (WARC-1.1 §5.9/§5.11/§6.7.2):
      // `payload_digest` (WARC-Payload-Digest, `sha1:BASE32` by crawl
      // convention) identifies the CONTENT; `refers_to` (WARC-Refers-To)
      // and `warc_profile` (WARC-Profile) carry a revisit's link to its
      // original capture — see [[resolveRevisits]]
      payload_digest: Option[String],
      refers_to: Option[String],
      warc_profile: Option[String],
      // the FULL HTTP response header map (original field-name casing;
      // repeated fields comma-joined per RFC 9110 §5.2) for
      // `application/http` records, None otherwise — what server-header
      // analyses and [[Wat]]'s `Headers` envelope consume without
      // re-parsing payloads
      http_headers: Option[Map[String, String]] = None,
      // HTTP payload coding surface (RFC 9112 §7.1 chunked framing /
      // RFC 9110 §8.4 content codings): real crawl captures store the
      // RAW message — chunked framing and gzip/deflate content coding
      // included — so these carry the message's Transfer-Encoding /
      // Content-Encoding values verbatim (populated for
      // `application/http` records whatever the knobs), and
      // `payload_decoded` says what state `payload` is in: true means
      // EVERY listed coding was undone and `payload` holds the decoded
      // entity bytes; false means `payload` is the STORED block body
      // verbatim (identity messages, `decodePayloads = false`, or a
      // torn/unsupported coding — decode failures revert whole, never
      // half-decoded). NOTE `payload_digest` (WARC-Payload-Digest) keys
      // the STORED payload block by crawl convention — for a coded
      // record it will not match a digest recomputed over the decoded
      // `payload`.
      http_transfer_encoding: Option[String] = None,
      http_content_encoding: Option[String] = None,
      payload_decoded: Boolean = false)

  /** Read a directory of `.warc` / `.warc.gz` files as record rows.
    * `maxPayloadBytes` bounds per-record memory: longer payloads keep
    * their prefix and set `truncated` (64 MiB default — far above any
    * honest HTML page, below a pathological dump). `parseHeaders = false`
    * skips building the full `http_headers` map (the column reads null) —
    * the knob for hot read paths that only consume payload/status, where
    * a per-record map is pure allocation.
    *
    * `decodePayloads = true` (default) undoes HTTP transfer/content
    * codings on `payload`: real WARC response records store the raw
    * captured message — `Transfer-Encoding: chunked` framing and
    * `Content-Encoding: gzip/deflate` included — and every downstream
    * text consumer (charset sniff, language-ID, extraction) needs the
    * DECODED entity bytes (the warcio `content_stream()` behavior).
    * Identity messages cost nothing (two null checks); a torn or
    * unsupported coding (`br` has no JDK decoder) keeps the stored bytes
    * and `payload_decoded = false` says so. `decodePayloads = false` is
    * the warcio `raw_stream` split: stored block bodies verbatim, the
    * coding headers still surfaced so callers can decode selectively.
    */
  def readWarc(
      s: SparkSession,
      path: String,
      maxPayloadBytes: Int = 64 << 20,
      parseHeaders: Boolean = true,
      decodePayloads: Boolean = true
  ): DataFrame = {
    import s.implicits._
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    bin.mapPartitions { files =>
      files.flatMap { case (p, bytes) =>
        parseFile(p, bytes, maxPayloadBytes, parseHeaders, decodePayloads) }
    }.toDF()
  }

  /** Streaming variant of [[readWarc]]: watch a directory for newly landed
    * WARC files (a continuously-landing crawl drop), one micro-batch task
    * per new file — mirrors [[TarShards.readTarShardsStream]].
    */
  def readWarcStream(
      s: SparkSession,
      path: String,
      maxPayloadBytes: Int = 64 << 20,
      maxFilesPerTrigger: Int = 0,
      parseHeaders: Boolean = true,
      decodePayloads: Boolean = true
  ): DataFrame = {
    import s.implicits._
    val r = s.readStream.format("binaryFile")
      .schema(new org.apache.spark.sql.types.StructType()
        .add("path", org.apache.spark.sql.types.StringType)
        .add("modificationTime", org.apache.spark.sql.types.TimestampType)
        .add("length", org.apache.spark.sql.types.LongType)
        .add("content", org.apache.spark.sql.types.BinaryType))
      .option("pathGlobFilter", "*.warc*")
    val bin = (if (maxFilesPerTrigger > 0)
                 r.option("maxFilesPerTrigger", maxFilesPerTrigger)
               else r).load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    bin.mapPartitions { files =>
      files.flatMap { case (p, bytes) =>
        parseFile(p, bytes, maxPayloadBytes, parseHeaders, decodePayloads) }
    }.toDF()
  }

  /** Ranged WARC read — the selective-access half of the CDX loop: take a
    * [[Cdx.fetchPlan]] frame (`filename`, `range_start`, `range_end`) and
    * decode ONLY those byte ranges of `dir`'s archives. One task reads one
    * or more ranges (seek + bounded read — at web scale this is the ranged
    * GET against the archive store; nothing outside the plan is ever
    * fetched), and the member-per-record framing (gzip members / zstd
    * frames) makes any member-aligned range independently decodable. For
    * `.warc.zst` archives with a leading skippable-frame DICTIONARY, the
    * file head is re-read and prepended so mid-file members decode —
    * index offsets never include the head because the writer's offsets
    * bracket members only.
    *
    * `record_index` is the index WITHIN the decoded range, not the file.
    * A range produced with a gap tolerance > 0 can contain interstitial
    * records that were not in the filtered capture set — re-filter by
    * `target_uri`/`record_id` after decode (the standard CDX-fetch
    * discipline; [[Cdx.fetchPlan]]'s scaladoc says the same).
    *
    * Each range buffers in one array, so ranges are capped at
    * `maxRangeBytes` (default 1 GiB — the WARC sizing convention; the
    * whole-file read path has the same class of bound via `binaryFile`'s
    * 2 GiB limit). A plan exceeding it fails LOUDLY with the knob to turn
    * (a smaller `gapBytes` at planning time) instead of an executor OOM
    * or an opaque overflow mid-read.
    */
  def readWarcRanges(
      s: SparkSession,
      dir: String,
      plan: DataFrame,
      maxPayloadBytes: Int = 64 << 20,
      maxRangeBytes: Long = 1L << 30,
      parseHeaders: Boolean = true,
      decodePayloads: Boolean = true
  ): DataFrame = {
    import s.implicits._
    val conf = new SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    val ranges = plan.select(
      col("filename").cast("string"),
      col("range_start").cast("long"),
      col("range_end").cast("long")).as[(String, Long, Long)]
    ranges.mapPartitions { it =>
      it.flatMap { case (fn, start, end) =>
        require(fn != null && start >= 0 && end > start,
          s"readWarcRanges: bad range ($fn, $start, $end)")
        require(end - start <= maxRangeBytes,
          s"readWarcRanges: range ($fn, $start, $end) is ${end - start} " +
            s"bytes, over maxRangeBytes=$maxRangeBytes — replan with a " +
            "smaller fetchPlan gapBytes (or raise maxRangeBytes if the " +
            "executors have the memory)")
        val p = new Path(dir, fn)
        val fs = p.getFileSystem(conf.value)
        val in = fs.open(p)
        val bytes =
          try {
            val head =
              if (fn.endsWith(".zst") && start > 0) readHeadSkippables(in)
              else Array.emptyByteArray
            val len = math.toIntExact(end - start)
            val buf = new Array[Byte](len)
            in.seek(start)
            in.readFully(buf, 0, len)
            if (head.isEmpty) buf else head ++ buf
          } finally in.close()
        parseFile(s"$p@$start", bytes, maxPayloadBytes, parseHeaders,
          decodePayloads)
      }
    }.toDF()
  }

  /** Leading zstd skippable frames of an open `.warc.zst` (the iipc
    * dictionary convention) — re-read verbatim so a mid-file ranged decode
    * can prepend them and [[parseFile]]'s dictionary branch applies.
    */
  private def readHeadSkippables(
      in: org.apache.hadoop.fs.FSDataInputStream): Array[Byte] = {
    val acc = new java.io.ByteArrayOutputStream()
    var pos = 0L
    var done = false
    val hdr = new Array[Byte](8)
    while (!done) {
      in.seek(pos)
      // loop to 8 bytes: FSDataInputStream.read may legally return short
      // mid-stream (object-store chunk boundaries) — a partial header read
      // must not be mistaken for end-of-skippables, or the dictionary
      // frame silently goes missing and every mid-file member fails
      var got = 0
      var eof = false
      while (got < 8 && !eof) {
        val n = in.read(hdr, got, 8 - got)
        if (n < 0) eof = true else got += n
      }
      if (got < 8 || !isZstSkippable(hdr, 0)) done = true
      else {
        val size = math.toIntExact(leU32(hdr, 4))
        val content = new Array[Byte](size)
        in.readFully(content, 0, size)
        acc.write(hdr); acc.write(content)
        pos += 8L + size
      }
    }
    acc.toByteArray
  }

  /** Write each row as one WARC `response` record (the record type a
    * downstream curation pipeline reads back): an HTTP/1.1 200 message
    * whose body is `bodyCol`, addressed by `uriCol`. `.warc.gz` layout by
    * default (record-per-gzip-member per the spec's recommendation);
    * `codec = "zstd"` writes `.warc.zst` as plain concatenated zstd
    * frames, one per record (no shared dictionary); `codec = "none"`
    * writes plain uncompressed `.warc` (record offsets are then raw
    * byte offsets — local/debug dumps, or stores that compress at
    * rest). `contentEncoding = "gzip"` stores each HTTP entity
    * CONTENT-CODED (gzipped body + `Content-Encoding: gzip` header —
    * the shape real crawls archive; digests then key the coded block
    * and [[readWarc]] decodes by default). `warcinfo = true` opens
    * every shard with a `warcinfo`
    * record (the crawl convention; [[warcinfoRecordBytes]] — readers
    * see it as a `warc_type = 'warcinfo'` row, cdx sidecars skip it).
    * Record IDs are
    * deterministic (`<urn:graft:<64-bit FNV of uri>>`) so a write→read
    * round-trip is value-stable end to end; `warcDate` is the mandatory
    * WARC-Date header for every record (a crawl timestamp column can be
    * carried in the body's `X-Graft-Date` HTTP header by the caller if
    * per-row dates matter — the format keeps them in the record header,
    * but a constant keeps this writer deterministic for gate replay).
    */
  def writeWarcResponses(
      df: DataFrame,
      outDir: String,
      uriCol: String,
      bodyCol: String,
      httpContentType: String = "text/html; charset=UTF-8",
      warcDate: String = "2026-01-01T00:00:00Z",
      maxRecordsPerShard: Int = 100000,
      overwrite: Boolean = false,
      contentTypeCol: Option[String] = None,
      codec: String = "gzip",
      index: Boolean = false,
      warcinfo: Boolean = false,
      contentEncoding: String = "identity"
  ): Unit = {
    // `contentEncoding = "gzip"`: store the HTTP entity CONTENT-CODED
    // (`Content-Encoding: gzip` + gzipped body bytes) — the shape real
    // crawls archive (the server's coded answer, stored verbatim) and a
    // storage saving independent of the member codec. Digests (record
    // header AND index sidecar) then key the CODED payload block, the
    // crawl convention readWarc's decode contract documents; readers
    // decode by default.
    require(contentEncoding == "identity" || contentEncoding == "gzip",
      s"writeWarcResponses: contentEncoding must be 'identity' or " +
        s"'gzip', got '$contentEncoding'")
    val codeBodies = contentEncoding == "gzip"
    // per-record HTTP Content-Type when a column is given (a crawl body's
    // charset is per-page); rows with a null value fall back to the
    // constant default
    val projected = df.select(
      col(uriCol).cast("string").as("__uri"),
      col(bodyCol).cast("binary").as("__body"),
      coalesce(
        contentTypeCol.map(c => col(c).cast("string"))
          .getOrElse(lit(null).cast("string")),
        lit(httpContentType)).as("__ct"))
    // `index = true`: emit a per-shard CDXJ sidecar (part-….cdxj next to
    // part-….warc.gz — outside the readers' "*.warc*" glob) with one line
    // per record: SURT key, the write's 14-digit ts, url/mime/status/
    // digest and the member's exact (offset, length, filename) — the
    // capture-index convention that makes [[Cdx.fetchPlan]]-driven ranged
    // reads possible without a separate indexing pass over the archive.
    val ts14 = warcDate.replaceAll("[^0-9]", "").take(14)
    require(!index || ts14.length == 14,
      s"writeWarcResponses: index=true needs a full timestamp warcDate, got '$warcDate'")
    // per-row handoff from the record builder to the index-line builder
    // (writeShardedRecords invokes mkRecord BEFORE indexFor for each row
    // — its documented contract): under contentEncoding the digest keys
    // the CODED bytes, and compressing the body a second time just to
    // re-digest it in the index closure would double the write's CPU
    val lastDigest = new Array[String](1)
    val indexFor: Option[org.apache.spark.sql.Row => (Long, Long, String) => String] =
      if (!index) None
      else Some { r =>
        val uri = r.getString(0)
        val ct = if (r.isNullAt(2)) httpContentType else r.getString(2)
        val mime = ct.split(";")(0).trim
        // digest = base32 SHA-1 of the PAYLOAD (the pywb/cc-index
        // convention: digest identifies content, so consumers can dedup by
        // it and resolve revisit records across URLs — a URL-keyed hash
        // here would silently collapse distinct contents of one URL);
        // under contentEncoding it is the STORED (coded) payload's digest,
        // computed once by the record builder
        val digest =
          if (codeBodies) lastDigest(0)
          else {
            val body =
              if (r.isNullAt(1)) Array.emptyByteArray
              else r.get(1).asInstanceOf[Array[Byte]]
            sha1Base32(body)
          }
        val prefix = s"""${cdxjKeyOf(uri)} $ts14 {"url":"${jsonEsc(uri)}","mime":"${jsonEsc(mime)}",""" +
          s""""status":"200","digest":"$digest""""
        (off: Long, len: Long, fn: String) =>
          prefix + s""","offset":"$off","length":"$len","filename":"${jsonEsc(fn)}"}"""
      }
    writeShardedRecords(projected, outDir, codec, maxRecordsPerShard,
      overwrite, "writeWarcResponses", indexFor,
      leadRecord =
        if (warcinfo) Some((pid, shard) =>
          warcinfoRecordBytes(warcDate, pid, shard))
        else None) { r =>
      val uri = r.getString(0)
      if (uri == null) throw new IllegalArgumentException(
        "writeWarcResponses: null uri — WARC-Target-URI is mandatory " +
          "for response records; filter or coalesce the uri column first")
      val raw =
        if (r.isNullAt(1)) Array.emptyByteArray
        else r.get(1).asInstanceOf[Array[Byte]]
      val body = if (codeBodies) gzipBytes(raw) else raw
      val ct = if (r.isNullAt(2)) httpContentType else r.getString(2)
      // content digest per crawl convention (`sha1:` + base32 SHA-1 of
      // the STORED payload) — what revisit records point back at, and
      // what [[resolveRevisits]] joins on
      val digest = sha1Base32(body)
      if (codeBodies) lastDigest(0) = digest
      responseRecordBytes(uri, body, ct, "sha1:" + digest, warcDate,
        contentEncoding = if (codeBodies) Some("gzip") else None)
    }
  }

  /** Write each row as one WARC `revisit` record — the CommonCrawl /
    * wayback NATIVE dedup convention (WARC-1.1 §6.7.2, the
    * `identical-payload-digest` profile): when a crawler re-fetches a URL
    * and the payload hashes identically to a capture it already archived,
    * it stores only this stub — target URI, the shared
    * `WARC-Payload-Digest`, optionally `WARC-Refers-To` naming the
    * original record — and the payload itself exactly once. Readers
    * resolve stubs back to content with [[resolveRevisits]]. `digestCol`
    * must carry the original's payload digest (`sha1:BASE32` — compute it
    * with [[payloadDigest]] over the original body, or read it off the
    * original's `payload_digest` column); `refersToCol` optionally carries
    * the original's record id. The content block is empty (the profile
    * permits it; the digest IS the linkage). Same shard layout, codecs and
    * commit protocol as [[writeWarcResponses]]; `index = true` emits the
    * CDXJ sidecar with mime `warc/revisit` and the REVISIT's digest, the
    * cc-index convention that lets an index consumer resolve content
    * without touching the archive.
    */
  def writeWarcRevisits(
      df: DataFrame,
      outDir: String,
      uriCol: String,
      digestCol: String,
      refersToCol: Option[String] = None,
      warcDate: String = "2026-01-01T00:00:00Z",
      maxRecordsPerShard: Int = 100000,
      overwrite: Boolean = false,
      codec: String = "gzip",
      index: Boolean = false
  ): Unit = {
    val projected = df.select(
      col(uriCol).cast("string").as("__uri"),
      col(digestCol).cast("string").as("__digest"),
      refersToCol.map(c => col(c).cast("string"))
        .getOrElse(lit(null).cast("string")).as("__refers"))
    val ts14 = warcDate.replaceAll("[^0-9]", "").take(14)
    require(!index || ts14.length == 14,
      s"writeWarcRevisits: index=true needs a full timestamp warcDate, got '$warcDate'")
    val indexFor: Option[org.apache.spark.sql.Row => (Long, Long, String) => String] =
      if (!index) None
      else Some { r =>
        val uri = r.getString(0)
        val digest = if (r.isNullAt(1)) "" else r.getString(1)
        // bare-base32 digest in the index line (cc-index drops the sha1: prefix)
        val bare = digest.replaceFirst("(?i)^sha1:", "")
        val prefix = s"""${cdxjKeyOf(uri)} $ts14 {"url":"${jsonEsc(uri)}","mime":"warc/revisit",""" +
          s""""digest":"${jsonEsc(bare)}""""
        (off: Long, len: Long, fn: String) =>
          prefix + s""","offset":"$off","length":"$len","filename":"${jsonEsc(fn)}"}"""
      }
    writeShardedRecords(projected, outDir, codec, maxRecordsPerShard,
      overwrite, "writeWarcRevisits", indexFor) { r =>
      val uri = r.getString(0)
      if (uri == null) throw new IllegalArgumentException(
        "writeWarcRevisits: null uri — WARC-Target-URI is mandatory " +
          "for revisit records; filter or coalesce the uri column first")
      if (r.isNullAt(1)) throw new IllegalArgumentException(
        "writeWarcRevisits: null digest — a revisit without " +
          "WARC-Payload-Digest can never be resolved; filter such rows " +
          "or write them as full response records instead")
      revisitRecordBytes(uri, r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getString(2)), warcDate)
    }
  }

  /** Resolve `revisit` records to their original captures' content — the
    * join every consumer of multi-crawl WARC sets needs before any
    * text-level processing (CommonCrawl stores a re-fetched unchanged page
    * as a payload-less revisit stub; feeding stubs to an extraction
    * pipeline silently drops every stable page). Input: a [[readWarc]] /
    * [[readWarcRanges]] frame (or a union over crawls). Output: the same
    * columns plus `resolved_from` — for each revisit row, `payload`,
    * `http_status` and `http_content_type` are replaced by those of the
    * response record sharing its payload digest (preferring, among
    * responses with that digest, the one named by `WARC-Refers-To` when
    * present), and `resolved_from` carries the original's record id;
    * non-revisit rows pass through with `resolved_from` null, and a
    * revisit whose digest matches no response in the frame keeps its empty
    * payload with `resolved_from` null (filter `warc_type = 'revisit' AND
    * resolved_from IS NULL` to find danglers — their originals live in a
    * crawl you did not read).
    *
    * Scale shape: two digest-keyed shuffles, both revisit/original-sized.
    * The refers-to preference joins revisits against responses keyed by
    * (normalized digest, record id) — an at-most-one-row-per-key side
    * built only from responses a stub actually NAMES (a semi-join against
    * the revisits' distinct non-null refers-to values, revisit-count
    * sized, prunes the build before any payload moves; with zero
    * refers-to stubs AQE collapses the branch to empty, so no payload
    * ever crosses an exchange for it) — so a stub whose `WARC-Refers-To`
    * names a specific same-digest original resolves to THAT record.
    * NOTE the resolution graph references the INPUT frame five times
    * (originals, refers-to keys, the named-response build, revisits,
    * passthrough); columnar sources prune each branch to its columns,
    * but a [[readWarc]]-backed frame re-parses the archive per branch —
    * cache or checkpoint it first when the archive is large. Stubs without a refers-to match (header
    * absent, or naming a record outside the frame) fall back to the
    * digest REPRESENTATIVE: the originals side collapses to one row per
    * digest (`min_by` over (file, index) — deterministic, and
    * partial-aggregates map-side so the duplicate-payload key never
    * concentrates). Join outputs are revisit-count sized, never
    * responses × revisits.
    */
  def resolveRevisits(warc: DataFrame): DataFrame = {
    val norm = (c: Column) => upper(regexp_replace(c, "(?i)^sha1:", ""))
    val originals = warc
      .filter(col("warc_type") === "response" && col("payload_digest").isNotNull)
      .groupBy(norm(col("payload_digest")).as("__digest"))
      .agg(min_by(
        struct(col("payload"), col("http_status"), col("http_content_type"),
          col("record_id")),
        struct(col("warc_file"), col("record_index"))).as("__o"))
    // the refers-to side: one row per (digest, record id) — record ids are
    // unique by spec, min_by just makes a malformed double-id deterministic.
    // Semi-join against the revisits' DISTINCT non-null refers-to values
    // first (a revisit-count-sized, usually broadcastable set) so the
    // build only shuffles the responses actually named by a stub — and
    // when NO stub carries WARC-Refers-To the semi-join side is empty and
    // AQE collapses the whole byId branch, leaving the original
    // single-exchange digest-representative path
    val refKeys = warc
      .filter(col("warc_type") === "revisit" && col("refers_to").isNotNull)
      .select(col("refers_to").as("__rk")).distinct()
    val byId = warc
      .filter(col("warc_type") === "response" &&
        col("payload_digest").isNotNull && col("record_id").isNotNull)
      .join(refKeys, col("record_id") === col("__rk"), "left_semi")
      .groupBy(norm(col("payload_digest")).as("__rdigest"),
        col("record_id").as("__rid"))
      .agg(min_by(
        struct(col("payload"), col("http_status"), col("http_content_type"),
          col("record_id")),
        struct(col("warc_file"), col("record_index"))).as("__r"))
    val revisits = warc.filter(col("warc_type") === "revisit")
    val passthrough = warc.filter(col("warc_type") =!= "revisit")
      .withColumn("resolved_from", lit(null).cast("string"))
    val resolved = revisits
      .join(byId,
        norm(col("payload_digest")) === col("__rdigest") &&
          col("refers_to") === col("__rid"), "left")
      .join(originals, norm(col("payload_digest")) === col("__digest"), "left")
      .select(warc.columns.toIndexedSeq.map {
        case "payload" =>
          coalesce(col("__r.payload"), col("__o.payload"), col("payload"))
            .as("payload")
        case "http_status" =>
          coalesce(col("__r.http_status"), col("__o.http_status"),
            col("http_status")).as("http_status")
        case "http_content_type" =>
          coalesce(col("__r.http_content_type"), col("__o.http_content_type"),
            col("http_content_type")).as("http_content_type")
        case c => col(c)
      } :+ coalesce(col("__r.record_id"), col("__o.record_id"))
        .as("resolved_from"): _*)
    passthrough.unionByName(resolved)
  }

  /** Mark which rows of a NEW capture batch are revisits — the PRODUCER
    * half of the crawl ecosystem's dedup convention ([[writeWarcRevisits]]
    * writes stubs the caller already identified; THIS is the identifying
    * step, the actual CommonCrawl multi-crawl workflow): given new
    * captures and a prior crawl's digest index (any frame with a digest
    * column — [[indexWarc]] output, [[Cdx.readCdxj]], or a [[readWarc]]
    * frame's `payload_digest`), returns the input plus
    *   - `payload_digest` — `sha1:BASE32` of `bodyCol` (the codegen'd
    *     [[payloadDigest]] column, spec-pinned equal to the writer's JVM
    *     digest), null for a null body;
    *   - `is_revisit` — true when the payload already exists in the PRIOR
    *     index, or (`withinBatch`, default true) when an earlier row of
    *     THIS batch (the minimum `uriCol` per digest — deterministic)
    *     already carries it. Null-digest rows are never revisits (nothing
    *     to resolve against). Rows sharing BOTH uri and digest all count
    *     as "first" — collapse exact duplicates upstream (`dedupExact`)
    *     if that matters. The input must not already carry a
    *     `payload_digest` or `is_revisit` column (fails loudly — this
    *     function recomputes the digest from `bodyCol`, and silently
    *     replacing an archive-recorded digest would poison downstream
    *     content-keyed joins).
    *
    * Scale shape: the prior side collapses to DISTINCT normalized digests
    * (map-side partial) before one digest-keyed join; the within-batch
    * pass is one map-side-combined `min(uri)` aggregation per digest plus
    * a second digest-keyed join — no window sort, so a hot digest (the
    * empty page) costs a streamed hash-join probe, never a
    * partition-sized sort buffer.
    */
  def markRevisits(
      df: DataFrame,
      uriCol: String,
      bodyCol: String,
      priorDigests: DataFrame,
      priorDigestCol: String = "digest",
      withinBatch: Boolean = true
  ): DataFrame = {
    // column contract: this function OWNS payload_digest/is_revisit — it
    // recomputes the digest from bodyCol. Passing a frame that already
    // carries either (e.g. a readWarc frame, whose archive-recorded digest
    // would be silently replaced) fails loudly, same as the writers do for
    // null uris; rename or drop the column to assert the recompute.
    Seq("payload_digest", "is_revisit").foreach { c =>
      require(!df.columns.contains(c),
        s"markRevisits: input already has a '$c' column, which this " +
          "function computes from the body column — drop or rename it " +
          "first (a readWarc frame's archive-recorded digest would " +
          "otherwise be silently overwritten by one recomputed from " +
          s"'$bodyCol')")
    }
    val norm =
      (c: Column) => upper(regexp_replace(c.cast("string"), "(?i)^sha1:", ""))
    val withDigest = df.withColumn("payload_digest",
      concat(lit("sha1:"), payloadDigest(col(bodyCol).cast("binary"))))
    val dKey = norm(col("payload_digest"))
    val prior = priorDigests
      .select(norm(col(priorDigestCol)).as("__pd"))
      .where(col("__pd").isNotNull && col("__pd") =!= "")
      .distinct()
    val inPrior = withDigest
      .join(prior, dKey === col("__pd"), "left")
      .withColumn("__in_prior", col("__pd").isNotNull)
      .drop("__pd")
    val marked =
      if (!withinBatch)
        inPrior.withColumn("is_revisit",
          col("payload_digest").isNotNull && col("__in_prior"))
      else {
        val firsts = inPrior
          .where(col("payload_digest").isNotNull)
          .groupBy(dKey.as("__d"))
          .agg(min(col(uriCol)).as("__first_uri"))
        inPrior
          .join(firsts, dKey === col("__d"), "left")
          .withColumn("is_revisit",
            col("payload_digest").isNotNull &&
              (col("__in_prior") ||
                coalesce(col(uriCol) =!= col("__first_uri"), lit(false))))
          .drop("__d", "__first_uri")
      }
    marked.drop("__in_prior")
  }

  /** The cross-crawl DEDUPLICATING writer — [[markRevisits]] splits the
    * batch against the prior crawl's digest index (and within itself),
    * and ONE writer pass emits full `response` records for first-seen
    * payloads and payload-less `revisit` stubs for the rest, INTERLEAVED
    * in the same `.warc.gz`/`.warc.zst` shards exactly as a deduplicating
    * crawler stores them. Readers resolve with [[resolveRevisits]] over
    * this archive unioned with the prior crawl (within-batch stubs
    * resolve against this archive's own responses). `index = true`
    * writes the CDXJ sidecar with each record's true member offsets —
    * responses under their mime, stubs under `warc/revisit` with the
    * shared digest, so an index consumer resolves content without
    * touching the archive. Stubs carry no `WARC-Refers-To`: the digest
    * IS the linkage (content-addressed — exactly what
    * [[resolveRevisits]] joins on); record shapes and commit protocol
    * match [[writeWarcResponses]]/[[writeWarcRevisits]] byte for byte
    * (the shared renderers), so mixed and pure archives interoperate.
    *
    * Null-body vs empty-body contract: [[markRevisits]] treats a NULL
    * body as never-revisit (digest null — nothing to resolve against),
    * but the written record stamps the canonical empty-payload digest
    * (matching what [[writeWarcResponses]] would stamp on the same
    * record) — so a null-body and an empty-body capture of one URL carry
    * the SAME written digest yet only the empty-body one can be flagged a
    * revisit of an earlier empty payload. Normalize nulls upstream
    * (`coalesce(body, '')`) if they should dedup like empties.
    *
    * Scale note: when the prior digest set is too big to broadcast, the
    * batch — payloads included — crosses ONE digest-keyed exchange for
    * the split (the second, firsts-join exchange reuses that
    * partitioning); that single payload shuffle is the irreducible cost
    * of splitting against a distributed index. At broadcastable prior
    * sizes AQE keeps the whole split exchange-free (the SF1 scale row
    * measures 3 MB of shuffle for a 50k-record batch).
    */
  def writeWarcDeduped(
      df: DataFrame,
      outDir: String,
      uriCol: String,
      bodyCol: String,
      priorDigests: DataFrame,
      priorDigestCol: String = "digest",
      withinBatch: Boolean = true,
      httpContentType: String = "text/html; charset=UTF-8",
      warcDate: String = "2026-01-01T00:00:00Z",
      maxRecordsPerShard: Int = 100000,
      overwrite: Boolean = false,
      contentTypeCol: Option[String] = None,
      codec: String = "gzip",
      index: Boolean = false
  ): Unit = {
    val marked = markRevisits(df, uriCol, bodyCol, priorDigests,
      priorDigestCol, withinBatch)
    val projected = marked.select(
      col(uriCol).cast("string").as("__uri"),
      col(bodyCol).cast("binary").as("__body"),
      coalesce(
        contentTypeCol.map(c => col(c).cast("string"))
          .getOrElse(lit(null).cast("string")),
        lit(httpContentType)).as("__ct"),
      // null body → the canonical empty-payload digest, matching what
      // writeWarcResponses would have stamped on the record
      coalesce(col("payload_digest"),
        lit("sha1:" + sha1Base32(Array.emptyByteArray))).as("__digest"),
      coalesce(col("is_revisit"), lit(false)).as("__rev"))
    val ts14 = warcDate.replaceAll("[^0-9]", "").take(14)
    require(!index || ts14.length == 14,
      s"writeWarcDeduped: index=true needs a full timestamp warcDate, got '$warcDate'")
    val indexFor: Option[org.apache.spark.sql.Row => (Long, Long, String) => String] =
      if (!index) None
      else Some { r =>
        val uri = r.getString(0)
        val bare = r.getString(3).replaceFirst("(?i)^sha1:", "")
        val prefix =
          if (r.getBoolean(4))
            s"""${cdxjKeyOf(uri)} $ts14 {"url":"${jsonEsc(uri)}","mime":"warc/revisit",""" +
              s""""digest":"${jsonEsc(bare)}""""
          else {
            val ct = if (r.isNullAt(2)) httpContentType else r.getString(2)
            val mime = ct.split(";")(0).trim
            s"""${cdxjKeyOf(uri)} $ts14 {"url":"${jsonEsc(uri)}","mime":"${jsonEsc(mime)}",""" +
              s""""status":"200","digest":"${jsonEsc(bare)}""""
          }
        (off: Long, len: Long, fn: String) =>
          prefix + s""","offset":"$off","length":"$len","filename":"${jsonEsc(fn)}"}"""
      }
    writeShardedRecords(projected, outDir, codec, maxRecordsPerShard,
      overwrite, "writeWarcDeduped", indexFor) { r =>
      val uri = r.getString(0)
      if (uri == null) throw new IllegalArgumentException(
        "writeWarcDeduped: null uri — WARC-Target-URI is mandatory; " +
          "filter or coalesce the uri column first")
      val digest = r.getString(3)
      if (r.getBoolean(4)) revisitRecordBytes(uri, digest, None, warcDate)
      else {
        val body =
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.get(1).asInstanceOf[Array[Byte]]
        val ct = if (r.isNullAt(2)) httpContentType else r.getString(2)
        responseRecordBytes(uri, body, ct, digest, warcDate)
      }
    }
  }

  /** One `warcinfo` record's bytes — the shard-head record the crawl
    * convention opens every archive file with (`application/warc-fields`
    * content, WARC-1.0 annex shape). Deterministic record id from
    * (partition, shard); `WARC-Filename` is omitted (only known at
    * commit rename — an optional header).
    */
  private[sources] def warcinfoRecordBytes(
      warcDate: String, pid: Int, shard: Int): Array[Byte] = {
    val fields = ("software: graft\r\n" +
      "format: WARC file version 1.0\r\n").getBytes("UTF-8")
    val header =
      ("WARC/1.0\r\n" +
        "WARC-Type: warcinfo\r\n" +
        f"WARC-Record-ID: <urn:graft:warcinfo:p$pid%05d-$shard%04d>\r\n" +
        s"WARC-Date: $warcDate\r\n" +
        "Content-Type: application/warc-fields\r\n" +
        s"Content-Length: ${fields.length}\r\n\r\n").getBytes("UTF-8")
    header ++ fields ++ "\r\n\r\n".getBytes("UTF-8")
  }

  /** `sha1:`-less base32 SHA-1 of a binary (or string) column — the crawl
    * ecosystem's payload-digest value ([[WarcRow.payload_digest]] carries
    * it WITH the `sha1:` prefix; cc-index JSON carries it bare). Pure
    * column expression: Spark's codegen'd `sha1` (hex) regrouped to RFC
    * 4648 base32 — 160 bits = 8 × 20-bit hex chunks = 8 × 4 base32 chars,
    * no padding. Parity with the writer's JVM-side [[sha1Base32]] is
    * spec-pinned (WarcSpec).
    */
  def payloadDigest(c: Column): Column = {
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val hex = sha1(c)
    concat((0 until 8).map { i =>
      val n = conv(substring(hex, i * 5 + 1, 5), 16, 10).cast("int")
      concat((3 to 0 by -1).map { j =>
        lit(alpha).substr(shiftright(n, j * 5).bitwiseAND(lit(31)) + lit(1), lit(1))
      }: _*)
    }: _*)
  }

  /** JVM-side RFC 4648 base32 of SHA-1 — the writer's digest (per record,
    * inside the shard task where no Column can run). 20 bytes → exactly 32
    * chars, padless.
    */
  private[sources] def sha1Base32(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new java.lang.StringBuilder(32)
    var buf = 0L
    var bits = 0
    d.foreach { b =>
      buf = (buf << 8) | (b & 0xffL)
      bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(alpha(((buf >> bits) & 31L).toInt))
      }
    }
    sb.toString
  }

  /** Write each row as one WARC `conversion` record — the WET layout
    * CommonCrawl ships extracted plain text in (`*.warc.wet.gz`): the
    * record's Content-Type is `text/plain`, the content block IS the
    * UTF-8 text (no HTTP envelope), and `WARC-Refers-To` points at the
    * response record the text was converted from — deterministic urn of
    * the uri matching [[writeWarcResponses]]'s record ids, so a response
    * archive and its WET sibling written from the same frame
    * cross-reference. Reader-side ([[readWarc]] parses every record type
    * generically) these rows come back with `http_status`/
    * `http_content_type` null and `payload` = the text bytes. Same shard
    * layout, codecs and commit protocol as [[writeWarcResponses]].
    */
  def writeWetConversions(
      df: DataFrame,
      outDir: String,
      uriCol: String,
      textCol: String,
      warcDate: String = "2026-01-01T00:00:00Z",
      maxRecordsPerShard: Int = 100000,
      overwrite: Boolean = false,
      codec: String = "gzip"
  ): Unit = {
    val projected = df.select(
      col(uriCol).cast("string").as("__uri"),
      col(textCol).cast("string").as("__text"))
    writeShardedRecords(projected, outDir, codec, maxRecordsPerShard,
      overwrite, "writeWetConversions") { r =>
      val uri = r.getString(0)
      if (uri == null) throw new IllegalArgumentException(
        "writeWetConversions: null uri — WARC-Target-URI is mandatory " +
          "for conversion records; filter or coalesce the uri column first")
      val body =
        if (r.isNullAt(1)) Array.emptyByteArray
        else r.getString(1).getBytes("UTF-8")
      val header =
        ("WARC/1.0\r\n" +
          "WARC-Type: conversion\r\n" +
          f"WARC-Record-ID: <urn:graft:wet:${fnv64(uri)}%016x>\r\n" +
          f"WARC-Refers-To: <urn:graft:${fnv64(uri)}%016x>\r\n" +
          s"WARC-Date: $warcDate\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          "Content-Type: text/plain\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
      header ++ body ++ "\r\n\r\n".getBytes("UTF-8")
    }
  }

  /** Write each row as one WARC `metadata` record — the record type the
    * WAT convention ships page metadata in: the content block is the
    * row's JSON column verbatim (UTF-8), record Content-Type
    * `application/json`, and `WARC-Refers-To` names the response record
    * the metadata describes (deterministic urn of the uri, matching
    * [[writeWarcResponses]]' record ids — a WAT archive written from the
    * same frame as its WARC sibling cross-references). [[Wat]] builds
    * the standard envelope JSON as a pure column expression; this writer
    * is envelope-agnostic (any JSON column works). Same shard layout,
    * codecs and commit protocol as the other writers.
    */
  def writeWarcMetadata(
      df: DataFrame,
      outDir: String,
      uriCol: String,
      jsonCol: String,
      warcDate: String = "2026-01-01T00:00:00Z",
      maxRecordsPerShard: Int = 100000,
      overwrite: Boolean = false,
      codec: String = "gzip"
  ): Unit = {
    val projected = df.select(
      col(uriCol).cast("string").as("__uri"),
      col(jsonCol).cast("string").as("__json"))
    writeShardedRecords(projected, outDir, codec, maxRecordsPerShard,
      overwrite, "writeWarcMetadata") { r =>
      val uri = r.getString(0)
      if (uri == null) throw new IllegalArgumentException(
        "writeWarcMetadata: null uri — WARC-Target-URI is mandatory " +
          "for metadata records; filter or coalesce the uri column first")
      val body =
        if (r.isNullAt(1)) Array.emptyByteArray
        else r.getString(1).getBytes("UTF-8")
      val header =
        ("WARC/1.0\r\n" +
          "WARC-Type: metadata\r\n" +
          f"WARC-Record-ID: <urn:graft:wat:${fnv64(uri)}%016x>\r\n" +
          f"WARC-Refers-To: <urn:graft:${fnv64(uri)}%016x>\r\n" +
          s"WARC-Date: $warcDate\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          "Content-Type: application/json\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
      header ++ body ++ "\r\n\r\n".getBytes("UTF-8")
    }
  }

  /** Build a capture index from EXISTING `.warc.gz` / `.warc.zst` archives
    * that have no sidecars — the cdx-indexer pass (webarchive-commons/pywb
    * ship the same tool): walk each shard's compressed MEMBERS tracking
    * compressed offsets, parse the record(s) inside each member, and emit
    * one row per record in [[Cdx.readCdxj]]'s exact column shape — so the
    * result feeds [[Cdx.fetchPlan]] → [[readWarcRanges]] directly, or
    * renders through [[Cdx.cdxjLines]] → [[Cdx.writeZipnum]] into a
    * queryable two-level index. The round trip "archives in, selective
    * access out" needs no cooperation from whoever wrote the archives.
    *
    * Mechanics: one task per shard (compressed members are not
    * seekable-splittable without the very index this builds — file count
    * IS the parallelism, the same contract as [[readWarc]]), but the
    * shard STREAMS through the task: a seekable `FSDataInputStream`
    * feeds the member walker directly, so per-task heap is one record's
    * capped payload plus fixed buffers — no whole-file byte array and no
    * `binaryFile` 2 GiB ceiling; a 10 GiB dump shard indexes in bounded
    * memory. Member boundaries:
    *   - `.warc.gz`: real gzip header walk (FEXTRA/FNAME/FCOMMENT/FHCRC)
    *     + Inflater consumption count + the 8-byte CRC/ISIZE trailer;
    *     records parse straight off the inflater (nothing buffers the
    *     decompressed member).
    *   - `.warc.zst`: real zstd frame walk — skippable frames
    *     (0x184D2A5x) are skipped, a LEADING 0x184D2A5D dictionary frame
    *     (the iipc convention; itself possibly zstd-compressed) is
    *     captured and applied to every member decode, and data-frame
    *     lengths come from walking the 3-byte block headers
    *     (raw/RLE/compressed, last-block flag) + the frame-header size
    *     fields + the optional checksum. One frame's COMPRESSED bytes
    *     buffer for the decode (a frame is one record by this library's
    *     and CommonCrawl's layout); dictionary offsets are excluded from
    *     member ranges, matching [[readWarcRanges]]'s head re-read.
    *   - plain `.warc` (uncompressed — local/test dumps routinely ship
    *     this way): no member layer, so each RECORD is its own member and
    *     (offset, length) are raw byte offsets in the file — valid for
    *     ranged fetch with no decompression at all
    *     ([[plainRecordMembers]]).
    * A member holding several records (the spec recommends one-per-member
    * but permits more) emits one row per record, all sharing the MEMBER's
    * (offset, length) — a ranged fetch decodes the member and re-filters,
    * the standard CDX discipline. `digest` is the payload's bare-base32
    * SHA-1, null when the payload was truncated at `maxPayloadBytes`
    * (a digest of a prefix would silently poison content-keyed dedup).
    *
    * `detectText = true` (default) also populates the published index's
    * `languages` and `charset` fields for text-like records (mime
    * `text/…` or html/xml/json/javascript), the way the real cc-index
    * does — consumers filter on them before fetching. `charset` is the
    * WHATWG sniff the decode would actually use
    * ([[graft.ops.expr.CharsetText.detectedName]]: BOM > header label >
    * meta prescan > UTF-8); `languages` is up to THREE comma-joined
    * [[graft.ops.expr.LangModel]] ISO 639-1 codes (primary first, a
    * secondary listed only at ≥ half the primary's score — the published
    * field's multi-code shape for genuinely mixed pages) over the first
    * [[TextDetectSampleBytes]] of the decoded payload with tags
    * stripped ("und" when nothing scores). The real cc-index spells
    * languages ISO 639-3 (`eng`, `rus,ukr`): `languageCodes =
    * "iso639_3"` emits that published spelling natively (the
    * [[graft.ops.expr.LangIso639]] bridge — unknown/`und` pass
    * through); the default stays `"iso639_1"` (`en`), the library's
    * own code family ([[graft.PublishedSamples]] pins the published
    * spelling). Both detectors run on a bounded sample per record — the
    * indexing pass stays CPU-light. Coded captures (chunked /
    * gzip-deflate content coding) sniff over the DECODED sample (the
    * decode stops at the sample cap); `digest` stays the STORED payload
    * block's digest, the crawl convention.
    */
  def indexWarc(
      s: SparkSession,
      path: String,
      maxPayloadBytes: Int = 64 << 20,
      detectText: Boolean = true,
      languageCodes: String = "iso639_1"
  ): DataFrame = {
    require(languageCodes == "iso639_1" || languageCodes == "iso639_3",
      s"indexWarc: languageCodes must be 'iso639_1' or 'iso639_3', " +
        s"got '$languageCodes'")
    val iso3 = languageCodes == "iso639_3"
    import s.implicits._
    val conf = new SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    // path-only projection: the binaryFile source builds rows lazily per
    // requested field, so listing paths reads no content (and never hits
    // the source's content-column 2 GiB ceiling)
    val files = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*").load(path)
      .select(col("path")).as[String]
    val rows = files.mapPartitions { paths =>
      paths.flatMap { pstr =>
        val p = new Path(pstr)
        val fs = p.getFileSystem(conf.value)
        val in = fs.open(p)
        // close at iterator exhaustion (a partition listing many small
        // shards must not hold every file handle for the task's lifetime);
        // the task-completion listener stays as the error-path backstop
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; in.close() }
        val tc = TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeOnce())
        val fn = p.getName
        val src = new CountedIn(in)
        val magic = new Array[Byte](4)
        var got = 0
        var eof = false
        while (got < 4 && !eof) {
          val k = src.read(magic, got, 4 - got)
          if (k < 0) eof = true else got += k
        }
        src.unread(magic, 0, got)
        val members: Iterator[(Long, Long, IndexedSeq[WarcRow])] =
          if (got == 0) Iterator.empty
          else if (got >= 2 && (magic(0) & 0xff) == 0x1f &&
              (magic(1) & 0xff) == 0x8b)
            gzipRecordMembers(src, pstr, maxPayloadBytes)
          else if (got >= 4 && (isZstDataMagic(magic, 0) ||
              isZstSkippableMagic(magic, 0)))
            zstdRecordMembers(src, pstr, maxPayloadBytes)
          else if (got >= 4 && magic(0) == 'W' && magic(1) == 'A' &&
              magic(2) == 'R' && magic(3) == 'C')
            plainRecordMembers(src, pstr, maxPayloadBytes)
          else throw new IllegalArgumentException(
            s"indexWarc: $pstr is not a .warc.gz, .warc.zst or plain " +
              ".warc archive (unrecognized leading bytes)")
        val recRows = members.flatMap { case (off, len, recs) =>
          recs.map { r =>
            val ts14 = Option(r.warc_date.orNull)
              .map(_.replaceAll("[^0-9]", "").take(14)).filter(_.length == 14)
            val mime = r.http_content_type.orElse(r.content_type)
              .map(_.split(";")(0).trim)
            // digest: the record's own WARC-Payload-Digest when present
            // (bare base32, the cc-index convention) — for a REVISIT stub
            // that is the ORIGINAL's content digest, which a recomputed
            // hash of the stub's empty payload would silently replace
            // with the empty-payload digest and poison every
            // content-keyed join; recompute only when the header is
            // absent and the payload arrived whole
            val digest = r.payload_digest
              .map(_.replaceFirst("(?i)^sha1:", ""))
              .orElse(if (r.truncated) None else Some(sha1Base32(r.payload)))
            val (langs, charset) = detectFields(r, mime, detectText, iso3)
            (Option(Cdx.surtString(r.target_uri.orNull)),
              ts14, r.target_uri, mime, r.http_status, digest,
              fn, off, len, langs, charset, r.warc_type)
          }
        }
        new Iterator[(Option[String], Option[String], Option[String],
            Option[String], Option[Int], Option[String], String, Long, Long,
            Option[String], Option[String], String)] {
          override def hasNext: Boolean = {
            val h = recRows.hasNext
            if (!h) closeOnce()
            h
          }
          override def next() = recRows.next()
        }
      }
    }.toDF("__surt", "__ts14", "url", "mime", "status", "digest",
      "filename", "offset", "length", "languages", "charset", "warc_type")
    rows.select(
      col("__surt").as("surt_key"),
      try_to_timestamp(col("__ts14"), lit("yyyyMMddHHmmss")).as("ts"),
      col("url"), col("mime"), col("status"), col("digest"),
      col("filename"), col("offset"), col("length"),
      col("languages"), col("charset"),
      col("warc_type"))
  }

  /** Per-record payload bytes sampled for the index's `languages`/
    * `charset` detection — covers the WHATWG meta-prescan window many
    * times over and gives the n-gram classifier more text than it needs,
    * while keeping the indexer's per-record CPU bounded on pathological
    * payloads.
    */
  val TextDetectSampleBytes: Int = 64 << 10

  /** [[indexWarc]]'s `(languages, charset)` for one record: text-like
    * mime + non-empty payload → WHATWG charset sniff + tag-stripped
    * language-ID over a bounded decoded sample; anything else → nulls
    * (the published index leaves them absent for binary captures too).
    */
  private def detectFields(
      r: WarcRow,
      mime: Option[String],
      detectText: Boolean,
      iso3: Boolean = false): (Option[String], Option[String]) = {
    val textish = mime.exists(m => m.startsWith("text/") ||
      m.contains("html") || m.contains("xml") || m.contains("json") ||
      m.contains("javascript"))
    if (!detectText || !textish || r.payload.isEmpty) (None, None)
    else {
      val ct = r.http_content_type.orElse(r.content_type).orNull
      // coded captures (the index pass parses with decodeHttp = false so
      // digests key the stored block): undo chunked/gzip/deflate on a
      // BOUNDED sample — the decode stops at the sample cap, so per-
      // record CPU stays bounded; a failed decode (unsupported coding,
      // mislabeled header) falls back to the stored bytes
      val base =
        if (r.http_transfer_encoding.isEmpty &&
          r.http_content_encoding.isEmpty) r.payload
        else decodeHttpBody(r.payload, r.http_transfer_encoding,
          r.http_content_encoding, TextDetectSampleBytes)._1
      val sample =
        if (base.length <= TextDetectSampleBytes) base
        else java.util.Arrays.copyOf(base, TextDetectSampleBytes)
      val charset = graft.ops.expr.CharsetText.detectedName(sample, ct)
      // tags out before language-ID: raw markup's ASCII token soup would
      // otherwise dilute the classifier's signal on short pages (a
      // truncated trailing multi-byte char decodes to one U+FFFD — inert).
      // Up to three comma-joined codes, primary first — the published
      // cc-index's languages shape for genuinely mixed pages
      val text = graft.ops.expr.CharsetText.decode(sample, ct)
        .replaceAll("<[^>]*>", " ")
      val lang1 = graft.ops.expr.LangModel.classifyTop(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 3)
      val lang =
        if (iso3) graft.ops.expr.LangIso639.convert(lang1).toString
        else lang1.toString
      (Some(lang), Some(charset))
    }
  }

  /** Pull byte source over an InputStream with a consumed-byte count and
    * pushback (the member walkers' overread recovery). Positions are
    * LOGICAL: `unread` rewinds the count by what it re-queues.
    */
  private[sources] final class CountedIn(in: InputStream) {
    private var carry: Array[Byte] = Array.emptyByteArray
    private var carryPos = 0
    private var count = 0L
    def pos: Long = count
    def read(): Int =
      if (carryPos < carry.length) {
        val b = carry(carryPos) & 0xff; carryPos += 1; count += 1; b
      } else {
        val b = in.read(); if (b >= 0) count += 1; b
      }
    def read(buf: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (carryPos < carry.length) {
        val n = math.min(len, carry.length - carryPos)
        System.arraycopy(carry, carryPos, buf, off, n)
        carryPos += n; count += n; n
      } else {
        val n = in.read(buf, off, len); if (n > 0) count += n; n
      }
    def readFully(buf: Array[Byte], off: Int, len: Int)(
        onEof: => Nothing): Unit = {
      var done = 0
      while (done < len) {
        val n = read(buf, off + done, len - done)
        if (n < 0) onEof else done += n
      }
    }
    def skipFully(n: Long)(onEof: => Nothing): Unit = {
      val tmp = new Array[Byte](math.min(n, 8192L).toInt)
      var left = n
      while (left > 0) {
        val k = read(tmp, 0, math.min(left, tmp.length.toLong).toInt)
        if (k < 0) onEof else left -= k
      }
    }
    /** Re-queue `len` bytes so the next reads see them again (prepends to
      * any existing carry — safe to call with a partially-drained carry).
      */
    def unread(buf: Array[Byte], off: Int, len: Int): Unit = if (len > 0) {
      val rem = carry.length - carryPos
      val nb = new Array[Byte](len + rem)
      System.arraycopy(buf, off, nb, 0, len)
      if (rem > 0) System.arraycopy(carry, carryPos, nb, len, rem)
      carry = nb; carryPos = 0; count -= len
    }
  }

  /** InputStream view of ONE gzip member's deflate body: inflates chunk
    * by chunk from the shared [[CountedIn]], and on [[finish]] pushes the
    * inflater's overread back so the next member's header parse starts at
    * the right byte. Records parse straight off this stream — the member
    * is never materialized.
    */
  private final class InflaterBridge(
      src: CountedIn, path: String, start: Long) extends InputStream {
    val inf = new java.util.zip.Inflater(true)
    private val inBuf = new Array[Byte](1 << 16)
    private var chunkLen = 0
    override def read(): Int = {
      val b = new Array[Byte](1)
      val n = read(b, 0, 1)
      if (n < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (inf.finished()) return -1
      try {
        var n = inf.inflate(b, off, len)
        while (n == 0 && !inf.finished()) {
          if (inf.needsDictionary()) throw new java.io.IOException(
            s"$path: gzip member at offset $start needs a preset dictionary")
          if (inf.needsInput()) {
            chunkLen = src.read(inBuf, 0, inBuf.length)
            if (chunkLen <= 0) throw new EOFException(
              s"$path: truncated gzip member at offset $start")
            inf.setInput(inBuf, 0, chunkLen)
          }
          n = inf.inflate(b, off, len)
        }
        if (n == 0 && inf.finished()) -1 else n
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new java.io.IOException(
            s"$path: corrupt gzip member at offset $start", e)
      }
    }
    /** Drain to member end, push back the overread, release the inflater.
      * Returns only once the deflate stream is FINISHED (so the caller's
      * next read is the member trailer).
      */
    def finish(): Unit = {
      val sink = new Array[Byte](8192)
      while (read(sink, 0, sink.length) >= 0) ()
      val rem = inf.getRemaining
      if (rem > 0) src.unread(inBuf, chunkLen - rem, rem)
      inf.end()
    }
  }

  /** Streaming gzip member walk: per member, the header fields are
    * parsed (bounds-checked), the record(s) inside parse directly off
    * the inflater, and `(memberOffset, memberCompressedLength, records)`
    * is emitted. The only way to recover member boundaries the writer
    * did not record — and it never holds more than one record's capped
    * payload.
    */
  private[sources] def gzipRecordMembers(
      src: CountedIn,
      path: String,
      maxPayloadBytes: Int
  ): Iterator[(Long, Long, IndexedSeq[WarcRow])] =
    new Iterator[(Long, Long, IndexedSeq[WarcRow])] {
      private var lookahead = src.read()
      override def hasNext: Boolean = lookahead >= 0
      override def next(): (Long, Long, IndexedSeq[WarcRow]) = {
        val start = src.pos - 1
        def truncatedHeader(): Nothing = throw new EOFException(
          s"$path: truncated gzip member header at offset $start")
        val b0 = lookahead
        val b1 = src.read()
        require(b0 == 0x1f && b1 == 0x8b,
          s"$path: expected a gzip member at offset $start, found " +
            f"0x$b0%02x${b1 & 0xff}%02x")
        val cm = src.read()
        require(cm == 8,
          s"$path: unsupported gzip compression method $cm")
        val flg = src.read()
        if (flg < 0) truncatedHeader()
        src.skipFully(6)(truncatedHeader()) // MTIME, XFL, OS
        if ((flg & 0x04) != 0) { // FEXTRA
          val l0 = src.read(); val l1 = src.read()
          if (l1 < 0) truncatedHeader()
          src.skipFully((l0 & 0xff) | ((l1 & 0xff) << 8))(truncatedHeader())
        }
        if ((flg & 0x08) != 0) { // FNAME
          var b = src.read()
          while (b > 0) b = src.read()
          if (b < 0) truncatedHeader()
        }
        if ((flg & 0x10) != 0) { // FCOMMENT
          var b = src.read()
          while (b > 0) b = src.read()
          if (b < 0) truncatedHeader()
        }
        if ((flg & 0x02) != 0) src.skipFully(2)(truncatedHeader()) // FHCRC
        val bridge = new InflaterBridge(src, path, start)
        val recs =
          try {
            var idx = -1
            // parseHeaders = false: the index pass never reads the map.
            // decodeHttp = false: the digest convention keys the STORED
            // payload block — detectFields decodes its own bounded sample
            Iterator.continually(
              parseRecord(s"$path@$start", bridge, maxPayloadBytes,
                parseHeaders = false, decodeHttp = false))
              .takeWhile(_.isDefined)
              .map { r => idx += 1; r.get.copy(record_index = idx) }
              .toIndexedSeq
          } finally bridge.finish()
        src.skipFully(8)(throw new EOFException( // CRC32 + ISIZE
          s"$path: gzip member at offset $start is missing its trailer"))
        val end = src.pos
        lookahead = src.read()
        (start, end - start, recs)
      }
    }

  /** Streaming record walk over a PLAIN uncompressed `.warc`: no member
    * layer exists, so each record IS its own "member" — `(offset, length)`
    * bracket the record's bytes (version line through the trailing CRLFs)
    * directly in the file, which is exactly what a ranged GET needs (no
    * decompression to seek through; [[readWarcRanges]]'s plain-bytes
    * branch decodes any record-aligned range). Local and test dumps are
    * routinely uncompressed; real crawls compress, but an index pass must
    * not refuse the format the spec itself ships examples in.
    */
  private[sources] def plainRecordMembers(
      src: CountedIn,
      path: String,
      maxPayloadBytes: Int
  ): Iterator[(Long, Long, IndexedSeq[WarcRow])] =
    new Iterator[(Long, Long, IndexedSeq[WarcRow])] {
      private val in: InputStream = new InputStream {
        override def read(): Int = src.read()
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          src.read(b, off, len)
      }
      private val one = new Array[Byte](1)
      private var idx = 0
      private var pending: (Long, Long, IndexedSeq[WarcRow]) = null

      /** Consume CR/LF padding; unread the first non-CRLF byte. False at
        * clean EOF.
        */
      private def skipCrlf(): Boolean = {
        var b = src.read()
        while (b == '\r' || b == '\n') b = src.read()
        if (b < 0) false
        else { one(0) = b.toByte; src.unread(one, 0, 1); true }
      }

      private def advance(): Unit = {
        pending = null
        if (skipCrlf()) {
          val start = src.pos
          // parseHeaders = false: the index pass never reads the map;
          // decodeHttp = false: digests key the STORED payload block
          parseRecord(path, in, maxPayloadBytes, parseHeaders = false,
            decodeHttp = false) match {
            case Some(r) =>
              // the record's trailing two CRLFs belong to its extent (the
              // same framing the compressed members carry them in)
              skipCrlf()
              val row = r.copy(record_index = idx)
              idx += 1
              pending = (start, src.pos - start, IndexedSeq(row))
            case None => ()
          }
        }
      }
      advance()
      override def hasNext: Boolean = pending != null
      override def next(): (Long, Long, IndexedSeq[WarcRow]) = {
        val p = pending
        advance()
        p
      }
    }

  /** Streaming zstd frame walk (RFC 8878 frame format): leading skippable
    * frames are consumed (a 0x184D2A5D one is the iipc DICTIONARY and is
    * captured + applied to every member), then each data frame's
    * compressed extent is measured by walking its block headers, buffered
    * (one record's compressed bytes), decoded against the dictionary and
    * parsed into records.
    */
  private[sources] def zstdRecordMembers(
      src: CountedIn,
      path: String,
      maxPayloadBytes: Int
  ): Iterator[(Long, Long, IndexedSeq[WarcRow])] =
    new Iterator[(Long, Long, IndexedSeq[WarcRow])] {
      private var dict: Array[Byte] = null
      private val head = new Array[Byte](8)

      /** Reads up to `n` bytes into `head`; returns bytes read (0 at
        * clean EOF), leaving them CONSUMED (callers unread as needed).
        */
      private def readHead(n: Int): Int = {
        var got = 0
        var eof = false
        while (got < n && !eof) {
          val k = src.read(head, got, n - got)
          if (k < 0) eof = true else got += k
        }
        got
      }

      /** Consume any skippable frames at the cursor; capture a leading
        * 0x184D2A5D dictionary (first one wins, the iipc convention).
        */
      private def skipSkippables(capture: Boolean): Unit = {
        var more = true
        while (more) {
          val got = readHead(8)
          if (got < 8 || !isZstSkippable(head, 0)) {
            src.unread(head, 0, got)
            more = false
          } else {
            val sizeL = leU32(head, 4)
            if (sizeL > Int.MaxValue - 8) throw new java.io.IOException(
              s"$path: oversized zstd skippable frame at offset ${src.pos - 8}")
            val isDict = (head(0) & 0xff) == 0x5d
            val size = sizeL.toInt
            if (capture && isDict && dict == null) {
              val content = new Array[Byte](size)
              src.readFully(content, 0, size)(throw new EOFException(
                s"$path: truncated zstd skippable frame at offset ${src.pos}"))
              dict = zstdDictOf(content)
            } else src.skipFully(size)(throw new EOFException(
              s"$path: truncated zstd skippable frame at offset ${src.pos}"))
          }
        }
      }

      skipSkippables(capture = true)
      private var lookGot = readHead(4)

      override def hasNext: Boolean = lookGot > 0
      override def next(): (Long, Long, IndexedSeq[WarcRow]) = {
        val start = src.pos - lookGot
        def truncated(): Nothing = throw new EOFException(
          s"$path: truncated zstd frame at offset $start")
        if (lookGot < 4 || !isZstDataMagic(head, 0))
          throw new java.io.IOException(
            s"$path: expected a zstd frame at offset $start")
        val acc = new java.io.ByteArrayOutputStream(1 << 16)
        acc.write(head, 0, 4)
        def copyFully(n: Int): Array[Byte] = {
          val b = new Array[Byte](n)
          src.readFully(b, 0, n)(truncated())
          acc.write(b)
          b
        }
        val fhd = copyFully(1)(0) & 0xff
        if ((fhd & 0x08) != 0) throw new java.io.IOException(
          s"$path: reserved zstd frame-header bit set at offset $start")
        val singleSegment = (fhd & 0x20) != 0
        val fcsBytes = ((fhd >>> 6) & 3) match {
          case 0 => if (singleSegment) 1 else 0
          case 1 => 2
          case 2 => 4
          case _ => 8
        }
        val dictIdBytes = Array(0, 1, 2, 4)((fhd & 3))
        val windowBytes = if (singleSegment) 0 else 1
        if (windowBytes + dictIdBytes + fcsBytes > 0)
          copyFully(windowBytes + dictIdBytes + fcsBytes)
        // blocks: 3-byte LE header — bit 0 last, bits 1-2 type, rest size
        var last = false
        while (!last) {
          val bh = copyFully(3)
          val v = (bh(0) & 0xff) | ((bh(1) & 0xff) << 8) | ((bh(2) & 0xff) << 16)
          last = (v & 1) != 0
          val btype = (v >>> 1) & 3
          val bsize = v >>> 3
          btype match {
            case 0 | 2 => if (bsize > 0) { copyFully(bsize); () } // raw | compressed
            case 1 => copyFully(1); () // RLE: one byte, regenerated bsize times
            case _ => throw new java.io.IOException(
              s"$path: reserved zstd block type at offset $start")
          }
        }
        if ((fhd & 0x04) != 0) copyFully(4) // content checksum
        val end = src.pos
        // decode the buffered frame against the dictionary and parse
        val z = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new ByteArrayInputStream(acc.toByteArray))
        if (dict != null) z.setDict(dict)
        val recs =
          try {
            var idx = -1
            // parseHeaders = false: the index pass never reads the map;
            // decodeHttp = false: digests key the STORED payload block
            Iterator.continually(
              parseRecord(s"$path@$start", z, maxPayloadBytes,
                parseHeaders = false, decodeHttp = false))
              .takeWhile(_.isDefined)
              .map { r => idx += 1; r.get.copy(record_index = idx) }
              .toIndexedSeq
          } finally z.close()
        skipSkippables(capture = false)
        lookGot = readHead(4)
        (start, end - start, recs)
      }
    }

  /** zstd data-frame magic 0xFD2FB528 (little-endian) at `off`. */
  private def isZstDataMagic(bytes: Array[Byte], off: Int): Boolean =
    off + 4 <= bytes.length && (bytes(off) & 0xff) == 0x28 &&
      (bytes(off + 1) & 0xff) == 0xb5 && (bytes(off + 2) & 0xff) == 0x2f &&
      (bytes(off + 3) & 0xff) == 0xfd

  /** An iipc dictionary skippable frame's CONTENT, decompressed when it
    * is itself a zstd frame (the spec allows both).
    */
  private def zstdDictOf(content: Array[Byte]): Array[Byte] =
    if (isZstDataMagic(content, 0)) {
      val zin = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        new ByteArrayInputStream(content))
      try zin.readAllBytes() finally zin.close()
    } else content

  /** Split a `.warc.gz` byte ARRAY into gzip members:
    * `(offset, compressedLength, decompressedBytes)` per member — the
    * in-memory convenience over [[gzipRecordMembers]]'s streaming walk
    * (specs and small fixtures; [[indexWarc]] streams and never
    * materializes members).
    */
  private[sources] def gzipMembers(
      bytes: Array[Byte],
      path: String
  ): Iterator[(Long, Long, Array[Byte])] =
    new Iterator[(Long, Long, Array[Byte])] {
      private val src = new CountedIn(new ByteArrayInputStream(bytes))
      private var lookahead = src.read()
      override def hasNext: Boolean = lookahead >= 0
      override def next(): (Long, Long, Array[Byte]) = {
        val start = src.pos - 1
        def truncatedHeader(): Nothing = throw new EOFException(
          s"$path: truncated gzip member header at offset $start")
        val b0 = lookahead
        val b1 = src.read()
        if (b1 < 0) truncatedHeader()
        require(b0 == 0x1f && b1 == 0x8b,
          s"$path: expected a gzip member at offset $start, found " +
            f"0x$b0%02x$b1%02x")
        val cm = src.read()
        require(cm == 8,
          s"$path: unsupported gzip compression method $cm")
        val flg = src.read()
        if (flg < 0) truncatedHeader()
        src.skipFully(6)(truncatedHeader())
        if ((flg & 0x04) != 0) {
          val l0 = src.read(); val l1 = src.read()
          if (l1 < 0) truncatedHeader()
          src.skipFully((l0 & 0xff) | ((l1 & 0xff) << 8))(truncatedHeader())
        }
        if ((flg & 0x08) != 0) {
          var b = src.read()
          while (b > 0) b = src.read()
          if (b < 0) truncatedHeader()
        }
        if ((flg & 0x10) != 0) {
          var b = src.read()
          while (b > 0) b = src.read()
          if (b < 0) truncatedHeader()
        }
        if ((flg & 0x02) != 0) src.skipFully(2)(truncatedHeader())
        val bridge = new InflaterBridge(src, path, start)
        val out = new java.io.ByteArrayOutputStream(1 << 16)
        val buf = new Array[Byte](1 << 16)
        try {
          var n = bridge.read(buf, 0, buf.length)
          while (n >= 0) {
            out.write(buf, 0, n)
            n = bridge.read(buf, 0, buf.length)
          }
        } finally bridge.finish()
        src.skipFully(8)(throw new EOFException(
          s"$path: gzip member at offset $start is missing its trailer"))
        val end = src.pos
        lookahead = src.read()
        (start, end - start, out.toByteArray)
      }
    }

  /** The shared sharded-record writer behind [[writeWarcResponses]] /
    * [[writeWetConversions]]: one `.warc.gz`/`.warc.zst` per task (rolled
    * every `maxRecordsPerShard`), member-per-record framing in all codecs
    * (gzip members per the WARC spec's recommendation, concatenated zstd
    * frames for `.warc.zst`), committed through [[ShardCommit]] (`.cdxj`
    * sidecars too). `zstd-dict` additionally trains a
    * PER-SHARD dictionary on the shard's first records and emits it in
    * the iipc 0x184D2A5D skippable frame — member-per-record framing
    * compresses each small record in isolation, which is exactly where a
    * shared dictionary pays; shards too small to train fall back to plain
    * frames, which the reader handles transparently. `mkRecord` renders
    * one row to complete record bytes (header + block + trailing CRLFs).
    *
    * CONTRACT: for each row, `mkRecord(r)` is invoked BEFORE
    * `indexFor(r)` — record builders may hand per-row derived values
    * (e.g. the coded-payload digest under `contentEncoding`) to the
    * index-line builder through task-local state instead of recomputing
    * them.
    */
  private def writeShardedRecords(
      projected: DataFrame,
      outDir: String,
      codec: String,
      maxRecordsPerShard: Int,
      overwrite: Boolean,
      errName: String,
      // per-record CDXJ index line builder, called with the member's
      // (offset, compressedLength, shardFileName) once both are known —
      // offset/length at write time (FSDataOutputStream.getPos brackets
      // the member, dictionary frames included in the arithmetic because
      // they too go through `out`), the shard name at close time
      indexFor: Option[org.apache.spark.sql.Row => (Long, Long, String) => String] = None,
      // optional per-shard LEAD record (the warcinfo convention — real
      // crawls open every shard with one): called with (partitionId,
      // shardNo), written as the shard's first member (for zstd-dict it
      // joins the dictionary-training buffer, so the dictionary frame
      // stays LEADING as the readers require). Not counted against
      // maxRecordsPerShard; no sidecar line (cdx indexers skip warcinfo)
      leadRecord: Option[(Int, Int) => Array[Byte]] = None
  )(mkRecord: org.apache.spark.sql.Row => Array[Byte]): Unit = {
    require(maxRecordsPerShard > 0, "maxRecordsPerShard must be positive")
    require(codec == "gzip" || codec == "zstd" || codec == "zstd-dict" ||
      codec == "none",
      s"codec must be gzip|zstd|zstd-dict|none, got $codec")
    val ext =
      if (codec.startsWith("zstd")) ".warc.zst"
      else if (codec == "none") ".warc"
      else ".warc.gz"
    val conf = new SerializableConfiguration(
      projected.sparkSession.sparkContext.hadoopConfiguration)
    ShardCommit.prepare(outDir, conf.value, overwrite, errName)
    projected.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val pid = TaskContext.getPartitionId()
        val fs = FileSystem.get(new java.net.URI(outDir), conf.value)
        var shardNo = 0
        var inShard = 0
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var shard: ShardCommit.Temp = null
        def open(): Unit = {
          shard = ShardCommit.open(fs, outDir, f"part-$pid%05d-$shardNo%04d$ext")
          out = shard.out
        }
        val idxEntries: scala.collection.mutable.ArrayBuffer[String => String] =
          if (indexFor.isDefined) new scala.collection.mutable.ArrayBuffer()
          else null
        def close(): Unit = if (out != null) {
          out.close(); out = null
          ShardCommit.commit(fs, shard.tmp, shard.dest, errName)
          if (idxEntries != null && idxEntries.nonEmpty) {
            // sidecar named part-…-….cdxj so the readers' "*.warc*" glob
            // never sees it
            val finalName = shard.dest.getName
            ShardCommit.writeLines(fs,
              new Path(outDir, finalName.stripSuffix(ext) + ".cdxj"),
              idxEntries.iterator.map(_(finalName)), errName)
            idxEntries.clear()
          }
        }
        // zstd-dict per-shard state: the first `DictSampleRecords` records
        // buffer in memory, a dictionary trains on them, the 0x184D2A5D
        // frame and the buffered members flush, then the rest streams
        // dict-compressed. null dict after resolution = training declined
        // (shard too small / trainer failed) → plain frames.
        val useDict = codec == "zstd-dict"
        var pending: scala.collection.mutable.ArrayBuffer[
            (Array[Byte], (Long, Long, String) => String)] =
          if (useDict) new scala.collection.mutable.ArrayBuffer() else null
        var dict: Array[Byte] = null
        // digested once per shard: setDict(bytes) would re-run
        // ZSTD_CCtx_loadDictionary per MEMBER — 100k redundant ~16 KiB
        // dictionary digests per default shard on the hot write path
        var dictC: com.github.luben.zstd.ZstdDictCompress = null
        var dictDone = !useDict
        def writeMember(
            bytes: Array[Byte],
            mkLine: (Long, Long, String) => String): Unit = {
          // one compressed member per record: the member stream closes
          // over a wrapper whose close() is a no-op, so finishing a
          // member never closes the underlying shard stream. codec
          // "none": the record bytes ARE the member (plain .warc —
          // offsets then bracket raw record extents).
          val posBefore = out.getPos
          if (codec == "none") out.write(bytes)
          else {
            val noClose = new MemberSink(out)
            val member: java.io.OutputStream =
              if (codec.startsWith("zstd")) {
                val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(noClose)
                if (dictC != null) z.setDict(dictC)
                z
              } else new GZIPOutputStream(noClose)
            member.write(bytes)
            member.close() // flushes the member/frame trailer; shard stays open
          }
          if (mkLine != null && idxEntries != null) {
            val len = out.getPos - posBefore
            idxEntries += (fn => mkLine(posBefore, len, fn))
          }
        }
        def flushPending(): Unit = {
          dict = trainDictionary(pending.map(_._1))
          if (dict != null) {
            dictC = new com.github.luben.zstd.ZstdDictCompress(dict, 3)
            // skippable frame, magic 0x184D2A5D little-endian + u32 size
            out.write(Array(0x5d, 0x2a, 0x4d, 0x18,
              dict.length & 0xff, (dict.length >> 8) & 0xff,
              (dict.length >> 16) & 0xff, (dict.length >> 24) & 0xff)
              .map(_.toByte))
            out.write(dict)
          }
          pending.foreach { case (b, mk) => writeMember(b, mk) }
          pending.clear()
          dictDone = true
        }
        // the shard's lead (warcinfo) member: immediate for plain codecs,
        // into the training buffer under zstd-dict so the dictionary
        // frame stays leading
        def lead(): Unit = leadRecord.foreach { f =>
          val bytes = f(pid, shardNo)
          if (!dictDone) pending += ((bytes, null))
          else writeMember(bytes, null)
        }
        open()
        lead()
        rows.foreach { r =>
          if (inShard >= maxRecordsPerShard) {
            if (!dictDone) flushPending()
            close(); shardNo += 1; inShard = 0; open()
            if (useDict) {
              if (dictC != null) { dictC.close(); dictC = null }
              dict = null; dictDone = false
            }
            lead()
          }
          val record = mkRecord(r)
          val mkLine: (Long, Long, String) => String =
            indexFor.map(f => f(r)).orNull
          if (!dictDone) {
            pending += ((record, mkLine))
            if (pending.length >= DictSampleRecords) flushPending()
          } else writeMember(record, mkLine)
          inShard += 1
        }
        if (!dictDone) flushPending()
        close()
        if (dictC != null) { dictC.close(); dictC = null }
      }
    }
  }

  /** Records buffered per shard before dictionary training (`zstd-dict`).
    * 256 typical web records ≈ a few MB of executor memory — enough sample
    * mass for zstd's trainer; records past the sample still compress with
    * the dictionary (crawl shards are homogeneous, the convention's bet).
    */
  private val DictSampleRecords = 256

  /** Train a zstd dictionary on the buffered records; null when the shard
    * is too small to train or the trainer declines (both are normal for
    * tail shards — callers fall back to plain frames, which the reader
    * handles). Dict size 16 KiB: zstd's guidance is ~1/100 of sample mass,
    * and 256 × ~10 KiB records sit right around it.
    */
  private def trainDictionary(
      samples: scala.collection.Seq[Array[Byte]]): Array[Byte] = {
    val total = samples.iterator.map(_.length.toLong).sum
    if (samples.length < 8 || total < 16384) return null
    try {
      // dict size scaled to sample mass (zstd wants dict ≪ samples;
      // a fixed 16 KiB dict over a few-KiB sample set fails to train)
      val dictSize = math.min(16L << 10, math.max(1024L, total / 10)).toInt
      val trainer = new com.github.luben.zstd.ZstdDictTrainer(
        math.min(total, 32L << 20).toInt, dictSize)
      samples.foreach(trainer.addSample)
      val d = trainer.trainSamples()
      if (d == null || d.isEmpty) null else d
    } catch {
      case _: com.github.luben.zstd.ZstdException => null
    }
  }

  /** Render one `response` record's bytes — the ONE shape
    * [[writeWarcResponses]] and [[writeWarcDeduped]] both emit
    * (byte-identical so mixed archives and pure ones interoperate).
    */
  private def responseRecordBytes(
      uri: String,
      body: Array[Byte],
      ct: String,
      digest: String,
      warcDate: String,
      contentEncoding: Option[String] = None): Array[Byte] = {
    val ceHeader = contentEncoding.fold("")(c => s"Content-Encoding: $c\r\n")
    val http =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" + ceHeader +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
    val block = http ++ body
    val header =
      ("WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        f"WARC-Record-ID: <urn:graft:${fnv64(uri)}%016x>\r\n" +
        s"WARC-Date: $warcDate\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"WARC-Payload-Digest: $digest\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${block.length}\r\n\r\n").getBytes("UTF-8")
    header ++ block ++ "\r\n\r\n".getBytes("UTF-8")
  }

  /** One gzip member of `bytes` (the `Content-Encoding: gzip` entity
    * coding [[writeWarcResponses]] can store bodies under).
    */
  private def gzipBytes(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(
      math.max(64, bytes.length / 3))
    val gz = new GZIPOutputStream(bos, 1 << 13)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** Render one `revisit` stub's bytes ([[writeWarcRevisits]] /
    * [[writeWarcDeduped]]) — identical-payload-digest profile, empty
    * content block, optional refers-to.
    */
  private def revisitRecordBytes(
      uri: String,
      digest: String,
      refersTo: Option[String],
      warcDate: String): Array[Byte] = {
    val refers = refersTo.fold("")(r => s"WARC-Refers-To: $r\r\n")
    val header =
      ("WARC/1.0\r\n" +
        "WARC-Type: revisit\r\n" +
        f"WARC-Record-ID: <urn:graft:revisit:${fnv64(uri + "|" + digest)}%016x>\r\n" +
        refers +
        s"WARC-Date: $warcDate\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n" +
        s"WARC-Payload-Digest: $digest\r\n" +
        "Content-Length: 0\r\n\r\n").getBytes("UTF-8")
    header ++ "\r\n\r\n".getBytes("UTF-8")
  }

  /** JSON string-value escaping for CDXJ sidecar lines. */
  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** The sidecar line's SURT key for a uri: canonical when parseable,
    * the raw lowercased uri otherwise (a capture must never vanish from
    * its own archive's index), with whitespace percent-encoded — the key
    * is the line's first space-delimited token, so smuggled whitespace
    * would make the sidecar line itself unparseable (a newline would
    * split it), the exact silent-vanish the fallback exists to prevent.
    */
  private def cdxjKeyOf(uri: String): String = {
    val rawKey = Option(graft.sources.Cdx.surtString(uri))
      .getOrElse(uri.toLowerCase(java.util.Locale.ROOT))
    rawKey.flatMap {
      case ' ' => "%20"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case c => c.toString
    }
  }

  /** FNV-1a 64-bit over UTF-8 — deterministic record-ID material. */
  private[sources] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach { b =>
      h ^= (b & 0xffL)
      h *= 0x100000001b3L
    }
    h
  }

  // ---------------------------------------------------------------- parse

  /** Parse one WARC file's bytes (plain or gzip, single or concatenated
    * members) into record rows. Streaming: one record's capped payload in
    * memory at a time.
    */
  private[sources] def parseFile(
      path: String,
      bytes: Array[Byte],
      maxPayloadBytes: Int,
      parseHeaders: Boolean = true,
      decodePayloads: Boolean = true
  ): Iterator[WarcRow] = {
    val raw = new ByteArrayInputStream(bytes)
    val in: InputStream =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
        new GZIPInputStream(raw, 1 << 16)
      else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 &&
          (bytes(1) & 0xff) == 0xb5 && (bytes(2) & 0xff) == 0x2f &&
          (bytes(3) & 0xff) == 0xfd) {
        // .warc.zst: concatenated zstd frames (member-per-record, the
        // layout this library's writer emits and newer CommonCrawl
        // segments ship); continuous mode reads across frame boundaries
        val z = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(raw)
        z.setContinuous(true)
        z
      } else if (isZstSkippable(bytes, 0)) {
        // zstd SKIPPABLE frame(s) (0x184D2A50..5F little-endian) before
        // the records: the iipc warc.zst convention stores a shared
        // compression DICTIONARY in magic 0x184D2A5D — itself possibly
        // zstd-compressed (the spec allows both). Load it (zstd-jni
        // auto-detects structured vs raw-content dictionaries), skip any
        // OTHER leading skippable frames (that's what skippable means),
        // and decode the member frames against it in continuous mode.
        var off = 0
        var dict: Array[Byte] = null
        while (isZstSkippable(bytes, off)) {
          // u32 size compared in Long: an adversarial size near 2^31 must
          // hit the truncation error, not overflow past it into an opaque
          // ArrayIndexOutOfBounds downstream
          val sizeL = leU32(bytes, off + 4)
          if (off + 8L + sizeL > bytes.length)
            throw new IllegalArgumentException(
              s"$path: truncated zstd skippable frame at offset $off")
          val size = sizeL.toInt
          if ((bytes(off) & 0xff) == 0x5d && dict == null) {
            val content = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
            dict =
              if (content.length >= 4 && (content(0) & 0xff) == 0x28 &&
                  (content(1) & 0xff) == 0xb5 && (content(2) & 0xff) == 0x2f &&
                  (content(3) & 0xff) == 0xfd) {
                // compressed dictionary: one plain zstd frame around it
                val zin = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
                  new ByteArrayInputStream(content))
                try zin.readAllBytes() finally zin.close()
              } else content
          }
          off += 8 + size
        }
        val z = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new ByteArrayInputStream(bytes, off, bytes.length - off))
        if (dict != null) z.setDict(dict)
        z.setContinuous(true)
        z
      } else raw
    var idx = -1
    Iterator.continually(
        parseRecord(path, in, maxPayloadBytes, parseHeaders, decodePayloads))
      .takeWhile(_.isDefined)
      .map { r => idx += 1; r.get.copy(record_index = idx) }
  }

  /** zstd skippable-frame magic 0x184D2A50..5F (little-endian) at `off`:
    * the 4 magic bytes alone — size-field availability is the caller's
    * concern (lookahead buffers are magic-sized).
    */
  private def isZstSkippableMagic(bytes: Array[Byte], off: Int): Boolean =
    off + 4 <= bytes.length && (bytes(off) & 0xf0) == 0x50 &&
      (bytes(off + 1) & 0xff) == 0x2a && (bytes(off + 2) & 0xff) == 0x4d &&
      (bytes(off + 3) & 0xff) == 0x18

  /** [[isZstSkippableMagic]] plus the 4-byte size field in bounds. */
  private def isZstSkippable(bytes: Array[Byte], off: Int): Boolean =
    off + 8 <= bytes.length && isZstSkippableMagic(bytes, off)

  /** Little-endian u32 as an unsigned Long (overflow-proof comparisons). */
  private def leU32(bytes: Array[Byte], off: Int): Long =
    ((bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
      ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24))

  /** Read one line up to CRLF (or LF — lenient); None at clean EOF. */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      buf.write(c)
      c = in.read()
    }
    val s = buf.toString("UTF-8")
    Some(if (s.endsWith("\r")) s.substring(0, s.length - 1) else s)
  }

  private def readFully(in: InputStream, buf: Array[Byte], len: Int): Unit = {
    var off = 0
    while (off < len) {
      val n = in.read(buf, off, len - off)
      if (n < 0) throw new EOFException(
        s"truncated WARC content block ($len bytes expected, got $off)")
      off += n
    }
  }

  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    val tmp = new Array[Byte](8192)
    while (left > 0) {
      val r = in.read(tmp, 0, math.min(left, tmp.length.toLong).toInt)
      if (r < 0) throw new EOFException(
        s"truncated WARC content block ($n bytes to skip, $left left)")
      left -= r
    }
  }

  /** One record, or None at end of stream. Lenient to blank lines between
    * records (the spec's two post-block CRLFs arrive here as empties).
    */
  private def parseRecord(
      path: String,
      in: InputStream,
      maxPayloadBytes: Int,
      parseHeaders: Boolean = true,
      decodeHttp: Boolean = true
  ): Option[WarcRow] = {
    // seek the version line across inter-record padding
    var version: Option[String] = None
    var line = readLine(in)
    while (line.isDefined && version.isEmpty) {
      val l = line.get
      if (l.startsWith("WARC/")) version = Some(l)
      else if (l.nonEmpty)
        throw new IllegalArgumentException(
          s"$path: expected a WARC/1.x version line, got '${l.take(80)}'")
      else line = readLine(in)
    }
    if (version.isEmpty) return None

    // headers: Name: value, with SP/HT continuation folding
    val headers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var lastKey: String = null
    var done = false
    while (!done) {
      val l = readLine(in).getOrElse(throw new EOFException(
        s"$path: EOF inside a WARC header block"))
      if (l.isEmpty) done = true
      else if ((l.charAt(0) == ' ' || l.charAt(0) == '\t') && lastKey != null)
        headers(lastKey) = headers(lastKey) + " " + l.trim
      else {
        val colonAt = l.indexOf(':')
        if (colonAt < 0) throw new IllegalArgumentException(
          s"$path: malformed WARC header line '${l.take(80)}'")
        lastKey = l.substring(0, colonAt).trim.toLowerCase(java.util.Locale.ROOT)
        headers(lastKey) = l.substring(colonAt + 1).trim
      }
    }
    val rawLen = headers.getOrElse("content-length",
      throw new IllegalArgumentException(
        s"$path: WARC record without Content-Length"))
    val contentLength =
      try rawLen.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$path: malformed WARC Content-Length '${rawLen.take(40)}'")
      }
    val toRead = math.min(contentLength, maxPayloadBytes.toLong).toInt
    val block = new Array[Byte](toRead)
    readFully(in, block, toRead)
    if (contentLength > toRead) skipFully(in, contentLength - toRead)
    val truncated = contentLength > toRead

    val warcType = headers.getOrElse("warc-type", "unknown")
    val recCt = headers.get("content-type")
    val isHttp = recCt.exists(_.toLowerCase(java.util.Locale.ROOT)
      .startsWith("application/http"))
    val msg =
      if (isHttp) parseHttp(block, parseHeaders)
      else HttpMsg(None, None, block, None, None, None)
    // undo transfer/content codings (identity messages: two null checks);
    // a capped decode is a truncation — same flag, same contract
    val (payload, decoded, capped) =
      if (decodeHttp && (msg.transferEncoding.isDefined ||
          msg.contentEncoding.isDefined))
        decodeHttpBody(msg.body, msg.transferEncoding, msg.contentEncoding,
          maxPayloadBytes)
      else (msg.body, false, false)
    Some(WarcRow(
      warc_file = path,
      record_index = 0, // filled by parseFile
      warc_type = warcType,
      record_id = headers.get("warc-record-id"),
      target_uri = headers.get("warc-target-uri"),
      warc_date = headers.get("warc-date"),
      content_type = recCt,
      content_length = contentLength,
      http_status = msg.status,
      http_content_type = msg.contentType,
      payload = payload,
      truncated = truncated || capped,
      payload_digest = headers.get("warc-payload-digest"),
      refers_to = headers.get("warc-refers-to"),
      warc_profile = headers.get("warc-profile"),
      http_headers = msg.headers,
      http_transfer_encoding = msg.transferEncoding,
      http_content_encoding = msg.contentEncoding,
      payload_decoded = decoded))
  }

  /** One split HTTP/1.x message: status, first Content-Type, the body
    * bytes AS STORED (no coding undone — [[decodeHttpBody]] is the
    * decode step), the full header map (when asked for), and the
    * message's Transfer-Encoding / Content-Encoding values (always
    * captured — the decode and the [[WarcRow]] coding columns key off
    * them even on `parseHeaders = false` paths).
    */
  private[sources] final case class HttpMsg(
      status: Option[Int],
      contentType: Option[String],
      body: Array[Byte],
      headers: Option[Map[String, String]],
      transferEncoding: Option[String],
      contentEncoding: Option[String])

  /** Split an HTTP/1.x message block into an [[HttpMsg]]. Lenient: a
    * block that does not look like HTTP comes back whole as the body
    * with no header map (a truncated-capture guard — CommonCrawl
    * contains such records). Header names keep their original casing
    * (first occurrence wins the spelling); repeated fields comma-join
    * their values per RFC 9110 §5.2; continuation lines (obs-fold)
    * append to the previous field — a colon-less garbage line between
    * them RESETS the fold target (a continuation after garbage is
    * itself garbage, not the previous field's tail).
    */
  private[sources] def parseHttp(
      block: Array[Byte],
      wantHeaders: Boolean = true): HttpMsg = {
    // find the CRLFCRLF (or LFLF) header/body boundary
    var i = 0
    var bodyAt = -1
    while (bodyAt < 0 && i < block.length) {
      if (block(i) == '\n') {
        if (i + 1 < block.length && block(i + 1) == '\n') bodyAt = i + 2
        else if (i + 2 < block.length && block(i + 1) == '\r' && block(i + 2) == '\n')
          bodyAt = i + 3
        else if (i + 1 == block.length) bodyAt = i + 1
      }
      i += 1
    }
    if (bodyAt < 0) return HttpMsg(None, None, block, None, None, None)
    val head = new String(block, 0, bodyAt, "UTF-8")
    val lines = head.split("\r?\n")
    if (lines.isEmpty || !lines(0).startsWith("HTTP/"))
      return HttpMsg(None, None, block, None, None, None)
    val status = lines(0).split(" ", 3) match {
      case parts if parts.length >= 2 && parts(1).forall(_.isDigit) &&
        parts(1).nonEmpty => Some(parts(1).toInt)
      case _ => None
    }
    // http_content_type is the FIRST Content-Type value — duplicated
    // headers are common in real crawls, and a joined value would corrupt
    // every derived mime field (indexWarc's `mime`, charset sniffs).
    // Transfer-Encoding / Content-Encoding are tracked inline (comma-
    // joined on repeats) so the payload decode never needs the full map.
    var firstCt: String = null
    var te: String = null
    var ce: String = null
    var lastTracked = 0 // which tracked value the last field line fed:
                        // 0 none, 1 first Content-Type, 2 TE, 3 CE
    val byLower =
      if (wantHeaders)
        scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
      else null
    var lastLower: String = null
    lines.iterator.drop(1).filter(_.nonEmpty).foreach { l =>
      if ((l.charAt(0) == ' ' || l.charAt(0) == '\t') && lastLower != null) {
        lastTracked match {
          case 1 => firstCt = firstCt + " " + l.trim
          case 2 => te = te + " " + l.trim
          case 3 => ce = ce + " " + l.trim
          case _ => ()
        }
        if (byLower != null) {
          val (n, v) = byLower(lastLower)
          byLower(lastLower) = (n, v + " " + l.trim)
        }
      } else {
        val at = l.indexOf(':')
        if (at > 0) {
          val name = l.substring(0, at).trim
          val value = l.substring(at + 1).trim
          val lower = name.toLowerCase(java.util.Locale.ROOT)
          lastTracked = lower match {
            case "content-type" =>
              if (firstCt == null) { firstCt = value; 1 } else 0
            case "transfer-encoding" =>
              te = if (te == null) value else te + ", " + value; 2
            case "content-encoding" =>
              ce = if (ce == null) value else ce + ", " + value; 3
            case _ => 0
          }
          if (byLower != null) byLower.get(lower) match {
            case Some((n, v)) =>
              // repeats: comma-joined per RFC 9110 §5.2 — EXCEPT
              // Set-Cookie, which RFC 6265 §3 forbids folding (its values
              // legally contain commas); newline-joined instead, a byte
              // that cannot appear inside a header value, so consumers
              // split losslessly
              val sep = if (lower == "set-cookie") "\n" else ", "
              byLower(lower) = (n, v + sep + value)
            case None => byLower(lower) = (name, value)
          }
          lastLower = lower
        } else { lastTracked = 0; lastLower = null }
      }
    }
    HttpMsg(status, Option(firstCt),
      java.util.Arrays.copyOfRange(block, bodyAt, block.length),
      if (byLower == null) None
      else Some(byLower.valuesIterator.map { case (n, v) => n -> v }.toMap),
      Option(te), Option(ce))
  }

  // ------------------------------------------- HTTP payload decoding
  //
  // Real WARC response records store the RAW captured HTTP message:
  // `Transfer-Encoding: chunked` framing and `Content-Encoding:
  // gzip/deflate` arrive intact (warcio/pywb undo both before handing
  // out payload — `content_stream()`), so every text consumer here
  // (payload_text's WHATWG decode, indexWarc's charset/languages sniff,
  // extraction) must see the DECODED entity bytes or it processes
  // compressed garbage. Decoding is lenient where capture truncation is
  // the cause (a cut-off chunked or gzip stream yields what decoded) and
  // reverting where the coding itself is unsupported or the bytes are
  // not what the header claims — never half-decoded output.

  /** Undo a captured HTTP message body's transfer + content codings.
    * Transfer codings first (outermost on the wire: the entity was
    * content-coded, then transfer-coded for the connection), each list
    * applied in reverse declaration order. Supported codings: `chunked`
    * (RFC 9112 §7.1), `gzip`/`x-gzip`, `deflate`/`x-deflate` (RFC 9110
    * §8.4.1 — deflate tolerating both the correct zlib wrapping and the
    * bare-DEFLATE servers that famously mislabel it), `identity`.
    * `br` and anything else has no JDK decoder — unsupported.
    *
    * Returns `(bytes, decoded, capped)`:
    *   - full success → the decoded entity bytes, `decoded = true` iff
    *     any non-identity coding was undone;
    *   - any step unsupported or not matching its header (first bytes
    *     not gzip, first chunk-size line unparsable) → the ORIGINAL
    *     stored body, `decoded = false` — consumers get a well-defined
    *     state, never a half-decoded middle;
    *   - `capped = true` when decoded output hit `maxOut` (decompression
    *     -bomb guard — the caller flags the row truncated).
    */
  private[sources] def decodeHttpBody(
      body: Array[Byte],
      transferEncoding: Option[String],
      contentEncoding: Option[String],
      maxOut: Int): (Array[Byte], Boolean, Boolean) = {
    var bytes = body
    var ok = true
    var changed = false
    var capped = false
    def take(r: Option[(Array[Byte], Boolean)]): Unit = r match {
      case Some((b, cp)) => bytes = b; changed = true; capped ||= cp
      case None => ok = false
    }
    def applyCoding(c: String): Unit = c match {
      case "identity" | "" => ()
      case "chunked" => take(dechunk(bytes, maxOut))
      case "gzip" | "x-gzip" => take(gunzipLenient(bytes, maxOut))
      case "deflate" | "x-deflate" => take(inflateLenient(bytes, maxOut))
      case _ => ok = false // br and friends: no JDK decoder
    }
    def codings(v: String): Array[String] =
      v.split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty)
    transferEncoding.foreach(te =>
      codings(te).reverseIterator.foreach(c => if (ok) applyCoding(c)))
    contentEncoding.foreach(ce =>
      codings(ce).reverseIterator.foreach(c => if (ok) applyCoding(c)))
    if (ok) (bytes, changed, capped) else (body, false, false)
  }

  /** Undo RFC 9112 §7.1 chunked framing. None when the FIRST chunk-size
    * line is unparsable (the body is not chunked, whatever the header
    * said — fall back to stored bytes); a stream that ends mid-chunk
    * (capture truncation) yields what decoded; chunk extensions and
    * trailer fields are dropped. Second element: output capped at
    * `maxOut`.
    */
  private[sources] def dechunk(
      body: Array[Byte], maxOut: Int): Option[(Array[Byte], Boolean)] = {
    val n = body.length
    var i = 0
    def readLine(): String =
      if (i >= n) null
      else {
        val start = i
        while (i < n && body(i) != '\n') i += 1
        val endEx = if (i > start && body(i - 1) == '\r') i - 1 else i
        val s = new String(body, start, endEx - start,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        if (i < n) i += 1 // the '\n'
        s
      }
    val out = new java.io.ByteArrayOutputStream(math.min(n, 1 << 16))
    var capped = false
    var first = true
    var done = false
    while (!done) {
      val l = readLine()
      if (l == null) done = true // truncated capture: keep what decoded
      else {
        val semi = l.indexOf(';') // chunk extensions dropped
        val sizeTok = (if (semi >= 0) l.substring(0, semi) else l).trim
        val size =
          try java.lang.Long.parseLong(sizeTok, 16)
          catch { case _: NumberFormatException => -1L }
        if (size < 0) {
          if (first) return None // not chunked framing at all
          done = true // junk after valid chunks: end of stream
        } else if (size == 0) {
          done = true // last-chunk; trailers dropped
        } else {
          val avail = math.min(size, (n - i).toLong).toInt
          val room = math.min(avail.toLong, (maxOut - out.size).toLong).toInt
          out.write(body, i, room)
          if (room < avail) capped = true
          i += avail
          if (avail < size || capped) done = true // truncated / capped
          else {
            if (i < n && body(i) == '\r') i += 1
            if (i < n && body(i) == '\n') i += 1
          }
        }
        first = false
      }
    }
    Some((out.toByteArray, capped))
  }

  /** Lenient gunzip: None when the bytes do not start with the gzip
    * magic (mislabeled coding — fall back); a stream torn mid-member
    * (capture truncation, trailing garbage) yields what inflated.
    * Concatenated members read through (`GZIPInputStream` native).
    */
  private[sources] def gunzipLenient(
      bytes: Array[Byte], maxOut: Int): Option[(Array[Byte], Boolean)] = {
    if (bytes.length < 2 || (bytes(0) & 0xff) != 0x1f ||
      (bytes(1) & 0xff) != 0x8b) return None
    val out = new java.io.ByteArrayOutputStream(
      math.min(maxOut.toLong, math.max(64L, bytes.length * 4L)).toInt)
    try {
      val gz = new GZIPInputStream(new ByteArrayInputStream(bytes), 1 << 16)
      val buf = new Array[Byte](8192)
      var capped = false
      var stop = false
      while (!stop) {
        val k = try gz.read(buf) catch { case _: java.io.IOException => -1 }
        if (k < 0) stop = true
        else {
          val room = math.min(k, maxOut - out.size)
          out.write(buf, 0, room)
          if (room < k || out.size >= maxOut) { capped = true; stop = true }
        }
      }
      Some((out.toByteArray, capped))
    } catch {
      // the constructor itself reads the member header — torn there with
      // nothing inflated means nothing decodable
      case _: java.io.IOException =>
        if (out.size > 0) Some((out.toByteArray, false)) else None
    }
  }

  /** Lenient DEFLATE: zlib-wrapped first (the correct `deflate` coding),
    * raw-DEFLATE second (the widespread server mislabel). None when
    * neither inflates a byte; a torn stream yields what inflated.
    */
  private[sources] def inflateLenient(
      bytes: Array[Byte], maxOut: Int): Option[(Array[Byte], Boolean)] =
    inflateWith(bytes, nowrap = false, maxOut)
      .orElse(inflateWith(bytes, nowrap = true, maxOut))

  private def inflateWith(
      bytes: Array[Byte], nowrap: Boolean,
      maxOut: Int): Option[(Array[Byte], Boolean)] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(bytes)
      val out = new java.io.ByteArrayOutputStream(
        math.min(maxOut.toLong, math.max(64L, bytes.length * 4L)).toInt)
      val buf = new Array[Byte](8192)
      var capped = false
      var stop = false
      var corrupt = false
      while (!stop && !inf.finished()) {
        val k =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException =>
            corrupt = true; stop = true; 0 }
        if (k > 0) {
          val room = math.min(k, maxOut - out.size)
          out.write(buf, 0, room)
          if (room < k || out.size >= maxOut) { capped = true; stop = true }
        } else if (!stop && !inf.finished() &&
          (inf.needsInput() || inf.needsDictionary()))
          stop = true // truncated input (or a preset-dictionary stream)
      }
      if (out.size == 0 && !inf.finished()) None
      else if (corrupt && out.size == 0) None
      else Some((out.toByteArray, capped))
    } finally inf.end()
  }
}

