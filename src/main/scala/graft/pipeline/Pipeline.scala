package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.dftly.{Compiler, DictParser, Yaml}
import graft.ops.Dedup

/** Config-driven relational pipelines: the YAML verbs around the dftly
  * expression core (SURVEY.md §7.6). dftly itself is scalar-expression-only
  * (the reference has no joins/aggregations); this layer adds the verbs a
  * pipeline user needs, each lowering to plain DataFrame operations so
  * Catalyst/AQE owns the physical plan.
  *
  * ```yaml
  * source: lineitem
  * steps:
  *   - withColumns:
  *       revenue: $l_extendedprice * (1 - $l_discount)
  *   - filter: $l_quantity > 10
  *   - join: {table: orders, on: {l_orderkey: o_orderkey}, how: inner, broadcast: false}
  *   - groupBy: [l_returnflag]
  *     agg:
  *       total_rev: {sum: $revenue}
  *       n: {count: "*"}
  *   - orderBy: [-total_rev]
  *   - limit: 100
  * ```
  *
  * `withColumns` (and `window.cols`) mean a chain of `withColumn`: each
  * entry sees the outputs of the entries before it, and an existing name is
  * replaced in place. They are built as one projection per dependency layer
  * rather than one per entry, so plan size and analysis cost follow the
  * dependency depth, not the column count.
  *
  * Scale contract: `select`/`withColumns`/`filter` are shuffle-free;
  * `groupBy` aggregates map-side before its single shuffle; `join` takes an
  * explicit `broadcast: true` hint for dimension tables (default leaves the
  * strategy to Catalyst statistics + AQE); `orderBy`+`limit` adjacency lowers
  * to TakeOrderedAndProject (no global sort); `dedupExact` / `nearDupFilter`
  * reuse the graft.ops implementations.
  */
object Pipeline {

  /** Aggregate spec → Column. Arg is a dftly expression (or "*" for count). */
  private def aggColumn(name: String, spec: Any, df: DataFrame): Column = {
    val m = asMap(spec, s"agg '$name'")
    require(m.size == 1, s"agg '$name' needs exactly one {fn: expr} entry, got $m")
    val (fn, rawExpr) = m.head
    def e: Column = compileExpr(rawExpr, df)
    val c = fn match {
      case "sum"            => sum(e)
      case "avg" | "mean"   => avg(e)
      case "min"            => min(e)
      case "max"            => max(e)
      case "count"          => if (rawExpr == "*") count(lit(1)) else count(e)
      case "count_distinct" => count_distinct(e)
      // HyperLogLog++ sketch: constant memory per group at any cardinality —
      // at 100 TB this is the difference between a sketch merge and a
      // full distinct shuffle (bits are engine-specific: test-only checks)
      case "approx_count_distinct" => approx_count_distinct(e)
      case "first"          => first(e, ignoreNulls = true)
      case "collect_set"    => collect_set(e)
      case "stddev"         => stddev(e)
      case other            => throw new IllegalArgumentException(s"Unknown aggregate: $other")
    }
    c.as(name)
  }

  private def compileExpr(raw: Any, df: DataFrame): Column =
    Compiler.compile(DictParser.parse(raw), Some(df.schema))

  /** One output of a `withColumns`-like step: its name, the column names
    * its expression reads, and its lowering against the frame it reads.
    */
  private final case class Derived(name: String, reads: Set[String], build: DataFrame => Column)

  /** Adds or replaces `entries` with the meaning of a left fold of
    * `withColumn` — each entry sees every earlier entry's output, a name
    * that already exists is replaced in place, a new one is appended — but
    * builds one projection per dependency layer instead of one per entry,
    * so analysis cost follows the dependency depth, not the entry count.
    *
    * Every layer constraint points from an earlier entry to a later one,
    * so one forward pass gives each entry its lowest legal layer:
    *   - an entry that reads an earlier entry's output, or redefines its
    *     name, goes in a later layer;
    *   - an entry that redefines a name an earlier entry reads goes no
    *     earlier than that reader, which must not see the new value.
    * Names match with the session resolver, as `withColumn` matches them.
    * Each layer lowers against the previous layer's schema, so
    * schema-directed lowering (string `+`, `??` typing) sees what the fold
    * would show it, and the last layer emits the fold's column order.
    */
  private def withDerived(df: DataFrame, derived: Seq[Derived]): DataFrame = {
    val entries = derived.toVector
    val same = df.sparkSession.sessionState.analyzer.resolver
    val layer = new Array[Int](entries.size)
    for (i <- entries.indices; j <- 0 until i) {
      val (e, p) = (entries(i), entries(j))
      if (same(p.name, e.name) || e.reads.exists(same(p.name, _)))
        layer(i) = layer(i) max (layer(j) + 1)
      if (p.reads.exists(same(e.name, _)))
        layer(i) = layer(i) max layer(j)
    }
    // columns as (name, origin): origin i >= 0 is entry i, -1 - p is
    // source column p; `put` is `withColumn` on names alone
    def put(cols: Vector[(String, Int)], i: Int): Vector[(String, Int)] = {
      val n = entries(i).name
      if (cols.exists(c => same(c._1, n))) cols.map(c => if (same(c._1, n)) (n, i) else c)
      else cols :+ (n -> i)
    }
    val source = df.columns.toVector.zipWithIndex.map { case (n, p) => (n, -1 - p) }
    val target = entries.indices.foldLeft(source)(put)
    val layers = entries.indices.groupBy(layer(_)).toSeq.sortBy(_._1).map(_._2)
    layers.zipWithIndex.foldLeft((df, source)) { case ((cur, cols), (members, k)) =>
      val built = members.map(i => i -> entries(i).build(cur)).toMap
      val attrs = cur.queryExecution.analyzed.output
      // `put` keeps every untouched column at its position in `cur`
      val placed = members.foldLeft(cols)(put)
      val proj = placed.zipWithIndex.map { case ((n, o), p) =>
        built.get(o).fold(ColumnBridge.column(attrs(p)))(_.as(n))
      }
      val order =
        if (k < layers.size - 1) placed.indices
        else {
          // one origin can fill several columns (an entry whose name
          // matched several); pair their occurrences in order
          val at = placed.indices.groupBy(placed(_)._2).map { case (o, ps) => o -> ps.iterator }
          target.map(t => at(t._2).next())
        }
      (cur.select(order.map(proj): _*), placed)
    }._1
  }

  /** Driver-side artifact write with the shard commit protocol: create a
    * dot-prefixed temp, rename into place. Rename failure with the
    * destination absent throws (transient fs fault — don't leave the
    * caller believing a model was written); destination present means a
    * concurrent writer won, and this content is discarded.
    */
  private def writeArtifact(
      spark: SparkSession, out: String, lines: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(out), spark.sparkContext.hadoopConfiguration)
    val dest = new Path(out)
    val parent = dest.getParent
    if (parent != null) fs.mkdirs(parent)
    val tmp = new Path(parent,
      "." + dest.getName + ".inprogress-" + java.util.UUID.randomUUID())
    val os = fs.create(tmp, true)
    try os.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    if (!fs.rename(tmp, dest)) {
      if (fs.exists(dest)) fs.delete(tmp, false)
      else throw new java.io.IOException(
        s"trainTokenizer: rename $tmp -> $dest failed and the destination " +
          "does not exist; the artifact was NOT written")
    }
  }

  private def asMap(v: Any, what: String): Map[String, Any] = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, value) => k.toString -> (value: Any) }.toMap
    case other => throw new IllegalArgumentException(s"$what must be a mapping; got $other")
  }

  private def asSeq(v: Any): Seq[Any] = v match {
    case s: Seq[_]  => s
    case other      => Seq(other)
  }

  private def orderedEntries(v: Any, what: String): Seq[(String, Any)] = v match {
    case m: scala.collection.SeqMap[_, _] =>
      m.toSeq.map { case (k, value) => k.toString -> (value: Any) }
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, value) => k.toString -> (value: Any) }
    case other => throw new IllegalArgumentException(s"$what must be a mapping; got $other")
  }

  /** Run a pipeline over `resolve`-provided tables. The `source` is a table
    * name for `resolve`, or an inline reader spec
    * `{format: csv|json|parquet|orc, path: ..., options: {...}}`.
    */
  def run(spark: SparkSession, yaml: String, resolve: String => DataFrame): DataFrame = {
    val cfg = asMap(Yaml.load(yaml), "pipeline")
    val srcDf = cfg.getOrElse("source",
      throw new IllegalArgumentException("pipeline needs a 'source'")) match {
      case m: scala.collection.Map[_, _] =>
        val sm = asMap(m, "source")
        val path = sm.getOrElse("path",
          throw new IllegalArgumentException("inline source needs a 'path'")).toString
        sm.getOrElse("format", "parquet").toString match {
          // jsonl(.gz/.zst) corpus source: {format: jsonl, path: ...,
          //   schema: "doc_id BIGINT, text STRING", badRecords: keep|drop|fail,
          //   options: {...}} — options thread through like every other format
          case "jsonl" =>
            val opts = sm.get("options") match {
              case Some(o) => asMap(o, "options").map {
                case (k, v) => k -> v.toString
              }.toMap
              case None => Map.empty[String, String]
            }
            graft.sources.Readers.readJsonl(spark, path,
              schema = sm.get("schema").map(_.toString).orNull,
              badRecords = sm.getOrElse("badRecords", "drop").toString,
              options = opts)
          // CSV/TSV tabular source: {format: csv|tsv, path: ...,
          //   schema: "id BIGINT, url STRING", badRecords: keep|drop|fail,
          //   header: false, sep: ",", options: {...}} — the jsonl
          //   contract (explicit schema, authoritative bad-record policy)
          //   for the sidecar-table shape. tsv = csv with a tab separator.
          case f @ ("csv" | "tsv") =>
            val opts = sm.get("options") match {
              case Some(o) => asMap(o, "options").map {
                case (k, v) => k -> v.toString
              }.toMap
              case None => Map.empty[String, String]
            }
            val unsupported = sm.keySet --
              Set("format", "path", "schema", "badRecords", "header", "sep",
                "options")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"$f source supports format/path/schema/badRecords/header/" +
                  s"sep/options; remove: " +
                  unsupported.toSeq.sorted.mkString(", "))
            // precedence: dedicated YAML keys > options map > format
            // default — readCsv's named args are authoritative (applied
            // after options), so fold the options-map spellings in here
            // to keep the legacy `options: {header: "true"}` shape working
            graft.sources.Readers.readCsv(spark, path,
              schema = sm.get("schema").map(_.toString).orNull,
              badRecords = sm.getOrElse("badRecords", "drop").toString,
              sep = sm.get("sep").map(_.toString)
                .orElse(opts.get("sep"))
                .getOrElse(if (f == "tsv") "\t" else ","),
              header = sm.get("header").map(_.toString.toBoolean)
                .orElse(opts.get("header").map(_.toBoolean))
                .getOrElse(false),
              options = opts)
          // WebDataset-style tar shards: {format: tar, path: ...} →
          // (shard, key, data map) sample rows. No reader options exist;
          // an options key is an error, not a silent no-op (the jsonl
          // options-threading lesson)
          case "tar" =>
            // ANY unsupported key is an error — 'schema'/'badRecords' are
            // jsonl-only and would otherwise be silent no-ops here
            val unsupported = sm.keySet -- Set("format", "path")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"tar source supports only 'format' and 'path'; remove: " +
                  unsupported.toSeq.sorted.mkString(", "))
            graft.sources.TarShards.readTarShards(spark, path)
          // WARC crawl archives: {format: warc, path: ...,
          //   maxPayloadBytes: 67108864, text: true} → one row per record
          //   (type, uri, date, http status/content-type, payload,
          //   truncated flag). text (default TRUE) adds the charset-aware
          //   decoded `text` column (BOM → header charset → meta prescan →
          //   UTF-8; WebText.payloadText) — the front-door materialization
          //   real crawls need (~10% of CommonCrawl HTML is
          //   legacy-encoded, and a blind UTF-8 cast mojibakes it).
          //   Column-pruned away when no step reads it.
          case "warc" =>
            // parseHeaders (default true): false skips the per-record
            // http_headers map for hot pipelines that only read
            // payload/status. decodePayloads (default true): false is
            // the raw_stream split — stored block bodies verbatim,
            // chunked/gzip codings left in place
            val unsupported =
              sm.keySet -- Set("format", "path", "maxPayloadBytes", "text",
                "parseHeaders", "decodePayloads")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"warc source supports 'format', 'path', 'maxPayloadBytes', " +
                  s"'text', 'parseHeaders', 'decodePayloads'; remove: " +
                  unsupported.toSeq.sorted.mkString(", "))
            // ensureParallelism: a WARC scan has exactly one task per
            // shard file (whole-archive decode), so an archive with fewer
            // shards than cores would run EVERY downstream CPU-dense leg
            // (text decode, extractContent, langId, signals) at shard
            // width — measured 4-wide on a 32-core box, 3.5 s/stage vs
            // 0.6 s at full width. At crawl scale (shards >> cores) the
            // guard is a planning-time no-op; when it does fire, the one
            // round-robin exchange of parsed records costs far less than
            // the serialized extraction it unblocks.
            val raw = graft.ops.Dedup.ensureParallelism(
              graft.sources.Warc.readWarc(spark, path,
                maxPayloadBytes = sm.get("maxPayloadBytes")
                  .map(_.toString.toInt).getOrElse(64 << 20),
                parseHeaders = sm.get("parseHeaders")
                  .forall(_.toString.toBoolean),
                decodePayloads = sm.get("decodePayloads")
                  .forall(_.toString.toBoolean)))
            if (sm.get("text").forall(_.toString.toBoolean))
              raw.withColumn("text", graft.ops.WebText.payloadText(
                col("payload"), col("http_content_type")))
            else raw
          case "cdxj" =>
            // capture index shards (sources/Cdx.readCdxj): typed capture
            // rows; 'glob' restricts the listing (e.g. "*.cdxj" when the
            // sidecars share a directory with the .warc.gz shards)
            val unsupported = sm.keySet -- Set("format", "path", "glob")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"cdxj source supports 'format', 'path', 'glob'; remove: " +
                  unsupported.toSeq.sorted.mkString(", "))
            graft.sources.Cdx.readCdxj(spark, path,
              glob = sm.get("glob").map(_.toString))
          case "warcIndex" =>
            // build a capture index from sidecar-less .warc.gz/.warc.zst
            // archives (Warc.indexWarc — streaming gzip-member/zstd-frame
            // offset recovery); the frame is readCdxj-shaped and feeds
            // cdxPlan/fetchWarc or the zipnum sink directly. {format:
            // warcIndex, path, maxPayloadBytes?, detectText?} —
            // detectText (default true) populates languages/charset the
            // way the published cc-index does
            // languageCodes (default iso639_1): "iso639_3" emits the
            // published cc-index spelling natively
            val unsupported =
              sm.keySet -- Set("format", "path", "maxPayloadBytes",
                "detectText", "languageCodes")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"warcIndex source supports 'format', 'path', " +
                  s"'maxPayloadBytes', 'detectText', 'languageCodes'; " +
                  s"remove: " + unsupported.toSeq.sorted.mkString(", "))
            graft.sources.Warc.indexWarc(spark, path,
              maxPayloadBytes = sm.get("maxPayloadBytes")
                .map(_.toString.toInt).getOrElse(64 << 20),
              detectText = sm.get("detectText")
                .forall(_.toString.toBoolean),
              languageCodes = sm.get("languageCodes")
                .map(_.toString).getOrElse("iso639_1"))
          case "zipnum" =>
            // ZipNum-clustered capture index (sources/Cdx.queryZipnum):
            // the published cc-index two-level layout — a SURT-prefix
            // query reads the cluster.idx sidecars plus only the matching
            // compressed blocks. {format: zipnum, path, prefix,
            // gapBytes?}; prefix is mandatory (an unprefixed query would
            // fetch the whole index — use the cdxj source for full scans)
            val unsupported =
              sm.keySet -- Set("format", "path", "prefix", "gapBytes")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"zipnum source supports 'format', 'path', 'prefix', " +
                  s"'gapBytes'; remove: " +
                  unsupported.toSeq.sorted.mkString(", "))
            graft.sources.Cdx.queryZipnum(spark, path,
              sm.getOrElse("prefix", throw new IllegalArgumentException(
                "zipnum source needs 'prefix' (a SURT range key, e.g. " +
                  "from Cdx.surtHostPrefix)")).toString,
              sm.get("gapBytes").map(_.toString.toLong).getOrElse(0L))
          case "zipnumLines" =>
            // raw CDXJ lines of a ZipNum directory (Cdx.readZipnumLines):
            // the full-scan/merge entry — feed straight into a zipnum
            // sink to merge N crawls' indexes (path may glob over several
            // directories). {format: zipnumLines, path}
            val unsupported = sm.keySet -- Set("format", "path")
            if (unsupported.nonEmpty)
              throw new IllegalArgumentException(
                s"zipnumLines source supports 'format', 'path'; remove: " +
                  unsupported.toSeq.sorted.mkString(", "))
            graft.sources.Cdx.readZipnumLines(spark, path)
          case fmt =>
            val reader = spark.read.format(fmt)
            val withOpts = sm.get("options") match {
              case Some(o) => asMap(o, "options").foldLeft(reader) {
                case (r, (k, v)) => r.option(k, v.toString)
              }
              case None => reader
            }
            withOpts.load(path)
        }
      case name => resolve(name.toString)
    }
    val steps = asSeq(cfg.getOrElse("steps", Seq.empty))
    val out = steps.foldLeft(srcDf) { (df, rawStep) =>
      applyStep(df, asMap(rawStep, "step"), resolve)
    }
    // optional sink: {path, format: parquet, mode: overwrite, partitionBy: [...]}
    // or a bucketed TABLE sink: {table: name, bucketBy: {n: 8, cols: [...]},
    // sortBy: [...]} — bucketing pre-shuffles once at write time so every
    // later equi-join/aggregation on the bucket columns runs exchange-free
    // (the co-located-join setup for repeatedly-joined 100 TB tables;
    // requires saveAsTable, Spark's bucket metadata lives in the catalog).
    cfg.get("sink").foreach { s =>
      val sm = asMap(s, "sink")
      // WARC response-record sink: {format: warc, path, uri: col,
      // body: col, mode?: overwrite|errorifexists, codec?:
      // gzip|zstd|zstd-dict|none, warcinfo?: true} — one shard per task
      // via Warc.writeWarcResponses (not a DataFrameWriter format);
      // warcinfo: true opens every shard with the conventional
      // warcinfo record
      if (sm.get("format").exists(_.toString == "warc")) {
        // contentEncoding?: gzip stores each HTTP entity content-coded
        // (the real-crawl shape; readers decode by default)
        val unsupported = sm.keySet --
          Set("format", "path", "uri", "body", "mode", "codec",
            "contentType", "warcinfo", "contentEncoding")
        if (unsupported.nonEmpty)
          throw new IllegalArgumentException(
            s"warc sink supports format/path/uri/body/mode/codec/" +
              s"contentType/warcinfo/contentEncoding; remove: " +
              unsupported.toSeq.sorted.mkString(", "))
        graft.sources.Warc.writeWarcResponses(out,
          sm.getOrElse("path", throw new IllegalArgumentException(
            "warc sink needs a 'path'")).toString,
          uriCol = sm.getOrElse("uri", "uri").toString,
          bodyCol = sm.getOrElse("body", "body").toString,
          overwrite = sm.getOrElse("mode", "overwrite").toString == "overwrite",
          contentTypeCol = sm.get("contentType").map(_.toString),
          codec = sm.getOrElse("codec", "gzip").toString,
          warcinfo = sm.get("warcinfo").exists(_.toString.toBoolean),
          contentEncoding = sm.get("contentEncoding")
            .map(_.toString).getOrElse("identity"))
      } else if (sm.get("format").exists(_.toString == "wat")) {
        // WAT metadata sink (Wat.writeWat): one metadata record per row
        // with the links/title envelope JSON — the link-graph artifact
        // next to a warc sink. {format: wat, path, uri, html, mode?,
        // codec?, headers?} — `headers` names a map<string,string>
        // column rendered as the envelope's HTTP Headers.
        val unsupported = sm.keySet --
          Set("format", "path", "uri", "html", "mode", "codec", "headers")
        if (unsupported.nonEmpty)
          throw new IllegalArgumentException(
            s"wat sink supports format/path/uri/html/mode/codec/headers; " +
              "remove: " + unsupported.toSeq.sorted.mkString(", "))
        graft.sources.Wat.writeWat(out,
          sm.getOrElse("path", throw new IllegalArgumentException(
            "wat sink needs a 'path'")).toString,
          uriCol = sm.getOrElse("uri", "uri").toString,
          htmlCol = sm.getOrElse("html", "html").toString,
          overwrite = sm.getOrElse("mode", "overwrite").toString == "overwrite",
          codec = sm.getOrElse("codec", "gzip").toString,
          headersCol = sm.get("headers").map(_.toString))
      } else if (sm.get("format").exists(_.toString == "warcDedup")) {
        // cross-crawl deduplicating WARC sink (Warc.writeWarcDeduped):
        // responses + revisit stubs interleaved, split against a prior
        // crawl's digest index resolved as a TABLE (same hook as
        // decontaminate's evalset). {format: warcDedup, path, uri, body,
        // prior: <table>, priorDigestCol?, withinBatch?, mode?, codec?,
        // contentType?, index?}
        val unsupported = sm.keySet -- Set("format", "path", "uri", "body",
          "prior", "priorDigestCol", "withinBatch", "mode", "codec",
          "contentType", "index")
        if (unsupported.nonEmpty)
          throw new IllegalArgumentException(
            s"warcDedup sink supports format/path/uri/body/prior/" +
              s"priorDigestCol/withinBatch/mode/codec/contentType/index; " +
              "remove: " + unsupported.toSeq.sorted.mkString(", "))
        graft.sources.Warc.writeWarcDeduped(out,
          sm.getOrElse("path", throw new IllegalArgumentException(
            "warcDedup sink needs a 'path'")).toString,
          uriCol = sm.getOrElse("uri", "uri").toString,
          bodyCol = sm.getOrElse("body", "body").toString,
          priorDigests = resolve(sm.getOrElse("prior",
            throw new IllegalArgumentException(
              "warcDedup sink needs 'prior' (a table with the prior " +
                "crawl's digests — an indexWarc/cdxj frame)")).toString),
          priorDigestCol = sm.getOrElse("priorDigestCol", "digest").toString,
          withinBatch = sm.get("withinBatch").forall(_.toString.toBoolean),
          overwrite = sm.getOrElse("mode", "overwrite").toString == "overwrite",
          contentTypeCol = sm.get("contentType").map(_.toString),
          codec = sm.getOrElse("codec", "gzip").toString,
          index = sm.get("index").exists(_.toString.toBoolean))
      } else if (sm.get("format").exists(_.toString == "zipnum")) {
        // ZipNum index sink (Cdx.writeZipnum): a capture frame (the
        // warcIndex/cdxj sources' shape) renders to CDXJ lines first; a
        // frame that already IS lines (single 'value' string column)
        // clusters as-is. {format: zipnum, path, linesPerBlock?,
        // numShards?, mode?}
        val unsupported = sm.keySet --
          Set("format", "path", "linesPerBlock", "numShards", "mode")
        if (unsupported.nonEmpty)
          throw new IllegalArgumentException(
            s"zipnum sink supports format/path/linesPerBlock/numShards/" +
              s"mode; remove: " + unsupported.toSeq.sorted.mkString(", "))
        val lines =
          if (out.columns.sameElements(Array("value"))) out
          else graft.sources.Cdx.cdxjLines(out)
        graft.sources.Cdx.writeZipnum(lines,
          sm.getOrElse("path", throw new IllegalArgumentException(
            "zipnum sink needs a 'path'")).toString,
          linesPerBlock = sm.get("linesPerBlock")
            .map(_.toString.toInt).getOrElse(3000),
          numShards = sm.get("numShards").map(_.toString.toInt).getOrElse(0),
          overwrite = sm.getOrElse("mode", "overwrite").toString == "overwrite")
      } else {
      var w = out.write
        .format(sm.getOrElse("format", "parquet").toString)
        .mode(sm.getOrElse("mode", "overwrite").toString)
      sm.get("partitionBy").foreach(p => w = w.partitionBy(asSeq(p).map(_.toString): _*))
      sm.get("bucketBy").foreach { b =>
        val bm = asMap(b, "bucketBy")
        val cols = asSeq(bm("cols")).map(_.toString)
        w = w.bucketBy(bm("n").toString.toInt, cols.head, cols.tail: _*)
        sm.get("sortBy").foreach { sb =>
          val scols = asSeq(sb).map(_.toString)
          w = w.sortBy(scols.head, scols.tail: _*)
        }
      }
      require(sm.get("sortBy").isEmpty || sm.get("bucketBy").nonEmpty,
        "sink sortBy requires bucketBy (Spark only sorts within buckets)")
      (sm.get("table"), sm.get("path")) match {
        case (Some(_), Some(_)) =>
          throw new IllegalArgumentException(
            "sink takes 'table' OR 'path', not both (a table's location is catalog-managed)")
        case (Some(t), None) => w.saveAsTable(t.toString)
        case (None, Some(p)) =>
          require(sm.get("bucketBy").isEmpty,
            "bucketBy requires a 'table' sink (bucket metadata lives in the catalog)")
          w.save(p.toString)
        case (None, None) =>
          throw new IllegalArgumentException("sink needs a 'path' or a 'table'")
      }
      }
    }
    out
  }

  /** Convenience: tables resolved as `dir/<name>.parquet`. */
  def runOnDir(spark: SparkSession, yaml: String, dir: String): DataFrame =
    run(spark, yaml, name => spark.read.parquet(s"$dir/$name.parquet"))

  /** Run under a custom node registry: every dftly expression in the config
    * (filter/select/agg/...) can use nodes registered on `parser`.
    */
  def run(
      spark: SparkSession,
      yaml: String,
      resolve: String => DataFrame,
      parser: graft.dftly.DftlyParser
  ): DataFrame =
    parser.withActive(run(spark, yaml, resolve))

  private def applyStep(
      df: DataFrame,
      step: Map[String, Any],
      resolve: String => DataFrame
  ): DataFrame = {
    // one verb per step; groupBy carries its agg in the same mapping
    val verbs = step.keySet -- Set("agg")
    require(verbs.size == 1, s"each step needs exactly one verb; got ${step.keySet}")
    verbs.head match {
      case "select" =>
        val cols = orderedEntries(step("select"), "select").map {
          case (name, raw) => compileExpr(raw, df).as(name)
        }
        df.select(cols: _*)

      case "withColumns" =>
        withDerived(df, orderedEntries(step("withColumns"), "withColumns").map {
          case (name, raw) =>
            val node = DictParser.parse(raw)
            Derived(name, node.referencedColumns, d => Compiler.compile(node, Some(d.schema)))
        })

      case "filter" =>
        df.filter(compileExpr(step("filter"), df))

      case "drop" =>
        df.drop(asSeq(step("drop")).map(_.toString): _*)

      case "join" =>
        val j = asMap(step("join"), "join")
        val how = j.getOrElse("how", "inner").toString
        var right = resolve(j.getOrElse("table",
          throw new IllegalArgumentException("join needs a 'table'")).toString)
        if (j.get("broadcast").exists(_.toString.toBoolean)) right = broadcast(right)
        // YAML 1.1 resolves a bare `on` key to boolean true — accept both.
        j.get("on").orElse(j.get("true")).getOrElse(
          throw new IllegalArgumentException("join needs 'on'")) match {
          case m: scala.collection.Map[_, _] =>
            // {leftCol: rightCol} pairs — equi-join on differently-named keys
            val cond = m.map { case (l, r) => df(l.toString) === right(r.toString) }
              .reduce(_ && _)
            df.join(right, cond, how)
          case cols =>
            df.join(right, asSeq(cols).map(_.toString), how)
        }

      case "groupBy" =>
        // plain list of keys, or {cols: [...], mode: group|rollup|cube} —
        // rollup/cube emit subtotal grouping sets (NULL key = subtotal row)
        val (keys, mode) = step("groupBy") match {
          case m: scala.collection.Map[_, _] =>
            val gm = asMap(m, "groupBy")
            (asSeq(gm.getOrElse("cols",
              throw new IllegalArgumentException("groupBy map needs 'cols'"))).map(_.toString),
              gm.getOrElse("mode", "group").toString)
          case other => (asSeq(other).map(_.toString), "group")
        }
        val aggs = orderedEntries(step.getOrElse("agg",
          throw new IllegalArgumentException("groupBy needs 'agg'")), "agg")
          .map { case (name, spec) => aggColumn(name, spec, df) }
        val grouped = mode match {
          case "group"  => df.groupBy(keys.map(col): _*)
          case "rollup" => df.rollup(keys.map(col): _*)
          case "cube"   => df.cube(keys.map(col): _*)
          case other => throw new IllegalArgumentException(
            s"groupBy mode must be group|rollup|cube, got $other")
        }
        grouped.agg(aggs.head, aggs.tail: _*)

      case "except" | "intersect" =>
        // multiset semantics with `all: true` (EXCEPT ALL / INTERSECT ALL),
        // set semantics otherwise; `cols` projects the right table first so
        // the sides line up positionally
        val verb = verbs.head
        val s = asMap(step(verb), verb)
        var right = resolve(s("table").toString)
        s.get("cols").foreach(c =>
          right = right.select(asSeq(c).map(x => col(x.toString)): _*))
        val all = s.get("all").exists(_.toString.toBoolean)
        (verb, all) match {
          case ("except", true)     => df.exceptAll(right)
          case ("except", false)    => df.except(right)
          case ("intersect", true)  => df.intersectAll(right)
          case (_, _)               => df.intersect(right)
        }

      case "orderBy" =>
        df.orderBy(sortCols(asSeq(step("orderBy"))): _*)

      case "limit" =>
        df.limit(step("limit").toString.toInt)

      case "distinct" =>
        df.distinct()

      case "union" =>
        val u = asMap(step("union"), "union")
        df.unionByName(resolve(u("table").toString),
          allowMissingColumns = u.get("allowMissingColumns").exists(_.toString.toBoolean))

      case "repartition" =>
        step("repartition") match {
          case n: Integer => df.repartition(n.intValue())
          case m: scala.collection.Map[_, _] =>
            val mm = asMap(m, "repartition")
            val cols = asSeq(mm.getOrElse("by", Seq.empty)).map(s => col(s.toString))
            mm.get("n") match {
              case Some(n) => df.repartition(n.toString.toInt, cols: _*)
              case None    => df.repartition(cols: _*)
            }
          case other => throw new IllegalArgumentException(s"bad repartition: $other")
        }

      case "dedupExact" =>
        val d = asMap(step("dedupExact"), "dedupExact")
        Dedup.dropExactDuplicates(df,
          d("id").toString, asSeq(d("keys")).map(_.toString))

      case "dedupSegments" =>
        // {id: col, text: col, sep?: "\n", mode?: keep_first|unique_only}
        // — CCNet-style cross-corpus line/paragraph dedup; adds
        // `text_dedup` + `n_segments_removed`
        val d = asMap(step("dedupSegments"), "dedupSegments")
        Dedup.dedupSegmentsAcrossCorpus(df,
          d("id").toString, d("text").toString,
          sep = d.getOrElse("sep", "\n").toString,
          mode = d.getOrElse("mode", "keep_first").toString)

      case "textStats" =>
        graft.ops.TextStats.withTextStats(df, step("textStats").toString)

      case "dropNearDuplicates" =>
        // {id, text, threshold?: 0.8, targetRecall?} — with targetRecall
        // the banding layout is auto-tuned from the S-curve
        // (minhashParamsFor) instead of the fixed 64/16 default
        val d = asMap(step("dropNearDuplicates"), "dropNearDuplicates")
        val thr = d.get("threshold").map(_.toString.toDouble).getOrElse(0.8)
        d.get("targetRecall").map(_.toString.toDouble) match {
          case Some(rec) =>
            Dedup.dropNearDuplicatesAuto(df,
              d("id").toString, d("text").toString,
              threshold = thr, targetRecall = rec)
          case None =>
            Dedup.dropNearDuplicates(df,
              d("id").toString, d("text").toString, threshold = thr)
        }

      case "dedupEmbeddings" =>
        // embedding-cosine near-dup removal: keep the smaller id of every
        // near-duplicate pair. method lsh = auto-tuned sign-bit LSH
        // (planes/tables from corpus size + recall model — the near-dup-
        // threshold scale path); method ivf = cell-bucketed pairs (the
        // low-threshold path; trains k-means centroids driver-side,
        // k·dim doubles). dim is read from the first row when absent.
        val d = asMap(step("dedupEmbeddings"), "dedupEmbeddings")
        val id = d("id").toString
        val vec = d("embedding").toString
        val thr = d.get("threshold").map(_.toString.toDouble).getOrElse(0.9)
        val pairs = d.getOrElse("method", "lsh").toString match {
          case "lsh" =>
            val dim = d.get("dim").map(_.toString.toInt).getOrElse(
              df.select(size(col(vec))).head().getInt(0))
            graft.ops.Similarity.cosineNearDuplicatePairsAuto(
              df, id, vec, thr, dim,
              targetRecall = d.get("targetRecall").map(_.toString.toDouble).getOrElse(0.9))
          case "ivf" =>
            // cells: auto sizes the cell count from the corpus (cells ∝ n,
            // constant expected per-cell population — the scale-safe
            // setting; a fixed count means per-cell pair work grows n²)
            val cells = d.get("cells").map(_.toString) match {
              case Some("auto") => graft.ops.Similarity.ivfCellsFor(df.count(),
                targetCellSize = d.get("targetCellSize").map(_.toString.toInt)
                  .getOrElse(2000))
              case Some(n) => n.toInt
              case None => 16
            }
            val nProbe = d.get("nProbe").map(_.toString.toInt).getOrElse(2)
            // trainSample: true (auto target) or an explicit row target —
            // k-means++-seeded training on a bounded sample, the 100 TB
            // path (full-corpus Lloyd iterations are a cost hole there)
            val cents = d.get("trainSample").map(_.toString) match {
              case Some("true") =>
                graft.ops.Similarity.trainCentroidsSampled(df, vec, cells)
              case Some(n) if n.nonEmpty && n.forall(_.isDigit) =>
                graft.ops.Similarity.trainCentroidsSampled(df, vec, cells,
                  sampleTarget = n.toInt)
              case Some(other) => throw new IllegalArgumentException(
                s"trainSample must be true or a row target, got $other")
              case None => graft.ops.Similarity.trainCentroids(df, vec, cells)
            }
            // quantized: true rides int8 payloads through the bucket
            // exchange (~3x less shuffle, ~4x less aggregation state;
            // exact re-score join on survivors) — for memory-bound
            // clusters / wide embeddings; costs extra stages when the
            // buckets fit comfortably (measured ~3x wall at SF1/64-dim)
            if (d.get("quantized").exists(_.toString.toBoolean))
              graft.ops.Similarity.cosineNearDuplicatePairsIvfQuantized(
                df, id, vec, thr, cents, nProbe)
            else graft.ops.Similarity.cosineNearDuplicatePairsIvf(
              df, id, vec, thr, cents, nProbe)
          case other => throw new IllegalArgumentException(
            s"dedupEmbeddings method must be lsh|ivf, got $other")
        }
        val drops = pairs.select(col("id_b").as("__drop_id")).distinct()
        df.join(drops, df(id) === col("__drop_id"), "left_anti")

      case "asOfJoin" =>
        val j = asMap(step("asOfJoin"), "asOfJoin")
        graft.ops.TemporalJoin.asOfJoin(
          df, resolve(j("table").toString),
          asSeq(j("keys")).map(_.toString),
          j("leftTs").toString, j("rightTs").toString,
          asSeq(j("rightCols")).map(_.toString),
          j.get("tolerance").map(t => org.apache.spark.sql.functions.expr(t.toString)))

      case "window" =>
        // windowed analytics: {partitionBy: [...], orderBy: [...: "-col" desc],
        // cols: {out: row_number|rank|dense_rank|lag:<expr>|lead:<expr>|
        //        sum:<expr>|...}}
        val wspec = asMap(step("window"), "window")
        val partitionBy = asSeq(wspec.getOrElse("partitionBy", Seq.empty)).map(_.toString)
        val orderBy = wspec.get("orderBy").map(asSeq).getOrElse(Seq.empty)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(partitionBy.map(col): _*)
          .orderBy(sortCols(orderBy): _*)
        // every column reads the spec's keys; all name parts count, so a
        // nested field or qualified name depends on whatever defines a part
        val specReads = (partitionBy ++ orderBy.map(_.toString.stripPrefix("-")))
          .flatMap(UnresolvedAttribute.parseAttributeName).toSet
        withDerived(df, orderedEntries(wspec.getOrElse("cols",
          throw new IllegalArgumentException("window needs 'cols'")), "window.cols")
          .map { case (name, spec) =>
            def ranking(f: Column) = Derived(name, specReads, _ => f.over(w))
            spec match {
              case "row_number" => ranking(row_number())
              case "rank"       => ranking(rank())
              case "dense_rank" => ranking(dense_rank())
              case m: scala.collection.Map[_, _] =>
                val fm = asMap(m, s"window col '$name'")
                require(fm.size == 1, s"window col '$name' needs one {fn: expr}")
                val (fn, rawExpr) = fm.head
                val agg: Column => Column = fn match {
                  case "sum"   => sum
                  case "avg"   => avg
                  case "min"   => min
                  case "max"   => max
                  case "count" => count
                  case "lag"   => lag(_, 1)
                  case "lead"  => lead(_, 1)
                  case other =>
                    throw new IllegalArgumentException(s"Unknown window fn: $other")
                }
                val node = DictParser.parse(rawExpr)
                Derived(name, specReads ++ node.referencedColumns,
                  d => agg(Compiler.compile(node, Some(d.schema))).over(w))
              case other =>
                throw new IllegalArgumentException(s"bad window col '$name': $other")
            }
          })

      case "qualitySignals" =>
        graft.ops.Corpus.withQualitySignals(df, step("qualitySignals").toString)

      // extended Gopher repetition/format signals + keep_full:
      // {repetitionSignals: text} or {repetitionSignals: {text: ...,
      // n: 5, lang: en}} — lang keys the stopword-hits gate (LangId's
      // 28-language table; stoplist-less languages disable the gate)
      case "repetitionSignals" =>
        step("repetitionSignals") match {
          case m: scala.collection.Map[_, _] =>
            val rm = asMap(m, "repetitionSignals")
            graft.ops.Corpus.withRepetitionSignals(df, rm("text").toString,
              rm.get("n").map(_.toString.toInt).getOrElse(5),
              lang = rm.getOrElse("lang", "en").toString)
          case c => graft.ops.Corpus.withRepetitionSignals(df, c.toString)
        }

      // engine-portable KMV distinct estimate per group:
      // {approxDistinct: {by: [cols], value: col, k: 256, seed: 42}}
      case "approxDistinct" =>
        val ad = asMap(step("approxDistinct"), "approxDistinct")
        graft.ops.Corpus.approxDistinct(df,
          asSeq(ad("by")).map(_.toString),
          ad("value").toString,
          ad.get("k").map(_.toString.toInt).getOrElse(256),
          ad.get("seed").map(_.toString.toLong).getOrElse(42L))

      // URL canonicalization: {canonicalizeUrl: {url: col, as?: in-place}}
      case "canonicalizeUrl" =>
        val cu = asMap(step("canonicalizeUrl"), "canonicalizeUrl")
        val urlCol = cu("url").toString
        df.withColumn(cu.get("as").map(_.toString).getOrElse(urlCol),
          graft.ops.WebText.canonicalizeUrl(col(urlCol)))

      // One-row corpus data card: {report: textCol}
      case "report" =>
        graft.ops.Corpus.report(df, step("report").toString)

      // Bloom cross-corpus membership: {bloomSeen: {ref: table, column: c,
      //   expectedItems: N, fpp: 0.01, mode: mark|drop, flag: seen}} —
      // build the filter from the resolved reference table (driver holds
      // only the bit array), then mark or drop map-side.
      case "bloomSeen" =>
        val bs = asMap(step("bloomSeen"), "bloomSeen")
        val refDf = resolve(bs("ref").toString)
        val column = bs("column").toString
        val bloom = graft.ops.Decontam.buildBloom(refDf, column,
          bs("expectedItems").toString.toLong,
          bs.get("fpp").map(_.toString.toDouble).getOrElse(0.01))
        bs.getOrElse("mode", "mark").toString match {
          case "mark" => graft.ops.Decontam.markSeenBloom(df, column, bloom,
            bs.get("flag").map(_.toString).getOrElse("seen"))
          case "drop" => graft.ops.Decontam.dropSeenBloom(df, column, bloom)
          case other => throw new IllegalArgumentException(
            s"bloomSeen mode must be mark|drop, got $other")
        }

      // Snapshot diff/delta against a resolved old snapshot:
      // {snapshotDiff: {old: table, id: doc_id, content: [text],
      //   mode: diff|delta}} — diff returns (id, status); delta returns
      // the new/changed rows of the CURRENT frame.
      case "snapshotDiff" =>
        val sd = asMap(step("snapshotDiff"), "snapshotDiff")
        val oldDf = resolve(sd("old").toString)
        val id = sd("id").toString
        val content = asSeq(sd("content")).map(_.toString)
        sd.getOrElse("mode", "diff").toString match {
          case "diff"  => graft.ops.SnapshotDiff.diff(oldDf, df, id, content)
          case "delta" => graft.ops.SnapshotDiff.delta(oldDf, df, id, content)
          case other => throw new IllegalArgumentException(
            s"snapshotDiff mode must be diff|delta, got $other")
        }

      // SemDeDup semantic dedup: {semanticDedup: {id: ..., embedding: ...,
      //   threshold: 0.85, targetCellSize: 2000}} — dominance prune within
      // auto-trained k-means cells (see Similarity.semanticDedup)
      case "semanticDedup" =>
        val sd = asMap(step("semanticDedup"), "semanticDedup")
        graft.ops.Similarity.semanticDedup(df,
          sd("id").toString,
          sd("embedding").toString,
          sd.get("threshold").map(_.toString.toDouble).getOrElse(0.9),
          targetCellSize =
            sd.get("targetCellSize").map(_.toString.toInt).getOrElse(2000),
          seed = sd.get("seed").map(_.toString.toLong).getOrElse(42L))

      case "quota" =>
        val q = asMap(step("quota"), "quota")
        graft.ops.Corpus.perKeyQuota(df,
          asSeq(q("keys")).map(_.toString),
          sortCols(asSeq(q("orderBy"))),
          q("k").toString.toInt)

      case "sample" =>
        // {fraction: 0.1, seed: 42} or stratified {fraction: {..per-key..},
        // by: col, seed}: seeded => deterministic and reproducible run-to-run
        val sp = asMap(step("sample"), "sample")
        val seed = sp.getOrElse("seed", 42).toString.toLong
        sp("fraction") match {
          case m: scala.collection.Map[_, _] =>
            val by = sp.getOrElse("by",
              throw new IllegalArgumentException("stratified sample needs 'by'")).toString
            // Stratify on the column CAST to string (YAML keys are strings;
            // sampleBy silently drops any stratum whose value isn't a key).
            // Only string/integral columns cast to strings that can equal a
            // YAML key textually — a DOUBLE renders "1.0" vs key "1" and
            // would silently sample zero rows, so reject those up front.
            import org.apache.spark.sql.types._
            df.schema(by).dataType match {
              case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType => ()
              case other => throw new IllegalArgumentException(
                s"stratified sample 'by' column must be string/integral/boolean " +
                  s"(YAML keys are strings; $other values never equal them textually) — cast upstream")
            }
            // materialize to a plain immutable Map — the YAML-backed mapping
            // is not serializable and sampleBy ships the fractions to tasks
            val fracs: Map[String, Double] = asMap(m, "sample.fraction").toSeq
              .map { case (k, v) => k -> v.toString.toDouble }.toMap
            val stratum = Iterator.from(0).map(i => s"__stratum$i")
              .find(n => !df.columns.contains(n)).get
            df.withColumn(stratum, col(by).cast("string"))
              .stat.sampleBy(stratum, fracs, seed)
              .drop(stratum)
          case f => df.sample(withReplacement = false, f.toString.toDouble, seed)
        }

      case "sampleDeterministic" =>
        // content-keyed md5-rank sample (ops/Sampling.scala): the row set is
        // a pure function of the data — reproducible across engines,
        // cluster sizes, and partitionings, unlike the RNG `sample` above
        val sp = asMap(step("sampleDeterministic"), "sampleDeterministic")
        graft.ops.Sampling.deterministicSample(
          df, sp("key").toString, sp("fraction").toString.toDouble,
          sp.get("seed").map(_.toString.toLong).getOrElse(42L))

      case "takePerStratum" =>
        val sp = asMap(step("takePerStratum"), "takePerStratum")
        graft.ops.Sampling.topKPerStratum(
          df, asSeq(sp("by")).map(_.toString), sp("k").toString.toInt,
          sp("key").toString,
          sp.get("seed").map(_.toString.toLong).getOrElse(42L),
          sp.get("saltBuckets").map(_.toString.toInt).getOrElse(32))

      case "sitemaps" =>
        // explode sitemap XML documents into one row per discovered URL
        // (urlset entries + sitemapindex children); {xml: column}
        val p = asMap(step("sitemaps"), "sitemaps")
        graft.ops.Sitemaps.parseSitemaps(df, p("xml").toString)

      case "cdxPlan" =>
        // captures (the cdxj source's frame, filtered) → per-WARC-file
        // coalesced byte ranges; {gapBytes: 0}
        val p = asMap(step("cdxPlan"), "cdxPlan")
        graft.sources.Cdx.fetchPlan(df,
          p.get("gapBytes").map(_.toString.toLong).getOrElse(0L))

      case "fetchWarc" =>
        // the frame IS a fetch plan (filename/range_start/range_end) —
        // replace it with the decoded records of exactly those byte
        // ranges; {dir: archiveDir, maxPayloadBytes?, maxRangeBytes?}
        val p = asMap(step("fetchWarc"), "fetchWarc")
        graft.sources.Warc.readWarcRanges(df.sparkSession,
          p.getOrElse("dir", throw new IllegalArgumentException(
            "fetchWarc needs 'dir' (the archive directory)")).toString,
          df,
          p.get("maxPayloadBytes").map(_.toString.toInt).getOrElse(64 << 20),
          p.get("maxRangeBytes").map(_.toString.toLong).getOrElse(1L << 30))

      case "resolveRevisits" =>
        // the frame is a WARC record frame (warc source / fetchWarc):
        // resolve revisit stubs to their originals' payloads by payload
        // digest (the CommonCrawl multi-crawl dedup convention); adds
        // `resolved_from`. No options: the linkage is entirely in the
        // records' own headers.
        graft.sources.Warc.resolveRevisits(df)

      case "dsirSelect" =>
        // DSIR data selection (ops/Dsir.scala): importance weights of each
        // row against a TARGET exemplar table under hashed-n-gram bag
        // models. {target: table, id:, text:, k?, nibbles: 3, maxN: 2,
        // seed: 42} — with k the frame BECOMES the Gumbel top-k sample
        // (softmax(log_weight) without replacement); without k it just
        // gains log_weight for downstream thresholds/analysis.
        val p = asMap(step("dsirSelect"), "dsirSelect")
        val target = resolve(p.getOrElse("target",
          throw new IllegalArgumentException("dsirSelect needs 'target'")).toString)
        val id = p("id").toString
        val text = p("text").toString
        val nib = p.get("nibbles").map(_.toString.toInt).getOrElse(3)
        val mN = p.get("maxN").map(_.toString.toInt).getOrElse(2)
        p.get("k") match {
          case Some(k) => graft.ops.Dsir.dsirSample(df, target, id, text,
            k.toString.toInt, nib, mN,
            p.get("seed").map(_.toString.toLong).getOrElse(42L))
          case None =>
            graft.ops.Dsir.dsirLogWeights(df, target, id, text, nib, mN)
        }

      case "hostRank" =>
        // host-level PageRank attached per page (ops/LinkGraph.scala):
        // build the cross-host link graph from (url, html), run the damped
        // power iteration, join each page's host rank back as `as`. Hosts
        // with no cross-host edge on either side stay null — the graph has
        // no evidence about them; coalesce downstream if a floor is wanted.
        val p = asMap(step("hostRank"), "hostRank")
        val as = p.getOrElse("as", "host_rank").toString
        require(!df.columns.contains(as),
          s"hostRank adds '$as'; rename the existing column or set 'as'")
        val ranks = graft.ops.LinkGraph.rankHosts(
          df, p("url").toString, p("html").toString,
          p.get("iterations").map(_.toString.toInt).getOrElse(10),
          p.get("damping").map(_.toString.toDouble).getOrElse(0.85))
        df.withColumn("__lg_host",
            graft.ops.WebText.urlHost(col(p("url").toString)))
          .join(ranks.withColumnRenamed("host", "__lg_host")
            .withColumnRenamed("rank", as), Seq("__lg_host"), "left")
          .drop("__lg_host")

      case "domainRank" =>
        // domain-level PageRank mass attached per page (LinkGraph
        // .rankDomains): host ranks aggregated to registrable domains
        // (PSL eTLD+1) and joined back as `as`. Same options as hostRank
        // plus pslFile (full published Public Suffix List; default the
        // compact built-in subset).
        val p = asMap(step("domainRank"), "domainRank")
        val as = p.getOrElse("as", "domain_rank").toString
        require(!df.columns.contains(as),
          s"domainRank adds '$as'; rename the existing column or set 'as'")
        val rules = p.get("pslFile") match {
          case Some(f) =>
            graft.ops.expr.PslRules.parse(new String(
              java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(f.toString)), "UTF-8"))
          case None => graft.ops.expr.PslRules.default
        }
        val ranks = graft.ops.LinkGraph.rankDomains(
          df, p("url").toString, p("html").toString,
          p.get("iterations").map(_.toString.toInt).getOrElse(10),
          p.get("damping").map(_.toString.toDouble).getOrElse(0.85),
          rules)
        df.withColumn("__lg_domain",
            graft.ops.WebText.registrableDomainPsl(
              graft.ops.WebText.urlHost(col(p("url").toString)), rules))
          .join(ranks.withColumnRenamed("domain", "__lg_domain")
            .withColumnRenamed("rank", as), Seq("__lg_domain"), "left")
          .drop("__lg_domain")

      case "mix" =>
        // deterministic data mixture over named sources ('$self' = the
        // current frame); exact-count mode (total + weights) or the
        // map-only fraction mode (fractions)
        val sp = asMap(step("mix"), "mix")
        val named = orderedEntries(sp("sources"), "mix.sources").map {
          case (name, tbl) =>
            name -> (if (tbl == "$self") df else resolve(tbl.toString))
        }
        val key = sp("key").toString
        val seed = sp.get("seed").map(_.toString.toLong).getOrElse(42L)
        (sp.get("total"), sp.get("weights"), sp.get("fractions")) match {
          case (Some(total), Some(w), None) =>
            graft.ops.Sampling.mixCorpora(
              named,
              orderedEntries(w, "mix.weights").map { case (n, v) =>
                n -> v.toString.toDouble },
              total.toString.toLong, key, seed)
          case (None, None, Some(f)) =>
            graft.ops.Sampling.mixCorporaByFraction(
              named,
              orderedEntries(f, "mix.fractions").map { case (n, v) =>
                n -> v.toString.toDouble },
              key, seed)
          case _ => throw new IllegalArgumentException(
            "mix needs either (total + weights) or (fractions), not a blend")
        }

      case "split" =>
        val sp = asMap(step("split"), "split")
        // ordered: weight order defines the bucket-threshold layout
        val weights = orderedEntries(sp("weights"), "split.weights")
          .map { case (k, v) => k -> v.toString.toDouble }
        graft.ops.Corpus.assignSplit(df, sp("id").toString, weights,
          seed = sp.get("seed").map(_.toString.toLong).getOrElse(0L))

      case "sessionize" =>
        val sz = asMap(step("sessionize"), "sessionize")
        graft.ops.StreamingOps.sessionize(df,
          asSeq(sz("keys")).map(_.toString),
          sz("ts").toString, sz("gap").toString,
          sz.getOrElse("delay", "0 seconds").toString)

      case "rangeJoin" =>
        val j = asMap(step("rangeJoin"), "rangeJoin")
        graft.ops.TemporalJoin.rangeJoin(
          df, resolve(j("table").toString),
          asSeq(j("keys")).map(_.toString),
          j("leftTs").toString, j("rightStart").toString, j("rightEnd").toString,
          j("bucketMicros").toString.toLong)

      case "chunk" =>
        val c = asMap(step("chunk"), "chunk")
        graft.ops.Corpus.chunkDocuments(df,
          c("id").toString, c("text").toString,
          c("chunkTokens").toString.toInt,
          c.get("overlapTokens").map(_.toString.toInt).getOrElse(0))

      case "bm25" =>
        // {id:, text:, query: [tokens], k: optional top-k}
        val b = asMap(step("bm25"), "bm25")
        val query = asSeq(b("query")).map(_.toString)
        b.get("k") match {
          case Some(k) => graft.ops.Retrieval.bm25TopK(df,
            b("id").toString, b("text").toString, query, k.toString.toInt)
          case None => graft.ops.Retrieval.bm25(df,
            b("id").toString, b("text").toString, query)
        }

      case "clusterDuplicates" =>
        // transitive near-dup families from exact-Jaccard pairs;
        // mode: keep (default — one representative per family) | assign
        // (adds a `cluster` column)
        val c = asMap(step("clusterDuplicates"), "clusterDuplicates")
        val id = c("id").toString
        val pairs = Dedup.jaccardPairs(df, id, c("text").toString,
          threshold = c.get("threshold").map(_.toString.toDouble).getOrElse(0.8),
          // optional stop-gram ceiling: bounded candidate volume on
          // boilerplate-heavy corpora (lossy — see jaccardPairs scaladoc)
          maxGramDf = c.get("maxGramDf").map(_.toString.toLong).getOrElse(0L))
        c.getOrElse("mode", "keep").toString match {
          case "keep"   => graft.ops.Cluster.keepClusterRepresentatives(df, id, pairs)
          case "assign" => graft.ops.Cluster.assignClusters(df, id, pairs)
          case other => throw new IllegalArgumentException(
            s"clusterDuplicates mode must be keep|assign, got $other")
        }

      case "profile" =>
        // list of columns, or {cols: [...], approx: false, accuracy: N} —
        // quartiles are approx_percentile (bounded sketch state, the only
        // scale-safe default) unless `approx: false` opts into the exact
        // percentile's distinct-value-map state
        step("profile") match {
          case m: scala.collection.Map[_, _] =>
            val pm = asMap(m, "profile")
            graft.ops.Corpus.profile(df,
              asSeq(pm.getOrElse("cols",
                throw new IllegalArgumentException("profile map needs 'cols'")))
                .map(_.toString),
              // toString.toBoolean like every other boolean option here:
              // a YAML STRING 'false' must behave like the bare boolean
              approx = pm.get("approx").forall(_.toString.toBoolean),
              accuracy = pm.get("accuracy").map(_.toString.toInt).getOrElse(10000))
          case cols => graft.ops.Corpus.profile(df, asSeq(cols).map(_.toString))
        }

      case "globalIndex" =>
        // {orderBy: [...("-col" desc)], as: pos} — contiguous 0-based index
        // in the total order (range exchange + broadcast offsets, never a
        // single-partition window)
        val g = asMap(step("globalIndex"), "globalIndex")
        graft.ops.Packing.withGlobalIndex(df,
          sortCols(asSeq(g.getOrElse("orderBy",
            throw new IllegalArgumentException("globalIndex needs 'orderBy'")))),
          g.getOrElse("as", "pos").toString)

      case "shuffle" =>
        // {id: uniqueCol, seed: N, as: pos} — reproducible global permutation
        // (same data+seed => same order on any cluster size; new epoch = new
        // seed)
        val sh = asMap(step("shuffle"), "shuffle")
        graft.ops.Packing.deterministicShuffle(df, sh("id").toString,
          sh.getOrElse("seed", 0).toString.toLong,
          sh.getOrElse("as", "pos").toString)

      case "pack" =>
        // {id:, text: col | tokens: expr, seqTokens: L, orderBy: [...]} —
        // concat-and-cut fragments; default order is by id (shuffle first
        // and order by its pos column to pack a shuffled epoch)
        val p = asMap(step("pack"), "pack")
        val id = p("id").toString
        val nToks = (p.get("tokens"), p.get("text")) match {
          case (Some(e), None) => compileExpr(e, df)
          case (None, Some(t)) => graft.ops.TextStats.tokenCountWs(col(t.toString))
          case _ => throw new IllegalArgumentException(
            "pack needs exactly one of 'text' (column) or 'tokens' (expression)")
        }
        val orderCols = p.get("orderBy").map(o => sortCols(asSeq(o)))
          .getOrElse(Seq(col(id).asc))
        graft.ops.Packing.packSequences(df, id, nToks,
          p("seqTokens").toString.toInt, orderCols)

      case "maskSpans" =>
        // {id:, text:, window: 8, minRepeats: 2} — corpus-repeated window
        // masking (Dedup.maskRepeatedSpans): adds text_clean,
        // n_repeated_windows, n_tokens_removed alongside the input columns
        val m = asMap(step("maskSpans"), "maskSpans")
        Dedup.maskRepeatedSpans(df, m("id").toString, m("text").toString,
          windowTokens = m.get("window").map(_.toString.toInt).getOrElse(8),
          minRepeats = m.get("minRepeats").map(_.toString.toInt).getOrElse(2))

      case "stripBoilerplate" =>
        // maskSpans + drop: rewrites the text column with the masked text
        // and removes documents that were entirely repeated spans
        val m = asMap(step("stripBoilerplate"), "stripBoilerplate")
        Dedup.removeRepeatedSpans(df, m("id").toString, m("text").toString,
          windowTokens = m.get("window").map(_.toString.toInt).getOrElse(8),
          minRepeats = m.get("minRepeats").map(_.toString.toInt).getOrElse(2))

      case "perplexity" =>
        // {id, text, train?: table (default: self), smoothing?:
        // laplace|kn, discount?: 0.75} — bigram-LM quality scores joined
        // back onto the frame (left: docs with <2 tokens get null ppl),
        // so `- filter: $ppl < N` composes downstream. `kn` = interpolated
        // Kneser–Ney, the KenLM-class smoothing of real CCNet filtering.
        val pp = asMap(step("perplexity"), "perplexity")
        val id = pp("id").toString
        val train = pp.get("train").map(tn => resolve(tn.toString)).getOrElse(df)
        val trainText = pp.getOrElse("trainText", pp("text")).toString
        val scores = pp.getOrElse("smoothing", "laplace").toString match {
          case "laplace" => graft.ops.LangModel.scorePerplexity(
            df, id, pp("text").toString, train, trainText)
          case "kn" => graft.ops.LangModel.scorePerplexityKneserNey(
            df, id, pp("text").toString, train, trainText,
            discount = pp.getOrElse("discount", 0.75).toString.toDouble)
          case other => throw new IllegalArgumentException(
            s"perplexity smoothing must be laplace|kn, got '$other'")
        }
        df.join(scores, Seq(id), "left")

      case "tokenize" =>
        // {text: col, as?: tokens, merges?: path, vocab?: path,
        // vocabTxt?: path, lowercase?: false} — exact byte-level BPE ids
        // under a published merges.txt, Unigram-LM ids under a
        // SentencePiece-style .vocab text file, OR WordPiece ids under a
        // BERT-family vocab.txt (at most one of merges/vocab/vocabTxt;
        // none: BPE over the bare byte alphabet). The model loads
        // driver-side once and rides the task binary; all three kernels
        // are codegen'd and map-only.
        val tk = asMap(step("tokenize"), "tokenize")
        val out = tk.getOrElse("as", "tokens").toString
        val text = col(tk("text").toString)
        (tk.get("merges"), tk.get("vocab"), tk.get("vocabTxt")) match {
          case (m, v, w) if Seq(m, v, w).count(_.isDefined) > 1 =>
            throw new IllegalArgumentException(
              "tokenize takes at most one of 'merges' (BPE), 'vocab' " +
                "(Unigram), 'vocabTxt' (WordPiece)")
          case (_, Some(v), _) =>
            df.withColumn(out, graft.ops.TextStats.tokenizeUnigram(text,
              graft.ops.expr.UnigramModel.fromVocabFile(v.toString)))
          case (_, _, Some(w)) =>
            df.withColumn(out, graft.ops.TextStats.tokenizeWordPiece(text,
              graft.ops.expr.WordPieceModel.fromVocabFile(w.toString,
                lowercase = tk.get("lowercase").exists(_.toString.toBoolean))))
          case (m, None, None) =>
            val model = m match {
              case Some(p) => graft.ops.expr.BpeModel.fromMergesFile(p.toString)
              case None    => graft.ops.expr.BpeModel.empty
            }
            df.withColumn(out, graft.ops.TextStats.tokenizeBpe(text, model))
        }

      case "trainTokenizer" =>
        // {kind: bpe|unigram|wordpiece, text: col, out: path,
        //  numMerges: N (bpe) | vocabSize: N (unigram/wordpiece),
        //  maxWords?: 65536, lowercase?: false (wordpiece)} — train a
        // tokenizer ON the pipeline's current frame and write the model
        // artifact (merges.txt / .vocab / vocab.txt) that the `tokenize:`
        // verb consumes, closing the config-only loop: a YAML user can
        // now build the vocabulary AND apply it without touching Scala.
        // EAGER (training is an action); the frame passes through
        // unchanged so tokenize can follow in the same pipeline. The
        // artifact commits via write-temp-then-rename (the tar-shard
        // protocol): a transient rename failure throws rather than
        // leaving a half-written model.
        val tt = asMap(step("trainTokenizer"), "trainTokenizer")
        val ttText = tt.getOrElse("text",
          throw new IllegalArgumentException(
            "trainTokenizer needs a 'text' column")).toString
        val ttOut = tt.getOrElse("out",
          throw new IllegalArgumentException(
            "trainTokenizer needs an 'out' artifact path")).toString
        val maxWords = tt.get("maxWords").map(_.toString.toInt).getOrElse(65536)
        val lines: Seq[String] = tt.getOrElse("kind",
          throw new IllegalArgumentException(
            "trainTokenizer needs kind: bpe|unigram|wordpiece")).toString match {
          case "bpe" =>
            val (_, ls) = graft.ops.BpeTrain.trainFromCorpus(df, ttText,
              numMerges = tt.getOrElse("numMerges",
                throw new IllegalArgumentException(
                  "trainTokenizer kind=bpe needs numMerges")).toString.toInt,
              maxWords = maxWords)
            ls
          case "unigram" =>
            graft.ops.UnigramTrain.trainFromCorpus(df, ttText,
              vocabSize = tt.getOrElse("vocabSize",
                throw new IllegalArgumentException(
                  "trainTokenizer kind=unigram needs vocabSize")).toString.toInt,
              maxWords = maxWords)._1.toVocabLines
          case "wordpiece" =>
            graft.ops.WordPieceTrain.trainFromCorpus(df, ttText,
              vocabSize = tt.getOrElse("vocabSize",
                throw new IllegalArgumentException(
                  "trainTokenizer kind=wordpiece needs vocabSize")).toString.toInt,
              maxWords = maxWords,
              lowercase = tt.get("lowercase").exists(_.toString.toBoolean))._2
          case other => throw new IllegalArgumentException(
            s"trainTokenizer kind must be bpe|unigram|wordpiece, got $other")
        }
        writeArtifact(df.sparkSession, ttOut, lines)
        df

      case "fixEncoding" =>
        // {text: col, as: out (default: rewrite in place), passes: 3} —
        // mojibake repair (cp1252/latin-1-misdecoded UTF-8, incl. double
        // encoding); see graft.ops.expr.Mojibake for the contract
        val fe = asMap(step("fixEncoding"), "fixEncoding")
        val src = fe("text").toString
        df.withColumn(fe.getOrElse("as", src).toString,
          graft.ops.TextStats.fixEncoding(col(src),
            fe.get("passes").map(_.toString.toInt).getOrElse(3)))

      case "stripHtml" =>
        // {html: col, as: out (default: rewrite in place)} — lexical HTML
        // strip: script/style/head blocks with content, tags, common
        // entities, whitespace collapse (graft.ops.WebText.stripHtml)
        val sh = asMap(step("stripHtml"), "stripHtml")
        val src = sh("html").toString
        df.withColumn(sh.getOrElse("as", src).toString,
          graft.ops.WebText.stripHtml(col(src)))

      case "extractContent" =>
        // {html: col, as: out (default: rewrite in place), lang?: en,
        // lengthLow?, lengthHigh?, maxLinkDensity?} — DOM-block
        // main-content extraction (jusText-style block classification;
        // see graft.ops.expr.HtmlContent): keeps content blocks, drops
        // nav/header/footer/link-list/short-chrome boilerplate. `lang`
        // keys the stopword list (the LangId 28-language table;
        // stoplist-less languages run jusText's no-stoplist mode)
        val ec = asMap(step("extractContent"), "extractContent")
        val src = ec("html").toString
        val base = graft.ops.expr.HtmlContent.rulesForLang(
          ec.getOrElse("lang", "en").toString)
        val rules = base.copy(
          lengthLow = ec.get("lengthLow").map(_.toString.toInt)
            .getOrElse(base.lengthLow),
          lengthHigh = ec.get("lengthHigh").map(_.toString.toInt)
            .getOrElse(base.lengthHigh),
          maxLinkDensity = ec.get("maxLinkDensity").map(_.toString.toDouble)
            .getOrElse(base.maxLinkDensity),
          stopwordsLow = ec.get("stopwordsLow").map(_.toString.toDouble)
            .getOrElse(base.stopwordsLow),
          stopwordsHigh = ec.get("stopwordsHigh").map(_.toString.toDouble)
            .getOrElse(base.stopwordsHigh))
        df.withColumn(ec.getOrElse("as", src).toString,
          graft.ops.WebText.extractMainContent(col(src), rules))

      case "langId" =>
        // {text: col, as: out (default 'lang'), maxLangs: k?, iso3: bool?}
        // — the 28-language token+script classifier
        // (graft.ops.expr.LangModel); codegen'd, map-only. maxLangs > 1
        // emits up to k comma-joined codes, primary first — the cc-index
        // `languages` shape indexWarc writes, so config-only curation
        // matches the indexer's column; iso3: true re-spells the codes as
        // ISO 639-3 (the PUBLISHED index's spelling — join-ready against
        // the real artifact). Compose with `filter` for language gating.
        val li = asMap(step("langId"), "langId")
        val kLangs = li.get("maxLangs").map(_.toString.toInt).getOrElse(1)
        val raw =
          if (kLangs == 1) graft.ops.TextStats.langId(col(li("text").toString))
          else graft.ops.TextStats.langId(col(li("text").toString), kLangs)
        df.withColumn(li.getOrElse("as", "lang").toString,
          if (li.get("iso3").exists(_.toString.toBoolean))
            graft.ops.TextStats.toIso639_3(raw)
          else raw)

      case "normalizeUnicode" =>
        // {text: col, form: NFC|NFD|NFKC|NFKD (default NFC), as: out
        // (default: rewrite in place)} — run NFC before hashing/dedup,
        // NFKC before tokenization
        val nu = asMap(step("normalizeUnicode"), "normalizeUnicode")
        val src = nu("text").toString
        df.withColumn(nu.getOrElse("as", src).toString,
          graft.ops.WebText.normalizeUnicode(col(src),
            nu.getOrElse("form", "NFC").toString))

      case "domainOf" =>
        // {url: col, as: out (default 'domain'), pslFile: path?} —
        // registrable domain (eTLD+1) of a URL column: the key per-site
        // quotas and blocklists group by; compose with `quota`/`filter`
        // downstream. With pslFile, the FULL published Public Suffix List
        // is loaded driver-side at pipeline build (wildcard/exception
        // rules, private suffixes) and rides the task binary; without it,
        // the compact built-in subset applies.
        val dm = asMap(step("domainOf"), "domainOf")
        val host = graft.ops.WebText.urlHost(col(dm("url").toString))
        val domain = dm.get("pslFile") match {
          case Some(p) =>
            val text = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(p.toString)), "UTF-8")
            graft.ops.WebText.registrableDomainPsl(host,
              graft.ops.expr.PslRules.parse(text))
          case None => graft.ops.WebText.registrableDomain(host)
        }
        df.withColumn(dm.getOrElse("as", "domain").toString, domain)

      case "robotsFilter" =>
        // {url: col, robots: table, host?: 'host', txt?: 'robots_txt',
        // agent?: '*', mode?: filter|mark} — RFC 9309 compliance gate:
        // compile each domain's robots.txt ONCE (per-agent group
        // selection, A:/D: rules), left-join to URLs by lowercased host
        // (missing robots ⇒ allowed, the protocol default), evaluate
        // longest-match per URL. mode=mark adds `robots_ok` instead of
        // filtering. An URL whose host/path cannot be parsed has no
        // robots.txt to consult — robots_ok is TRUE for it (the protocol's
        // default-allow, made explicit), never a silent null-drop; route
        // such rows to a URL-validity filter if they should go.
        val rf = asMap(step("robotsFilter"), "robotsFilter")
        val urlCol = col(rf("url").toString)
        val robots = resolve(rf.getOrElse("robots",
          throw new IllegalArgumentException("robotsFilter needs a 'robots' table")).toString)
        val hostCol = rf.getOrElse("host", "host").toString
        val txtCol = rf.getOrElse("txt", "robots_txt").toString
        val agent = rf.getOrElse("agent", "*").toString
        val compiled = robots.select(
          lower(col(hostCol)).as("__rb_host"),
          graft.ops.WebText.robotsRules(col(txtCol), agent).as("__rb_rules"))
        val joined = df
          .withColumn("__rb_h", graft.ops.WebText.urlHost(urlCol))
          .join(compiled, col("__rb_h") === col("__rb_host"), "left")
          .withColumn("robots_ok", coalesce(graft.ops.WebText.robotsAllowed(
            col("__rb_rules"), graft.ops.WebText.urlPath(urlCol)), lit(true)))
          .drop("__rb_h", "__rb_host", "__rb_rules")
        rf.getOrElse("mode", "filter").toString match {
          case "filter" => joined.filter(col("robots_ok")).drop("robots_ok")
          case "mark"   => joined
          case other => throw new IllegalArgumentException(
            s"robotsFilter mode must be filter|mark, got $other")
        }

      case "redact" =>
        // {text: col, as: out (default 'redacted'), validated: bool
        // (default false)} — PII → typed tokens; validated additionally
        // runs the checksum/entropy classes (Luhn cards, mod-97 IBANs,
        // high-entropy secrets) before the regex classes
        val r = asMap(step("redact"), "redact")
        val outCol = r.getOrElse("as", "redacted").toString
        val textCol = r("text").toString
        if (r.get("validated").exists(_.toString.toBoolean))
          graft.ops.Corpus.redactPiiAll(df, textCol, outCol)
        else graft.ops.Corpus.redactPii(df, textCol, outCol)

      case "tokenBudget" =>
        // {text: col | tokens: expr, budget: N, orderBy: [...]} — longest
        // in-budget prefix of the ordered stream, whole docs
        val b = asMap(step("tokenBudget"), "tokenBudget")
        val tokens = (b.get("tokens"), b.get("text")) match {
          case (Some(e), None) => compileExpr(e, df)
          case (None, Some(t)) => graft.ops.TextStats.tokenCountWs(col(t.toString))
          case _ => throw new IllegalArgumentException(
            "tokenBudget needs exactly one of 'text' (column) or 'tokens' (expression)")
        }
        graft.ops.Packing.takeTokenBudget(df, tokens,
          b("budget").toString.toLong,
          sortCols(asSeq(b.getOrElse("orderBy",
            throw new IllegalArgumentException("tokenBudget needs 'orderBy'")))))

      case "decontaminate" =>
        // {table: evalSet, id:, text:, evalText: (defaults to text),
        //  evalId: (fraction mode; defaults to id), n: 8,
        //  mode: mark|remove|fraction} — mark/remove transform the
        //  current (train) frame; fraction REPLACES it with the per-eval
        //  graded overlap report (eval_id, n_grams, n_seen, contamination)
        val d = asMap(step("decontaminate"), "decontaminate")
        val eval = resolve(d.getOrElse("table",
          throw new IllegalArgumentException("decontaminate needs 'table'")).toString)
        val evalText = d.getOrElse("evalText", d("text")).toString
        val n = d.get("n").map(_.toString.toInt).getOrElse(8)
        d.getOrElse("mode", "mark").toString match {
          case "mark" => graft.ops.Decontam.markContaminated(
            df, d("id").toString, d("text").toString, eval, evalText, n)
          case "remove" => graft.ops.Decontam.removeContaminated(
            df, d("id").toString, d("text").toString, eval, evalText, n)
          case "fraction" => graft.ops.Decontam.contaminationFraction(
            eval, d.getOrElse("evalId", d("id")).toString, evalText,
            df, d("text").toString, n)
          case other => throw new IllegalArgumentException(
            s"decontaminate mode must be mark|remove|fraction, got $other")
        }

      case "mediaFeatures" =>
        // {kind: image|audio} over a MediaRow-schema frame
        // (media_id, meta struct, payload binary)
        asMap(step("mediaFeatures"), "mediaFeatures")("kind").toString match {
          case "image" => graft.ops.Multimodal.imageFeatures(asMedia(df)).toDF()
          case "audio" => graft.ops.Multimodal.audioFeatures(asMedia(df)).toDF()
          case other => throw new IllegalArgumentException(
            s"mediaFeatures kind must be image|audio, got $other")
        }

      case "resizeImages" =>
        val r = asMap(step("resizeImages"), "resizeImages")
        graft.ops.Multimodal.resizeImages(asMedia(df),
          r("maxDim").toString.toInt).toDF()

      case "sampleFrames" =>
        val r = asMap(step("sampleFrames"), "sampleFrames")
        graft.ops.Multimodal.sampleFrames(asMedia(df),
          r("everyN").toString.toInt,
          r.get("frameBytes").map(_.toString.toInt).getOrElse(256)).toDF()

      case "mediaDedup" =>
        // {kind: image|audio|video, maxHamming: (10/8/10 by kind),
        //  maxBucketSize: 1000, decoder: jdk|stub (jdk = real codecs),
        //  mode: drop|pairs} over a MediaRow-schema frame. drop keeps the
        // first copy of every near-duplicate cluster edge (the q50-style
        // corpus-cleaning policy); pairs REPLACES the frame with the
        // verified (id_a, id_b, hamming) pair report.
        val r = asMap(step("mediaDedup"), "mediaDedup")
        val kind = r.getOrElse("kind",
          throw new IllegalArgumentException("mediaDedup needs 'kind'")).toString
        val decoder: graft.ops.MediaDecoder =
          r.getOrElse("decoder", "jdk").toString match {
            case "jdk" => graft.ops.JdkMediaDecoder()
            case "stub" => graft.ops.StubDecoder()
            // production codecs (MP3/MP4/WebP/...) via the ffmpeg CLI;
            // fails loudly at plan time when the binary is absent rather
            // than silently emitting empty features task-side
            case "ffmpeg" =>
              if (!graft.ops.FfmpegMediaDecoder.available())
                throw new IllegalArgumentException(
                  "mediaDedup decoder 'ffmpeg' requested but no ffmpeg " +
                    "binary is on PATH")
              graft.ops.FfmpegMediaDecoder()
            case other => throw new IllegalArgumentException(
              s"mediaDedup decoder must be jdk|stub|ffmpeg, got $other")
          }
        val defaultHamming = kind match {
          case "image" | "video" => 10
          case "audio" => 8
          case other => throw new IllegalArgumentException(
            s"mediaDedup kind must be image|audio|video, got $other")
        }
        val maxHamming = r.get("maxHamming").map(_.toString.toInt)
          .getOrElse(defaultHamming)
        val cap = r.get("maxBucketSize").map(_.toString.toInt).getOrElse(1000)
        val media = asMedia(df)
        r.getOrElse("mode", "drop").toString match {
          case "drop" => (kind match {
            case "image" =>
              graft.ops.Multimodal.dropNearDuplicateImages(media, decoder, maxHamming, cap)
            case "audio" =>
              graft.ops.Multimodal.dropNearDuplicateAudio(media, decoder, maxHamming, cap)
            case "video" =>
              graft.ops.Multimodal.dropNearDuplicateVideos(media, decoder, maxHamming, cap)
          }).toDF()
          case "pairs" => kind match {
            case "image" =>
              graft.ops.Multimodal.imageNearDuplicatePairs(media, decoder, maxHamming, cap)
            case "audio" =>
              graft.ops.Multimodal.audioNearDuplicatePairs(media, decoder, maxHamming, cap)
            case "video" =>
              graft.ops.Multimodal.videoNearDuplicatePairs(media, decoder, maxHamming, cap)
          }
          case other => throw new IllegalArgumentException(
            s"mediaDedup mode must be drop|pairs, got $other")
        }

      case other =>
        throw new IllegalArgumentException(s"Unknown pipeline verb: $other")
    }
  }

  private def asMedia(df: DataFrame) =
    df.as(org.apache.spark.sql.Encoders.product[graft.ops.MediaRow])

  /** The "-col" descending convention shared by orderBy-style verb args. */
  private def sortCols(specs: Seq[Any]): Seq[Column] =
    specs.map(_.toString).map { s =>
      if (s.startsWith("-")) col(s.drop(1)).desc else col(s).asc
    }
}
