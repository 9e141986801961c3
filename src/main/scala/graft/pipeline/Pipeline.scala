package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{Resolver, UnresolvedAttribute}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.dftly.{And, Coalesce, Col, Compiler, Conditional, DictParser, Divide, Extension, Lit, Node, Or, Yaml}
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
  * replaced in place. A `withColumns` read of an earlier entry becomes a
  * copy of that entry's expression where the copy keeps the fold's meaning
  * and costs no second evaluation per row, so the step is one projection;
  * where it cannot, the reader moves to a later projection, one per
  * dependency layer, as every `window.cols` reader does.
  *
  * Scale contract: `select`/`withColumns`/`filter` are shuffle-free;
  * `groupBy` aggregates map-side before its single shuffle; `join` takes an
  * explicit `broadcast: true` hint for dimension tables (default leaves the
  * strategy to Catalyst statistics + AQE); `orderBy`+`limit` adjacency lowers
  * to TakeOrderedAndProject (no global sort); `dedupExact` / `nearDupFilter`
  * reuse the graft.ops implementations.
  *
  * Options: the keys of every option map — each step verb's, each `source`
  * and `sink` format's — are declared once, in `Keys`. A key outside its
  * declared set is rejected with an error that names the verb or format,
  * the key and the accepted keys; a missing required key or a malformed
  * value names the verb, the key and the value. Values are read through
  * `Opts`, which converts a YAML string like the bare scalar it spells
  * (`"0.8"` reads as 0.8, `'false'` as false).
  *
  * Adding a verb takes a line in `Keys.steps` declaring its keys, an arm in
  * `applyStep` reading them through `Opts`, and a row in README's verb
  * table (PipelineSpec checks that every declared key appears there).
  */
object Pipeline {

  /** Aggregate spec → Column. Arg is a dftly expression (or "*" for count). */
  private def aggColumn(name: String, spec: Any): Column = {
    val m = Opts.mapping(spec, s"agg '$name'")
    require(m.size == 1, s"agg '$name' needs exactly one {fn: expr} entry, got $m")
    val (fn, rawExpr) = m.head
    def e: Column = compileExpr(rawExpr)
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

  private def compileExpr(raw: Any): Column = Compiler.compile(DictParser.parse(raw))

  /** One output of a `withColumns`-like step: its name, the column names
    * its expression reads, and its lowering.
    */
  private final case class Derived(name: String, reads: Set[String], lowered: Column)

  /** Nodes a reader's expression may grow to by inlining. In a chain
    * `k_i: $k_{i-1} + 1` ~30 links share a projection, and no tree gets deep
    * enough to exhaust the analyzer's 100 resolution iterations.
    */
  private val InlineCap = 64

  /** `entries` in order, with each read of an earlier entry
    * replaced by that entry's expression (itself already inlined), so the
    * reader needs no later projection. A read keeps its column, and
    * `withDerived` layers its reader, unless
    *   - (a) the definition is deterministic: it holds no `Extension`;
    *   - (b) no entry from the definition up to the reader redefines a
    *     column the definition reads, so the copy reads what the fold
    *     shows the definition;
    *   - (c) the reader stays within `InlineCap` nodes;
    *   - (d) the definition is a column or a literal, or every read of it
    *     is one Catalyst evaluates on every row (`columnReads`), so
    *     subexpression elimination computes the copies in one projection
    *     once per row.
    * A copy lowers as the column it replaces would: `+`, `-` and `/` choose
    * by the types the analyzer resolves, which are the same for both.
    * Names match with `same`, the session resolver.
    */
  private def inlineEarlier(entries: Seq[(String, Node)], same: Resolver): Seq[(String, Node)] = {
    val names = entries.map(_._1).toVector
    // the entry a read of `c` at entry i sees: the last one before i named `c`
    def definer(c: String, i: Int): Option[Int] = (i - 1 to 0 by -1).find(k => same(names(k), c))
    val readInBranch = entries.zipWithIndex.flatMap { case ((_, node), i) =>
      columnReads(node).collect { case (c, false) => definer(c, i) }.flatten
    }.toSet
    def hasExtension(n: Node): Boolean = n.isInstanceOf[Extension] || n.children.exists(hasExtension)
    val done = scala.collection.mutable.ArrayBuffer.empty[Node]
    for (((_, node), i) <- entries.zipWithIndex) {
      var size = node.size
      def inline(n: Node): Node = n match {
        case Col(c) =>
          definer(c, i).filter { j =>
            val d = done(j)
            val free = d.referencedColumns
            !hasExtension(d) &&
            (j until i).forall(k => !free.exists(same(names(k), _))) &&
            size + d.size - 1 <= InlineCap &&
            (d.isInstanceOf[Col] || d.isInstanceOf[Lit] || !readInBranch(j))
          }.fold(n) { j => size += done(j).size - 1; done(j) }
        case _ => n.mapChildren(inline)
      }
      done += inline(node)
    }
    names.zip(done)
  }

  /** Each column read in `n`, and whether Catalyst evaluates it on every
    * row: not in a branch of `if`, not after the first argument of `??`,
    * `and` or `or`, not in a numerator (the zero-divisor guard moves it into
    * a branch), not in an `Extension` argument (its lowering is unknown).
    */
  private def columnReads(n: Node, always: Boolean = true): Seq[(String, Boolean)] = {
    def firstOnly(args: Seq[Node]) =
      args.zipWithIndex.flatMap { case (a, k) => columnReads(a, always && k == 0) }
    n match {
      case Col(c)               => Seq(c -> always)
      case Conditional(w, t, o) => columnReads(w, always) ++ (t +: o.toSeq).flatMap(columnReads(_, false))
      case Coalesce(args)       => firstOnly(args)
      case And(args)            => firstOnly(args)
      case Or(args)             => firstOnly(args)
      case Divide(l, r)         => columnReads(l, false) ++ columnReads(r, always)
      case e: Extension         => e.args.flatMap(columnReads(_, false))
      case _                    => n.children.flatMap(columnReads(_, always))
    }
  }

  /** Adds or replaces `entries` with the meaning of a left fold of
    * `withColumn` — each entry sees every earlier entry's output, a name
    * that already exists is replaced in place, a new one is appended — but
    * builds one projection per dependency layer instead of one per entry.
    * `withColumns` first copies definitions into their readers
    * (`inlineEarlier`), so its step is one projection unless a read could
    * not be inlined; `window` steps are layered as written.
    *
    * Every layer constraint points from an earlier entry to a later one,
    * so one forward pass gives each entry its lowest legal layer:
    *   - an entry that reads an earlier entry's output, or redefines its
    *     name, goes in a later layer;
    *   - an entry that redefines a name an earlier entry reads goes no
    *     earlier than that reader, which must not see the new value.
    * Names match with the session resolver, as `withColumn` matches them.
    * Each layer's columns are analyzed against the previous layer's
    * output, so they resolve (and `+`, `-` and `/` choose) as in the fold,
    * and the last layer emits the fold's column order.
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
      val built = members.map(i => i -> entries(i).lowered).toMap
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

  /** Run a pipeline over `resolve`-provided tables. The `source` is a table
    * name for `resolve`, or an inline reader spec (`Keys.sources`).
    */
  def run(spark: SparkSession, yaml: String, resolve: String => DataFrame): DataFrame = {
    val cfg = new Opts("pipeline", Keys.pipeline, Yaml.load(yaml))
    val srcDf = cfg.need[Any]("source") match {
      case m: scala.collection.Map[_, _] => readSource(spark, m)
      case name => resolve(name.toString)
    }
    val out = Opts.asSeq(cfg.get[Any]("steps", Nil)).foldLeft(srcDf) { (df, rawStep) =>
      applyStep(df, Opts.mapping(rawStep, "step").toMap, resolve)
    }
    cfg.opt[Any]("sink").foreach(writeSink(out, _, resolve))
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

  private def readSource(spark: SparkSession, raw: Any): DataFrame = {
    val fmt = Opts.format(raw, "source")
    val o = new Opts(s"$fmt source", Keys.sources.getOrElse(fmt, Keys.sources("parquet")), raw)
    val path = o.str("path")
    fmt match {
      // jsonl(.gz/.zst) corpus: explicit schema, authoritative bad-record
      // policy, reader options threaded through
      case "jsonl" =>
        graft.sources.Readers.readJsonl(spark, path,
          schema = o.opt[String]("schema").orNull,
          badRecords = o.get("badRecords", "drop"),
          options = o.strings("options"))
      // CSV/TSV tabular source: the jsonl contract for the sidecar-table
      // shape; tsv = csv with a tab separator
      case "csv" | "tsv" =>
        val opts = o.strings("options")
        // precedence: dedicated YAML keys > options map > format
        // default — readCsv's named args are authoritative (applied
        // after options), so fold the options-map spellings in here
        // to keep the legacy `options: {header: "true"}` shape working
        graft.sources.Readers.readCsv(spark, path,
          schema = o.opt[String]("schema").orNull,
          badRecords = o.get("badRecords", "drop"),
          sep = o.opt[String]("sep").orElse(opts.get("sep"))
            .getOrElse(if (fmt == "tsv") "\t" else ","),
          header = o.opt[Boolean]("header")
            .orElse(opts.get("header").map(Opts.scalar[Boolean](s"$fmt source option 'header'", _)))
            .getOrElse(false),
          options = opts)
      // WebDataset-style tar shards → (shard, key, data map) sample rows
      case "tar" =>
        graft.sources.TarShards.readTarShards(spark, path)
      // WARC crawl archives: one row per record (type, uri, date, http
      // status/content-type, payload, truncated flag). `text` (default
      // true) adds the charset-aware decoded `text` column (BOM → header
      // charset → meta prescan → UTF-8; WebText.payloadText) — the
      // front-door materialization real crawls need (~10% of CommonCrawl
      // HTML is legacy-encoded, and a blind UTF-8 cast mojibakes it).
      // Column-pruned away when no step reads it. `parseHeaders: false`
      // skips the per-record http_headers map for hot pipelines that only
      // read payload/status; `decodePayloads: false` is the raw_stream
      // split — stored block bodies verbatim, codings left in place.
      case "warc" =>
        // ensureParallelism: a WARC scan has exactly one task per
        // shard file (whole-archive decode), so an archive with fewer
        // shards than cores would run EVERY downstream CPU-dense leg
        // (text decode, extractContent, langId, signals) at shard
        // width — measured 4-wide on a 32-core box, 3.5 s/stage vs
        // 0.6 s at full width. At crawl scale (shards >> cores) the
        // guard is a planning-time no-op; when it does fire, the one
        // round-robin exchange of parsed records costs far less than
        // the serialized extraction it unblocks.
        val records = graft.ops.Dedup.ensureParallelism(
          graft.sources.Warc.readWarc(spark, path,
            maxPayloadBytes = o.get("maxPayloadBytes", 64 << 20),
            parseHeaders = o.get("parseHeaders", true),
            decodePayloads = o.get("decodePayloads", true)))
        if (o.get("text", true))
          records.withColumn("text", graft.ops.WebText.payloadText(
            col("payload"), col("http_content_type")))
        else records
      // capture index shards (sources/Cdx.readCdxj): typed capture rows;
      // `glob` restricts the listing (e.g. "*.cdxj" when the sidecars
      // share a directory with the .warc.gz shards)
      case "cdxj" =>
        graft.sources.Cdx.readCdxj(spark, path, glob = o.opt[String]("glob"))
      // a capture index built from sidecar-less .warc.gz/.warc.zst
      // archives (Warc.indexWarc — streaming gzip-member/zstd-frame
      // offset recovery); the frame is readCdxj-shaped and feeds
      // cdxPlan/fetchWarc or the zipnum sink directly. `detectText`
      // (default true) populates languages/charset the way the published
      // cc-index does; `languageCodes: iso639_3` emits its spelling
      case "warcIndex" =>
        graft.sources.Warc.indexWarc(spark, path,
          maxPayloadBytes = o.get("maxPayloadBytes", 64 << 20),
          detectText = o.get("detectText", true),
          languageCodes = o.get("languageCodes", "iso639_1"))
      // ZipNum-clustered capture index (sources/Cdx.queryZipnum): the
      // published cc-index two-level layout — a SURT-prefix query reads
      // the cluster.idx sidecars plus only the matching compressed
      // blocks. `prefix` (a SURT range key, e.g. from Cdx.surtHostPrefix)
      // is mandatory: an unprefixed query would fetch the whole index —
      // use the cdxj source for full scans
      case "zipnum" =>
        graft.sources.Cdx.queryZipnum(spark, path, o.str("prefix"), o.get("gapBytes", 0L))
      // raw CDXJ lines of a ZipNum directory (Cdx.readZipnumLines): the
      // full-scan/merge entry — feed straight into a zipnum sink to merge
      // N crawls' indexes (path may glob over several directories)
      case "zipnumLines" =>
        graft.sources.Cdx.readZipnumLines(spark, path)
      case _ =>
        spark.read.format(fmt).options(o.strings("options")).load(path)
    }
  }

  /** Write the pipeline's output: a path sink, a bucketed TABLE sink —
    * bucketing pre-shuffles once at write time so every later
    * equi-join/aggregation on the bucket columns runs exchange-free (the
    * co-located-join setup for repeatedly-joined 100 TB tables; requires
    * saveAsTable, Spark's bucket metadata lives in the catalog) — or one of
    * the crawl-archive formats, which are not DataFrameWriter formats.
    */
  private def writeSink(out: DataFrame, raw: Any, resolve: String => DataFrame): Unit = {
    val fmt = Opts.format(raw, "sink")
    val o = new Opts(s"$fmt sink", Keys.sinks.getOrElse(fmt, Keys.sinks("parquet")), raw)
    def overwrite = o.get("mode", "overwrite") == "overwrite"
    fmt match {
      // WARC response records, one shard per task (Warc.writeWarcResponses);
      // `warcinfo: true` opens every shard with the conventional warcinfo
      // record, `contentEncoding: gzip` stores each HTTP entity
      // content-coded (the real-crawl shape; readers decode by default)
      case "warc" =>
        graft.sources.Warc.writeWarcResponses(out, o.str("path"),
          uriCol = o.get("uri", "uri"),
          bodyCol = o.get("body", "body"),
          overwrite = overwrite,
          contentTypeCol = o.opt[String]("contentType"),
          codec = o.get("codec", "gzip"),
          warcinfo = o.get("warcinfo", false),
          contentEncoding = o.get("contentEncoding", "identity"))
      // WAT metadata (Wat.writeWat): one metadata record per row with the
      // links/title envelope JSON — the link-graph artifact next to a warc
      // sink; `headers` names a map<string,string> column rendered as the
      // envelope's HTTP Headers
      case "wat" =>
        graft.sources.Wat.writeWat(out, o.str("path"),
          uriCol = o.get("uri", "uri"),
          htmlCol = o.get("html", "html"),
          overwrite = overwrite,
          codec = o.get("codec", "gzip"),
          headersCol = o.opt[String]("headers"))
      // cross-crawl deduplicating WARC (Warc.writeWarcDeduped): responses
      // and revisit stubs interleaved, split against a prior crawl's
      // digest index (an indexWarc/cdxj frame) resolved as a TABLE (same
      // hook as decontaminate's evalset)
      case "warcDedup" =>
        graft.sources.Warc.writeWarcDeduped(out, o.str("path"),
          uriCol = o.get("uri", "uri"),
          bodyCol = o.get("body", "body"),
          priorDigests = resolve(o.str("prior")),
          priorDigestCol = o.get("priorDigestCol", "digest"),
          withinBatch = o.get("withinBatch", true),
          overwrite = overwrite,
          contentTypeCol = o.opt[String]("contentType"),
          codec = o.get("codec", "gzip"),
          index = o.get("index", false))
      // ZipNum index (Cdx.writeZipnum): a capture frame (the
      // warcIndex/cdxj sources' shape) renders to CDXJ lines first; a
      // frame that already IS lines (single 'value' string column)
      // clusters as-is
      case "zipnum" =>
        val lines =
          if (out.columns.sameElements(Array("value"))) out
          else graft.sources.Cdx.cdxjLines(out)
        graft.sources.Cdx.writeZipnum(lines, o.str("path"),
          linesPerBlock = o.get("linesPerBlock", 3000),
          numShards = o.get("numShards", 0),
          overwrite = overwrite)
      case _ =>
        var w = out.write.format(fmt).mode(o.get("mode", "overwrite"))
        o.opt[Seq[String]]("partitionBy").foreach(p => w = w.partitionBy(p: _*))
        if (o.has("bucketBy")) {
          val b = new Opts(s"${o.what} bucketBy", Keys.bucketBy, o.need[Any]("bucketBy"))
          val cols = b.list("cols")
          w = w.bucketBy(b.need[Int]("n"), cols.head, cols.tail: _*)
          o.opt[Seq[String]]("sortBy").foreach(s => w = w.sortBy(s.head, s.tail: _*))
        }
        require(!o.has("sortBy") || o.has("bucketBy"),
          "sink sortBy requires bucketBy (Spark only sorts within buckets)")
        (o.opt[String]("table"), o.opt[String]("path")) match {
          case (Some(_), Some(_)) =>
            throw new IllegalArgumentException(
              "sink takes 'table' OR 'path', not both (a table's location is catalog-managed)")
          case (Some(t), None) => w.saveAsTable(t)
          case (None, Some(p)) =>
            require(!o.has("bucketBy"),
              "bucketBy requires a 'table' sink (bucket metadata lives in the catalog)")
            w.save(p)
          case (None, None) =>
            throw new IllegalArgumentException("sink needs a 'path' or a 'table'")
        }
    }
  }

  private def applyStep(
      df: DataFrame,
      step: Map[String, Any],
      resolve: String => DataFrame
  ): DataFrame = {
    // one verb per step; groupBy carries its agg in the same mapping
    val verbs = step.keySet -- Set("agg")
    require(verbs.size == 1, s"each step needs exactly one verb; got ${step.keySet}")
    val verb = verbs.head
    if (!Keys.steps.contains(verb))
      throw new IllegalArgumentException(s"Unknown pipeline verb: $verb")
    require(verb == "groupBy" || !step.contains("agg"), s"$verb does not take 'agg'; groupBy does")
    lazy val o = new Opts(verb, Keys.steps(verb), step(verb))
    verb match {
      case "select" =>
        df.select(Opts.mapping(step(verb), verb).map {
          case (name, raw) => compileExpr(raw).as(name)
        }: _*)

      case "withColumns" =>
        val entries = Opts.mapping(step(verb), verb).map { case (n, raw) => n -> DictParser.parse(raw) }
        val same = df.sparkSession.sessionState.analyzer.resolver
        withDerived(df, inlineEarlier(entries, same).map { case (name, node) =>
          Derived(name, node.referencedColumns, Compiler.compile(node))
        })

      case "filter" =>
        df.filter(compileExpr(step(verb)))

      case "drop" =>
        df.drop(Opts.scalar[Seq[String]](verb, step(verb)): _*)

      case "join" =>
        // YAML 1.1 resolves a bare `on` key to boolean true — accept both
        val j = new Opts(verb, Keys.steps(verb), Opts.mapping(step(verb), verb).map {
          case ("true", v) => "on" -> v
          case kv => kv
        }.toMap)
        val how = j.get("how", "inner")
        var right = resolve(j.str("table"))
        if (j.get("broadcast", false)) right = broadcast(right)
        // a join with no key columns has no condition: a silent cross join
        def noKeys = throw new IllegalArgumentException(
          "join needs at least one key column in 'on'")
        j.need[Any]("on") match {
          case _: scala.collection.Map[_, _] =>
            // {leftCol: rightCol} pairs — equi-join on differently-named keys
            df.join(right, j.entries("on").map { case (l, r) => df(l) === right(r.toString) }
              .reduceOption(_ && _).getOrElse(noKeys), how)
          case _ =>
            df.join(right, Some(j.list("on")).filter(_.nonEmpty).getOrElse(noKeys), how)
        }

      case "groupBy" =>
        // plain list of keys, or the map form with a mode —
        // rollup/cube emit subtotal grouping sets (NULL key = subtotal row)
        val (keys, mode) = step(verb) match {
          case _: scala.collection.Map[_, _] =>
            (o.list("cols"), o.oneOf("mode", "group|rollup|cube", "group"))
          case other => (Opts.scalar[Seq[String]](verb, other), "group")
        }
        val aggs = Opts.mapping(step.getOrElse("agg",
          throw new IllegalArgumentException("groupBy needs 'agg'")), "groupBy 'agg'")
          .map { case (name, spec) => aggColumn(name, spec) }
        require(aggs.nonEmpty, "groupBy needs at least one aggregate in 'agg'")
        val grouped = mode match {
          case "group"  => df.groupBy(keys.map(col): _*)
          case "rollup" => df.rollup(keys.map(col): _*)
          case _        => df.cube(keys.map(col): _*)
        }
        grouped.agg(aggs.head, aggs.tail: _*)

      case "except" | "intersect" =>
        // multiset semantics with `all: true` (EXCEPT ALL / INTERSECT ALL),
        // set semantics otherwise; `cols` projects the right table first so
        // the sides line up positionally
        val table = resolve(o.str("table"))
        val right = o.opt[Seq[String]]("cols").fold(table)(c => table.select(c.map(col): _*))
        (verb, o.get("all", false)) match {
          case ("except", true)     => df.exceptAll(right)
          case ("except", false)    => df.except(right)
          case ("intersect", true)  => df.intersectAll(right)
          case (_, _)               => df.intersect(right)
        }

      case "orderBy" =>
        df.orderBy(sortCols(Opts.scalar[Seq[String]](verb, step(verb))): _*)

      case "limit" =>
        df.limit(Opts.scalar[Int](verb, step(verb)))

      case "distinct" =>
        df.distinct()

      case "union" =>
        df.unionByName(resolve(o.str("table")),
          allowMissingColumns = o.get("allowMissingColumns", false))

      case "repartition" =>
        step(verb) match {
          case _: scala.collection.Map[_, _] =>
            val cols = o.get("by", Seq.empty[String]).map(col)
            o.opt[Int]("n").fold(df.repartition(cols: _*))(df.repartition(_, cols: _*))
          case n => df.repartition(Opts.scalar[Int](verb, n))
        }

      case "dedupExact" =>
        Dedup.dropExactDuplicates(df, o.str("id"), o.list("keys"))

      case "dedupSegments" =>
        // CCNet-style cross-corpus line/paragraph dedup; adds
        // `text_dedup` + `n_segments_removed`
        Dedup.dedupSegmentsAcrossCorpus(df, o.str("id"), o.str("text"),
          sep = o.get("sep", "\n"), mode = o.get("mode", "keep_first"))

      case "textStats" =>
        graft.ops.TextStats.withTextStats(df, step(verb).toString)

      case "dropNearDuplicates" =>
        // with targetRecall the banding layout is auto-tuned from the
        // S-curve (minhashParamsFor) instead of the fixed 64/16 default
        val (id, text, thr) = (o.str("id"), o.str("text"), o.get("threshold", 0.8))
        o.opt[Double]("targetRecall") match {
          case Some(rec) =>
            Dedup.dropNearDuplicatesAuto(df, id, text, threshold = thr, targetRecall = rec)
          case None =>
            Dedup.dropNearDuplicates(df, id, text, threshold = thr)
        }

      case "dedupEmbeddings" =>
        // embedding-cosine near-dup removal: keep the smaller id of every
        // near-duplicate pair. method lsh = auto-tuned sign-bit LSH
        // (planes/tables from corpus size + recall model — the near-dup-
        // threshold scale path); method ivf = cell-bucketed pairs (the
        // low-threshold path; trains k-means centroids driver-side,
        // k·dim doubles). dim is read from the first row when absent.
        val id = o.str("id")
        val vec = o.str("embedding")
        val thr = o.get("threshold", 0.9)
        val pairs = o.oneOf("method", "lsh|ivf", "lsh") match {
          case "lsh" =>
            graft.ops.Similarity.cosineNearDuplicatePairsAuto(df, id, vec, thr,
              o.get("dim", df.select(size(col(vec))).head().getInt(0)),
              targetRecall = o.get("targetRecall", 0.9))
          case _ =>
            // cells: auto sizes the cell count from the corpus (cells ∝ n,
            // constant expected per-cell population — the scale-safe
            // setting; a fixed count means per-cell pair work grows n²)
            val cells =
              if (o.opt[String]("cells").contains("auto"))
                graft.ops.Similarity.ivfCellsFor(df.count(),
                  targetCellSize = o.get("targetCellSize", 2000))
              else o.get("cells", 16)
            val nProbe = o.get("nProbe", 2)
            // trainSample: true (auto target) or an explicit row target —
            // k-means++-seeded training on a bounded sample, the 100 TB
            // path (full-corpus Lloyd iterations are a cost hole there)
            val cents = o.opt[String]("trainSample") match {
              case Some("true") =>
                graft.ops.Similarity.trainCentroidsSampled(df, vec, cells)
              case Some(n) if n.nonEmpty && n.forall(_.isDigit) =>
                graft.ops.Similarity.trainCentroidsSampled(df, vec, cells,
                  sampleTarget = o.need[Int]("trainSample"))
              case Some(other) => o.fail("trainSample", other, "true or a row target")
              case None => graft.ops.Similarity.trainCentroids(df, vec, cells)
            }
            // quantized: true rides int8 payloads through the bucket
            // exchange (~3x less shuffle, ~4x less aggregation state;
            // exact re-score join on survivors) — for memory-bound
            // clusters / wide embeddings; costs extra stages when the
            // buckets fit comfortably (measured ~3x wall at SF1/64-dim)
            if (o.get("quantized", false))
              graft.ops.Similarity.cosineNearDuplicatePairsIvfQuantized(
                df, id, vec, thr, cents, nProbe)
            else graft.ops.Similarity.cosineNearDuplicatePairsIvf(
              df, id, vec, thr, cents, nProbe)
        }
        Dedup.dropPairedIds(df, id, pairs)

      case "asOfJoin" =>
        graft.ops.TemporalJoin.asOfJoin(
          df, resolve(o.str("table")), o.list("keys"),
          o.str("leftTs"), o.str("rightTs"), o.list("rightCols"),
          o.opt[String]("tolerance").map(expr))

      case "window" =>
        // windowed analytics: each col is row_number|rank|dense_rank or a
        // one-entry {fn: expr} with fn ∈ sum|avg|min|max|count|lag|lead;
        // "-col" in orderBy sorts descending
        val partitionBy = o.get("partitionBy", Seq.empty[String])
        val orderBy = o.get("orderBy", Seq.empty[String])
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(partitionBy.map(col): _*)
          .orderBy(sortCols(orderBy): _*)
        // every column reads the spec's keys; all name parts count, so a
        // nested field or qualified name depends on whatever defines a part
        val specReads = (partitionBy ++ orderBy.map(_.stripPrefix("-")))
          .flatMap(UnresolvedAttribute.parseAttributeName).toSet
        withDerived(df, o.entries("cols").map { case (name, spec) =>
          def ranking(f: Column) = Derived(name, specReads, f.over(w))
          spec match {
            case "row_number" => ranking(row_number())
            case "rank"       => ranking(rank())
            case "dense_rank" => ranking(dense_rank())
            case m: scala.collection.Map[_, _] =>
              val fm = Opts.mapping(m, s"window col '$name'")
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
              Derived(name, specReads ++ node.referencedColumns, agg(Compiler.compile(node)).over(w))
            case other =>
              throw new IllegalArgumentException(s"bad window col '$name': $other")
          }
        })

      case "qualitySignals" =>
        graft.ops.Corpus.withQualitySignals(df, step(verb).toString)

      // extended Gopher repetition/format signals + keep_full over a text
      // column, or the map form — `lang` keys the stopword-hits gate
      // (LangId's 28-language table; stoplist-less languages disable it)
      case "repetitionSignals" =>
        step(verb) match {
          case _: scala.collection.Map[_, _] =>
            graft.ops.Corpus.withRepetitionSignals(df, o.str("text"),
              o.get("n", 5), lang = o.get("lang", "en"))
          case c => graft.ops.Corpus.withRepetitionSignals(df, c.toString)
        }

      // engine-portable KMV distinct estimate per group
      case "approxDistinct" =>
        graft.ops.Corpus.approxDistinct(df, o.list("by"), o.str("value"),
          o.get("k", 256), o.get("seed", 42L))

      // URL canonicalization, in place unless `as` names a new column
      case "canonicalizeUrl" =>
        val url = o.str("url")
        df.withColumn(o.get("as", url), graft.ops.WebText.canonicalizeUrl(col(url)))

      // One-row corpus data card over a text column
      case "report" =>
        graft.ops.Corpus.report(df, step(verb).toString)

      // Bloom cross-corpus membership: build the filter from the resolved
      // reference table (driver holds only the bit array), then mark or
      // drop map-side.
      case "bloomSeen" =>
        val column = o.str("column")
        val mode = o.oneOf("mode", "mark|drop", "mark")
        val bloom = graft.ops.Decontam.buildBloom(resolve(o.str("ref")), column,
          o.need[Long]("expectedItems"), o.get("fpp", 0.01))
        if (mode == "mark")
          graft.ops.Decontam.markSeenBloom(df, column, bloom, o.get("flag", "seen"))
        else graft.ops.Decontam.dropSeenBloom(df, column, bloom)

      // Snapshot diff/delta against a resolved old snapshot: diff returns
      // (id, status); delta returns the new/changed rows of the CURRENT
      // frame.
      case "snapshotDiff" =>
        val (oldDf, id, content) = (resolve(o.str("old")), o.str("id"), o.list("content"))
        if (o.oneOf("mode", "diff|delta", "diff") == "diff")
          graft.ops.SnapshotDiff.diff(oldDf, df, id, content)
        else graft.ops.SnapshotDiff.delta(oldDf, df, id, content)

      // SemDeDup semantic dedup: dominance prune within auto-trained
      // k-means cells (see Similarity.semanticDedup)
      case "semanticDedup" =>
        graft.ops.Similarity.semanticDedup(df, o.str("id"), o.str("embedding"),
          o.get("threshold", 0.9),
          targetCellSize = o.get("targetCellSize", 2000),
          seed = o.get("seed", 42L))

      case "quota" =>
        graft.ops.Corpus.perKeyQuota(df, o.list("keys"), sortCols(o.list("orderBy")),
          o.need[Int]("k"))

      case "sample" =>
        // a fraction, or per-stratum fractions over a `by` column; seeded
        // => deterministic and reproducible run-to-run
        val seed = o.get("seed", 42L)
        o.need[Any]("fraction") match {
          case _: scala.collection.Map[_, _] =>
            val by = o.str("by")
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
            // a plain immutable Map — the YAML-backed mapping is not
            // serializable and sampleBy ships the fractions to tasks
            val fracs = o.numbers("fraction").toMap
            val stratum = Iterator.from(0).map(i => s"__stratum$i")
              .find(n => !df.columns.contains(n)).get
            df.withColumn(stratum, col(by).cast("string"))
              .stat.sampleBy(stratum, fracs, seed)
              .drop(stratum)
          case _ => df.sample(withReplacement = false, o.need[Double]("fraction"), seed)
        }

      case "sampleDeterministic" =>
        // content-keyed md5-rank sample (ops/Sampling.scala): the row set is
        // a pure function of the data — reproducible across engines,
        // cluster sizes, and partitionings, unlike the RNG `sample` above
        graft.ops.Sampling.deterministicSample(df, o.str("key"),
          o.need[Double]("fraction"), o.get("seed", 42L))

      case "takePerStratum" =>
        graft.ops.Sampling.topKPerStratum(df, o.list("by"), o.need[Int]("k"),
          o.str("key"), o.get("seed", 42L), o.get("saltBuckets", 32))

      case "sitemaps" =>
        // explode sitemap XML documents into one row per discovered URL
        // (urlset entries + sitemapindex children)
        graft.ops.Sitemaps.parseSitemaps(df, o.str("xml"))

      case "cdxPlan" =>
        // captures (the cdxj source's frame, filtered) → per-WARC-file
        // coalesced byte ranges
        graft.sources.Cdx.fetchPlan(df, o.get("gapBytes", 0L))

      case "fetchWarc" =>
        // the frame IS a fetch plan (filename/range_start/range_end) —
        // replace it with the decoded records of exactly those byte
        // ranges read from the archive directory `dir`
        graft.sources.Warc.readWarcRanges(df.sparkSession, o.str("dir"), df,
          o.get("maxPayloadBytes", 64 << 20), o.get("maxRangeBytes", 1L << 30))

      case "resolveRevisits" =>
        // the frame is a WARC record frame (warc source / fetchWarc):
        // resolve revisit stubs to their originals' payloads by payload
        // digest (the CommonCrawl multi-crawl dedup convention); adds
        // `resolved_from`. Takes `{}`: the linkage is entirely in the
        // records' own headers.
        val _ = o
        graft.sources.Warc.resolveRevisits(df)

      case "dsirSelect" =>
        // DSIR data selection (ops/Dsir.scala): importance weights of each
        // row against a TARGET exemplar table under hashed-n-gram bag
        // models. With k the frame BECOMES the Gumbel top-k sample
        // (softmax(log_weight) without replacement); without k it just
        // gains log_weight for downstream thresholds/analysis.
        val target = resolve(o.str("target"))
        val (id, text) = (o.str("id"), o.str("text"))
        val (nib, maxN) = (o.get("nibbles", 3), o.get("maxN", 2))
        o.opt[Int]("k") match {
          case Some(k) =>
            graft.ops.Dsir.dsirSample(df, target, id, text, k, nib, maxN, o.get("seed", 42L))
          case None =>
            graft.ops.Dsir.dsirLogWeights(df, target, id, text, nib, maxN)
        }

      case "hostRank" =>
        // host-level PageRank attached per page (ops/LinkGraph.scala):
        // build the cross-host link graph from (url, html), run the damped
        // power iteration, join each page's host rank back as `as`. Hosts
        // with no cross-host edge on either side stay null — the graph has
        // no evidence about them; coalesce downstream if a floor is wanted.
        val as = o.get("as", "host_rank")
        require(!df.columns.contains(as),
          s"hostRank adds '$as'; rename the existing column or set 'as'")
        val ranks = graft.ops.LinkGraph.rankHosts(df, o.str("url"), o.str("html"),
          o.get("iterations", 10), o.get("damping", 0.85))
        df.withColumn("__lg_host", graft.ops.WebText.urlHost(col(o.str("url"))))
          .join(ranks.withColumnRenamed("host", "__lg_host")
            .withColumnRenamed("rank", as), Seq("__lg_host"), "left")
          .drop("__lg_host")

      case "domainRank" =>
        // domain-level PageRank mass attached per page (LinkGraph
        // .rankDomains): host ranks aggregated to registrable domains
        // (PSL eTLD+1) and joined back as `as`. Same options as hostRank
        // plus pslFile (full published Public Suffix List; default the
        // compact built-in subset).
        val as = o.get("as", "domain_rank")
        require(!df.columns.contains(as),
          s"domainRank adds '$as'; rename the existing column or set 'as'")
        val rules = o.opt[String]("pslFile").fold(graft.ops.expr.PslRules.default)(readPsl)
        val ranks = graft.ops.LinkGraph.rankDomains(df, o.str("url"), o.str("html"),
          o.get("iterations", 10), o.get("damping", 0.85), rules)
        df.withColumn("__lg_domain",
            graft.ops.WebText.registrableDomainPsl(
              graft.ops.WebText.urlHost(col(o.str("url"))), rules))
          .join(ranks.withColumnRenamed("domain", "__lg_domain")
            .withColumnRenamed("rank", as), Seq("__lg_domain"), "left")
          .drop("__lg_domain")

      case "mix" =>
        // deterministic data mixture over named sources ('$self' = the
        // current frame); exact-count mode (total + weights) or the
        // map-only fraction mode (fractions)
        val named = o.entries("sources").map {
          case (name, tbl) => name -> (if (tbl == "$self") df else resolve(tbl.toString))
        }
        val (key, seed) = (o.str("key"), o.get("seed", 42L))
        (o.has("total"), o.has("weights"), o.has("fractions")) match {
          case (true, true, false) =>
            graft.ops.Sampling.mixCorpora(named, o.numbers("weights"),
              o.need[Long]("total"), key, seed)
          case (false, false, true) =>
            graft.ops.Sampling.mixCorporaByFraction(named, o.numbers("fractions"), key, seed)
          case _ => throw new IllegalArgumentException(
            "mix needs either (total + weights) or (fractions), not a blend")
        }

      case "split" =>
        // ordered: weight order defines the bucket-threshold layout
        graft.ops.Corpus.assignSplit(df, o.str("id"), o.numbers("weights"),
          seed = o.get("seed", 0L))

      case "sessionize" =>
        graft.ops.StreamingOps.sessionize(df, o.list("keys"), o.str("ts"), o.str("gap"),
          o.get("delay", "0 seconds"))

      case "rangeJoin" =>
        graft.ops.TemporalJoin.rangeJoin(
          df, resolve(o.str("table")), o.list("keys"),
          o.str("leftTs"), o.str("rightStart"), o.str("rightEnd"),
          o.need[Long]("bucketMicros"))

      case "chunk" =>
        graft.ops.Corpus.chunkDocuments(df, o.str("id"), o.str("text"),
          o.need[Int]("chunkTokens"), o.get("overlapTokens", 0))

      case "bm25" =>
        // top-k rows with k, every row scored without
        val (id, text, query) = (o.str("id"), o.str("text"), o.list("query"))
        o.opt[Int]("k") match {
          case Some(k) => graft.ops.Retrieval.bm25TopK(df, id, text, query, k)
          case None    => graft.ops.Retrieval.bm25(df, id, text, query)
        }

      case "clusterDuplicates" =>
        // transitive near-dup families from exact-Jaccard pairs;
        // mode: keep (default — one representative per family) | assign
        // (adds a `cluster` column)
        val id = o.str("id")
        val mode = o.oneOf("mode", "keep|assign", "keep")
        val pairs = Dedup.jaccardPairs(df, id, o.str("text"),
          threshold = o.get("threshold", 0.8),
          // optional stop-gram ceiling: bounded candidate volume on
          // boilerplate-heavy corpora (lossy — see jaccardPairs scaladoc)
          maxGramDf = o.get("maxGramDf", 0L))
        if (mode == "keep") graft.ops.Cluster.keepClusterRepresentatives(df, id, pairs)
        else graft.ops.Cluster.assignClusters(df, id, pairs)

      case "profile" =>
        // a list of columns, or the map form — quartiles are
        // approx_percentile (bounded sketch state, the only scale-safe
        // default) unless `approx: false` opts into the exact percentile's
        // distinct-value-map state
        step(verb) match {
          case _: scala.collection.Map[_, _] =>
            graft.ops.Corpus.profile(df, o.list("cols"),
              approx = o.get("approx", true), accuracy = o.get("accuracy", 10000))
          case cols => graft.ops.Corpus.profile(df, Opts.scalar[Seq[String]](verb, cols))
        }

      case "globalIndex" =>
        // contiguous 0-based index in the total order (range exchange +
        // broadcast offsets, never a single-partition window)
        graft.ops.Packing.withGlobalIndex(df, sortCols(o.list("orderBy")), o.get("as", "pos"))

      case "shuffle" =>
        // reproducible global permutation keyed by a unique column (same
        // data+seed => same order on any cluster size; new epoch = new seed)
        graft.ops.Packing.deterministicShuffle(df, o.str("id"), o.get("seed", 0L),
          o.get("as", "pos"))

      case "pack" =>
        // concat-and-cut fragments; default order is by id (shuffle first
        // and order by its pos column to pack a shuffled epoch)
        val id = o.str("id")
        graft.ops.Packing.packSequences(df, id, tokenCount(o), o.need[Int]("seqTokens"),
          o.opt[Seq[String]]("orderBy").fold(Seq(col(id).asc))(sortCols))

      case "maskSpans" | "stripBoilerplate" =>
        // maskSpans: corpus-repeated window masking (Dedup.maskRepeatedSpans)
        // adds text_clean, n_repeated_windows, n_tokens_removed alongside
        // the input columns; stripBoilerplate rewrites the text column with
        // the masked text and removes documents that were entirely
        // repeated spans
        val f = if (verb == "maskSpans") Dedup.maskRepeatedSpans _ else Dedup.removeRepeatedSpans _
        f(df, o.str("id"), o.str("text"), o.get("window", 8), o.get("minRepeats", 2))

      case "perplexity" =>
        // bigram-LM quality scores (trained on `train`, default: self)
        // joined back onto the frame (left: docs with <2 tokens get null
        // ppl), so `- filter: $ppl < N` composes downstream. `kn` =
        // interpolated Kneser–Ney, the KenLM-class smoothing of real CCNet
        // filtering.
        val (id, text) = (o.str("id"), o.str("text"))
        val smoothing = o.oneOf("smoothing", "laplace|kn", "laplace")
        val train = o.opt[String]("train").fold(df)(resolve)
        val trainText = o.get("trainText", text)
        val scores =
          if (smoothing == "laplace")
            graft.ops.LangModel.scorePerplexity(df, id, text, train, trainText)
          else graft.ops.LangModel.scorePerplexityKneserNey(df, id, text, train, trainText,
            discount = o.get("discount", 0.75))
        df.join(scores, Seq(id), "left")

      case "tokenize" =>
        // exact byte-level BPE ids under a published merges.txt,
        // Unigram-LM ids under a SentencePiece-style .vocab text file, OR
        // WordPiece ids under a BERT-family vocab.txt (none: BPE over the
        // bare byte alphabet). The model loads driver-side once and rides
        // the task binary; all three kernels are codegen'd and map-only.
        val out = o.get("as", "tokens")
        val text = col(o.str("text"))
        (o.opt[String]("merges"), o.opt[String]("vocab"), o.opt[String]("vocabTxt")) match {
          case (m, v, w) if Seq(m, v, w).count(_.isDefined) > 1 =>
            throw new IllegalArgumentException(
              "tokenize takes at most one of 'merges' (BPE), 'vocab' " +
                "(Unigram), 'vocabTxt' (WordPiece)")
          case (_, Some(v), _) =>
            df.withColumn(out, graft.ops.TextStats.tokenizeUnigram(text,
              graft.ops.expr.UnigramModel.fromVocabFile(v)))
          case (_, _, Some(w)) =>
            df.withColumn(out, graft.ops.TextStats.tokenizeWordPiece(text,
              graft.ops.expr.WordPieceModel.fromVocabFile(w,
                lowercase = o.get("lowercase", false))))
          case (m, None, None) =>
            df.withColumn(out, graft.ops.TextStats.tokenizeBpe(text,
              m.fold(graft.ops.expr.BpeModel.empty)(p => graft.ops.expr.BpeModel.fromMergesFile(p))))
        }

      case "trainTokenizer" =>
        // train a tokenizer ON the pipeline's current frame and write the
        // model artifact (merges.txt / .vocab / vocab.txt) that the
        // `tokenize:` verb consumes, closing the config-only loop: a YAML
        // user can build the vocabulary AND apply it without touching
        // Scala. EAGER (training is an action); the frame passes through
        // unchanged so tokenize can follow in the same pipeline. The
        // artifact commits through ShardCommit: a transient rename
        // failure throws rather than leaving a half-written model.
        val (text, artifact) = (o.str("text"), o.str("out"))
        val maxWords = o.get("maxWords", 65536)
        val lines: Seq[String] = o.oneOf("kind", "bpe|unigram|wordpiece") match {
          case "bpe" =>
            graft.ops.BpeTrain.trainFromCorpus(df, text,
              numMerges = o.need[Int]("numMerges"), maxWords = maxWords)._2
          case "unigram" =>
            graft.ops.UnigramTrain.trainFromCorpus(df, text,
              vocabSize = o.need[Int]("vocabSize"), maxWords = maxWords)._1.toVocabLines
          case _ =>
            graft.ops.WordPieceTrain.trainFromCorpus(df, text,
              vocabSize = o.need[Int]("vocabSize"), maxWords = maxWords,
              lowercase = o.get("lowercase", false))._2
        }
        graft.sources.ShardCommit.writeLines(
          org.apache.hadoop.fs.FileSystem.get(new java.net.URI(artifact),
            df.sparkSession.sparkContext.hadoopConfiguration),
          new org.apache.hadoop.fs.Path(artifact), lines, "trainTokenizer")
        df

      case "fixEncoding" =>
        // mojibake repair in place unless `as` names a new column
        // (cp1252/latin-1-misdecoded UTF-8, incl. double encoding); see
        // graft.ops.expr.Mojibake for the contract
        val src = o.str("text")
        df.withColumn(o.get("as", src),
          graft.ops.TextStats.fixEncoding(col(src), o.get("passes", 3)))

      case "stripHtml" =>
        // lexical HTML strip in place unless `as` names a new column:
        // script/style/head blocks with content, tags, common entities,
        // whitespace collapse (graft.ops.WebText.stripHtml)
        val src = o.str("html")
        df.withColumn(o.get("as", src), graft.ops.WebText.stripHtml(col(src)))

      case "extractContent" =>
        // DOM-block main-content extraction (jusText-style block
        // classification; see graft.ops.expr.HtmlContent): keeps content
        // blocks, drops nav/header/footer/link-list/short-chrome
        // boilerplate. `lang` keys the stopword list (the LangId
        // 28-language table; stoplist-less languages run jusText's
        // no-stoplist mode); the other keys override its thresholds
        val src = o.str("html")
        val base = graft.ops.expr.HtmlContent.rulesForLang(o.get("lang", "en"))
        val rules = base.copy(
          lengthLow = o.get("lengthLow", base.lengthLow),
          lengthHigh = o.get("lengthHigh", base.lengthHigh),
          maxLinkDensity = o.get("maxLinkDensity", base.maxLinkDensity),
          stopwordsLow = o.get("stopwordsLow", base.stopwordsLow),
          stopwordsHigh = o.get("stopwordsHigh", base.stopwordsHigh))
        df.withColumn(o.get("as", src), graft.ops.WebText.extractMainContent(col(src), rules))

      case "langId" =>
        // the 28-language token+script classifier (graft.ops.expr.LangModel);
        // codegen'd, map-only. maxLangs > 1 emits up to k comma-joined
        // codes, primary first — the cc-index `languages` shape indexWarc
        // writes, so config-only curation matches the indexer's column;
        // iso3: true re-spells the codes as ISO 639-3 (the PUBLISHED
        // index's spelling — join-ready against the real artifact).
        // Compose with `filter` for language gating.
        val text = col(o.str("text"))
        val kLangs = o.get("maxLangs", 1)
        val langs =
          if (kLangs == 1) graft.ops.TextStats.langId(text)
          else graft.ops.TextStats.langId(text, kLangs)
        df.withColumn(o.get("as", "lang"),
          if (o.get("iso3", false)) graft.ops.TextStats.toIso639_3(langs) else langs)

      case "normalizeUnicode" =>
        // in place unless `as` names a new column — run NFC before
        // hashing/dedup, NFKC before tokenization
        val src = o.str("text")
        df.withColumn(o.get("as", src),
          graft.ops.WebText.normalizeUnicode(col(src), o.get("form", "NFC")))

      case "domainOf" =>
        // registrable domain (eTLD+1) of a URL column: the key per-site
        // quotas and blocklists group by; compose with `quota`/`filter`
        // downstream. With pslFile, the FULL published Public Suffix List
        // is loaded driver-side at pipeline build (wildcard/exception
        // rules, private suffixes) and rides the task binary; without it,
        // the compact built-in subset applies.
        val host = graft.ops.WebText.urlHost(col(o.str("url")))
        df.withColumn(o.get("as", "domain"), o.opt[String]("pslFile").fold(
          graft.ops.WebText.registrableDomain(host))(
          p => graft.ops.WebText.registrableDomainPsl(host, readPsl(p))))

      case "robotsFilter" =>
        // RFC 9309 compliance gate: compile each domain's robots.txt ONCE
        // (per-agent group selection, A:/D: rules), left-join to URLs by
        // lowercased host (missing robots ⇒ allowed, the protocol
        // default), evaluate longest-match per URL. mode=mark adds
        // `robots_ok` instead of filtering. An URL whose host/path cannot
        // be parsed has no robots.txt to consult — robots_ok is TRUE for
        // it (the protocol's default-allow, made explicit), never a silent
        // null-drop; route such rows to a URL-validity filter if they
        // should go.
        val urlCol = col(o.str("url"))
        val mode = o.oneOf("mode", "filter|mark", "filter")
        val compiled = resolve(o.str("robots")).select(
          lower(col(o.get("host", "host"))).as("__rb_host"),
          graft.ops.WebText.robotsRules(col(o.get("txt", "robots_txt")), o.get("agent", "*"))
            .as("__rb_rules"))
        val joined = df
          .withColumn("__rb_h", graft.ops.WebText.urlHost(urlCol))
          .join(compiled, col("__rb_h") === col("__rb_host"), "left")
          .withColumn("robots_ok", coalesce(graft.ops.WebText.robotsAllowed(
            col("__rb_rules"), graft.ops.WebText.urlPath(urlCol)), lit(true)))
          .drop("__rb_h", "__rb_host", "__rb_rules")
        if (mode == "filter") joined.filter(col("robots_ok")).drop("robots_ok")
        else joined

      case "redact" =>
        // PII → typed tokens; validated additionally runs the
        // checksum/entropy classes (Luhn cards, mod-97 IBANs, high-entropy
        // secrets) before the regex classes
        val (textCol, outCol) = (o.str("text"), o.get("as", "redacted"))
        if (o.get("validated", false)) graft.ops.Corpus.redactPiiAll(df, textCol, outCol)
        else graft.ops.Corpus.redactPii(df, textCol, outCol)

      case "tokenBudget" =>
        // longest in-budget prefix of the ordered stream, whole docs
        graft.ops.Packing.takeTokenBudget(df, tokenCount(o),
          o.need[Long]("budget"), sortCols(o.list("orderBy")))

      case "decontaminate" =>
        // mark/remove transform the current (train) frame; fraction
        // REPLACES it with the per-eval graded overlap report (eval_id,
        // n_grams, n_seen, contamination), keyed by evalId (default: id)
        val eval = resolve(o.str("table"))
        val text = o.str("text")
        val evalText = o.get("evalText", text)
        val n = o.get("n", 8)
        o.oneOf("mode", "mark|remove|fraction", "mark") match {
          case "mark" => graft.ops.Decontam.markContaminated(
            df, o.str("id"), text, eval, evalText, n)
          case "remove" => graft.ops.Decontam.removeContaminated(
            df, o.str("id"), text, eval, evalText, n)
          case _ => graft.ops.Decontam.contaminationFraction(
            eval, o.get("evalId", o.str("id")), evalText, df, text, n)
        }

      case "mediaFeatures" =>
        // over a MediaRow-schema frame (media_id, meta struct, payload binary)
        if (o.oneOf("kind", "image|audio") == "image")
          graft.ops.Multimodal.imageFeatures(asMedia(df)).toDF()
        else graft.ops.Multimodal.audioFeatures(asMedia(df)).toDF()

      case "resizeImages" =>
        graft.ops.Multimodal.resizeImages(asMedia(df), o.need[Int]("maxDim")).toDF()

      case "sampleFrames" =>
        graft.ops.Multimodal.sampleFrames(asMedia(df), o.need[Int]("everyN"),
          o.get("frameBytes", 256)).toDF()

      case "mediaDedup" =>
        // over a MediaRow-schema frame. drop keeps the first copy of every
        // near-duplicate cluster edge (the q50-style corpus-cleaning
        // policy); pairs REPLACES the frame with the verified (id_a, id_b,
        // hamming) pair report. decoder jdk = real codecs.
        val kind = o.oneOf("kind", "image|audio|video")
        val decoder: graft.ops.MediaDecoder =
          o.oneOf("decoder", "jdk|stub|ffmpeg", "jdk") match {
            case "jdk" => graft.ops.JdkMediaDecoder()
            case "stub" => graft.ops.StubDecoder()
            // production codecs (MP3/MP4/WebP/...) via the ffmpeg CLI;
            // fails loudly at plan time when the binary is absent rather
            // than silently emitting empty features task-side
            case _ =>
              if (!graft.ops.FfmpegMediaDecoder.available())
                throw new IllegalArgumentException(
                  "mediaDedup decoder 'ffmpeg' requested but no ffmpeg " +
                    "binary is on PATH")
              graft.ops.FfmpegMediaDecoder()
          }
        val maxHamming = o.get("maxHamming", if (kind == "audio") 8 else 10)
        val cap = o.get("maxBucketSize", 1000)
        val media = asMedia(df)
        val mm = graft.ops.Multimodal
        (o.oneOf("mode", "drop|pairs", "drop"), kind) match {
          case ("drop", "image") => mm.dropNearDuplicateImages(media, decoder, maxHamming, cap).toDF()
          case ("drop", "audio") => mm.dropNearDuplicateAudio(media, decoder, maxHamming, cap).toDF()
          case ("drop", _)       => mm.dropNearDuplicateVideos(media, decoder, maxHamming, cap).toDF()
          case (_, "image")      => mm.imageNearDuplicatePairs(media, decoder, maxHamming, cap)
          case (_, "audio")      => mm.audioNearDuplicatePairs(media, decoder, maxHamming, cap)
          case _                 => mm.videoNearDuplicatePairs(media, decoder, maxHamming, cap)
        }
    }
  }

  /** Token counts of pack/tokenBudget: exactly one of `text` (a column,
    * whitespace tokens) or `tokens` (a dftly expression).
    */
  private def tokenCount(o: Opts): Column =
    (o.opt[Any]("tokens"), o.opt[String]("text")) match {
      case (Some(e), None) => compileExpr(e)
      case (None, Some(t)) => graft.ops.TextStats.tokenCountWs(col(t))
      case _ => throw new IllegalArgumentException(
        s"${o.what} needs exactly one of 'text' (column) or 'tokens' (expression)")
    }

  private def readPsl(path: String): graft.ops.expr.PslRules =
    graft.ops.expr.PslRules.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  private def asMedia(df: DataFrame) =
    df.as(org.apache.spark.sql.Encoders.product[graft.ops.MediaRow])

  /** The "-col" descending convention shared by orderBy-style verb args. */
  private def sortCols(specs: Seq[String]): Seq[Column] =
    specs.map(s => if (s.startsWith("-")) col(s.drop(1)).desc else col(s).asc)
}
