package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: runs the heavy-operator subset at TWO scale factors in
  * one JVM and reports, per query and per scale, wall time plus the
  * executor-side quantities that plan-shape tests cannot see — shuffle
  * read/write bytes, memory/disk spill, peak execution memory — and the
  * big-over-small scaling ratios. A 10× data / ≫10× time or any nonzero
  * spill row is exactly the class of problem sf0.01 correctness runs and
  * `.explain` audits can't catch.
  *
  * Usage: runMain graft.ScaleBench [smallDir] [bigDir] [outFile] [queries]
  * (defaults: /root/testdata/sf0.1, testdata_sf1, SF1_BENCH.json, all;
  * `queries` is an optional comma-separated subset for iterating on one
  * hotspot. Env: SPARK_GRAFT_CPUS = cores, SPARK_GRAFT_SHUFFLE = shuffle
  * partition count — the knob a cluster run would raise for sort volume.)
  *
  * Shuffle, spill and peak memory come from a [[QueryProfile]]; the peak
  * is the largest single task's.
  */
object ScaleBench {

  private case class Result(
      sec: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
      spillMemMb: Double, spillDiskMb: Double, peakExecMb: Double,
      rowsOut: Long = -1, bucketsTruncated: Long = -1) {
    // rows_out: every row's OUTPUT CARDINALITY rides the artifact (an
    // in-plan observation, zero extra jobs) so a recall collapse can never
    // hide inside a healthy-looking timing row again — the r10 lesson: the
    // 500k-image x_phash row timed "≈ linear" while the old banding shape
    // emitted ~nothing. buckets_truncated: same-plan skew-cap drops for
    // banding/bucketed rows (−1 = the row has no bucket observation).
    def json: String =
      f"""{"sec":$sec%.3f,"shuffle_read_mb":$shuffleReadMb%.1f,"shuffle_write_mb":$shuffleWriteMb%.1f,""" +
        f""""spill_mem_mb":$spillMemMb%.1f,"spill_disk_mb":$spillDiskMb%.1f,"peak_exec_mem_mb":$peakExecMb%.1f,""" +
        s""""rows_out":$rowsOut,"buckets_truncated":$bucketsTruncated}"""
  }

  private val obsId = new java.util.concurrent.atomic.AtomicLong

  /** The heavy subset: every shuffle-bearing pipeline the VERDICT r4 plan
    * audit called out, reused verbatim from the driver-contract queries so
    * the rehearsal measures exactly what the gate verifies.
    */
  private val reused = Seq(
    "q13_dedup_exact", "q17_minhash_pairs", "q20_simhash_pairs",
    "q29_jaccard_pairs", "q36_tfidf", "q39_chunks", "q45_global_index",
    "q46_packing", "q47_decontam", "q49_redact", "q50_e2e_curation",
    "q51_token_budget", "q19b_cosine_lsh", "q31_ivf", "q38_cluster",
    "q26_quality", "q52_substring_mask",
    // CPU-dense language-ID sweep and the gzip-JSONL write+read roundtrip:
    // the ingestion-throughput and classification rows of the scale story
    "q14_textstats", "q53_jsonl",
    // deterministic sampling: the salted top-k window (shuffle-bearing)
    // and the map-only fraction-mode mixture (must stay zero-shuffle)
    "q57b_stratified", "q57d_mix_frac",
    // vocabulary A/B: exact top-20 (per-distinct-token exchange) vs the
    // Misra–Gries sketch route (numPartitions bounded sketches + candidate
    // recount) — the sketch row's shuffle bytes must stay ~flat with scale
    // while the exact row's grow with distinct tokens
    "q30_vocab", "q59_vocab_sketch",
    // session-3 rows: extended repetition signals (map-only, must scale
    // linearly at zero shuffle), KMV distinct (bounded-buffer exchange —
    // A/B against x_distinct_exact below), BPE word counting (the
    // trainer's corpus pass; exchange ∝ distinct words per partition),
    // tar-shard write+read roundtrip (sequential-IO ingestion row), and
    // SemDeDup (cell-bucketed vector pairs + anti-join prune)
    // (q69 is NOT rehearsed: its gate form pins FIXED 4 centroids for the
    // oracle, and at sf10 every cell blows the 20k bucket cap — the row
    // would measure "skew cap dropped everything", not the operator. The
    // scale-correct configuration is x_semantic_dedup_auto below.)
    "q65_gopher_rep", "q66_kmv_distinct", "q67_bpe_wordcounts",
    "q68_tar_roundtrip")

  /** Scale-path variants that the gate runs in verification form: the
    * DEFAULT (approx) profile, and the forced-shuffle CC regime sized with
    * the data (the gate's q48 pins a fixed 50k graph). `scaleNodes` sizes
    * the synthetic graphs: 10 × the scale's document count.
    */
  private def custom(scaleNodes: Long): Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_profile_approx_default" -> ((s, dir) =>
      graft.ops.Corpus.profile(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // The gate's q19b pins 6 planes for a reproducible layout; at 10× rows
    // that fixed layout is the measured 16.7×/59×-shuffle hotspot. This row
    // is the library's answer: planes from corpus size (constant expected
    // bucket), tables from the recall model. Threshold 0.9 — the near-dup
    // regime the auto path is FOR: total candidate cost scales ~n^(1+ρ)
    // with ρ = −log2(1 − θ/π) ≈ 0.22 at θ = acos(0.9). (q19b's 0.35 is a
    // gate artifact — wide angles give ρ ≈ 0.7, where no LSH tuning makes
    // recall 0.9 cheap; see the lshParamsFor scaladoc.)
    "x_cosine_lsh_auto" -> ((s, dir) =>
      graft.ops.Similarity.cosineNearDuplicatePairsAuto(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        threshold = 0.9, dim = 64)),
    "x_cc_shuffle_scaled" -> ((s, _) => {
      val k = 16L
      val edges = s.range(scaleNodes - 1).filter((col("id") + 1) % k =!= 0)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      graft.ops.Cluster.connectedComponents(edges,
        broadcastMaxLabelRows = 0L, localSolveMaxEdges = 0L)
    }),
    // IVF pair generation, exact vs int8-quantized bucket payloads: the
    // head-to-head for the quantization memory claim. FIXED deterministic
    // centroids (no training inside the timed query — the first cut of
    // this row trained k-means in both variants and its aggregation was
    // the peak-memory term on both sides, masking the bucket delta); the
    // remaining difference isolates the payload — the quantized bucket
    // exchange writes ~3x fewer bytes and holds ~4x smaller structs, at
    // the price of the exact re-score join on the (sparse at θ=0.85)
    // survivor set.
    // cells ∝ n (ivfCellsFor) so expected per-cell population stays
    // constant across scales — with a FIXED 16 cells, nProbe·n/16 blows
    // the 20k bucket cap at sf10 and the row measures "skew cap dropped
    // everything" instead of the payload A/B it exists for. The centroid
    // TABLE is still the deterministic formula (no training in the timed
    // query); only its size tracks the data.
    "x_ivf_pairs_exact" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cells = graft.ops.Similarity.ivfCellsFor(e.count(), targetCellSize = 2000)
      graft.ops.Similarity.cosineNearDuplicatePairsIvf(
        e, "vec_id", "embedding", threshold = 0.85,
        centroids = fixedCentroids(cells, 64))
    }),
    "x_ivf_pairs_quant" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cells = graft.ops.Similarity.ivfCellsFor(e.count(), targetCellSize = 2000)
      graft.ops.Similarity.cosineNearDuplicatePairsIvfQuantized(
        e, "vec_id", "embedding", threshold = 0.85,
        centroids = fixedCentroids(cells, 64))
    }),
    "x_distinct_exact" -> ((s, dir) => distinctExact(s, dir)),
    // distinct-count A/B at HIGH cardinality (distincts ≈ rows — the
    // distinct-URL / content-hash profiling case the KMV sketch exists
    // for): exact count_distinct must exchange every distinct value,
    // the sketch exchanges ≤ k longs per partition. The q66 gate pair
    // (x_distinct_exact) runs over the token vocabulary, which this
    // synthetic corpus keeps SMALL — there the md5 rank is the dominant
    // cost and exact wins; cardinality decides which tool fits, and the
    // rows document both regimes.
    "x_kmv_highcard" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          concat_ws(":", col("doc_id"), col("source")).as("v"))
      graft.ops.Corpus.approxDistinct(d, Seq("source"), "v", k = 256)
    }),
    "x_distinct_exact_highcard" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          concat_ws(":", col("doc_id"), col("source")).as("v"))
        .groupBy(col("source"))
        .agg(count_distinct(col("v")).as("nd"))),
    // SemDeDup in its SCALE configuration: cells ∝ n (auto), so per-cell
    // population — and with it the in-cell pair work — stays constant as
    // the corpus grows. The q69 gate row pins FIXED literal centroids for
    // its oracle and is super-linear by construction; this row is the
    // library's answer for real corpora.
    "x_semantic_dedup_auto" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      graft.ops.Similarity.semanticDedup(
        e, "vec_id", "embedding", threshold = 0.85, targetCellSize = 500)
    }),
    // Perceptual-hash image near-dup at scale: real PNG encode + JDK
    // decode + pHash (map-only, the dominant cost, embarrassingly
    // parallel) then the multi-index Hamming exchange — 16 bytes × a fixed
    // per-image row budget (4 anchors + 548 ball probes at h=10). Wall
    // time must scale ~linearly with docs; shuffle bytes ∝ images, never
    // payloads — and rows_out must be NON-VACUOUS (the r10 banding shape
    // silently emitted ~nothing here: all 352 buckets over the cap).
    "x_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      // 1% planted pixel-identical copies (id + 10⁹): rows_out gets a
      // GUARANTEED floor of ~n/100 pairs, so the artifact itself proves
      // the candidate generator is non-vacuous at this corpus size
      val d0 = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val dd = d0.unionByName(d0.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      val media = dd.as[(Long, String)]
        .map { case (id, text) =>
          graft.ops.MediaRow(id,
            graft.ops.MediaMeta("image", "png", 48, 32, 0, 0L),
            SparkEntry.renderTestPng(text, 48, 32))
        }
      graft.ops.Multimodal.imageNearDuplicatePairs(media,
        graft.ops.JdkMediaDecoder(), maxHamming = 10)
    }),
    // Unigram-LM Viterbi encode throughput (round 11): a deterministic
    // 18k-piece vocabulary (all 2- and 3-letter lowercase pieces + byte
    // fallback — the lattice shape of a real trained vocab without a
    // training phase inside the timed query). Map-only codegen'd kernel:
    // must scale ~linearly at zero shuffle next to q14's langid row.
    "x_unigram_encode" -> ((s, dir) => {
      val letters = 'a' to 'z'
      val pieces =
        (for (a <- letters; b <- letters)
          yield (Array(a.toByte, b.toByte), -8.0)) ++
        (for (a <- letters; b <- letters; c <- letters)
          yield (Array(a.toByte, b.toByte, c.toByte), -11.0))
      val model = graft.ops.expr.UnigramModel.withByteFallback(pieces.toSeq)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.ops.TextStats.tokenCountUnigram(col("text"), model).as("n"))
    }),
    // Validated-PII scrub throughput (round 12): the full composed scrub
    // (Luhn card scan + mod-97 IBAN scan + entropy-gated secrets + the
    // three regex classes) over corpus text with a Luhn-valid card planted
    // in every document. Map-only codegen'd kernels — the row exists to
    // pin per-row scan cost ∝ bytes with zero shuffle at 10× data.
    "x_redact_validated" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          length(graft.ops.Corpus.redactPiiAll(
            concat(col("text"), lit(" pay 4111111111111111 now"))))
            .as("n_clean")),
    ),
    // DOM-block content extraction throughput (round 11): pages
    // synthesized around the corpus text (nav chrome + content paragraph
    // + link footer) so the extractor sees realistic block structure at
    // any scale. Map-only codegen'd kernel, ~linear, zero shuffle.
    "x_html_extract" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><title>t</title></head><body>" +
          "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav><p>"),
        col("text"),
        lit("</p><div><a href='/tos'>Terms</a></div></body></html>"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          length(graft.ops.WebText.extractMainContent(page)).as("n_kept"))
    }),
    // WARC sink+source roundtrip throughput (round 11): the corpus out as
    // record-per-gzip-member .warc.gz shards (one file per task — file
    // count IS the read parallelism, the CommonCrawl shape) and straight
    // back in through the per-file streaming parser. Write is map-only
    // (commit = rename), read is map-only; rows_out must equal the corpus
    // size, so the artifact itself proves no record was lost or split.
    "x_warc_roundtrip" -> ((s, dir) => {
      val out = graft.driver.scratchDir("graft_scale_warc_", dir).getPath
      val src = s.read.parquet(s"$dir/documents.parquet").select(
        concat(lit("https://site"), (col("doc_id") % 1000).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text").as("body"))
      graft.sources.Warc.writeWarcResponses(
        src, out, "uri", "body", overwrite = true)
      graft.sources.Warc.readWarc(s, out).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("content_length").as("clen"))
    }),
    // ZipNum index roundtrip (round 14): corpus-sized CDXJ lines
    // range-sorted and clustered into gzip blocks + cluster.idx (one
    // range exchange, then streaming block writes), then ONE host-prefix
    // query answered entirely through the cluster-index block plan. The
    // write half proves the sorted clustering scales; the query half's
    // cost tracks the prefix's share of the index plus the cluster.idx
    // scan, not the index size. rows_out = the prefix's capture count
    // (1/1000 of the corpus by construction) — a wrong block plan loses
    // rows at block edges and shows here.
    "x_zipnum_roundtrip" -> ((s, dir) => {
      val out = graft.driver.scratchDir("graft_scale_zipnum_", dir).getPath
      val lines = s.read.parquet(s"$dir/documents.parquet").select(concat(
        lit("com,site"), (col("doc_id") % 1000).cast("string"),
        lit(")/doc/"), col("doc_id").cast("string"),
        lit(" 20240101000000 {\"url\":\"https://site"),
        (col("doc_id") % 1000).cast("string"),
        lit(".com/doc/"), col("doc_id").cast("string"),
        lit("\",\"status\":\"200\",\"offset\":\""),
        (col("doc_id") * 1000).cast("string"),
        lit("\",\"length\":\"900\",\"filename\":\"w.warc.gz\"}"))
        .as("value"))
      graft.sources.Cdx.writeZipnum(lines, out, overwrite = true)
      graft.sources.Cdx.queryZipnum(s, out, "com,site7)")
        .select(col("surt_key"), col("offset"), col("length"))
    }),
    // Cross-crawl dedup write + streaming sidecar-less index (round 15):
    // a third of the corpus's payloads act as the PRIOR crawl's digest
    // index; the whole corpus arrives as the new batch. writeWarcDeduped
    // splits it (one distinct-digest join + one min-uri-per-digest
    // aggregation join — both digest-keyed, no window sort) and writes
    // mixed response/revisit shards; indexWarc then walks the archive's
    // gzip members STREAMING (languages/charset detectors on) — per-task
    // heap stays one record, whatever the shard size. rows_out = corpus
    // size (one index row per record; organic duplicate texts become
    // in-batch revisits but still index).
    "x_warc_dedup_index" -> ((s, dir) => {
      val out = graft.driver.scratchDir("graft_scale_warcdedup_", dir).getPath
      val src = s.read.parquet(s"$dir/documents.parquet").select(
        concat(lit("https://site"), (col("doc_id") % 1000).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        col("text").as("body"),
        col("doc_id"))
      val prior = src.filter(col("doc_id") % 3 === 0)
        .select(graft.sources.Warc.payloadDigest(
          col("body").cast("binary")).as("digest"))
      graft.sources.Warc.writeWarcDeduped(
        src, out, "uri", "body", prior, overwrite = true)
      graft.sources.Warc.indexWarc(s, out)
        .select(col("surt_key"), col("warc_type"), col("languages"),
          col("digest"))
    }),
    // WAT metadata roundtrip (round 16 — the one new r15 surface with no
    // scale row): the corpus's documents render as HTML-ish pages, write
    // as a WAT archive (ONE codegen'd to_json projection into the sharded
    // record writer — map-only, no shuffle), read back and envelope-parse
    // (explicit-schema from_json, map-only). rows_out = corpus size; a
    // torn envelope or dropped record shows as a lost row.
    "x_wat_roundtrip" -> ((s, dir) => {
      val out = graft.driver.scratchDir("graft_scale_wat_", dir).getPath
      val src = s.read.parquet(s"$dir/documents.parquet").select(
        concat(lit("https://site"), (col("doc_id") % 1000).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")).as("uri"),
        concat(lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title></head><body><a href=\"/d/"),
          (col("doc_id") % 97).cast("string"), lit("\">n</a><p>"),
          substring(col("text"), 1, 2000), lit("</p></body></html>"))
          .as("html"))
      graft.sources.Wat.writeWat(src, out, "uri", "html", overwrite = true)
      graft.sources.Wat.parseWat(graft.sources.Warc.readWarc(s, out))
        .select(col("target_uri"), col("title"), size(col("links")).as("nl"))
    }),
    // Cross-corpus segment dedup throughput (round 11): shared
    // header/footer lines wrapped around every document — the hot-segment
    // skew case the operator is designed for (the shared lines occur
    // corpus-size times; the map-side-combining keeper table must absorb
    // them without a hot-task stall). rows_out == corpus size (one row
    // per document back out).
    "x_segment_dedup" -> ((s, dir) => {
      val wrapped = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("Shared header boilerplate.\n"), col("text"),
            lit("\nShared footer boilerplate.")).as("text"))
      graft.ops.Dedup.dedupSegmentsAcrossCorpus(wrapped, "doc_id", "text")
        .select(col("doc_id"), length(col("text_dedup")).as("n_kept"),
          col("n_segments_removed"))
    }),
    // IVFADC top-k at pruned settings with a FIXED codebook (training out
    // of the timed query, same reasoning as the IVF A/B rows): the per-row
    // cost under measure is encode + m-lookup ADC over probed cells, and
    // it must scale linearly with corpus rows at ~zero shuffle (TakeOrdered
    // + a k·refine-row re-score join).
    "x_pq_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cb = graft.ops.Pq.Codebook(8, 64, 8,
        Array.tabulate(8 * 64 * 8)(i => (((i * 31) % 23) - 11) / 10.0))
      graft.ops.Pq.ivfTopKPqAdc(e, "vec_id", "embedding",
        fixedCentroids(16, 64), cb, SparkEntry.AnnQueryVec, 20,
        nProbe = 4, refine = 8)
    }),
    // PageRank over a synthetic host graph: scaleNodes edges over
    // scaleNodes/100 hosts, with 10% of all links aimed at ONE host — the
    // everyone-links-to-google hot dst key that must stay combiner-safe
    // (map-side partial sums; a skewed reducer here would show as one
    // straggling task per iteration). 5 power iterations: the per-round
    // cost is what scales, the iteration count is a user constant.
    "x_pagerank_scaled" -> ((s, _) => {
      val hosts = math.max(scaleNodes / 100L, 100L)
      val edges = s.range(scaleNodes).select(
        concat(lit("h"), (col("id") % hosts).cast("string")).as("src"),
        concat(lit("h"),
          when(col("id") % 10 === 0, lit(0L))
            .otherwise((col("id") * 131 + 7) % hosts)
            .cast("string")).as("dst"))
      graft.ops.LinkGraph.pageRank(edges, iterations = 5)
    }),
    // DSIR weighting over the corpus: two bounded bucket-count aggregates
    // (≤ 4096 rows each at 3 nibbles), then a map-only gram explode +
    // broadcast ratio join + per-doc sum. Shuffle should carry only the
    // (doc_id, partial-sum) pairs — gram rows must die map-side in the
    // partial aggregate.
    "x_dsir_weights" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.ops.Dsir.dsirLogWeights(
          d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
          nibbles = 3, maxN = 2)
        .select(col("doc_id"), col("log_weight"))
    }))

  /** Exact-distinct A/B baseline for q66: the per-distinct-value exchange
    * the KMV sketch exists to avoid. Shuffle bytes here grow with the
    * vocabulary; the sketch row's stay bounded at k longs per partition.
    */
  private def distinctExact(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(graft.ops.TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(count_distinct(col("tok")).as("nd"))

  /** Deterministic centroid table for the IVF A/B rows: pair-generation
    * memory/shuffle is a property of the bucket structure, not centroid
    * quality, and random-ish fixed directions over random embeddings give
    * roughly balanced cells without a training phase in the timed query.
    */
  private def fixedCentroids(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, i) => (((i * 7 + c * 13) % 17) - 8) / 10.0)

  def main(args: Array[String]): Unit = {
    val smallDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDir = if (args.length > 1) args(1) else "testdata_sf1"
    val outFile = if (args.length > 2) args(2) else "SF1_BENCH.json"
    val onlyQs: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val cpus = GraftSession.cpus()
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt)
    val spark = GraftSession.local(cpus, shufflePartitions)
    val profile = QueryProfile.attach(spark.sparkContext)

    /** The dir's `documents.parquet` row count and its per-query results. */
    def run(dir: String): (Long, Seq[(String, Result)]) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val nodes = 10L * docs
      val qs = (reused.map(n => n -> SparkEntry.queries(n)) ++ custom(nodes).toSeq)
        .filter { case (n, _) => onlyQs.isEmpty || onlyQs.contains(n) }
      docs -> qs.map { case (name, fn) =>
        def once(): Result = {
          System.gc()
          profile.reset()
          val rowsObs = s"graft_scalebench_rows_${obsId.incrementAndGet()}"
          val t0 = System.nanoTime()
          val observed =
            try fn(spark, dir).observe(rowsObs, count(lit(1)).as("rows_out"))
            catch {
              case e: Throwable =>
                System.err.println(s"[scalebench] $name @ $dir: $e")
                return Result(-1, 0, 0, 0, 0, 0)
            }
          // Drain the frame's OWN physical plan (InternalRow pass, nothing
          // to the driver — same cost profile as the noop sink). The noop
          // WRITE plans a separate command QueryExecution whose
          // CollectMetricsExec instances are different objects, so the
          // rows_out/truncation accumulators read back zero — the r11 bug
          // that made every row report rows_out=0 until this run replaced
          // the action.
          try observed.queryExecution.toRdd
            .foreachPartition(it => while (it.hasNext) { it.next(); () })
          catch {
            case e: Throwable =>
              System.err.println(s"[scalebench] $name @ $dir: $e")
              return Result(-1, 0, 0, 0, 0, 0)
          }
          val sec = (System.nanoTime() - t0) / 1e9
          val p = profile.snapshot()
          val rowsOut = org.apache.spark.sql.graft.ColumnBridge
            .observedMetricsAll(observed).get(rowsObs)
            .map(_.getLong(0)).getOrElse(-1L)
          val trunc = graft.ops.Dedup.observedBucketStats(observed)
            .map(_._2).getOrElse(-1L)
          def mb(bytes: Long) = bytes / 1048576.0
          Result(sec, mb(p.shuffleReadBytes), mb(p.shuffleWriteBytes),
            mb(p.memSpillBytes), mb(p.diskSpillBytes), mb(p.peakExecBytes),
            rowsOut, trunc)
        }
        once() // warm-up: JIT, codegen, parquet footers
        val a = once()
        val b = once()
        val best = if (b.sec >= 0 && (a.sec < 0 || b.sec < a.sec)) b else a
        println(f"[scalebench] $dir%-18s $name%-28s ${best.sec}%8.2f s  " +
          f"shW ${best.shuffleWriteMb}%8.1f MB  spill ${best.spillDiskMb}%6.1f MB")
        name -> best
      }
    }

    val (smallDocs, small) = run(smallDir)
    val (bigDocs, big) = run(bigDir)
    val dataFactor = if (smallDocs > 0) bigDocs.toDouble / smallDocs else -1.0
    val ratios = small.map(_._1).map { n =>
      val s = small.find(_._1 == n).get._2.sec
      val b = big.find(_._1 == n).get._2.sec
      n -> (if (s > 0.005 && b > 0) b / s else -1.0)
    }
    def obj(rs: Seq[(String, Result)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v.json }.mkString("{", ",", "}")
    val ratioJson = ratios.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"big_total","value":${big.map(_._2.sec).filter(_ > 0).sum},"unit":"sec",""" +
        s""""small_dir":"$smallDir","big_dir":"$bigDir",""" +
        f""""data_factor":$dataFactor%.2f,""" +
        s""""small":${obj(small)},"big":${obj(big)},"time_ratio_big_over_small":$ratioJson}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
