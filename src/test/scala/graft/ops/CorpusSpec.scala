package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase

class CorpusSpec extends SparkTestBase {

  import spark.implicits._

  test("redactPii: emails, IPs, phones → typed tokens; near-misses untouched") {
    val df = Seq(
      (1L, "mail a.b+c@foo-bar.org now"),
      (2L, "ip 192.168.0.1 phone 555-123-4567 or 555 123 4567"),
      (3L, "no pii: v1.2 x@y 1.2.3 12345-678"),
      (4L, "")
    ).toDF("id", "text")
    val got = Corpus.redactPii(df, "text", "clean")
      .select("id", "clean").as[(Long, String)].collect().toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "ip <IP> phone <PHONE> or <PHONE>")
    assert(got(3L) == "no pii: v1.2 x@y 1.2.3 12345-678",
      "bare host emails, 3-octet dots, short digit runs stay")
    assert(got(4L) == "")
    intercept[IllegalArgumentException] {
      Corpus.redactPii(df.withColumn("clean", lit("")), "text", "clean")
    }
  }

  test("topNgramFraction: hand-checked repetition values") {
    val df = Seq(
      "a a a b",       // 2-grams: [a a, a a, a b] -> 2/3
      "w x y z",       // all distinct -> 1/4... (3 grams, max 1) -> 1/3
      "solo",          // < 2 tokens -> no grams -> 0.0
      ""               // blank -> 0.0
    ).toDF("text")
    val got = df
      .withColumn("ng", Corpus.ngrams($"text", 2))
      .select(round(Corpus.topNgramFraction($"ng"), 6)).as[Double].collect().toSeq
    assert(got == Seq(0.666667, 0.333333, 0.0, 0.0))
  }

  test("duplicate lines, symbol ratio, and the keep decision") {
    assert(Seq("x\ny\nx\nz").toDF("t")
      .select(Corpus.duplicateLineFraction($"t")).as[Double].head == 0.25)
    assert(Seq("# a … b ... c").toDF("t")
      .select(Corpus.symbolToWordRatio($"t")).as[Double].head == 3.0 / 6.0)
    val keep = (0 until 30).map(i => s"word$i").mkString(" ") // distinct words: low repetition
    val reps = Seq.fill(60)("spam spam").mkString(" ")
    val got = Seq(keep, reps, "too short").toDF("text")
      .transform(Corpus.withQualitySignals(_, "text"))
      .select($"keep").as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false))
  }

  test("domainOf extracts registrable hosts from messy URLs") {
    val got = Seq(
      "https://Sub.Example.com/path?x=1",
      "example.com/x",
      "ftp://user@host.org:8080/f",
      "http://127.0.0.1/x"
    ).toDF("u").select(Corpus.domainOf($"u")).as[String].collect().toSeq
    assert(got == Seq("sub.example.com", "example.com", "host.org", "127.0.0.1"))
  }

  test("perKeyQuota keeps exactly k per key with deterministic ordering") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.8), ("a", 4L, 0.1),
      ("b", 5L, 0.5)
    ).toDF("k", "id", "score")
    val got = Corpus.perKeyQuota(df, Seq("k"), Seq($"score".desc, $"id".asc), 2)
      .select($"id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 5L)) // tie at 0.8 broken by id
    assert(!Corpus.perKeyQuota(df, Seq("k"), Seq($"score".desc, $"id".asc), 2)
      .columns.contains("__rn"))
  }

  test("assignSplit: deterministic, partition-independent, weight-accurate") {
    val df = (0L until 2000L).toDF("id")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = Corpus.assignSplit(df, "id", w).select($"id", $"split")
      .as[(Long, String)].collect().toMap
    val s2 = Corpus.assignSplit(df.repartition(7), "id", w).select($"id", $"split")
      .as[(Long, String)].collect().toMap
    assert(s1 == s2) // partitioning must not change assignment
    val fracs = s1.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(fracs("train") - 0.8) < 0.03, fracs.toString)
    assert(math.abs(fracs("val") - 0.1) < 0.03, fracs.toString)
    assert(math.abs(fracs("test") - 0.1) < 0.03, fracs.toString)
    // different seed -> different assignment (not vacuously constant)
    val s3 = Corpus.assignSplit(df, "id", w, seed = 1L).select($"id", $"split")
      .as[(Long, String)].collect().toMap
    assert(s1 != s3)
  }

  test("invalid weights are rejected") {
    val df = Seq(1L).toDF("id")
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(df, "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(df, "id", Seq("a" -> 1.5, "b" -> -0.5))
    }
  }

  test("prefix-filtered jaccardPairs == brute force at several thresholds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val fast = Dedup.jaccardPairs(docs, "doc_id", "text", t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val brute = Dedup.bruteForceNearDuplicatePairs(docs, "doc_id", "text", t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute,
        s"t=$t missing=${(brute -- fast).take(5)} spurious=${(fast -- brute).take(5)}")
      assert(brute.nonEmpty || t > 0.5) // non-vacuous at the lower thresholds
    }
  }

  test("jaccardPairs maxGramDf: high ceiling exact; low ceiling lossy-subset; drops observed") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = 0.5
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", t)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // a ceiling above every gram's df changes nothing
    val high = Dedup.jaccardPairs(docs, "doc_id", "text", t, maxGramDf = 1000000L)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(high == exact)
    // a tight ceiling may lose pairs but never invents one, and every
    // surviving pair keeps its EXACT jaccard (verification untouched)
    // act on the OBSERVED frame itself: a derived select executes its own
    // plan and would leave this frame's metrics unpopulated
    val lowDf = Dedup.jaccardPairs(docs, "doc_id", "text", t, maxGramDf = 2L)
    val low = lowDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(low.subsetOf(exact),
      s"spurious pairs under ceiling: ${(low -- exact).take(5)}")
    // the ceiling's drop volume is observable on the executed frame
    val stats = Dedup.observedStopGramStats(lowDf)
    assert(stats.isDefined)
    val (dropped, stopGrams, maxDf) = stats.get
    assert(maxDf > 2L) // the fixture has grams above the ceiling...
    assert(dropped > 0L && stopGrams > 0L) // ...and they were dropped
    // the exact path emits no stop-gram observation
    val exactDf = Dedup.jaccardPairs(docs, "doc_id", "text", t)
    exactDf.collect()
    assert(Dedup.observedStopGramStats(exactDf).isEmpty)
  }

  test("hashed-gram jaccardPairs == raw-gram path, values included") {
    // hashGrams relabels grams via xxhash64 before every exchange; the pair
    // set AND the jaccard values must be bit-identical to the string path
    // (equality structure is preserved absent a 2^-64 collision).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.3, 0.8)) {
      def run(h: Boolean) =
        Dedup.jaccardPairs(docs, "doc_id", "text", t, hashGrams = h)
          .select($"id_a", $"id_b", $"jaccard")
          .as[(Long, Long, Double)].collect().toSet
      val hashed = run(true)
      val raw = run(false)
      assert(hashed == raw,
        s"t=$t missing=${(raw -- hashed).take(3)} spurious=${(hashed -- raw).take(3)}")
      assert(hashed.nonEmpty || t > 0.5)
    }
  }

  test("topTokens lowers to TakeOrderedAndProject after the aggregation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = Corpus.topTokens(docs, "text", 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(q.count() == 10)
  }


  test("native topNgramFraction == HOF formulation on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text")
      .union(Seq("", "solo", "a a a b", "x y x y x y").toDF("text"))
    for (n <- Seq(1, 2, 3)) {
      val both = docs
        .withColumn("ng", Corpus.ngrams($"text", n))
        .select(
          graft.ops.expr.NativeSig.topNgramFraction($"text", n).as("native"),
          Corpus.topNgramFraction($"ng").as("hof"))
      val bad = both.filter(!($"native" <=> $"hof")).collect()
      assert(bad.isEmpty, s"n=$n first=${bad.headOption}")
    }
  }


  test("boundary-exact jaccard pairs survive the FP ceil guard") {
    // J = 7/25 = 0.28 exactly; 25 * 0.28 = 7.000000000000001 in doubles, so
    // a naive ceil demands overlap 8 and drops the pair
    val wordsA = (0 until 25).map(i => s"word$i")
    val df = Seq((1L, wordsA.mkString(" ")), (2L, wordsA.take(7).mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.28, shingleN = 1)
      .select($"id_a", $"id_b", $"jaccard").collect()
    assert(pairs.length == 1, pairs.mkString(","))
    assert(pairs.head.getDouble(2) == 0.28)
    val brute = Dedup.bruteForceNearDuplicatePairs(df, "doc_id", "text", 0.28, shingleN = 1)
    assert(brute.count() == 1)
  }

  test("perKeyQuota leaves a caller-owned __rn column untouched") {
    val df = Seq(("a", 1L, 0.9, 77L), ("a", 2L, 0.8, 88L), ("b", 3L, 0.5, 99L))
      .toDF("k", "id", "score", "__rn")
    val out = Corpus.perKeyQuota(df, Seq("k"), Seq($"score".desc), 1)
    assert(out.columns.contains("__rn"))
    assert(out.select($"__rn").as[Long].collect().toSet == Set(77L, 99L))
  }

  // --- withQualitySignals' one native kernel against the HOF formulations ---

  /** withQualitySignals as the per-measure formulations spell it: the HOF
    * columns, with the fused top-n-gram kernel (itself pinned to its HOF
    * formulation above).
    */
  private def qualityReference(df: DataFrame, text: String, n: Int = 2): DataFrame = {
    val t = col(text)
    df.withColumn("token_count", size(TextStats.tokens(t)))
      .withColumn("top_ngram_frac", graft.ops.expr.NativeSig.topNgramFraction(t, n))
      .withColumn("mean_word_len", TextStats.meanTokenLength(t))
      .withColumn("dup_line_frac", Corpus.duplicateLineFraction(t))
      .withColumn("symbol_ratio", Corpus.symbolToWordRatio(t))
      .withColumn("keep",
        Corpus.gopherKeep(col("token_count"), col("top_ngram_frac"), col("mean_word_len")))
  }

  /** Rows as comparable values; doubles by their bits, so -0.0 != 0.0. */
  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  private def assertSameQuality(df: DataFrame, n: Int = 2): Unit = {
    val got = Corpus.withQualitySignals(df, "text", n)
    val want = qualityReference(df, "text", n)
    assert(got.schema == want.schema, s"${got.schema.treeString}\n${want.schema.treeString}")
    val (g, w) = (cells(got), cells(want))
    val diff = g.zip(w).filter { case (a, b) => a != b }
    assert(g.size == w.size && diff.isEmpty, s"n=$n first=${diff.headOption}")
  }

  test("quality kernel == HOF formulation on documents and edge texts, schema included") {
    val texts = TextEdgeCases.withDocuments(spark)
    assert(TextEdgeCases.invalidUtf8Rows(texts) == TextEdgeCases.invalidHex.size)
    for (n <- Seq(1, 2, 3)) assertSameQuality(texts, n)
    // a non-nullable text column keeps the non-nullable fields non-nullable
    assertSameQuality(spark.range(3).select(lit("x y\nx y …").as("text"), $"id"))
  }

  test("a null text gives the HOF values under either size(null) semantics") {
    val df = Seq(Some("a b\nc"), None).toDF("text")
    assertSameQuality(df)
    val confs = Seq("spark.sql.ansi.enabled" -> "false", "spark.sql.legacy.sizeOfNull" -> "true")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // legacy size(null) = -1: token_count -1, dup_line_frac -0.0, symbol_ratio 1.0
      assertSameQuality(df)
      assert(cells(Corpus.withQualitySignals(df, "text").filter($"text".isNull)
        .select("token_count", "dup_line_frac", "symbol_ratio")) ==
        Seq(Seq(-1, java.lang.Double.doubleToRawLongBits(-0.0),
          java.lang.Double.doubleToRawLongBits(1.0))))
    } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("withQualitySignals computes the quality kernel in one place of the optimized plan") {
    val q = Corpus.withQualitySignals(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text")
    val plan = q.queryExecution.optimizedPlan
    val kernels = plan.collect { case node =>
      node.expressions.flatMap(_.collect { case k: graft.ops.expr.QualitySignals => k })
    }.flatten
    assert(kernels.size == 1, plan.toString)
  }

  test("a filter on keep reads one kernel field: at most two quality kernels, same rows") {
    val docs = TextEdgeCases.withDocuments(spark)
    val kept = Corpus.withQualitySignals(docs, "text").filter(col("keep"))
    val plan = kept.queryExecution.optimizedPlan
    val kernels = plan.collect { case node =>
      node.expressions.flatMap(_.collect { case k: graft.ops.expr.QualitySignals => k })
    }.flatten
    // Catalyst pushes the predicate below the projection and substitutes
    // `keep`'s definition: one kernel in the Filter, one in the Project
    assert(kernels.size <= 2, plan.toString)
    val want = qualityReference(docs, "text").filter(col("keep"))
    assert(kept.count() > 0 && cells(kept).toSet == cells(want).toSet)
  }
}
