package graft.ops

import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase
import graft.ops.expr.NativeSig

class NativeSigSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("native minhash == HOF minhash on real documents") {
    val staged = docs
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .select($"doc_id", Dedup.shingleHashes($"sh").as("hs"), $"sh")
      .select(
        $"doc_id",
        Dedup.minhashSignature($"hs", 16).as("hof"),
        NativeSig.minhashSignature($"sh", 16).as("native")
      )
    val bad = staged.filter(!($"hof" === $"native")).count()
    assert(bad == 0)
  }

  test("minhash over hash_sorted_distinct longs == minhash over the strings") {
    // the hashed grams ARE XXH64(token, Seed) — the exact value the string
    // kernel computes per token before masking — so the two paths must be
    // BIT-identical (this is what lets nearDuplicatePairs hash grams once
    // and reuse the array for both signature and verify)
    val staged = docs
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .select(
        $"doc_id",
        NativeSig.minhashSignature($"sh", 32).as("fromStrings"),
        NativeSig.minhashSignature(
          NativeSig.hashSortedDistinct($"sh"), 32).as("fromLongs"))
    assert(staged.filter(!($"fromStrings" === $"fromLongs")).count() == 0)
  }

  test("native minhash stays inside whole-stage codegen") {
    val q = docs
      .select(Dedup.shingles($"text", 3).as("sh"))
      .select(NativeSig.minhashSignature($"sh", 64).as("sig"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen:\n$plan")
    assert(q.count() == docs.count())
  }

  test("simhash: identical tokens → identical sig; one word changed → small hamming") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again today"),
      ("b", "the quick brown fox jumps over the lazy dog again and again today"),
      ("c", "the quick brown fox jumps over the lazy dog again and again tonight"),
      ("d", "completely different words about spark query engines and columnar io")
    ).toDF("id", "text")
      .select($"id", NativeSig.simhash64(split($"text", "\\s+")).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("b"))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(m("a"), m("c")) < 20)
    assert(hamming(m("a"), m("c")) > 0)
    assert(hamming(m("a"), m("d")) > hamming(m("a"), m("c")))
  }

  test("simhash near-dup pipeline finds planted duplicates, none spurious") {
    val base = docs.limit(100).select($"doc_id", $"text")
    // mutate one word in the middle — hamming stays small
    val mutated = docs.limit(8).select(
      ($"doc_id" + 100000L).as("doc_id"),
      regexp_replace($"text", "^(\\S+ \\S+ \\S+) \\S+", "$1 zzzz").as("text"))
    val all = base.union(mutated).cache()
    try {
      val pairs = Dedup.simhashNearDuplicatePairs(all, "doc_id", "text", maxHamming = 12)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val planted = (0 until 8).map(i => (i.toLong, i + 100000L)).toSet
      assert(planted.subsetOf(pairs), s"missed: ${planted -- pairs}")
      // verify every reported pair really is within the hamming budget
      val sigs = all.select($"doc_id",
        NativeSig.simhash64(split($"text", "\\s+")).as("sig"))
        .as[(Long, Long)].collect().toMap
      pairs.foreach { case (x, y) =>
        assert(java.lang.Long.bitCount(sigs(x) ^ sigs(y)) <= 12)
      }
    } finally all.unpersist()
  }

  test("SQL registration: functions usable from spark.sql") {
    NativeSig.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs_sql")
    val r = spark.sql(
      """SELECT simhash64(split(text, '\\s+')) AS sh,
        |       minhash_signature(split(text, '\\s+'), 8) AS mh
        |FROM docs_sql LIMIT 3""".stripMargin).collect()
    assert(r.length == 3)
    assert(r.forall(row => row.getSeq[Long](1).length == 8))
  }

  test("type check rejects non-array input") {
    val df = Seq("abc").toDF("s")
    val e = intercept[Exception](df.select(NativeSig.simhash64($"s")).collect())
    assert(e.getMessage.contains("simhash64") || e.getMessage.toLowerCase.contains("type"))
  }

  test("native minhash of an empty token array is null, like the HOF guard") {
    val df = Seq(Seq.empty[String], Seq("a", "b")).toDF("toks")
    val out = df.select(NativeSig.minhashSignature($"toks", 8).as("sig"))
      .select($"sig".isNull).as[Boolean].collect().toSeq
    assert(out == Seq(true, false))
    // two empty docs must NOT band-match on sentinel signatures downstream
    val docs = Seq((1L, ""), (2L, ""), (3L, "real text here to shingle on"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.1)
    assert(pairs.filter($"id_a" === 1L && $"id_b" === 2L).count() == 0)
  }


  test("native signbit signature == HOF formulation on real embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = Similarity.hyperplanes(12, 64, seed = 7L)
    val both = embs.select(
      NativeSig.signBitSignature($"embedding", planes).as("native"),
      Similarity.hofSignBitSignature($"embedding", planes).as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
    // signatures actually vary across rows (not a constant)
    assert(both.select("native").distinct().count() > 1)
  }

  test("native signbit stays inside whole-stage codegen") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = Similarity.hyperplanes(24, 64)
    val q = embs.select(NativeSig.signBitSignature($"embedding", planes).as("sig"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen:\n$plan")
    assert(q.count() == embs.count())
  }


  test("native cosine == HOF cosine bit-exactly on real embeddings, inside codegen") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = embs.select($"vec_id".as("id_a"), $"embedding".as("va")).limit(50)
    val b = embs.select($"vec_id".as("id_b"), $"embedding".as("vb")).limit(50)
    val pairs = a.crossJoin(b)
    val both = pairs.select(
      NativeSig.cosineSim($"va", $"vb").as("native"),
      Similarity.hofCosine($"va", $"vb").as("hof"))
    // bit-exact: same accumulation order, same zero-norm guard
    assert(both.filter($"native" =!= $"hof").count() == 0)
    val zero = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("za", "zb")
      .select(NativeSig.cosineSim($"za", $"zb")).as[Double].head
    assert(zero == 0.0)
    // codegen check on a map-only projection (join operators sit outside
    // whole-stage codegen regardless of the expression)
    val q = embs.select(NativeSig.cosineSim($"embedding", $"embedding").as("c"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen:\n$plan")
  }


  test("native nearest-centroid == HOF argmin on real embeddings, ties to smaller index") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.trainCentroids(embs.limit(100), "embedding", k = 4, iters = 1)
    val both = embs.select(
      NativeSig.nearestCentroid($"embedding", cents).as("native"),
      Similarity.hofNearestCentroid($"embedding", cents).as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
    assert(both.select("native").distinct().count() > 1)
    // exact tie: duplicated centroid → both formulations pick index 0
    val dupCents = Array(Array(1.0, 0.0), Array(1.0, 0.0))
    val tie = Seq(Array(1f, 0f)).toDF("v").select(
      NativeSig.nearestCentroid($"v", dupCents).as("native"),
      Similarity.hofNearestCentroid($"v", dupCents).as("hof"))
      .as[(Int, Int)].head()
    assert(tie == ((0, 0)))
    // codegen check
    val plan = embs.select(NativeSig.nearestCentroid($"embedding", cents))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen:\n$plan")
    // dimension mismatch fails loud instead of scoring a prefix — pin the
    // actual message (unwrapping whatever execution layer wraps it in)
    def rootMessage(t: Throwable): String = {
      var cur = t
      while (cur.getCause != null && (cur.getCause ne cur)) cur = cur.getCause
      String.valueOf(cur.getMessage)
    }
    val e = intercept[Exception] {
      Seq(Array(1f, 2f, 3f)).toDF("v")
        .select(NativeSig.nearestCentroid($"v", dupCents)).collect()
    }
    assert(rootMessage(e).contains("nearest_centroid") && rootMessage(e).contains("dims"),
      rootMessage(e))
    val e2 = intercept[Exception] {
      Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
        .select(NativeSig.cosineSim($"a", $"b")).collect()
    }
    assert(rootMessage(e2).contains("cosine_sim"), rootMessage(e2))
  }

  test("native word shingles == HOF shingles on real documents + edge cases") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text")
      .union(Seq("", "   ", "one", "a b", "a\tb\nc  d", "x y x y x y").toDF("text"))
    for (n <- Seq(1, 3, 5)) {
      val both = docs.select(
        Dedup.shingles($"text", n).as("native"),
        Dedup.hofShingles($"text", n).as("hof"))
      val bad = both.filter(!($"native" <=> $"hof")).collect()
      assert(bad.isEmpty, s"n=$n first=${bad.headOption}")
    }
    val plan = docs.select(Dedup.shingles($"text", 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("word_shingles"), plan)
  }

  test("hashed shingles == hash_sorted_distinct(word_shingles) on documents and edge texts") {
    val texts = TextEdgeCases.withDocuments(spark)
    assert(TextEdgeCases.invalidUtf8Rows(texts) == TextEdgeCases.invalidHex.size)
    for (n <- Seq(1, 2, 3, 5)) {
      val both = texts.select(
        NativeSig.hashedShingles($"text", n).as("fused"),
        NativeSig.hashSortedDistinct(NativeSig.wordShingles($"text", n)).as("pair"))
      val bad = both.filter(!($"fused" <=> $"pair")).collect()
      assert(bad.isEmpty, s"n=$n first=${bad.headOption}")
    }
  }

  test("hashed shingles and quality signals compile twice into one method, nullable or not") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.ops.expr.{HashedShingles, QualitySignals}
    val texts = TextEdgeCases.strings.map(UTF8String.fromString) ++
      TextEdgeCases.invalidHex.map(h => UTF8String.fromBytes(TextEdgeCases.bytes(h)))
    for (nullable <- Seq(false, true)) {
      val s = BoundReference(0, StringType, nullable)
      val pairs: Seq[(String, Seq[Expression])] = Seq(
        "hashed_shingles" -> Seq(HashedShingles(s, 3), HashedShingles(s, 1)),
        "quality_signals" -> Seq(
          QualitySignals(s, 2, legacySizeOfNull = false),
          QualitySignals(s, 3, legacySizeOfNull = true)))
      for ((name, exprs) <- pairs) {
        // no interpreted fallback: a compile error in the generated code throws
        val generated = GenerateUnsafeProjection.generate(exprs)
        val interpreted = InterpretedUnsafeProjection.createProjection(exprs)
        val rows = texts.map(t => InternalRow(t)) ++
          (if (nullable) Seq(InternalRow(null)) else Nil)
        rows.foreach { r =>
          assert(generated(r).copy() == interpreted(r).copy(),
            s"$name nullable=$nullable on ${r.getUTF8String(0)}")
        }
      }
    }
  }

  test("hashed shingles and quality signals stay inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import graft.ops.expr.{HashedShingles, QualitySignals}
    val q = docs.select(
      NativeSig.hashedShingles($"text", 3).as("ss"),
      NativeSig.qualitySignals($"text", 2).as("q"))
    val plan = q.queryExecution.executedPlan
    def fused(p: ProjectExec) = Seq(classOf[HashedShingles], classOf[QualitySignals]).forall(c =>
      p.projectList.exists(_.find(e => c.isInstance(e)).isDefined))
    val inStage = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.find { case p: ProjectExec => fused(p); case _ => false }.isDefined)
    assert(inStage, s"expected both kernels in a codegen stage:\n$plan")
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false") // a generated-code compile error now throws
    try assert(q.count() == docs.count() && q.collect().length == docs.count())
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Texts that stress the byte-level kernels: blank and single-token texts,
  * every whitespace byte, leading and trailing newlines, repeated lines,
  * the `#|…|...` symbol cases, multi-byte words, and bytes that are not
  * valid UTF-8 (surrogate, overlong, truncated and stray sequences).
  */
private[ops] object TextEdgeCases {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  val strings: Seq[String] = Seq(
    "", " ", "   \t  ", "\n", "one", "a b", "a b c", "a b c d e f",
    "a\tb\u000Bc\fd\re\nf", "a\t\t\tb\r\r\nc \u000B\u000B d\f\fe",
    "\n\nx\ny", "x\ny\n\n", "x\ny\nx\n", "x\ny\nx\nz",
    "…", "....", "#...", "# a … b ... c", "..#…..…...",
    "é café 日本 語 日本 語 … 𝄞 notes", "日本語 日本語 日本語", "a  b a  b a b",
    "spam spam spam spam spam spam")

  /** Hex byte strings; every one is invalid UTF-8. */
  val invalidHex: Seq[String] = Seq(
    "61FF62", "C3", "6120E280", "E28020E280A6", "EDA080206120EDA080",
    "C0AF2061", "F4908080", "80808020612062", "2E2EC32E2023FE0A0A78")

  def bytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** One `text` column: the edge strings, a null, and the invalid bytes. */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    strings.map(Option(_)).:+(Option.empty[String]).toDF("text")
      .union(invalidHex.toDF("h").select(unhex($"h").cast("string").as("text")))
  }

  /** [[frame]] after the test corpus's documents. */
  def withDocuments(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(col("text"))
      .union(frame(spark))

  /** Rows whose text bytes are not valid UTF-8 — checks that the cast from
    * binary kept the invalid bytes.
    */
  def invalidUtf8Rows(df: DataFrame): Long =
    df.select(col("text").cast("binary")).collect().count { r =>
      val b = r.getAs[Array[Byte]](0)
      b != null && !org.apache.spark.unsafe.types.UTF8String.fromBytes(b).isValid
    }
}
