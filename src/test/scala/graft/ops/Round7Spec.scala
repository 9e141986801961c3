package graft.ops

import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase

/** Round-7 regressions: exact-dedup edge cases (all-null id groups,
  * dotted column names, content-key collisions) and the
  * ObjectHashAggregate plan pin for `jaccardPairs`' bounded bucket
  * aggregation.
  */
class Round7Spec extends SparkTestBase {

  import spark.implicits._

  // ------------------------------------------------------------------
  // dropExactDuplicates edge cases
  // ------------------------------------------------------------------

  test("dropExactDuplicates: all-null-id content groups are dropped, not fabricated") {
    // group "a": null ids only → no min_by winner → dropped (same rows the
    // mark+filter path loses to null =!= null); group "b": null id loses to
    // the real id; group "c": plain keep-min
    val df = Seq(
      (Option.empty[Long], "a"),
      (Option.empty[Long], "a"),
      (Option.empty[Long], "b"),
      (Some(7L), "b"),
      (Some(2L), "c"),
      (Some(1L), "c")
    ).toDF("id", "text")
    val got = Dedup.dropExactDuplicates(df, "id", Seq("text"))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
      .toSet
    assert(got == Set((Some(7L), "b"), (Some(1L), "c")))
    // no all-null fabricated row, ever
    assert(!got.exists { case (id, t) => id.isEmpty && t == null })
  }

  test("dropExactDuplicates survives dotted column names") {
    val df = Seq((1L, "x", "p"), (2L, "x", "q"), (3L, "y", "r"))
      .toDF("id", "a.b", "payload")
    val got = Dedup.dropExactDuplicates(df, "id", Seq("a.b"))
    assert(got.columns.toSeq == Seq("id", "a.b", "payload"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "x", "p"), (3L, "y", "r")))
    // content keys, marked and dropped under a plain and a dotted name: a
    // null key is its own group (the mark equi-joins on the key, so it is
    // never null), apart from ""; a text spelling another key's JSON
    // serialization stays apart from it
    val rows = Seq[(Long, String)](
      (1L, null), (2L, null), (3L, ""), (4L, ""), (5L, """{"text":"x"}"""),
      (6L, "x"), (7L, """{"text":"x"}"""), (8L, "x"), (9L, "\"x\""))
    val firsts = Set(1L, 3L, 5L, 6L, 9L)
    for (key <- Seq("text", "a.b")) {
      val keyed = rows.toDF("id", key)
      assert(Dedup.markExactDuplicates(keyed, "id", Seq(key)).filter(!col("is_dup"))
        .select("id").as[Long].collect().toSet == firsts, key)
      assert(Dedup.dropExactDuplicates(keyed, "id", Seq(key)).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
        rows.filter(r => firsts(r._1)).map(r => (r._1, Option(r._2))).toSet, key)
    }
  }

  // ------------------------------------------------------------------
  // BoundedCollectList plan pin
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // Language ID: 28-language linear classifier
  // ------------------------------------------------------------------

  test("langId separates all 28 model languages on real sentences") {
    val samples = Seq(
      "en" -> "the cat sat on the mat and it was good for all of us",
      "es" -> "el perro y el gato en la casa de la abuela",
      "de" -> "der Hund und die Katze sind nicht im Haus mit dem Mann",
      "fr" -> "le chien et le chat sont dans la maison avec vous",
      "pt" -> "o cachorro e o gato não estão em casa para os amigos",
      "it" -> "il cane e il gatto sono nella casa del nonno con una donna",
      "nl" -> "de hond en de kat zijn niet in het huis met een man",
      "sv" -> "och att det som en på är av för med den till inte",
      "da" -> "og det at en den til er som på de med han af ikke",
      "no" -> "og det at en et den til er som på av ikke meg seg så",
      "fi" -> "ja on ei että se hän oli mutta niin myös kun joka",
      "pl" -> "to nie jest tak jak się wydaje ale co z tym przez",
      "cs" -> "a se na je že v s to do jako jsem jsou být byl",
      "ro" -> "și de în la cu pe este care nu din mai sunt",
      "hu" -> "az és nem hogy is egy van de meg ez már csak",
      "tr" -> "bu bir test ve çok daha iyi ama ne kadar sonra",
      "id" -> "yang dan di itu dengan untuk tidak ini dari dalam",
      "vi" -> "của và là có không được trong đã người những",
      "ru" -> "я не знаю что он хочет но это хорошо и ясно",
      "uk" -> "я не знаю що він хоче але це добре і ясно",
      "el" -> "και αυτό είναι ένα τεστ της γλώσσας που έχω",
      "ar" -> "هذا اختبار في اللغة العربية من أجل النص",
      "he" -> "זה מבחן של השפה העברית עם כל המילים",
      "hi" -> "यह एक परीक्षा है और वह भी नहीं था",
      "th" -> "นี่คือการทดสอบภาษาไทย",
      "zh" -> "这是一个中文测试的句子没有空格",
      "ja" -> "これは日本語のテストです、ひらがなが多い文章。",
      "ko" -> "한국어 테스트 문장입니다 안녕하세요",
      "und" -> "12345 67890 !!! ??? ...")
    val got = samples.map(_._2).toDF("text")
      .select(TextStats.langId(col("text"))).collect().map(_.getString(0))
    for (((want, text), g) <- samples.zip(got))
      assert(g == want, s"langId('$text') = $g, want $want")
  }

  test("langId: case-insensitive tokens, mixed scripts, tie-to-first") {
    val got = Seq(
      "THE CAT AND THE DOG WITH IT",    // uppercase English
      "Der große Hund ist schön und war nicht da", // ß → de discriminator too
      "हिंदी और English मिश्रित है और नहीं" // Devanagari chars outweigh 1 en token
    ).toDF("text").select(TextStats.langId(col("text"))).collect().map(_.getString(0))
    assert(got(0) == "en")
    assert(got(1) == "de")
    assert(got(2) == "hi")
  }

  test("classifyTop: mixed pages list secondaries at >= half the primary " +
    "score; single-language text stays one code; top-1 equals classify") {
    import org.apache.spark.unsafe.types.UTF8String
    def top(s: String, k: Int = 3): String =
      graft.ops.expr.LangModel.classifyTop(UTF8String.fromString(s), k).toString
    def one(s: String): String =
      graft.ops.expr.LangModel.classify(UTF8String.fromString(s)).toString
    // a genuinely bilingual page: balanced en + fr function-word mass
    val mixed = "the cat and the dog with it was on the mat " +
      "le chat et le chien dans la maison avec les fenetres"
    val m = top(mixed)
    assert(m.split(",").toSet == Set("en", "fr"), m)
    // dominant language with an incidental shared token: one code only
    val en = "the cat and the dog with it was on the mat and that is it"
    assert(top(en) == "en")
    // single-language fixtures used by the q107c gate stay single codes —
    // in particular pure Russian must NOT drag in uk off the shared
    // Cyrillic block (uk rides every shared char to > half of ru's score
    // but has zero uk-exclusive evidence)
    assert(top(graft.SparkEntry.LangGateFr) == "fr")
    assert(top(graft.SparkEntry.LangGateRu) == "ru")
    // a genuinely Russian+Ukrainian page carries uk-exclusive evidence
    // (і/ї/є discriminators + uk function words) in proportion to its
    // Ukrainian mass — both codes list
    val ruUk = graft.SparkEntry.LangGateRu +
      " це тест української мови і він має її букви є і ще багато слів"
    assert(top(ruUk).split(",").toSet == Set("ru", "uk"), top(ruUk))
    // top-1 == classify on every probe (shared scoring, same tie-break)
    for (s <- Seq(mixed, en, "", "12345", graft.SparkEntry.LangGateEn))
      assert(top(s, 1) == one(s), s)
    // nothing scores → und
    assert(top("12345 67890") == "und")
  }

  // ------------------------------------------------------------------
  // Substring-level dedup
  // ------------------------------------------------------------------

  test("windowHashes matches the HOF formulation (and short texts have no windows)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "  leading   and\ttrailing \n whitespace  text here now ok fine done ",
      "exactly eight tokens in this very sentence here",
      "seven tokens only in this one here",
      "", "   ", "one")
    val df = texts.toDF("text")
    val w = 8
    val toks = array_remove(split(col("text"), "\\s+"), "")
    val k = size(toks)
    val hof = when(k < w, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), k - w),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(w))))))
    val rows = df.select(
      graft.ops.expr.NativeSig.windowHashes(col("text"), w).as("native"),
      hof.as("hof")).collect()
    for (r <- rows) assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    // fewer than w tokens -> no windows at all
    assert(rows(3).getSeq[Long](0).isEmpty && rows(4).getSeq[Long](0).isEmpty)
  }

  test("maskCovered: overlap merge, unsorted positions, out-of-range, empties") {
    def mask(text: String, pos: Seq[Int], w: Int): (String, Int) = {
      val r = Seq(text).toDF("text")
        .select(graft.ops.expr.NativeSig.maskRepeatedWindows(
          col("text"), lit(pos.toArray), w).as("m"))
        .select(col("m.clean"), col("m.removed")).head()
      (r.getString(0), r.getInt(1))
    }
    assert(mask("a b c d e f", Seq(0, 1), 2) == (("d e f", 3)))     // overlap merges
    assert(mask("a b c d e f", Seq(3, 0), 2) == (("c f", 4)))       // unsorted input
    assert(mask("a b c d e f", Seq.empty, 2) == (("a b c d e f", 0)))
    assert(mask("a  b\t c ", Seq.empty, 2) == (("a b c", 0)))       // space-normalized
    assert(mask("a b c", Seq(10), 2) == (("a b c", 0)))             // out of range
    assert(mask("", Seq.empty, 2) == (("", 0)))
  }

  test("maskRepeatedSpans masks corpus-repeated spans, within-doc repeats, passthrough") {
    val boiler = "NAV HOME ABOUT CONTACT LOGIN SIGNUP FOOTER COPYRIGHT"
    val docs = Seq(
      (1L, s"$boiler unique one text here"),
      (2L, s"$boiler different tail words now"),
      (3L, "totally unique document content with no repeats at all whatsoever indeed"),
      (4L, "tiny doc"),
      (5L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"),
      (6L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.maskRepeatedSpans(docs, "doc_id", "text",
      windowTokens = 8, minRepeats = 2)
      .select(col("doc_id"), col("text_clean"), col("n_repeated_windows"),
        col("n_tokens_removed"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == (("unique one text here", 1L, 8L)))
    assert(got(2L) == (("different tail words now", 1L, 8L)))
    assert(got(3L) == (("totally unique document content with no repeats at all whatsoever indeed", 0L, 0L)))
    assert(got(4L) == (("tiny doc", 0L, 0L)))           // < w tokens: untouched
    assert(got(5L) == (("", 2L, 16L)))                  // within-doc repeat masks all
    assert(got(6L) == (("", 0L, 0L)))
  }

  test("removeRepeatedSpans rewrites text and drops fully-masked documents") {
    val boiler = "NAV HOME ABOUT CONTACT LOGIN SIGNUP FOOTER COPYRIGHT"
    val docs = Seq(
      (1L, s"$boiler real content survives here"),
      (2L, s"$boiler other real content too"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
      windowTokens = 8, minRepeats = 2)
    assert(got.columns.toSeq ==
      Seq("doc_id", "text", "n_repeated_windows", "n_tokens_removed"))
    val rows = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "real content survives here",
      2L -> "other real content too"))
  }

  test("maskRepeatedSpans plan: merge joins hold, no broadcast of corpus-sized sides") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val docs = (1L to 30L).map(i => (i, s"alpha beta gamma delta $i epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Dedup.maskRepeatedSpans(docs, "doc_id", "text")
        .queryExecution.executedPlan
      assert(p.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
        s"corpus-sized join side got broadcast:\n$p")
      assert(p.collect { case m: SortMergeJoinExec => m }.size >= 2,
        s"expected the frequency join-back and document join-back as sort-merge:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("bounded bucket aggregation plans through ObjectHashAggregate, not sort-based fallback") {
    // the r6 memory-bound claim ("bucket exchange shape unchanged, buffers
    // O(cap)") presumes the TypedImperativeAggregate stays on the hash
    // aggregation path; a silent SortAggregate fallback would add a
    // corpus-wide sort below every bucket exchange. This pins the planned
    // node only; nearDuplicatePairs, which sizes buckets with a window, has
    // its runtime pin in AqePlanShapeSpec.
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    val docs = (1L to 40L).map(i => (i, s"alpha beta gamma ${i % 3} delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val q = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = q.queryExecution.executedPlan
      val objHash = p.collect { case o: ObjectHashAggregateExec => o }
      val sortAgg = p.collect { case s: SortAggregateExec => s }
      assert(objHash.nonEmpty, s"expected ObjectHashAggregate for the bucket collect:\n$p")
      assert(sortAgg.isEmpty, s"bucket collect fell back to sort-based aggregation:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }
}
