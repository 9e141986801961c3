package graft.ops

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import graft.ops.expr.SigKernels

/** Randomized parity for the native kernels against straight-line JVM
  * reference implementations — pure kernel-level properties (no Spark
  * session), complementing the DataFrame-level native-vs-HOF parity specs.
  */
object NativeKernelProps extends Properties("NativeKernels") {

  private val word: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  private val ws: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "  ")).map(_.mkString)

  /** Multi-byte and symbol-bearing words: 2-, 3- and 4-byte UTF-8, `…`
    * and the `#` / `...` symbol forms, so byte offsets, character counts
    * and symbol matches diverge from an ASCII walk.
    */
  private val oddWords = Seq("é", "日本", "…", "a…b", "𝄞x", "#", "...", "x....", "#é")

  /** Text with random words separated by random whitespace runs, with
    * optional leading/trailing whitespace and a small vocabulary so n-grams
    * actually repeat; the vocabulary mixes `w<i>` words with [[oddWords]].
    */
  private val text: Gen[String] = for {
    vocab <- Gen.choose(1, 5)
    odd <- Gen.someOf(oddWords)
    words <- Gen.listOf(Gen.oneOf((0 until vocab).map(i => s"w$i") ++ odd))
    seps <- Gen.listOfN(math.max(words.size - 1, 0), ws)
    lead <- Gen.oneOf("", " ", "\t ")
    trail <- Gen.oneOf("", " ", "\n")
  } yield lead + words.zipAll(seps, "", "").map { case (w, s) => w + s }.mkString + trail

  private def tokens(s: String): Seq[String] =
    s.split("\\s+").filter(_.nonEmpty).toSeq

  /** Invalid UTF-8: a stray continuation byte, a truncated 2- and 3-byte
    * sequence, an encoded surrogate, an overlong '/', a code point above
    * U+10FFFF and the never-valid 0xFE.
    */
  private val invalidSeqs: Seq[Array[Byte]] = Seq(
    "80", "C3", "E280", "EDA080", "C0AF", "F4908080", "FE").map(h =>
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

  /** [[text]]'s UTF-8 bytes, with an invalid sequence spliced in at a few
    * random offsets in about one case in three.
    */
  private val textBytes: Gen[UTF8String] = for {
    s <- text
    cuts <- Gen.frequency(2 -> Gen.const(Nil),
      1 -> Gen.listOf(Gen.zip(Gen.choose(0, 1000), Gen.oneOf(invalidSeqs))).map(_.take(3)))
  } yield {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    UTF8String.fromBytes(cuts.sortBy(-_._1).foldLeft(b) { case (acc, (at, bad)) =>
      val i = if (acc.isEmpty) 0 else at % (acc.length + 1)
      acc.take(i) ++ bad ++ acc.drop(i)
    })
  }

  private def refShingles(s: String, n: Int): Seq[String] = {
    val toks = tokens(s)
    if (toks.isEmpty) Nil
    else if (toks.size <= n) Seq(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  property("wordShingles == reference sliding-window shingling") =
    Prop.forAll(text, Gen.choose(1, 4)) { (s, n) =>
      val got = SigKernels.wordShingles(UTF8String.fromString(s), n)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      got == refShingles(s, n)
    }

  property("topNgramFraction == reference multiset mode / total") =
    Prop.forAll(text, Gen.choose(1, 4)) { (s, n) =>
      val toks = tokens(s)
      val expected =
        if (toks.size < n) 0.0
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
          grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size
        }
      val got = SigKernels.topNgramFraction(UTF8String.fromString(s), n)
      got == expected
    }

  property("hashedShingles == hashSortedDistinct(wordShingles)") =
    Prop.forAll(textBytes, Gen.choose(1, 4)) { (u, n) =>
      val fused = SigKernels.hashedShingles(u, n).toLongArray().toSeq
      fused == SigKernels.hashSortedDistinct(SigKernels.wordShingles(u, n)).toLongArray().toSeq
    }

  property("qualitySignals == straight-line reference over the decoded text") =
    Prop.forAll(textBytes, Gen.choose(1, 4)) { (u, n) =>
      val s = u.toString // invalid sequences decode to U+FFFD, as split/regex see them
      val toks = tokens(s)
      val k = toks.size
      val top =
        if (k < n) 0.0
        else {
          val grams = toks.sliding(n).toSeq
          grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size
        }
      val mean = if (k == 0) 0.0 else toks.map(t => t.codePointCount(0, t.length).toLong).sum.toDouble / k
      val lines = s.split("\n", -1).toSeq
      val dup = (lines.size - lines.distinct.size).toDouble / lines.size
      val syms = "#|…|\\.\\.\\.".r.findAllIn(s).size
      val ratio = if (k == 0) 0.0 else syms.toDouble / k
      val r = SigKernels.qualitySignals(u, n)
      def same(i: Int, want: Double) = java.lang.Double.compare(r.getDouble(i), want) == 0
      (r.getInt(0) == k && same(1, top) && same(2, mean) && same(3, dup) && same(4, ratio)) :|
        s"got ${(0 until 5).map(i => if (i == 0) r.getInt(0) else r.getDouble(i))}"
    }

  private val coeff: Gen[Long] =
    Gen.frequency(4 -> Gen.choose(0L, (1L << 20) - 1), 1 -> Gen.oneOf(0L, 1L, (1L << 20) - 1))
  private val hash32: Gen[Long] =
    Gen.frequency(4 -> Gen.choose(0L, 0xFFFFFFFFL), 1 -> Gen.oneOf(0L, 1L, 0xFFFFFFFFL))

  property("modMinHashPrime(a·h + b) == (a·h + b) % p, boundaries included") =
    Prop.forAll(coeff, hash32, coeff) { (a, h, b) =>
      val x = a * h + b
      SigKernels.modMinHashPrime(x) == x % SigKernels.MinHashPrime
    }

  property("modMinHashPrime at and next to multiples of p below 2^52") =
    Prop.forAll(Gen.choose(1L, ((1L << 52) - 2) / SigKernels.MinHashPrime), Gen.choose(-1L, 1L)) {
      (m, d) =>
        val x = m * SigKernels.MinHashPrime + d
        SigKernels.modMinHashPrime(x) == x % SigKernels.MinHashPrime
    }

  private val sortedDistinct: Gen[Seq[String]] =
    Gen.listOf(word).map(_.distinct.sorted)

  property("jaccardSorted == reference set Jaccard") =
    Prop.forAll(sortedDistinct, sortedDistinct) { (a, b) =>
      def arr(xs: Seq[String]) =
        new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)
      val got = SigKernels.jaccardSorted(arr(a), arr(b))
      val inter = a.toSet.intersect(b.toSet).size
      val uni = a.toSet.union(b.toSet).size
      val expected = if (uni == 0) 0.0 else inter.toDouble / uni
      got == expected
    }

  property("jaccardSortedMin: exact above threshold, never passes below") =
    Prop.forAll(sortedDistinct, sortedDistinct, Gen.choose(1, 10)) { (a, b, t10) =>
      val t = t10 / 10.0
      def arr(xs: Seq[String]) =
        new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)
      val exact = SigKernels.jaccardSorted(arr(a), arr(b))
      val bounded = SigKernels.jaccardSortedMin(arr(a), arr(b), t)
      if (exact >= t) bounded == exact // survivors are exact
      else bounded < t                 // early exit stays below the filter
    }

  property("cosine == reference sequential fold (bit-exact)") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(-10f, 10f)), Gen.listOf(Gen.chooseNum(-10f, 10f))) {
      (a0, b0) =>
        val n = math.min(a0.size, b0.size)
        val a = a0.take(n)
        val b = b0.take(n)
        def arr(xs: Seq[Float]) = new GenericArrayData(xs.map(x => x: Any).toArray)
        val got = SigKernels.cosine(arr(a), arr(b), aFloat = true, bFloat = true)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.zip(b).foreach { case (x0, y0) =>
          val x = x0.toDouble; val y = y0.toDouble
          dot += x * y; na += x * x; nb += y * y
        }
        val d = math.sqrt(na) * math.sqrt(nb)
        val expected = if (d == 0) 0.0 else dot / d
        java.lang.Double.compare(got, expected) == 0
    }
}

/** Numeric-character-reference decode: total on arbitrary input, decodes
  * a rendered reference of every valid scalar, idempotent once entity
  * forms are gone, and never touches text without `&#`.
  */
object CharRefProps extends Properties("NumericCharRefDecode") {

  private val kernel = graft.ops.expr.NumericCharRefDecode(
    org.apache.spark.sql.catalyst.expressions.Literal("x"))

  private def decode(s: String): String =
    kernel.decode(UTF8String.fromString(s)).toString

  // arbitrary unicode text, salted with '&' '#' ';' digits so partial
  // entity shapes actually occur
  private val junk: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString), Gen.const("&"), Gen.const("#"),
    Gen.const(";"), Gen.const("&#"), Gen.const("&#x"),
    Gen.choose(0, 0x2FFF).map(cp => new String(Character.toChars(cp))))).map(_.mkString)

  property("total: never throws on arbitrary text") =
    Prop.forAll(junk) { s => decode(s); true }

  property("decodes every valid scalar value, decimal and hex") =
    Prop.forAll(Gen.choose(1, 0x10FFFF).suchThat(cp => cp < 0xD800 || cp > 0xDFFF)
        .suchThat(_ != 38)) { cp =>
      val expect = new String(Character.toChars(cp))
      decode(s"a&#$cp;b") == s"a${expect}b" &&
        decode(s"a&#x${cp.toHexString};b") == s"a${expect}b" &&
        decode(s"a&#X${cp.toHexString.toUpperCase};b") == s"a${expect}b"
    }

  property("idempotent when no '&#' digit sequence survives decoding") =
    Prop.forAll(junk) { s =>
      val once = decode(s)
      val twice = decode(once)
      // decoding can EXPOSE new refs only if a ref decoded to '&' or '#'
      // glyph adjacency — cp 38 is excluded by contract, '#' (35) is not;
      // restrict the claim to outputs with no remaining candidate
      !"&#\\d|&#[xX][0-9a-fA-F]".r.findFirstIn(once).isDefined ==> (twice == once)
    }

  property("entity-free text is unchanged") =
    Prop.forAll(Gen.asciiPrintableStr.map(_.replace("&#", "&_"))) { s =>
      decode(s) == s
    }
}
