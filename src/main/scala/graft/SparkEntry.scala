package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dftly.Dftly
import graft.driver._

/** Driver contract: one query per implemented operator family from
  * SURVEY.md §2, each checked against a DuckDB oracle. Every query is
  * declared once, as a [[graft.driver.Case]] in a family file under
  * `graft/driver` (`ExprCases`, `DedupCases`, ...). This object derives
  * what the mains read ([[queries]], [[oracleSql]], [[prepare]],
  * [[releaseFixture]]) from the single [[cases]] list, and holds the
  * fixture constants the cases and the tests share.
  *
  * Adding a query: append one `Case(name, (s, dir) => ..., Sql(...))` to
  * its family, the DuckDB SQL right below the run. A query whose rows no
  * SQL engine can restate takes `Exempt(reason)` instead of `Sql`, naming
  * the oracle-checked property query that covers it. Give it a `fixture`
  * only when Bench must build its input outside the timed region: a
  * `FrameFixture` for a persisted frame, a `FilesFixture` for files written
  * once per sf dir and JVM.
  *
  * Oracle notes: aggregate/computed columns are aliased identically on both
  * sides (the driver sorts columns by name before hashing); integer-ish
  * outputs are cast to int64/BIGINT on both sides so schemas line up.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Dftly.select(
      t(spark, "/root/testdata/sf0.001", "lineitem"),
      """l_orderkey: $l_orderkey
        |l_linenumber: $l_linenumber
        |revenue: $l_extendedprice * (1 - $l_discount)
        |big: "YES if $l_quantity >= 30 else NO"
        |""".stripMargin
    )

  /** Every driver query, declared once; a name declared twice fails here. */
  lazy val cases: Seq[Case] = Case.unique(
    ExprCases.cases ++ PipelineCases.cases ++ DedupCases.cases ++
      VectorCases.cases ++ MediaCases.cases ++ TextCases.cases ++
      TokenizerCases.cases ++ CrawlCases.cases ++ IndexCases.cases)

  /** Each query's run over an sf directory, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.map(c => c.name -> c.run).toMap

  /** DuckDB oracle per query (same parquet tables, same column names);
    * `Exempt` queries have none.
    */
  def oracleSql: Map[String, String] =
    cases.collect { case Case(name, _, Sql(text), _) => name -> text }.toMap

  /** Per-query fixture materialization hooks; Bench invokes them OUTSIDE
    * the timed region.
    */
  def prepare: Map[String, (SparkSession, String) => Unit] =
    cases.collect { case Case(name, _, _, Some(f)) => name -> (f.prepare _) }.toMap

  /** Drop a query's prepared fixture (Bench, after the last timed run of
    * that query). A query without a fixture is a no-op.
    */
  def releaseFixture(name: String, dir: String): Unit =
    cases.find(_.name == name).flatMap(_.fixture).foreach(_.release(dir))

  /** The queries a run covers, sorted: all of them for `None`, else the
    * comma-separated names in `only`. An unknown name fails, listing every
    * unknown one: a typo must not produce a short run that looks clean.
    */
  def select(only: Option[String]): Seq[String] = {
    val all = cases.map(_.name).sorted
    only.fold(all) { csv =>
      val wanted = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = wanted -- all
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter(wanted.contains)
    }
  }

  /** The shared raster both media fixtures draw (gradient textured by the
    * text bytes) — q76's PNGs and q79's MJPEG frames must not drift apart
    * on a future tweak to the pixel math.
    */
  private def renderTestRaster(text: String, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bytes = text.getBytes("UTF-8")
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = if (bytes.isEmpty) 0 else bytes((x * 31 + y * 17) % bytes.length) & 0xFF
        val g = ((v + x * 255 / w + y * 255 / h) / 3) & 0xFF
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Deterministic real PNG for the q76 perceptual-hash gate: a gradient
    * textured by the text bytes, encoded with the JDK's PNG writer (pure
    * function of the raster — no timestamps), decoded back by the REAL
    * [[graft.ops.JdkMediaDecoder]] inside the query. Identical text ⇒
    * identical pixels ⇒ identical pHash.
    */
  def renderTestPng(text: String, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(renderTestRaster(text, w, h), "png", bos)
    bos.toByteArray
  }

  /** Deterministic real 16-bit PCM WAV for the q78 audio-fingerprint
    * gate. Base samples are even multiples of 128, so `halfGain` halves
    * them EXACTLY — window energies scale by exactly 2⁻² (power-of-two FP
    * scaling commutes with rounding), every adjacent-energy comparison is
    * preserved, and the gain-invariance of the contour fingerprint is a
    * GUARANTEE the oracle can pin, not a measurement.
    */
  def renderTestWav(text: String, halfGain: Boolean): Array[Byte] = {
    val bytes = text.getBytes("UTF-8")
    val n = 2048
    val pcm = new Array[Short](n)
    var i = 0
    while (i < n) {
      val v0 = if (bytes.isEmpty) 0 else (bytes((i * 7) % bytes.length) & 0xFF) - 128
      val v = v0 * 128
      pcm(i) = (if (halfGain) v / 2 else v).toShort
      i += 1
    }
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    pcm.foreach(bb.putShort)
    bb.array()
  }

  /** Deterministic MJPEG (concatenated real JPEG frames) for the q79
    * video-signature gate: 3 frames of the [[renderTestPng]] pattern at
    * shifted phases, each a real `ImageIO` JPEG the decoder's SOI/EOI
    * scan splits and really decodes.
    */
  def renderTestMjpeg(text: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < 3) {
      javax.imageio.ImageIO.write(
        renderTestRaster(text + ("!" * (f + 1)), 48, 32), "jpg", out)
      f += 1
    }
    out.toByteArray
  }

  /** q107c's language fixtures — one sentence per class, long enough for
    * an unambiguous classify, no apostrophes (they inline into DuckDB
    * VALUES literals verbatim), fr kept accent-free so the
    * windows-1252-labeled decode is byte-identical to the UTF-8 source.
    */
  val LangGateEn: String = "the quick brown fox jumps over the lazy dog " +
    "and then the fox sleeps while the dog watches the quiet house"
  val LangGateFr: String = "le chat et le chien sont dans la maison avec " +
    "une porte et les fenetres sont grandes mais la cour est petite"
  val LangGateRu: String = "привет мир это тест русского текста " +
    "который классификатор должен узнать по словам и буквам"

  /** q102c's verbatim published-canonicalization pairs: each expected key
    * hand-derived from the IA default canonicalizer rules the CommonCrawl
    * cc-index uses (surt library `DefaultIAURLCanonicalizer`: www-strip,
    * query alphabetization, session-id strips, default-port drop, trailing
    * slash, lowercase everything). No apostrophes — the strings inline into
    * DuckDB VALUES literals verbatim.
    */
  val SurtPublishedPairs: Seq[(String, String)] = Seq(
    "https://www.example.com/p?b=2&a=1" -> "com,example)/p?a=1&b=2",
    "http://archive.org/goo/?a=2&b&a=1" -> "org,archive)/goo?a=1&a=2&b",
    "http://www2.Guardian.co.UK/World/2024/story" ->
      "uk,co,guardian)/world/2024/story",
    "http://user:pw@www.Site.org:8080/A/B/?z=9&y=8&x=7" ->
      "org,site:8080)/a/b?x=7&y=8&z=9",
    "https://www.nytimes.com:443/section/world/" ->
      "com,nytimes)/section/world",
    "http://blog.example.com:80/post/123?utm=x&id=5" ->
      "com,example,blog)/post/123?id=5&utm=x",
    "http://www9.host.net/p?jsessionid=0123456789abcdefghij0123456789ab&q=term" ->
      "net,host)/p?q=term",
    "https://shop.example.com/cart/(s(abcdefghij0123456789abcd))/checkout.aspx?item=2" ->
      "com,example,shop)/cart/checkout.aspx?item=2",
    "https://WWW.WIKIPEDIA.ORG/" -> "org,wikipedia)/",
    "http://example.com/index.html#section" -> "com,example)/index.html",
    "https://www.example.com/?phpsessid=0123456789abcdefghij0123456789ab" ->
      "com,example)/",
    "http://a.b.example.com/p?b&a" -> "com,example,b,a)/p?a&b",
    "http://www.example.com:8443/x?m=2&m=1" -> "com,example:8443)/x?m=1&m=2",
    "http://wwwx.example.com/keep" -> "com,example,wwwx)/keep",
    "https://e.test/p?cfid=12&cftoken=abc-9&keep=1" -> "test,e)/p?keep=1",
    // IDN/punycode folding + IP normalization (r14 VERDICT gap #4;
    // expected punycode verified against java.net.IDN)
    "https://www.MÜNCHEN.example/p?b=2&a=1" ->
      "example,xn--mnchen-3ya)/p?a=1&b=2",
    "http://例え.jp/path" -> "jp,xn--r8jz45g)/path",
    "http://пример.рф/" -> "xn--p1ai,xn--e1afmkfd)/",
    "http://3232235777/x" -> "1,1,168,192)/x",
    // IPv4 spellings follow the WHATWG/inet_aton parser (r15 VERDICT
    // gap #5): leading-zero parts are OCTAL (001→1, 010→8 — the r15
    // decimal reading diverged from inet_aton and is corrected here),
    // 0x parts are hex, the last part fills the remaining bytes, and
    // out-of-range spellings pass through as opaque hosts
    "http://192.168.001.010/x?q=1" -> "8,1,168,192)/x?q=1",
    "http://0x7f.1/h" -> "1,0,0,127)/h",
    "http://017700000001/o?b=2&a=1" -> "1,0,0,127)/o?a=1&b=2",
    "http://999.1.1.1/keep" -> "1,1,1,999)/keep",
    // bracketed IPv6 canonicalizes per RFC 5952 and stays atomic — no
    // comma reversal (v4-mapped tails render in pure hex groups, one
    // canonical spelling per address); malformed literals pass through
    "http://[::1]/p" -> "[::1])/p",
    "https://[2001:0DB8:0:0:0:0:2:1]:8443/x" -> "[2001:db8::2:1]:8443)/x",
    "http://[::FFFF:1.2.3.4]/y?b&a" -> "[::ffff:102:304])/y?a&b")

  /** q84/q84b's hand-built Unigram vocabulary: 9 listed pieces (ids 0-8)
    * plus byte fallback at −20 (ids 9+ in byte order, skipping 'o' which
    * is listed). Every oracle row's Viterbi derivation is written out in
    * UnigramSpec.
    */
  lazy val UnigramFixtureModel: graft.ops.expr.UnigramModel =
    graft.ops.expr.UnigramModel.withByteFallback(
      Seq(
        "hello" -> -3.0, "hell" -> -2.0, "o" -> -1.5, "he" -> -1.8,
        "ll" -> -1.7, " wo" -> -2.0, "rld" -> -2.2, "wor" -> -2.1,
        "ld" -> -1.9
      ).map { case (p, lp) =>
        (p.getBytes(java.nio.charset.StandardCharsets.UTF_8), lp) },
      floorLogProb = -20.0)

  /** q91's WordPiece fixture vocabulary (ids = positions). Built through
    * the vocab.txt render → parse round trip inside the gate; every
    * oracle row's greedy derivation is written out in WordPieceSpec.
    */
  lazy val WordPieceFixtureModel: graft.ops.expr.WordPieceModel = {
    val base = graft.ops.expr.WordPieceModel.fromTokens(Seq(
      "[UNK]", "hello", "world", "hell", "##o", "##lo", "##l", "un",
      "##aff", "##able", "##affable", "'", "s", "it", "a", "##b", "##a"))
    graft.ops.expr.WordPieceModel.fromVocabLines(base.toVocabLines)
  }

  /** q86's good-content paragraph. Hand counts pinned in HtmlBlocksSpec:
    * 220 chars, 46 words, 20 stopword hits → stop_ratio 20/46, GOOD.
    */
  val HtmlFixturePara: String =
    "The data is in the table and it is good for the most part because " +
      "the numbers are stable over time. The results are in the range we " +
      "expected and the method is sound as far as we can tell today. " +
      "We will publish more soon."

  /** q86c's multilingual jusText fixtures. Hand counts pinned in
    * HtmlBlocksSpec and the q86c oracle: de = 238 chars / 45 words / 18
    * function-word hits (ratio 0.4 ≥ 0.20 high, > 200 chars → good);
    * fr = 229 / 40 / 16 (good); the English paragraph under the GERMAN
    * rules = 189 chars / 21 words / 0 hits → bad (the lang key is
    * load-bearing, not decorative). No apostrophes — the strings inline
    * into DuckDB VALUES literals verbatim.
    */
  val DeFixturePara: String =
    "Der Wanderer ging und ging durch das weite Tal und sah auf die " +
      "alten Bäume die dort seit hundert Jahren standen und nicht eine " +
      "einzige Frage nach dem Sinn von Zeit und Arbeit stellten denn sie " +
      "waren mit sich im Reinen und blieben auch so."
  val FrFixturePara: String =
    "Le vieux jardinier marchait dans les allées du parc et regardait " +
      "les arbres que son père avait plantés pour les enfants du village " +
      "avec une patience que plus personne ne connaissait et ce depuis " +
      "des années sans une seule plainte."
  val EnUnderDePara: String =
    "Quantum flux capacitors regulate temporal displacement vectors " +
      "across multidimensional manifolds while harmonic resonance " +
      "stabilizes chronon emission spectra during rapid phase transitions."

  /** q99's capstone fixtures. The promo paragraph (219 chars, digit-free,
    * no single quotes — it inlines into both the YAML page construction
    * and the DuckDB oracle) is jusText-good on every page and exists to
    * be segment-dedup'd corpus-wide; the Russian text (272 chars, pure
    * Cyrillic function words + ё/э/ы ru-discriminators) classifies `ru`
    * constructively (an a–z corpus can never score ru — Cyrillic-range
    * and ru-token features need Cyrillic input) and is what the langId
    * filter must remove.
    */
  val CapstonePromo: String =
    "this promo block appears on every page of the site and it repeats " +
      "across the whole crawl so the segment dedup stage must keep exactly " +
      "one copy of it and drop every other copy while the unique story " +
      "below survives intact"
  val CapstoneRu: String = {
    val p = "и в не на я что он с это как по но его к у из за то все она " +
      "мы были ёжик ушёл в эту зиму ы"
    s"$p $p $p"
  }
  /** q99's cp1252 payload marker: ’ = 0x92 and … = 0x85 — bytes that
    * only decode to this string under the WHATWG label remap (a true
    * latin-1 decode yields C1 controls, a UTF-8 fallthrough yields
    * U+FFFD). A wrong decode is NUMERICALLY loud through the DEDUP leg:
    * each original page carries the marker as cp1252 bytes under an
    * `iso-8859-1` label while its +1001000 twin carries UTF-8 bytes
    * under a `utf-8` label — only the remap makes the two decode to the
    * SAME text, so any mis-decode leaves every twin pair distinct, the
    * exact-dedup collapse fails corpus-wide, and the packed keep-set /
    * sequence arithmetic goes red (single-byte mis-decodes are
    * length-preserving, so a token-count plant alone could not catch
    * this).
    */
  val CapstoneMarker: String = " don’t o…k"

  /** q99's machine-repetition plant (doc_id % 13 == 2): 15 copies of one
    * 4-gram phrase — dup-5-gram coverage ≈ 1.0, far past Gopher's 0.15
    * cap, so `keep_full` must fire on exactly this class.
    */
  val CapstoneSpam: String = Array.fill(15)("buy now cheap deals").mkString(" ")

  /** Fixed deterministic query vector for the ANN queries (inlined into
    * their DuckDB oracles).
    */
  val AnnQueryVec: Seq[Float] = (0 until 64).map(i => ((i % 7) - 3) / 10.0f)

  /** Three deterministic query vectors for the batched-retrieval query. */
  val AnnQueryVecs: Seq[(Long, Seq[Float])] =
    (0 until 3).map(q => (q.toLong, (0 until 64).map(i => (((i + q) % 7) - 3) / 10.0f)))

  /** Unicode-rich suffix appended to every (pure-ASCII) corpus document for
    * the q55 mojibake roundtrip: 2-byte (é), 3-byte punctuation (— № ’),
    * 3-byte CJK (中), and 4-byte emoji (😀) UTF-8 — every multi-byte class
    * the repair must invert byte-exactly. No single quotes: the same
    * constant is spliced verbatim into the DuckDB oracle literal.
    */
  val MojibakeSuffix: String =
    " — café № 中 ’ 😀"

  /** (id, garbled, expected) fixtures for the cp1252-specials repair path
    * (q55c) — mojibake shapes the engine-side latin-1 corruption of q55
    * cannot generate, plus the must-NOT-touch cases. Byte derivations are
    * pinned in FixEncodingSpec; expected strings contain no single quotes
    * (spliced into the VALUES oracle).
    */
  val MojibakeCases: Seq[(Long, String, String)] = Seq(
    // cp1252 mojibake: â€™ → ’ (bytes E2 80 99 seen through cp1252)
    (1L, "donâ€™t", "don’t"),
    // Ã©tÃ© → été (C3 A9)
    (2L, "Ã©tÃ©", "été"),
    // â‚¬ → € (E2 82 AC, via the ‚ U+201A special)
    (3L, "â‚¬100", "€100"),
    (4L, "naÃ¯ve rÃ©sumÃ©",
         "naïve résumé"),
    // double-encoded É: Ãƒâ€° → Ã‰ → É (two passes)
    (5L, "Ãƒâ€°", "É"),
    // clean non-Latin text: the CJK chars abort the pass — untouched
    (6L, "already clean: café 中文",
         "already clean: café 中文"),
    (7L, "plain ascii", "plain ascii"),
    // genuine latin-1-looking text: ü alone is invalid UTF-8 — untouched
    (8L, "Müller", "Müller"))

  /** Unicode-normalization fixtures: (tid, raw, expected NFC, expected
    * NFKC). Expected strings are written from the Unicode standard's
    * composition/compatibility tables (independent of the JVM
    * implementation under test); no single quotes (spliced into the
    * VALUES oracle).
    */
  val UnicodeCases: Seq[(Long, String, String, String)] = Seq(
    // decomposed e + COMBINING ACUTE composes under NFC
    (1L, "café", "café", "café"),
    // LATIN SMALL LIGATURE FI: canonical-invariant, compatibility-folds
    (2L, "ﬁle", "ﬁle", "file"),
    // FULLWIDTH DIGIT ONE..THREE fold to ASCII under NFKC only
    (3L, "１２３", "１２３", "123"),
    // VULGAR FRACTION ONE HALF → 1 + FRACTION SLASH + 2 under NFKC
    (4L, "½ cup", "½ cup", "1⁄2 cup"),
    // ROMAN NUMERAL NINE → ASCII IX under NFKC
    (5L, "Ⅸth", "Ⅸth", "IXth"),
    // already-NFC text is untouched by both forms
    (6L, "naïve café", "naïve café", "naïve café"),
    // FULLWIDTH LATIN letters fold under NFKC
    (7L, "Ａｂｃ", "Ａｂｃ", "Abc"),
    // A + COMBINING RING ABOVE composes to ANGSTROM-equivalent Å
    (8L, "Å", "Å", "Å"))

  /** (id, text, expectedLowEntropy) fixtures for the compression-ratio
    * quality signal (q75). The signal itself cannot replay in SQL (no
    * engine exposes zlib), so the gate pins its DIRECTION on fixtures
    * whose ratios sit far from the 0.3 threshold in either direction —
    * hand-derivable from first principles (a 15-byte phrase repeated 100×
    * deflates to a few percent; 16-symbol hex text cannot beat ~50%) and
    * robust to zlib version drift.
    */
  val CompressionCases: Seq[(Long, String, Boolean)] = Seq(
    (1L, Seq.fill(100)("spam spam spam").mkString(" "), true),
    (2L, "x" * 1000, true),
    (3L, (1 to 50).map(i => (i * 2654435761L).toHexString).mkString, false),
    (4L, "The quick brown fox jumps over the lazy dog while seventeen " +
      "sparrows argue about crumbs near the fountain in the old square.", false),
    (5L, "", false))

  /** (id, raw, expected) fixtures for URL canonicalization (q74) —
    * expectations hand-derived from the documented rules, one per rule
    * plus the must-NOT-touch cases. No single quotes (spliced into the
    * VALUES oracle).
    */
  val UrlCanonCases: Seq[(Long, String, String)] = Seq(
    (1L, "HTTPS://Example.COM:443/Path/Q?x=1#frag", "https://example.com/Path/Q?x=1"),
    (2L, "http://a.com:80/", "http://a.com"),
    (3L, "https://x.com/p?utm_source=tw&id=9", "https://x.com/p?id=9"),
    (4L, "https://x.com/p?id=9&utm_campaign=a", "https://x.com/p?id=9"),
    (5L, "https://x.com/p?utm_a=1&utm_b=2", "https://x.com/p"),
    // only the bare ROOT slash drops; a path's trailing slash is meaning
    (6L, "http://b.com/a/", "http://b.com/a/"),
    (7L, "ftp://Mixed.Host/File.TXT", "ftp://mixed.host/File.TXT"),
    // scheme-less: no authority to normalize — only frag/tracking rules
    (8L, "example.com/Path#sec", "example.com/Path"),
    (9L, "https://x.com:8443/p", "https://x.com:8443/p"),
    (10L, "https://X.com/p?fbclid=abc&gclid=1#x", "https://x.com/p"),
    (11L, "https://x.com/p?a=1&utm_x=2&b=3", "https://x.com/p?a=1&b=3"),
    (12L, "http://c.com:8080/", "http://c.com:8080"))

  /** Four fixed 64-dim centroids for the q69 SemDeDup gate — deterministic
    * formula, inlined into the DuckDB oracle as literals.
    */
  val SemCentroids: Array[Array[Double]] =
    Array.tabulate(4, 64)((k, i) => (((i + 3 * k) % 7) - 3) / 10.0)
}
