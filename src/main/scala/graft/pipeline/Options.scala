package graft.pipeline

import scala.collection.immutable.ListMap

/** The accepted keys of every option map in a pipeline config, one line
  * each: step verbs, `source` formats and `sink` formats. A verb whose
  * argument is an expression, a column or a list declares no keys; a verb
  * that takes either a list or a map (`groupBy`, `repartition`, `profile`,
  * `repetitionSignals`) declares the keys of its map form. A config key
  * outside its line is rejected before anything runs; code that reads a
  * key its line omits throws `IllegalStateException`, so any test that
  * drives the read catches a stale line.
  */
private[pipeline] object Keys {

  private def table(lines: (String, String)*): ListMap[String, Seq[String]] =
    ListMap(lines.map { case (name, keys) => name -> keys.split(' ').toSeq.filter(_.nonEmpty) }: _*)

  val pipeline: Seq[String] = Seq("source", "steps", "sink")

  /** The `bucketBy` map of a table sink. */
  val bucketBy: Seq[String] = Seq("n", "cols")

  /** Every verb; `groupBy` also takes its `agg` mapping beside the verb. */
  val steps: ListMap[String, Seq[String]] = table(
    "select" -> "",
    "withColumns" -> "",
    "filter" -> "",
    "drop" -> "",
    "join" -> "table on how broadcast",
    "groupBy" -> "cols mode",
    "except" -> "table cols all",
    "intersect" -> "table cols all",
    "orderBy" -> "",
    "limit" -> "",
    "distinct" -> "",
    "union" -> "table allowMissingColumns",
    "repartition" -> "by n",
    "dedupExact" -> "id keys",
    "dedupSegments" -> "id text sep mode",
    "textStats" -> "",
    "dropNearDuplicates" -> "id text threshold targetRecall",
    "dedupEmbeddings" -> ("id embedding threshold method dim targetRecall cells " +
      "targetCellSize nProbe trainSample quantized"),
    "asOfJoin" -> "table keys leftTs rightTs rightCols tolerance",
    "window" -> "partitionBy orderBy cols",
    "qualitySignals" -> "",
    "repetitionSignals" -> "text n lang",
    "approxDistinct" -> "by value k seed",
    "canonicalizeUrl" -> "url as",
    "report" -> "",
    "bloomSeen" -> "ref column expectedItems fpp mode flag",
    "snapshotDiff" -> "old id content mode",
    "semanticDedup" -> "id embedding threshold targetCellSize seed",
    "quota" -> "keys orderBy k",
    "sample" -> "fraction by seed",
    "sampleDeterministic" -> "key fraction seed",
    "takePerStratum" -> "by k key seed saltBuckets",
    "sitemaps" -> "xml",
    "cdxPlan" -> "gapBytes",
    "fetchWarc" -> "dir maxPayloadBytes maxRangeBytes",
    "resolveRevisits" -> "",
    "dsirSelect" -> "target id text k nibbles maxN seed",
    "hostRank" -> "url html iterations damping as",
    "domainRank" -> "url html iterations damping as pslFile",
    "mix" -> "sources key seed total weights fractions",
    "split" -> "id weights seed",
    "sessionize" -> "keys ts gap delay",
    "rangeJoin" -> "table keys leftTs rightStart rightEnd bucketMicros",
    "chunk" -> "id text chunkTokens overlapTokens",
    "bm25" -> "id text query k",
    "clusterDuplicates" -> "id text threshold maxGramDf mode",
    "profile" -> "cols approx accuracy",
    "globalIndex" -> "orderBy as",
    "shuffle" -> "id seed as",
    "pack" -> "id text tokens seqTokens orderBy",
    "maskSpans" -> "id text window minRepeats",
    "stripBoilerplate" -> "id text window minRepeats",
    "perplexity" -> "id text train trainText smoothing discount",
    "tokenize" -> "text as merges vocab vocabTxt lowercase",
    "trainTokenizer" -> "kind text out numMerges vocabSize maxWords lowercase",
    "fixEncoding" -> "text as passes",
    "stripHtml" -> "html as",
    "extractContent" -> ("html as lang lengthLow lengthHigh maxLinkDensity " +
      "stopwordsLow stopwordsHigh"),
    "langId" -> "text as maxLangs iso3",
    "normalizeUnicode" -> "text form as",
    "domainOf" -> "url as pslFile",
    "robotsFilter" -> "url robots host txt agent mode",
    "redact" -> "text as validated",
    "tokenBudget" -> "text tokens budget orderBy",
    "decontaminate" -> "table id text evalText evalId n mode",
    "mediaFeatures" -> "kind",
    "resizeImages" -> "maxDim",
    "sampleFrames" -> "everyN frameBytes",
    "mediaDedup" -> "kind maxHamming maxBucketSize decoder mode")

  /** `parquet` stands for every format read through `DataFrameReader`. */
  val sources: ListMap[String, Seq[String]] = table(
    "parquet" -> "format path options",
    "jsonl" -> "format path schema badRecords options",
    "csv" -> "format path schema badRecords header sep options",
    "tsv" -> "format path schema badRecords header sep options",
    "tar" -> "format path",
    "warc" -> "format path maxPayloadBytes text parseHeaders decodePayloads",
    "cdxj" -> "format path glob",
    "warcIndex" -> "format path maxPayloadBytes detectText languageCodes",
    "zipnum" -> "format path prefix gapBytes",
    "zipnumLines" -> "format path")

  /** `parquet` stands for every format written through `DataFrameWriter`. */
  val sinks: ListMap[String, Seq[String]] = table(
    "parquet" -> "format path table mode partitionBy bucketBy sortBy",
    "warc" -> "format path uri body mode codec contentType warcinfo contentEncoding",
    "wat" -> "format path uri html mode codec headers",
    "warcDedup" -> ("format path uri body prior priorDigestCol withinBatch mode " +
      "codec contentType index"),
    "zipnum" -> "format path linesPerBlock numShards mode")
}

/** One option map of a pipeline step, source or sink (`what`), read
  * against its declared `keys`. Values convert through `toString`, so a
  * quoted `"0.8"` or `'false'` reads like the bare scalar; every failure is
  * an `IllegalArgumentException` naming `what`, the key and the bad value.
  */
private[pipeline] final class Opts(val what: String, keys: Seq[String], raw: Any) {
  import Opts._

  private val m: Map[String, Any] = mapping(raw, what).toMap

  private val unknown = m.keys.filterNot(keys.contains).toSeq.sorted
  if (unknown.nonEmpty)
    throw new IllegalArgumentException(
      s"$what does not take ${unknown.map(k => s"'$k'").mkString(", ")}; " +
        s"accepted keys: ${keys.mkString(", ")}")

  def opt[T](k: String)(implicit t: Kind[T]): Option[T] = {
    if (!keys.contains(k))
      throw new IllegalStateException(s"$what reads '$k', which its declared keys omit")
    m.get(k).map(v => t.readOr(v)(fail(k, v, t.name)))
  }

  def has(k: String): Boolean = opt[Any](k).isDefined

  def need[T: Kind](k: String): T =
    opt[T](k).getOrElse(throw new IllegalArgumentException(s"$what needs '$k'"))

  def get[T: Kind](k: String, default: => T): T = opt[T](k).getOrElse(default)

  def str(k: String): String = need[String](k)

  def list(k: String): Seq[String] = need[Seq[String]](k)

  /** `k`'s value, which must be one of the `|`-separated `alts`. */
  def oneOf(k: String, alts: String): String = check(k, str(k), alts)

  def oneOf(k: String, alts: String, default: String): String =
    check(k, get(k, default), alts)

  /** The mapping under `k` in config order: named entries such as weights. */
  def entries(k: String): Seq[(String, Any)] = mapping(need[Any](k), s"$what '$k'")

  def numbers(k: String): Seq[(String, Double)] =
    entries(k).map { case (n, v) => n -> doubleKind.readOr(v)(fail(s"$k.$n", v, doubleKind.name)) }

  /** Free-form string options passed through to a reader; none when absent. */
  def strings(k: String): Map[String, String] =
    if (has(k)) entries(k).map { case (n, v) => n -> v.toString }.toMap else Map.empty

  def fail(k: String, v: Any, expected: String): Nothing =
    throw new IllegalArgumentException(s"$what: '$k' must be $expected; got '$v'")

  private def check(k: String, v: String, alts: String): String =
    if (alts.split('|').contains(v)) v else fail(k, v, s"one of $alts")
}

private[pipeline] object Opts {

  /** How a YAML value reads as a `T`, and what a bad one should have been. */
  final case class Kind[T](name: String, read: Any => T) {
    def readOr(v: Any)(bad: => Nothing): T =
      try read(v) catch { case _: IllegalArgumentException | _: NullPointerException => bad }
  }

  implicit val anyKind: Kind[Any] = Kind("a value", identity)
  implicit val stringKind: Kind[String] = Kind("a string", _.toString)
  implicit val intKind: Kind[Int] = Kind("an integer", _.toString.toInt)
  implicit val longKind: Kind[Long] = Kind("an integer", _.toString.toLong)
  implicit val doubleKind: Kind[Double] = Kind("a number", _.toString.toDouble)
  implicit val booleanKind: Kind[Boolean] = Kind("true or false", _.toString.toBoolean)
  /** A scalar reads as a one-element list. */
  implicit val listKind: Kind[Seq[String]] = Kind("a list", v => asSeq(v).map(_.toString))

  def asSeq(v: Any): Seq[Any] = v match {
    case s: Seq[_] => s
    case other     => Seq(other)
  }

  /** A mapping's entries in config order. */
  def mapping(v: Any, what: String): Seq[(String, Any)] = v match {
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, value) => k.toString -> (value: Any) }
    case other => throw new IllegalArgumentException(s"$what takes a mapping; got $other")
  }

  /** The `format` of a source or sink map; parquet when absent. */
  def format(raw: Any, what: String): String =
    mapping(raw, what).collectFirst { case ("format", f) => f.toString }.getOrElse("parquet")

  /** A step argument that is not a map (`limit: 10`) read as a `T`. */
  def scalar[T](what: String, v: Any)(implicit t: Kind[T]): T =
    t.readOr(v)(throw new IllegalArgumentException(s"$what must be ${t.name}; got '$v'"))
}
