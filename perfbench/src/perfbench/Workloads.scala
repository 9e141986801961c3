package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dftly.Dftly
import graft.pipeline.Pipeline

/** One iteration's input: the config text handed to the program, the op-map
  * replayed through the front end when traced, and the independent SQL
  * mirror of the op-map (output name → Spark SQL expression).
  */
final case class Config(text: String, opMap: String, steps: Int, mirror: Seq[(String, String)])

final case class Check(ok: Boolean, detail: String)

/** A workload generates its inputs and ground truth from the seed, hands the
  * program only config text and generated tables, and checks outputs
  * against references that never go through dftly.
  */
trait Workload {
  def inputRows: Long
  def warmups: Int
  def setup(): Unit
  def config(i: Int): Config
  def build(cfg: Config): DataFrame
  def sink(cfg: Config, df: DataFrame): Unit
  def check(cfg: Config, df: DataFrame): Check
  /** Traced-run counters of the `ops` layer; 0 where the layer is unused. */
  def opsCounters(cfg: Config): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload = name match {
    case "meds_wide"      => new MedsWide(spark, dir, seed)
    case "clinical_scan"  => new ClinicalScan(spark, dir, seed)
    case "curation_dedup" => new CurationDedup(spark, dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** YAML single-quoted scalar. */
  def q(s: String): String = "'" + s.replace("'", "''") + "'"

  /** SQL string literal (backslash is the SQL escape character). */
  def sq(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Order-free digest of a row set: row count, and the sum and xor of a
    * 64-bit hash over every column of each row.
    */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col("`" + c + "`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    s"${r.get(0)}/${r.get(1)}/${r.get(2)}"
  }

  def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** Program output vs its SQL mirror: same columns, types and row set. */
  def compare(out: DataFrame, ref: DataFrame): Check = {
    val (so, sr) = (schemaOf(out), schemaOf(ref))
    if (so != sr) {
      val diff = so.zipAll(sr, "" -> "", "" -> "").filter { case (a, b) => a != b }.take(3)
      Check(false, s"schema differs: ${diff.mkString(", ")}")
    } else {
      val (a, b) = (digest(out), digest(ref))
      Check(a == b, if (a == b) s"digest $a" else s"digest $a != reference $b")
    }
  }

  /** Seeded MEDS-style events: ICD-like codes, blood-pressure strings, 2%
    * malformed timestamps, nullable values and units. Written as 4 parquet
    * files and read back, so scans run one task per core.
    */
  def writeEvents(spark: SparkSession, rows: Long, seed: Long, path: String): DataFrame = {
    def h(tag: String) = s"xxhash64(${seed}L, id, '$tag')"
    spark.range(0, rows, 1, 4).selectExpr(
      s"pmod(${h("subject")}, 20000) AS subject_id",
      s"concat(element_at(array('E','I','J','K','N','R','Z'), CAST(pmod(${h("c1")}, 7) + 1 AS INT)), " +
        s"lpad(CAST(pmod(${h("c2")}, 100) AS STRING), 2, '0'), '.', CAST(pmod(${h("c3")}, 10) AS STRING)) AS code",
      s"CASE WHEN pmod(${h("null")}, 10) = 0 THEN NULL ELSE pmod(${h("value")}, 100000) / 100.0D END AS numeric_value",
      s"CASE pmod(${h("kind")}, 5) " +
        s"WHEN 0 THEN concat(CAST(90 + pmod(${h("sbp")}, 90) AS STRING), '/', CAST(50 + pmod(${h("dbp")}, 50) AS STRING)) " +
        s"WHEN 1 THEN CAST(pmod(${h("num")}, 10000) / 10.0D AS STRING) " +
        "WHEN 2 THEN NULL WHEN 3 THEN 'positive' ELSE 'negative' END AS text_value",
      s"CASE WHEN pmod(${h("bad")}, 50) = 0 THEN concat('20', lpad(CAST(pmod(${h("yy")}, 100) AS STRING), 2, '0'), '-13-45') " +
        s"ELSE date_format(timestamp_seconds(1400000000 + pmod(${h("ts")}, 400000000)), 'yyyy-MM-dd HH:mm:ss') END AS time_str",
      s"CASE pmod(${h("unit")}, 4) WHEN 0 THEN NULL WHEN 1 THEN 'mg' WHEN 2 THEN 'mmHg' ELSE 'mmol/L' END AS unit",
      s"CAST(pmod(${h("age")}, 100) AS INT) AS age")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

import Workloads._

/** A fresh 200-expression config per iteration, run as one pipeline
  * `withColumns` step over a 10k-row table.
  */
final class MedsWide(spark: SparkSession, dir: String, seed: Long) extends Workload {
  val inputRows = 10000L
  val warmups = 3
  private var events: DataFrame = _

  def setup(): Unit = events = writeEvents(spark, inputRows, seed, s"$dir/events")

  /** An output's kind decides which later templates may reference it:
    * D double, S string, C string that is never null, L long, T timestamp,
    * A date.
    */
  private final case class Out(name: String, kind: Char, dftly: String, sql: String, ref: Boolean = false)

  def config(i: Int): Config = {
    // Every config has the same shape: which template fills each output and
    // which earlier output it references. Only the literals vary, with the
    // seed and the iteration, so no two iterations share config text or
    // generated code, and all of them take the same code paths.
    val shape = new Random(0)
    val rng = new Random(seed * 1000003L + i)
    def f(lo: Double, hi: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, lo + rng.nextDouble() * (hi - lo))
    // 8 families × 25; the first 40 slots never reference, then exactly 7
    // references per family but strptime: 49 of 200 outputs depend on an
    // earlier one
    val slots = shape.shuffle((0 until 200).map(_ % 8))
    val refSlots = slots.indices.drop(40).groupBy(slots).toSeq.sortBy(_._1)
      .collect { case (fam, ix) if fam != 4 => shape.shuffle(ix).take(7) }.flatten.toSet
    val outs = scala.collection.mutable.ArrayBuffer.empty[Out]
    def earlier(kinds: String): Option[Out] = {
      val c = outs.filter(o => kinds.contains(o.kind) && !o.ref)
      if (c.isEmpty) None else Some(c(shape.nextInt(c.size)))
    }
    // within a family the template variant cycles
    val occurrences = Array.fill(8)(0)
    for ((fam, k) <- slots.zipWithIndex) {
      val name = f"c$k%03d"
      val v = occurrences(fam)
      occurrences(fam) += 1
      def cycle[T](xs: T*): T = xs(v % xs.size)
      // regex extracts over derived columns take conditional outputs, which
      // are never null
      val ref = if (refSlots(k)) earlier(fam match {
        case 0 | 5 => "D"
        case 2     => "C"
        case 7     => "DSCL"
        case 6     => "SCD"
        case _     => "SC"
      }) else None
      // a referenced output is inlined into the mirror; outputs that
      // reference are never referenced in turn (dependency depth stays 1)
      val (col, sqlCol) = ref match {
        case Some(o) => ("$" + o.name, s"(${o.sql})")
        case None    => ("", "")
      }
      val out = fam match {
        case 0 =>
          val (a, b) = (f(0.5, 3), f(0, 100))
          if (ref.isEmpty) Out(name, 'D', s"$$numeric_value * $a + $b", s"numeric_value * ${a}D + ${b}D")
          else Out(name, 'D', s"$col * $a - $b", s"$sqlCol * ${a}D - ${b}D")
        case 1 =>
          val s = rng.nextInt(3); val e = s + 1 + rng.nextInt(4)
          val src = if (ref.isEmpty) cycle("code", "time_str") else ""
          if (ref.isEmpty) Out(name, 'S', s"$$$src[$s:$e]", s"substring($src, ${s + 1}, ${e - s})")
          else Out(name, 'S', s"$col[$s:$e]", s"substring($sqlCol, ${s + 1}, ${e - s})")
        case 2 =>
          val g = 1 + rng.nextInt(2)
          val (c, pat) =
            if (ref.nonEmpty) (col -> sqlCol, "([0-9]+)(.?)")
            else cycle(
              ("$text_value", "text_value") -> "(\\d+)/(\\d+)",
              ("$code", "code") -> "^([A-Z])(\\d+)",
              ("$time_str", "time_str") -> "^(\\d{4})-(\\d{2})")
          val dpat = pat.replace("/", "\\/")
          Out(name, 'S', s"extract group $g of /$dpat/ from ${c._1}",
            s"CASE WHEN ${c._2} RLIKE ${sq(pat)} THEN regexp_extract(${c._2}, ${sq(pat)}, $g) END")
        case 3 =>
          val b = f(-10, 10)
          if (ref.isEmpty) Out(name, 'D', s"($$text_value::?float64) ?? $b", s"coalesce(try_cast(text_value AS DOUBLE), ${b}D)")
          else Out(name, 'D', s"($col::?float64) ?? $b", s"coalesce(try_cast($sqlCol AS DOUBLE), ${b}D)")
        case 4 =>
          if (v % 2 == 0)
            Out(name, 'T', "$time_str ::? \"%Y-%m-%d %H:%M:%S\"",
              "CAST(try_to_timestamp(time_str, 'yyyy-MM-dd HH:mm:ss') AS TIMESTAMP_NTZ)")
          else
            Out(name, 'A', "$time_str[0:10] ::? \"%Y-%m-%d\"",
              "CAST(try_to_timestamp(substring(time_str, 1, 10), 'yyyy-MM-dd') AS DATE)")
        case 5 =>
          val t = f(0, 1000)
          val (hi, lo) = (s"H${rng.nextInt(100)}", s"L${rng.nextInt(100)}")
          val (c, sc) = if (ref.isEmpty) ("$numeric_value", "numeric_value") else (col, sqlCol)
          Out(name, 'C', s"\"$hi\" if $c > $t else \"$lo\"", s"CASE WHEN $sc > ${t}D THEN '$hi' ELSE '$lo' END")
        case 6 =>
          ref match {
            case Some(o) if o.kind == 'D' =>
              val b = f(0, 10)
              Out(name, 'D', s"$col ?? $b", s"coalesce($sqlCol, ${b}D)")
            case Some(_) =>
              val l = s"U${rng.nextInt(1000)}"
              Out(name, 'S', s"$col ?? \"$l\"", s"coalesce($sqlCol, '$l')")
            case None if v % 2 == 0 =>
              val l = s"U${rng.nextInt(1000)}"
              Out(name, 'S', s"$$unit ?? \"$l\"", s"coalesce(unit, '$l')")
            case None =>
              val b = f(0, 10)
              Out(name, 'D', s"$$numeric_value ?? $b", s"coalesce(numeric_value, ${b}D)")
          }
        case 7 =>
          if (ref.nonEmpty)
            Out(name, 'L', s"hash($col)", s"CASE WHEN $sqlCol IS NULL THEN NULL ELSE xxhash64($sqlCol) END")
          else {
            val c = cycle("code", "text_value", "unit")
            val salt = s"k${rng.nextInt(100000)}"
            Out(name, 'L', s"hash($$$c + \"$salt\")",
              s"CASE WHEN concat($c, '$salt') IS NULL THEN NULL ELSE xxhash64(concat($c, '$salt')) END")
          }
      }
      outs += out.copy(ref = ref.nonEmpty)
    }
    val body = outs.map(o => s"      ${o.name}: ${q(o.dftly)}").mkString("\n")
    Config(
      text = s"source: events\nsteps:\n  - withColumns:\n$body\n",
      opMap = outs.map(o => s"${o.name}: ${q(o.dftly)}").mkString("\n"),
      steps = 1,
      mirror = outs.map(o => o.name -> o.sql).toSeq)
  }

  def build(cfg: Config): DataFrame = Pipeline.run(spark, cfg.text, Map("events" -> events))
  def sink(cfg: Config, df: DataFrame): Unit = noop(df)
  def check(cfg: Config, df: DataFrame): Check =
    compare(df, events.selectExpr("*" +: cfg.mirror.map { case (n, s) => s"$s AS $n" }: _*))
}

/** One fixed MEDS-style op-map through `Dftly.select` over a 1M-row table;
  * every node family appears, so the generated code does almost all the work.
  */
final class ClinicalScan(spark: SparkSession, dir: String, seed: Long) extends Workload {
  val inputRows = 1000000L
  val warmups = 3
  private var events: DataFrame = _

  def setup(): Unit = events = writeEvents(spark, inputRows, seed, s"$dir/events")

  private val exprs: Seq[(String, String, String)] = Seq(
    ("subject_id", "$subject_id", "subject_id"),
    ("code_chapter", "$code[0:1]", "substring(code, 1, 1)"),
    ("code_block", "$code[0:3]", "substring(code, 1, 3)"),
    ("code_dotted", "f\"{$code[0:3]}:{$code[4:]}\"", "concat(substring(code, 1, 3), ':', substring(code, 5))"),
    ("is_diabetes", "/^E1[0-4]/ in $code", "code RLIKE '^E1[0-4]'"),
    ("value", "$numeric_value * 1.5 + 2.0", "numeric_value * 1.5D + 2.0D"),
    ("value_or_zero", "$numeric_value ?? 0.0", "coalesce(numeric_value, 0.0D)"),
    ("value_band", "\"HIGH\" if $numeric_value > 500.0 else \"LOW\"",
      "CASE WHEN numeric_value > 500.0D THEN 'HIGH' ELSE 'LOW' END"),
    ("sbp", "extract group 1 of /(\\d+)\\/(\\d+)/ from $text_value",
      "CASE WHEN text_value RLIKE '(\\\\d+)/(\\\\d+)' THEN regexp_extract(text_value, '(\\\\d+)/(\\\\d+)', 1) END"),
    ("dbp", "extract group 2 of /(\\d+)\\/(\\d+)/ from $text_value",
      "CASE WHEN text_value RLIKE '(\\\\d+)/(\\\\d+)' THEN regexp_extract(text_value, '(\\\\d+)/(\\\\d+)', 2) END"),
    ("text_num", "$text_value::?float64", "try_cast(text_value AS DOUBLE)"),
    ("event_time", "$time_str ::? \"%Y-%m-%d %H:%M:%S\"",
      "CAST(try_to_timestamp(time_str, 'yyyy-MM-dd HH:mm:ss') AS TIMESTAMP_NTZ)"),
    ("event_date", "$time_str[0:10] ::? \"%Y-%m-%d\"",
      "CAST(try_to_timestamp(substring(time_str, 1, 10), 'yyyy-MM-dd') AS DATE)"),
    ("unit_norm", "$unit ?? \"UNK\"", "coalesce(unit, 'UNK')"),
    ("code_hash", "hash($code)", "CASE WHEN code IS NULL THEN NULL ELSE xxhash64(code) END"),
    ("code_len", "len_chars($code)", "length(code)"),
    ("elderly", "$age >= 65 and $numeric_value > 100.0", "age >= 65 AND numeric_value > 100.0D"),
    ("age_next", "$age + 1", "age + 1"),
    ("unit_is_mg", "$unit == \"mg\"", "unit = 'mg'"),
    ("label", "$code + \"@\" + ($unit ?? \"-\")", "concat(code, '@', coalesce(unit, '-'))"))

  private val opMap = exprs.map { case (n, e, _) => s"$n: ${q(e)}" }.mkString("\n")

  def config(i: Int): Config = Config(opMap, opMap, 0, exprs.map { case (n, _, s) => n -> s })
  def build(cfg: Config): DataFrame = Dftly.select(events, cfg.text)
  def sink(cfg: Config, df: DataFrame): Unit = noop(df)
  def check(cfg: Config, df: DataFrame): Check =
    compare(df, events.selectExpr(cfg.mirror.map { case (n, s) => s"$s AS $n" }: _*))
}

/** A curation pipeline over a seeded corpus with planted exact and near
  * duplicates; survivors are written to parquet through the pipeline sink.
  */
final class CurationDedup(spark: SparkSession, dir: String, seed: Long) extends Workload {
  /** Base documents; 1/8 as many exact copies and 1/8 near copies are added,
    * so each kind is 10% of the corpus.
    */
  private val bases = 9600L
  private val copies = bases / 8
  val inputRows: Long = bases + 2 * copies
  val warmups = 5
  private var docs: DataFrame = _
  private var truth: Map[String, Long] = Map.empty
  private var truthIds: BigDecimal = 0
  private var expected: (Long, Long, Long) = (0, 0, 0)
  private val out = s"$dir/survivors"

  // a document's text is a pure function of its base id: 120 tokens drawn
  // from a 2,000-word vocabulary; a near copy replaces 2 positions with
  // tokens outside the vocabulary (3-shingle Jaccard ≥ 0.9 to its base)
  private def hb(tag: String) = s"xxhash64(${seed}L, base, '$tag')"
  private def tokens(swap: String) =
    s"concat_ws(' ', transform(sequence(0, 119), k -> CASE WHEN $swap THEN concat('x', CAST(id AS STRING), '_', CAST(k AS STRING)) " +
      s"ELSE concat('w', CAST(pmod(xxhash64(${seed}L, base, k), 2000) AS STRING)) END))"
  private val srcExpr = s"concat('s', CAST(pmod(${hb("src")}, 4) AS STRING))"
  private val spamExpr = s"pmod(${hb("spam")}, 20) = 0"

  def setup(): Unit = {
    def pick(tag: String) = s"pmod(xxhash64(${seed}L, id, '$tag'), ${bases}L)"
    val meta = spark.range(0, bases, 1, 4).selectExpr("id", "id AS base", "0 AS kind")
      .unionByName(spark.range(bases, bases + copies, 1, 4).selectExpr("id", s"${pick("exact")} AS base", "1 AS kind"))
      .unionByName(spark.range(bases + copies, bases + 2 * copies, 1, 4).selectExpr("id", s"${pick("near")} AS base", "2 AS kind"))
      .selectExpr("id", "base", "kind", s"$srcExpr AS src", s"$spamExpr AS spam")
    meta
      .selectExpr("id", "src",
        s"concat('https://', CASE WHEN spam THEN 'spam' ELSE 'site' END, " +
          s"CAST(pmod(${hb("host")}, 500) AS STRING), '.example/', CAST(id AS STRING)) AS url",
        s"pmod(xxhash64(${seed}L, id, 'p1'), 120) AS p1", s"pmod(xxhash64(${seed}L, id, 'p2'), 120) AS p2",
        "base", "kind")
      .selectExpr("id", "src", "url", s"${tokens("kind = 2 AND (k = p1 OR k = p2)")} AS text")
      .repartition(4, col("id"))
      .write.mode("overwrite").parquet(s"$dir/docs")
    docs = spark.read.parquet(s"$dir/docs")
    // ground truth from the generator alone: every base document that the
    // filter keeps survives, and no copy does
    val kept = meta.where("NOT spam").groupBy("kind", "src").agg(count(lit(1)), sum("id")).collect()
    def total(kind: Int) = kept.filter(_.getInt(0) == kind).map(_.getLong(2)).sum
    truth = kept.filter(_.getInt(0) == 0).map(r => r.getString(1) -> r.getLong(2)).toMap
    truthIds = BigDecimal(kept.filter(_.getInt(0) == 0).map(_.getLong(3)).sum)
    expected = (total(0), total(1), total(2))
  }

  private val withCols = Seq(
    "host" -> "extract group 1 of /^https?:\\/\\/([^\\/]+)/ from $url",
    "n_chars" -> "len_chars($text)",
    "src_host" -> "f\"{$src}/{$host}\"")
  private val filterExpr = "not (/^spam/ in $host)"
  private val steps = Seq(
    "  - withColumns:\n" + withCols.map { case (n, e) => s"      $n: ${q(e)}" }.mkString("\n"),
    s"  - filter: ${q(filterExpr)}",
    "  - qualitySignals: text",
    "  - dedupExact: {id: id, keys: [text]}",
    "  - dropNearDuplicates: {id: id, text: text, threshold: 0.8}")
  private def pipeline(n: Int) = "source: docs\nsteps:\n" + steps.take(n).mkString("\n") + "\n"

  def config(i: Int): Config = Config(pipeline(steps.size),
    (withCols :+ ("keep" -> filterExpr)).map { case (n, e) => s"$n: ${q(e)}" }.mkString("\n"),
    steps.size, Nil)

  def build(cfg: Config): DataFrame = Pipeline.run(spark, cfg.text, Map("docs" -> docs))

  def sink(cfg: Config, df: DataFrame): Unit =
    Pipeline.run(spark, s"source: survivors\nsink: {path: ${q(out)}, format: parquet, mode: overwrite}\n",
      Map("survivors" -> df))

  def check(cfg: Config, df: DataFrame): Check = {
    val written = spark.read.parquet(out)
    val got = written.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = BigDecimal(written.agg(sum("id")).head().getLong(0))
    val ok = got == truth && ids == truthIds
    Check(ok, s"survivors per source ${got.toSeq.sorted.mkString(",")}" +
      (if (ok) "" else s" != expected ${truth.toSeq.sorted.mkString(",")} (id sum $ids vs $truthIds)"))
  }

  override def opsCounters(cfg: Config): Map[String, Double] = {
    def rows(n: Int) = Pipeline.run(spark, pipeline(n), Map("docs" -> docs)).count().toDouble
    val (filtered, exact, near) = (rows(3), rows(4), rows(5))
    val (b, e, n) = expected
    require(filtered == b + e + n, s"filter kept $filtered rows, expected ${b + e + n}")
    Map(
      "ops.dedup_exact.drop_frac" -> (filtered - exact) / filtered,
      "ops.near_dup.drop_frac" -> (exact - near) / exact,
      "ops.near_dup.recall" -> (exact - near) / math.max(n, 1L))
  }
}
