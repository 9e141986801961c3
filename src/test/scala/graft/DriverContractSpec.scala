package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.driver.{Case, Exempt, Sql}

/** The driver contract derived from the single `SparkEntry.cases` list:
  * duplicate and unknown names fail loudly, the rows-only and
  * fixture-backed queries are pinned by name, and README's counts come
  * from the list. No Spark session: building the cases runs no query.
  */
class DriverContractSpec extends AnyFunSuite {

  private def stub(name: String) =
    Case(name, (_, _) => throw new UnsupportedOperationException, Sql("SELECT 1"))

  test("a name declared twice fails when the list is built, naming it") {
    val e = intercept[IllegalArgumentException](
      Case.unique(Seq(stub("q_a"), stub("q_b"), stub("q_a"), stub("q_c"))))
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b") && !e.getMessage.contains("q_c"))
    assert(SparkEntry.cases.map(_.name).distinct.size == SparkEntry.cases.size)
  }

  test("select: unknown names fail, each one listed; known names come back sorted") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_arith, q01_arithh,q99_nope")))
    assert(e.getMessage.contains("q01_arithh") && e.getMessage.contains("q99_nope"))
    assert(!e.getMessage.contains("q01_arith,"))
    assert(SparkEntry.select(Some("q02_logic, q01_arith,")) == Seq("q01_arith", "q02_logic"))
    assert(SparkEntry.select(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("every Bench solo row names a known query") {
    assert(Bench.SoloQueries.nonEmpty)
    assert(SparkEntry.select(Some(Bench.SoloQueries.mkString(","))).toSet == Bench.SoloQueries)
  }

  test("derived maps: 8 rows-only queries, 8 fixture-backed queries, pinned by name") {
    val exempt = SparkEntry.cases.collect { case Case(n, _, Exempt(_), _) => n }.toSet
    assert(exempt == Set("q12_hash", "q17_minhash_pairs", "q18_fingerprint",
      "q19b_cosine_lsh", "q20_simhash_pairs", "q23_multimodal",
      "q23b_multimodal_av", "q50_e2e_curation"))
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet -- exempt)
    assert(SparkEntry.prepare.keySet == Set("q56_stream_e2e", "q76_phash_neardup",
      "q78_audio_neardup", "q79_video_neardup", "q80_stream_media_e2e",
      "q82_mih_collapse_gate", "q93_mih_dupheavy_gate", "q99_crawl_capstone"))
  }

  test("every Sql oracle is non-empty; every Exempt names its property companion") {
    for (c <- SparkEntry.cases) c.oracle match {
      case Sql(text) => assert(text.trim.nonEmpty, s"${c.name} has an empty oracle")
      case Exempt(reason) =>
        val companions = "q[0-9]+[a-z]*_[a-z0-9_]+".r.findAllIn(reason).toSet
        assert(companions.exists(SparkEntry.oracleSql.contains),
          s"${c.name}: '$reason' names no oracle-checked query")
    }
  }

  test("releaseFixture on a query without a fixture does nothing") {
    assert(!SparkEntry.prepare.contains("q01_arith"))
    SparkEntry.releaseFixture("q01_arith", "/nonexistent/sf")
    SparkEntry.releaseFixture("not_a_query", "/nonexistent/sf")
  }

  test("README's driver-contract counts match the cases") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val readme = try src.mkString finally src.close()
    val section = readme.split("\n## ").find(_.startsWith("Driver contract"))
      .getOrElse(fail("README has no 'Driver contract' section"))
      .replaceAll("\\s+", " ")
    def count(pattern: String): Int =
      pattern.r.findFirstMatchIn(section).map(_.group(1).toInt)
        .getOrElse(fail(s"README's driver contract does not say '$pattern'"))
    assert(count("exposes ([0-9]+) queries") == SparkEntry.cases.size)
    assert(count("All ([0-9]+) oracle-checked") == SparkEntry.oracleSql.size)
    assert(count("the other ([0-9]+) are rows-only") ==
      SparkEntry.cases.size - SparkEntry.oracleSql.size)
  }
}
