package graft.driver

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One driver query, declared once: its name, how it runs over an sf
  * directory, the DuckDB oracle its result must match, and the fixture
  * Bench prepares for it outside the timed region, if it has one.
  */
final case class Case(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    fixture: Option[Fixture] = None)

object Case {

  /** `cases` unchanged, or a failure naming every name declared twice (a
    * repeated key in a `Map(...)` literal would silently drop a query).
    */
  def unique(cases: Seq[Case]): Seq[Case] = {
    val dups = cases.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty,
      s"driver queries declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    cases
  }
}

/** What a query's result is checked against. */
sealed trait Oracle

/** DuckDB SQL over the sf directory's tables (same names, same columns)
  * that must return the query's rows.
  */
final case class Sql(text: String) extends Oracle

/** No SQL oracle; the driver checks row presence only. `reason` says why
  * and names the oracle-checked query that covers the property.
  */
final case class Exempt(reason: String) extends Oracle

/** Input a query would otherwise synthesize inside its run (media renders,
  * archive writes, signature corpora). Bench calls `prepare` before the
  * cold run and `release` after the last timed run; Verify calls neither,
  * so every query still builds its input inline when nothing is prepared.
  */
sealed trait Fixture {
  def prepare(s: SparkSession, dir: String): Unit
  def release(dir: String): Unit
}

/** A DataFrame persisted per sf dir; the query reads it through `apply`. */
final class FrameFixture(build: (SparkSession, String) => DataFrame) extends Fixture {
  private val frames = new ConcurrentHashMap[String, DataFrame]()

  def prepare(s: SparkSession, dir: String): Unit =
    if (!frames.containsKey(dir)) {
      val p = build(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      frames.put(dir, p)
      ()
    }

  /** The prepared frame, else a fresh build. */
  def apply(s: SparkSession, dir: String): DataFrame = {
    val p = frames.get(dir)
    if (p != null) p else build(s, dir)
  }

  /** Unpersist: a bucket of queries must not carry every earlier query's
    * fixture in executor memory.
    */
  def release(dir: String): Unit = {
    val p = frames.remove(dir)
    if (p != null) p.unpersist(blocking = false)
    ()
  }
}

/** Files written under [[scratchDir]]`(prefix, dir)` once per (sf dir,
  * JVM) and reused by every later run in that JVM. `write` gets the
  * directory to fill.
  */
final class FilesFixture(prefix: String, write: (SparkSession, String, File) => Unit)
    extends Fixture {
  private val written = ConcurrentHashMap.newKeySet[String]()

  def prepare(s: SparkSession, dir: String): Unit =
    if (written.add(dir)) write(s, dir, scratchDir(prefix, dir))

  /** The fixture directory; an unprepared run writes the files itself. */
  def ensure(s: SparkSession, dir: String): File = {
    val root = scratchDir(prefix, dir)
    if (!written.contains(dir)) write(s, dir, root)
    root
  }

  /** The files stay for later runs; a streaming query's per-run sink and
    * checkpoint dirs are dead once its frame has been consumed.
    */
  def release(dir: String): Unit = wipeRunDirs(scratchDir(prefix, dir))
}
