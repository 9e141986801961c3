package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase

/** Tar-shard (WebDataset-style) write/read: roundtrip fidelity, rolling,
  * consecutive-key grouping, null parts, and binary payloads.
  */
class TarShardsSpec extends SparkTestBase {

  private lazy val sq = spark
  import sq.implicits._

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("tar_spec_").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("write → read roundtrip preserves keys and bytes") {
    val dir = tmpDir()
    val df = (1 to 57).map(i => (f"k$i%04d", s"text $i", s"meta-$i")).toDF("k", "txt", "meta")
    TarShards.writeTarShards(df.repartition(3), dir, "k",
      Seq("txt" -> col("txt"), "json" -> col("meta")))
    val back = TarShards.readTarShards(spark, dir)
      .select(col("key"),
        element_at(col("data"), "txt").cast("string").as("txt"),
        element_at(col("data"), "json").cast("string").as("meta"))
    val orig = df.select(col("k").as("key"), col("txt"), col("meta"))
    assert(back.exceptAll(orig).count() == 0)
    assert(orig.exceptAll(back).count() == 0)
  }

  test("shards roll at maxEntriesPerShard") {
    val dir = tmpDir()
    val df = (1 to 25).map(i => (s"r$i", s"v$i")).toDF("k", "txt")
    TarShards.writeTarShards(df.repartition(1), dir, "k",
      Seq("txt" -> col("txt")), maxEntriesPerShard = 10)
    val shards = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".tar"))
    assert(shards.length == 3) // 10 + 10 + 5
    val n = TarShards.readTarShards(spark, dir).count()
    assert(n == 25)
  }

  test("true binary payloads survive (all byte values)") {
    val dir = tmpDir()
    val payload = Array.tabulate[Byte](256)(_.toByte)
    val df = Seq(("b1", payload)).toDF("k", "bin")
    TarShards.writeTarShards(df, dir, "k", Seq("bin" -> col("bin")))
    val back = TarShards.readTarShards(spark, dir)
      .select(element_at(col("data"), "bin")).as[Array[Byte]].head()
    assert(back.toSeq == payload.toSeq)
  }

  test("null parts are skipped, sample still present") {
    val dir = tmpDir()
    val df = Seq(("a", "has-text", null), ("b", null, "has-meta"))
      .toDF("k", "txt", "meta")
    TarShards.writeTarShards(df.repartition(1), dir, "k",
      Seq("txt" -> col("txt"), "json" -> col("meta")))
    val back = TarShards.readTarShards(spark, dir)
      .select(col("key"), map_keys(col("data")).as("exts"))
      .as[(String, Seq[String])].collect().toMap
    assert(back("a") == Seq("txt"))
    assert(back("b") == Seq("json"))
  }

  test("consecutive-key grouping: non-consecutive repeats are separate samples") {
    // hand-build a shard: a.txt, b.txt, a.json — 'a' reappears after 'b'
    val dir = tmpDir()
    val f = new java.io.File(dir, "manual.tar")
    val out = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
      new java.io.FileOutputStream(f))
    def add(name: String, content: String): Unit = {
      val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(name)
      val b = content.getBytes("UTF-8")
      e.setSize(b.length.toLong)
      out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    }
    add("a.txt", "1"); add("b.txt", "2"); add("a.json", "3")
    out.finish(); out.close()
    val rows = TarShards.readTarShards(spark, dir)
      .select(col("key"), map_keys(col("data")))
      .as[(String, Seq[String])].collect().toSeq.sortBy(r => (r._1, r._2.mkString))
    assert(rows == Seq(("a", Seq("json")), ("a", Seq("txt")), ("b", Seq("txt"))))
  }

  test("streaming read: landed shards stream out as the same samples") {
    val dir = tmpDir()
    val docs = (1 to 30).map(i => (f"s$i%03d", s"text $i")).toDF("k", "txt")
    TarShards.writeTarShards(docs.repartition(2), dir, "k", Seq("txt" -> col("txt")))
    val stream = TarShards.readTarShardsStream(spark, dir, maxFilesPerTrigger = 1)
      .select(col("key"), element_at(col("data"), "txt").cast("string").as("txt"))
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("tar_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tar_stream").as[(String, String)].collect().toSet
      val expect = docs.select(col("k"), col("txt")).as[(String, String)].collect().toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("a key containing a dot is rejected loudly (cannot round-trip)") {
    val dir = tmpDir()
    val df = Seq(("bad.key", "x")).toDF("k", "txt")
    val e = intercept[org.apache.spark.SparkException] {
      TarShards.writeTarShards(df, dir, "k", Seq("txt" -> col("txt")))
    }
    assert(e.getCause != null &&
      e.getCause.getMessage.contains("cannot round-trip"))
    // the failed attempt deleted its temp, so no shard was committed and
    // nothing is left to refuse a re-run into the same dir
    val leftover = new java.io.File(dir).listFiles
      .filter(_.getName.contains(".inprogress"))
    assert(leftover.isEmpty, leftover.map(_.getName).mkString(", "))
    TarShards.writeTarShards(Seq(("good", "y")).toDF("k", "txt"), dir, "k",
      Seq("txt" -> col("txt")))
    assert(TarShards.readTarShards(spark, dir).select(col("key")).as[String]
      .collect().toSeq == Seq("good"))
  }

  test("non-empty output dir is refused; overwrite=true clears stale shards") {
    val dir = tmpDir()
    // a previous LARGER run: 2 partitions → part-00000/part-00001
    val big = Seq(("a", "1"), ("b", "2")).toDF("k", "txt")
    TarShards.writeTarShards(big.repartition(2), dir, "k", Seq("txt" -> col("txt")))
    val small = Seq(("c", "3")).toDF("k", "txt")
    val e = intercept[IllegalArgumentException] {
      TarShards.writeTarShards(small.repartition(1), dir, "k", Seq("txt" -> col("txt")))
    }
    assert(e.getMessage.contains("not empty"))
    // overwrite clears the stale part files: reading back must see ONLY
    // the new run (the stale-part-from-larger-run hazard)
    TarShards.writeTarShards(small.repartition(1), dir, "k",
      Seq("txt" -> col("txt")), overwrite = true)
    val keys = TarShards.readTarShards(spark, dir)
      .select(col("key")).as[String].collect().toSet
    assert(keys == Set("c"))
  }

  test("no .inprogress temp files survive a completed write") {
    val dir = tmpDir()
    val df = (1 to 12).map(i => (s"t$i", s"v$i")).toDF("k", "txt")
    TarShards.writeTarShards(df.repartition(3), dir, "k",
      Seq("txt" -> col("txt")), maxEntriesPerShard = 5)
    val leftover = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith(".inprogress"))
    assert(leftover.isEmpty)
    assert(TarShards.readTarShards(spark, dir).count() == 12)
  }

  test("key is name up to the FIRST dot (multi-dot extensions)") {
    val dir = tmpDir()
    val df = Seq(("s1", "x")).toDF("k", "txt")
    TarShards.writeTarShards(df, dir, "k", Seq("seg.json" -> col("txt")))
    val (k, exts) = TarShards.readTarShards(spark, dir)
      .select(col("key"), map_keys(col("data")))
      .as[(String, Seq[String])].head()
    assert(k == "s1" && exts == Seq("seg.json"))
  }
}
