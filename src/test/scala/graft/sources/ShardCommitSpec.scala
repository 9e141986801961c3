package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The shard commit protocol's branches: lost race, transient rename
  * failure, refuse-or-clear, and temp cleanup of small-file writes.
  */
class ShardCommitSpec extends AnyFunSuite {

  /** A local filesystem whose rename always fails, as HDFS's does when
    * the destination exists (and as any filesystem's may on a fault).
    */
  private class NoRenameFs extends RawLocalFileSystem {
    override def rename(src: Path, dst: Path): Boolean = false
  }

  private val conf = new Configuration()

  private def noRenameFs(): FileSystem = {
    val fs = new NoRenameFs
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def tmpDir(): java.io.File = {
    val d = Files.createTempDirectory("shard_commit_spec_").toFile
    d.deleteOnExit()
    d
  }

  private def names(d: java.io.File): Set[String] = d.listFiles.map(_.getName).toSet

  private def read(f: java.io.File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  test("lost race: the destination stays untouched and the temp is deleted") {
    val d = tmpDir()
    val fs = noRenameFs()
    Files.write(new java.io.File(d, "part-00000.tar").toPath, "winner".getBytes(UTF_8))
    val t = ShardCommit.open(fs, d.getAbsolutePath, "part-00000.tar")
    assert(t.tmp.getName.startsWith(".inprogress-") && t.tmp.getName.endsWith("-part-00000.tar"))
    t.out.write("loser".getBytes(UTF_8)); t.out.close()
    ShardCommit.commit(fs, t.tmp, t.dest, "spec")
    assert(names(d) == Set("part-00000.tar"))
    assert(read(new java.io.File(d, "part-00000.tar")) == "winner")
  }

  test("transient failure: a failed rename with no destination throws, naming the writer") {
    val d = tmpDir()
    val fs = noRenameFs()
    val t = ShardCommit.open(fs, d.getAbsolutePath, "part-00000.tar")
    t.out.close()
    val e = intercept[java.io.IOException] {
      ShardCommit.commit(fs, t.tmp, t.dest, "writeSpec")
    }
    assert(e.getMessage.startsWith("writeSpec:"))
    assert(e.getMessage.contains("failed and the destination does not exist"))
  }

  test("prepare: an absent or empty dir passes; a non-empty dir is refused, naming an entry") {
    val d = tmpDir()
    ShardCommit.prepare(new java.io.File(d, "absent").getAbsolutePath, conf, overwrite = false, "spec")
    ShardCommit.prepare(d.getAbsolutePath, conf, overwrite = false, "spec")
    Files.write(new java.io.File(d, "part-00000.tar").toPath, Array[Byte](1))
    val e = intercept[IllegalArgumentException] {
      ShardCommit.prepare(d.getAbsolutePath, conf, overwrite = false, "writeSpec")
    }
    assert(e.getMessage.startsWith("writeSpec:"))
    assert(e.getMessage.contains("not empty") && e.getMessage.contains("part-00000.tar"))
    assert(e.getMessage.contains("pass overwrite = true"))
  }

  test("prepare: overwrite clears hidden temps too") {
    val d = tmpDir()
    Files.write(new java.io.File(d, "part-00000.tar").toPath, Array[Byte](1))
    Files.write(new java.io.File(d, ".inprogress-7-part-00001.tar").toPath, Array[Byte](2))
    ShardCommit.prepare(d.getAbsolutePath, conf, overwrite = true, "spec")
    assert(d.listFiles.isEmpty)
  }

  test("writeLines commits newline-terminated lines and leaves no temp") {
    val d = tmpDir()
    val fs = FileSystem.getLocal(conf)
    val dest = new Path(d.getAbsolutePath, "cdx-00000.idx")
    ShardCommit.writeLines(fs, dest, Seq("a", "b"), "spec")
    assert(read(new java.io.File(d, "cdx-00000.idx")) == "a\nb\n")
    assert(!d.listFiles.exists(_.getName.contains(".inprogress")))
  }

  test("writeLines deletes its temp when the commit fails") {
    val d = tmpDir()
    val e = intercept[java.io.IOException] {
      ShardCommit.writeLines(noRenameFs(), new Path(d.getAbsolutePath, "vocab.txt"),
        Seq("x"), "trainSpec")
    }
    assert(e.getMessage.startsWith("trainSpec:"))
    assert(d.listFiles.isEmpty)
  }
}
