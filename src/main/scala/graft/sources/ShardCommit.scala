package graft.sources

import java.io.{FilterOutputStream, IOException, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.spark.TaskContext

/** The one commit protocol of the archive writers ([[TarShards]], the
  * WARC/WAT/WET writers, `Cdx.writeZipnum`) and of `trainTokenizer`'s
  * model artifact.
  *
  * Commit protocol: each task streams a file to an attempt-unique
  * `.inprogress-<attempt>-<name>` temp and renames it to its final name
  * only after the file is finished — a speculative or retried attempt
  * either loses the rename race (dest exists ⇒ it deletes its temp) or
  * never renames at all, so readers only ever see complete files. A
  * rename failure with NO destination is a transient fs fault, not a
  * lost race: the task fails so it retries instead of silently dropping
  * the file. A failed attempt deletes its temp. The directory-level
  * contract stays NON-transactional (no `_SUCCESS` marker, no job-level
  * rollback): a failed JOB can leave a renamed prefix of files behind.
  * To keep a re-run from silently mixing with them (deterministic part
  * names would otherwise leave stale files from a previous larger run),
  * a non-empty output directory is refused unless `overwrite = true`,
  * which clears it first.
  *
  * The helper owns only the policy, the temp naming and the error
  * wording; each format keeps its own framing, rolling and index lines.
  */
private[graft] object ShardCommit {

  /** A file being written: its temp, its final path and the open stream. */
  final case class Temp(tmp: Path, dest: Path, out: FSDataOutputStream)

  /** Driver side, before any task writes: refuse a non-empty `outDir`, or
    * clear it (hidden temps included) under `overwrite`.
    */
  def prepare(outDir: String, conf: Configuration, overwrite: Boolean, who: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(outDir), conf)
    val outPath = new Path(outDir)
    if (fs.exists(outPath)) {
      val existing = fs.listStatus(outPath)
      if (existing.nonEmpty) {
        if (overwrite) existing.foreach(st => fs.delete(st.getPath, true))
        else throw new IllegalArgumentException(
          s"$who: output directory $outDir is not empty " +
            s"(${existing.length} entries, e.g. ${existing.head.getPath.getName}); " +
            "pass overwrite = true to clear it, or choose a fresh directory")
      }
    }
  }

  private def tempPath(dir: Path, finalName: String): Path = {
    val tc = TaskContext.get()
    val id = if (tc != null) tc.taskAttemptId().toString else UUID.randomUUID().toString
    new Path(dir, s".inprogress-$id-$finalName")
  }

  /** Open the temp for `outDir/finalName`. Inside a task, a task failure
    * closes the stream and deletes the temp.
    */
  def open(fs: FileSystem, outDir: String, finalName: String): Temp = {
    val dest = new Path(outDir, finalName)
    val tmp = tempPath(dest.getParent, finalName)
    val out = fs.create(tmp, true)
    val tc = TaskContext.get()
    if (tc != null) tc.addTaskFailureListener { (_, _) =>
      try out.close() catch { case NonFatal(_) => }
      fs.delete(tmp, false)
      ()
    }
    Temp(tmp, dest, out)
  }

  /** Rename a finished temp into place: a lost race drops the temp, a
    * failure with no destination throws.
    */
  def commit(fs: FileSystem, tmp: Path, dest: Path, who: String): Unit =
    if (!fs.rename(tmp, dest)) {
      if (fs.exists(dest)) fs.delete(tmp, false)
      else throw new IOException(
        s"$who: rename $tmp -> $dest failed and the destination does not " +
          "exist: a filesystem fault, not a lost race, so the file was not written")
    }

  /** Write and commit a small newline-terminated text file (index
    * sidecars, tokenizer artifacts); no temp survives a failure.
    */
  def writeLines(fs: FileSystem, dest: Path, lines: IterableOnce[String], who: String): Unit = {
    val tmp = tempPath(dest.getParent, dest.getName)
    try {
      val os = fs.create(tmp, true)
      try os.write(lines.iterator.mkString("", "\n", "\n").getBytes(UTF_8))
      finally os.close()
      commit(fs, tmp, dest, who)
    } finally fs.delete(tmp, false)
  }
}

/** A sink for one compressed member of a shard stream: bulk writes pass
  * through and `close()` is a no-op, so finishing a member (gzip trailer,
  * zstd frame) never closes the shard.
  */
private[sources] final class MemberSink(shard: OutputStream) extends FilterOutputStream(shard) {
  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    shard.write(b, off, len) // bulk passthrough (default is per-byte)
  override def close(): Unit = {} // member boundary, not file end
}
