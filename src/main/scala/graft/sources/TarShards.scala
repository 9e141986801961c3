package graft.sources

import java.io.ByteArrayInputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** WebDataset-style tar-shard ingestion and emission — the multimodal
  * training-data format where a "sample" is a run of consecutive tar
  * entries sharing a key (`000042.jpg`, `000042.txt`, `000042.json` → one
  * sample with three parts), and a dataset is a directory of `.tar`
  * shards streamed sequentially. (Format as published by the WebDataset
  * project; re-implemented from the format convention — key = entry name
  * up to the FIRST dot, extension = the rest.)
  *
  * Scale shape:
  *   - WRITE: one shard file per task (optionally rolled every
  *     `maxEntriesPerShard` samples), streamed through commons-compress on
  *     top of the Hadoop filesystem — no driver involvement, no shuffle
  *     beyond whatever partitioning the caller chose. Shard size is the
  *     caller's partitioning choice, exactly like parquet file sizing.
  *   - READ: shards are listed and carried by Spark's `binaryFile` source
  *     (one task per shard — tars are not splittable, matching how the
  *     format ships: many medium shards, sequential IO within each), then
  *     parsed per-partition into sample rows. Memory bound = one shard per
  *     task (`spark.sql.sources.binaryFile.maxLength` caps at 2 GiB —
  *     write smaller shards).
  *
  * Sample schema: `shard STRING, key STRING, data MAP<STRING, BINARY>`.
  * Text parts come back with `element_at(data, 'txt')` cast to string;
  * binary parts (images/audio) feed [[graft.ops.Multimodal]] unchanged.
  *
  * The reference has no I/O surface at all (parser.py:326-344) — this is
  * beyond-reference ingestion for multimodal pipelines.
  */
object TarShards {

  /** One parsed sample. */
  case class TarSample(shard: String, key: String, data: Map[String, Array[Byte]])

  /** Write `df` as tar shards under `outDir` (one shard per partition,
    * rolled every `maxEntriesPerShard` samples). Each row becomes
    * `"<key>.<ext>"` entries, one per `(ext, column)` in `parts`; part
    * columns must be BINARY (cast strings — UTF-8 — upstream) and the key
    * column unique per row if the dataset is to round-trip sample-exact.
    * Null parts are skipped (a sample may lack an extension).
    *
    * Each task writes its shards through [[ShardCommit]]: readers only
    * ever see complete shards, and a non-empty `outDir` is refused unless
    * `overwrite = true`, which clears it first.
    */
  def writeTarShards(
      df: DataFrame,
      outDir: String,
      keyCol: String,
      parts: Seq[(String, Column)],
      maxEntriesPerShard: Int = 100000,
      overwrite: Boolean = false
  ): Unit = {
    require(parts.nonEmpty, "writeTarShards needs at least one (ext, column)")
    require(maxEntriesPerShard > 0, "maxEntriesPerShard must be positive")
    val exts = parts.map(_._1)
    val projected = df.select(
      col(keyCol).cast("string").as("__key") +: parts.map { case (e, c) => c.cast("binary").as(s"__p_$e") }: _*)
    val conf = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    // stale part-*.tar from a previous larger run would otherwise
    // survive next to this run's output and readTarShards would emit
    // stale/duplicate samples
    ShardCommit.prepare(outDir, conf.value, overwrite, "writeTarShards")
    projected.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val pid = TaskContext.getPartitionId()
        val fs = FileSystem.get(new java.net.URI(outDir), conf.value)
        var shardNo = 0
        var inShard = 0
        var out: TarArchiveOutputStream = null
        var shard: ShardCommit.Temp = null
        def open(): Unit = {
          shard = ShardCommit.open(fs, outDir, f"part-$pid%05d-$shardNo%04d.tar")
          out = new TarArchiveOutputStream(shard.out)
          out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
        }
        def close(): Unit = if (out != null) {
          out.finish(); out.close(); out = null
          ShardCommit.commit(fs, shard.tmp, shard.dest, "writeTarShards")
        }
        open()
        rows.foreach { r =>
          if (inShard >= maxEntriesPerShard) {
            close(); shardNo += 1; inShard = 0; open()
          }
          val key = r.getString(0)
          // the format's key/extension split is at the FIRST dot — a key
          // containing one would silently re-split on read into a
          // different (key, ext); refuse loudly instead
          if (key.indexOf('.') >= 0)
            throw new IllegalArgumentException(
              s"tar-shard sample key '$key' contains '.', which the " +
                "key/extension split cannot round-trip; strip or re-encode keys")
          exts.zipWithIndex.foreach { case (ext, i) =>
            val bytes = r.get(i + 1)
            if (bytes != null) {
              val b = bytes.asInstanceOf[Array[Byte]]
              val entry = new TarArchiveEntry(s"$key.$ext")
              entry.setSize(b.length.toLong)
              out.putArchiveEntry(entry)
              out.write(b)
              out.closeArchiveEntry()
            }
          }
          inShard += 1
        }
        close()
      }
    }
  }

  /** Read a directory of `.tar` shards as sample rows (`shard`, `key`,
    * `data` map). Consecutive entries sharing a key (name up to the first
    * dot) form one sample — the format's contract; non-consecutive
    * repeats of a key become separate samples, as in the original reader.
    */
  def readTarShards(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    bin.mapPartitions { files =>
      files.flatMap { case (shardPath, bytes) => parseShard(shardPath, bytes) }
    }.toDF()
  }

  /** Streaming variant of [[readTarShards]]: watch a directory for newly
    * landed `.tar` shards and emit their samples as an unbounded stream —
    * the continuously-landing multimodal drop, mirroring
    * [[Readers.readJsonlStream]]. Shards are immutable once listed (the
    * file-source contract); `maxFilesPerTrigger` bounds how many new
    * shards one micro-batch parses (0 = unbounded). Same per-shard
    * memory bound as batch: one shard's bytes per task.
    */
  def readTarShardsStream(
      s: SparkSession,
      path: String,
      maxFilesPerTrigger: Int = 0
  ): DataFrame = {
    import s.implicits._
    val r = s.readStream.format("binaryFile")
      .schema(new org.apache.spark.sql.types.StructType()
        .add("path", org.apache.spark.sql.types.StringType)
        .add("modificationTime", org.apache.spark.sql.types.TimestampType)
        .add("length", org.apache.spark.sql.types.LongType)
        .add("content", org.apache.spark.sql.types.BinaryType))
      .option("pathGlobFilter", "*.tar")
    val bin = (if (maxFilesPerTrigger > 0)
                 r.option("maxFilesPerTrigger", maxFilesPerTrigger)
               else r).load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    bin.mapPartitions { files =>
      files.flatMap { case (shardPath, bytes) => parseShard(shardPath, bytes) }
    }.toDF()
  }

  /** Parse one shard's bytes into consecutive-key samples. */
  private[sources] def parseShard(
      shardPath: String, bytes: Array[Byte]): Iterator[TarSample] = {
    val tar = new TarArchiveInputStream(new ByteArrayInputStream(bytes))
    val samples = Iterator.unfold(()) { _ =>
      Option(tar.getNextEntry).map(e => (e, ()))
    }.filter(!_.isDirectory).map { e =>
      val name = e.getName
      val dot = name.indexOf('.')
      val (key, ext) =
        if (dot < 0) (name, "") else (name.substring(0, dot), name.substring(dot + 1))
      val buf = new Array[Byte](e.getSize.toInt)
      var off = 0
      while (off < buf.length) {
        val n = tar.read(buf, off, buf.length - off)
        if (n < 0)
          throw new java.io.EOFException(
            s"$shardPath: truncated entry $name (${e.getSize} bytes expected)")
        off += n
      }
      (key, ext, buf)
    }
    // group consecutive runs of the same key without materializing the shard
    new Iterator[TarSample] {
      private var pending: Option[(String, String, Array[Byte])] = None
      def hasNext: Boolean = pending.isDefined || samples.hasNext
      def next(): TarSample = {
        val head = pending.getOrElse(samples.next())
        pending = None
        val data = Map.newBuilder[String, Array[Byte]]
        data += (head._2 -> head._3)
        var done = false
        while (!done && samples.hasNext) {
          val e = samples.next()
          if (e._1 == head._1) data += (e._2 -> e._3)
          else { pending = Some(e); done = true }
        }
        TarSample(shardPath, head._1, data.result())
      }
    }
  }
}
