package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance settings shared by every entry point (Bench,
  * Verify, ScaleBench and the tools, all through [[GraftSession]]), so
  * the measured configuration is the shipped one. A session built
  * elsewhere (a downstream job, another harness) should apply it too:
  * `SparkSession.builder().pipe(SessionTuning.apply)`.
  *
  * == Why `spark.shuffle.sort.bypassMergeThreshold = 1` ==
  *
  * The bypass-merge shuffle writer opens (and later merges + deletes) ONE
  * FILE PER REDUCE PARTITION per map task. With M map tasks and R reduce
  * partitions that is M×R file creates + deletes per shuffle — at
  * `local[32]` with `shuffle.partitions = 32` that is 1,024 filesystem
  * metadata operations for a shuffle that may carry kilobytes, plus every
  * map task serializing on `IndexShuffleBlockResolver.writeMetadataFileAndCommit`.
  * Thread dumps of a hot bench row (q20b_simhash_props, 32 cores) showed
  * the executor pool dominated by `FileOutputStream.open0` (RUNNABLE) and
  * 49/128 sampled task threads BLOCKED on the resolver lock; summed task
  * CPU fell 26.5 s → 6.7 s for the identical query when the sort writer
  * took over (optimization guide §2.2: many small blocks are the quadratic
  * cost of scaling out a shuffle).
  *
  * Threshold 1 routes every multi-partition shuffle through the sort-based
  * writer: one spill file + one index per map task, independent of R. The
  * setting is scale-NEUTRAL by construction: the bypass path is only ever
  * eligible when R ≤ 200 and there is no map-side aggregation — at
  * production scale (R in the thousands) it never fires, so this changes
  * nothing there; it exists to stop a toy-scale pathology from dominating
  * the local measurement. A `.config` of the same key after `apply`
  * overrides it.
  */
object SessionTuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", "1")
}
