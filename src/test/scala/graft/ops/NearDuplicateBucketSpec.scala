package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase
import graft.ops.expr.NativeSig

/** `Dedup.nearDuplicatePairs` sizes its band buckets with a window count;
  * the aggregation it replaced (`groupBy` + bounded collect + bucket
  * observation) is spelled out here as the oracle for its pairs and stats.
  */
class NearDuplicateBucketSpec extends SparkTestBase {

  import spark.implicits._

  /** The former bucket step over the same banding: one bounded collect per
    * (band, band_hash), observed, size-filtered and verified in the bucket.
    */
  private def groupByPairs(df: DataFrame, threshold: Double, cap: Int): DataFrame = {
    val banded = df
      .select(col("id"), NativeSig.hashedShingles(col("text"), 3).as("ss"))
      .select(col("id"), size(col("ss")).as("len"), col("ss"),
        NativeSig.minhashSignature(col("ss"), 64).as("sig"))
      .select(col("id"), col("len"), col("ss"),
        explode(when(col("len") > 0, Dedup.lshBandHashes(col("sig"), 16, 4))).as("bb"))
      .select(col("bb.band"), col("bb.band_hash"), col("id"), col("len"), col("ss"))
    Dedup.observeBucketStats(
      banded.groupBy(col("band"), col("band_hash"))
        .agg(NativeSig.boundedCollectList(struct(col("id"), col("len"), col("ss")), cap).as("bl"))
        .select(col("bl.items").as("ms"), col("bl.cnt").as("__bsz")),
      cap)
      .filter(col("__bsz").between(2, cap))
      .select(NativeSig.bucketJaccardPairs(col("ms"), threshold))
      .distinct()
  }

  /** Singletons, near-duplicate pairs, identical 2-member groups, `cap`
    * identical documents (a bucket of exactly the cap in every band),
    * `cap + 2` more (a black hole in every band), and texts of fewer than
    * three tokens, blank ones included.
    */
  private def corpus(cap: Int): DataFrame = {
    val texts =
      Seq(
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "a completely unrelated sentence about garden tools and soil",
        "stock prices rose sharply after the quarterly earnings report",
        "stock prices rose sharply after the quarterly earnings call",
        "one two", "one two", "solo", "", "   ", "x y", "lonely words here") ++
        Seq.fill(cap)("exactly at the cap every time") ++
        Seq.fill(cap + 2)("boilerplate black hole footer text")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  private def pairsAndStats(q: DataFrame): (Set[(Long, Long, Double)], Option[(Long, Long, Long)]) = {
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    (rows, Dedup.observedBucketStats(q))
  }

  for (cap <- Seq(3, 1000)) {
    test(s"window-sized buckets equal the bounded groupBy collect: pairs and stats, cap $cap") {
      val df = corpus(cap)
      val threshold = 0.5
      val (got, gotStats) =
        pairsAndStats(Dedup.nearDuplicatePairs(df, "id", "text", threshold, maxBucketSize = cap))
      val (want, wantStats) = pairsAndStats(groupByPairs(df, threshold, cap))
      assert(got == want, s"only new: ${(got -- want).take(5)}; only old: ${(want -- got).take(5)}")
      assert(gotStats == wantStats)
      // every band of the black hole's cap + 2 members is one truncated bucket
      assert(gotStats.contains((cap + 2L, 16L, 16L * (cap + 2))), s"$gotStats")
      val ids = got.map(p => (p._1, p._2))
      assert(ids.size == cap * (cap - 1) / 2 + 3, s"${ids.size} pairs")
      assert(ids.contains((0L, 1L)) && ids.contains((3L, 4L)) && ids.contains((5L, 6L)))
    }
  }
}
