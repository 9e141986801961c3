package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the rehearsal data: reads an sf directory and
  * writes a k× copy, preserving each table's INTERNAL structure per replica
  * (duplicate rates, token distributions, key distributions) while keeping
  * replicas from trivially colliding with each other:
  *
  *   - `documents`: ids offset per replica; replica > 0 texts get a short
  *     replica-tag suffix, so the within-replica duplicate/near-dup
  *     structure is preserved exactly (the structure dedup measurements
  *     care about) and cross-replica texts are never exact-equal.
  *   - `embeddings`: replica 0 keeps the originals; replica > 0 vectors are
  *     regenerated as seeded hash-uniform values in [-1, 1] of the same
  *     dimension — fully decorrelated, so scaling does NOT manufacture a
  *     quadratic blow-up of trivial cross-replica near-dup pairs that no
  *     real corpus would have.
  *   - `lineitem`: order keys offset per replica; measure columns untouched
  *     (so per-column profiles at sf1 have sf0.1's exact distributions, 10×
  *     the mass).
  *
  * Everything is Spark-native expressions (crossJoin with a k-row range +
  * column rewrites) — no driver-side loops, no UDFs; generating sf1 this
  * way at 100 TB would itself be a legitimate distributed job.
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [dstDir] [k] [tables]
  * (tables: optional comma-separated subset to regenerate)
  */
object GenScale {

  /** Replica id offset — far above any id in the source tables. */
  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "testdata_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    // Optional 4th arg: comma-separated table subset, for regenerating one
    // table after a rewrite-rule fix without paying for the others.
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val spark = graft.GraftSession.local(
      graft.GraftSession.cpus(), shufflePartitions = 32)

    // Output parallelism is explicit: the crossJoin inherits the SOURCE's
    // read partitioning, and a driver-written sf dir can be one row group
    // per table — carried through, that writes the k× copy as one giant
    // row group, and every later scan of it serializes to a single task
    // (measured: 3–4× inflation on all big-side ScaleBench rows). 32
    // output files keeps every downstream local[32] scan fully parallel.
    val outParts = sys.env.getOrElse("SPARK_GRAFT_GEN_PARTS", "32").toInt

    def replicate(table: String)(rewrite: DataFrame => DataFrame): Unit = {
      if (only.nonEmpty && !only.contains(table)) return
      val base = spark.read.parquet(s"$src/$table.parquet")
      val reps = spark.range(k).select(col("id").as("__rep"))
      val scaled = rewrite(base.crossJoin(reps)).drop("__rep")
      scaled.repartition(outParts)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[genscale] $table: ${base.count()} -> ${spark.read.parquet(s"$dst/$table.parquet").count()}")
    }

    replicate("documents") { df =>
      df.withColumn("doc_id", col("doc_id") + col("__rep") * Off)
        .withColumn("text",
          when(col("__rep") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zqrep"), col("__rep"))))
    }

    replicate("embeddings") { df =>
      df.withColumn("vec_id", col("vec_id") + col("__rep") * Off)
        .withColumn("embedding",
          when(col("__rep") === 0, col("embedding"))
            .otherwise(transform(col("embedding"), (_, i) =>
              // seeded uniform [-1, 1]: decorrelated across replicas/dims.
              // Cast AFTER the divide — Spark's fractional `/` returns
              // double regardless of operand types, and an array<double>
              // branch would coerce the whole `when` (and the written
              // table) to array<double>, breaking Array[Float] encoders.
              ((pmod(xxhash64(col("vec_id"), col("__rep"), i), lit(20001L)) - 10000L)
                / 10000.0).cast("float"))))
    }

    replicate("lineitem") { df =>
      df.withColumn("l_orderkey", col("l_orderkey") + col("__rep") * Off)
    }

    spark.stop()
  }
}
