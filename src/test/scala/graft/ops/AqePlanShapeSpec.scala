package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._

import graft.dftly.SparkTestBase

/** The PlanShapeSpec invariants, re-audited in the configuration a real
  * cluster runs: `spark.sql.adaptive.enabled=true`. AQE re-plans joins and
  * aggregates AFTER runtime stats arrive, so a plan pinned with AQE off can
  * legally be rewritten mid-query — these tests materialize each query and
  * walk the FINAL adaptive plan (post-execution `executedPlan` of
  * `AdaptiveSparkPlanExec`, recursing through query stages) to assert the
  * scale-critical shapes survive the re-plan:
  *
  *   - merge-hinted corpus-side joins stay sort-merge (AQE's
  *     broadcast-demotion must not override the hint — on a lying size
  *     estimate it would ship the whole bucket table to every task);
  *   - the decontamination gram probe stays a broadcast LeftSemi;
  *   - top-k still lowers to TakeOrderedAndProject, never a global sort;
  *   - `nearDuplicatePairs` puts no aggregate below its band exchange, and
  *     no object-hash aggregate falls back to sorting at run time;
  *   - corpus text still never rides a shuffle.
  */
class AqePlanShapeSpec extends SparkTestBase {

  import spark.implicits._

  /** Materializes `df` under AQE and returns every node of the final
    * adaptive plan, flattened through `AdaptiveSparkPlanExec` /
    * `QueryStageExec` / `ReusedExchangeExec` wrappers (a plain `collect`
    * over the adaptive root sees only leaf stubs).
    *
    * `requireAdaptive=false` is for plans with NO exchange or subquery:
    * AQE only wraps a plan containing one (InsertAdaptiveSparkPlan's
    * applicability check), so "not wrapped" is itself evidence the query
    * is shuffle-free.
    */
  private def aqeFinal(df: DataFrame, requireAdaptive: Boolean = true): Seq[SparkPlan] = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      df.collect()
      def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
        case q: QueryStageExec => p +: flatten(q.plan)
        case r: ReusedExchangeExec => p +: flatten(r.child)
        case other => other +: other.children.flatMap(flatten)
      }
      val root = df.queryExecution.executedPlan
      val nodes = flatten(root)
      if (requireAdaptive)
        assert(nodes.exists(_.isInstanceOf[AdaptiveSparkPlanExec]),
          s"expected an adaptive plan under AQE:\n$root")
      nodes
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  private def shuffleChildren(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
    nodes.collect { case s: ShuffleExchangeLike => s.child }

  test("AQE: merge-hinted bucket self-join stays sort-merge (no broadcast demotion)") {
    // tiny input = exactly the regime where AQE would broadcast if the
    // hint were lost; the hint must survive the logical re-optimization
    val docs = (1L to 60L).map(i => (i, s"alpha beta gamma delta ${i % 5} epsilon zeta"))
      .toDF("doc_id", "text")
    // the operators that carry a merge-hinted corpus-side join:
    // lshCandidatePairs (bucket member self-join) and jaccardPairs (df
    // join-back + prefix-verify join); nearDuplicatePairs is join-free by
    // design since the r6 verify-in-bucket rewrite, so it has nothing to pin
    for (q <- Seq(
        Dedup.lshCandidatePairs(docs, "doc_id", "text"),
        Dedup.jaccardPairs(docs, "doc_id", "text", 0.5))) {
      val nodes = aqeFinal(q)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        "bucket self-join must stay sort-merge under AQE")
      assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "AQE must not demote the merge-hinted join to broadcast")
    }
  }

  test("AQE: decontamination gram probe stays a broadcast LeftSemi; corpus text stays off shuffles") {
    val train = (1L to 50L).map(i => (i, s"alpha beta gamma $i")).toDF("id", "text")
    val eval = Seq((1L, "alpha beta gamma 7")).toDF("eid", "etext")
    val nodes = aqeFinal(Decontam.markContaminated(train, "id", "text", eval, "etext", n = 2))
    assert(nodes.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }.nonEmpty, "gram probe must stay a broadcast LeftSemi hash join under AQE")
    assert(!shuffleChildren(nodes)
      .exists(_.output.exists(a => a.name == "text" || a.name == "etext")),
      "only matched ids and eval grams may enter an exchange")
  }

  test("AQE: contaminationFraction — train text off every exchange, gram probe broadcast") {
    val train = (1L to 60L).map(i => (i, s"alpha beta gamma delta $i")).toDF("id", "text")
    val evalDf = Seq((1L, "alpha beta gamma delta 7"), (2L, "omega psi chi phi"))
      .toDF("eid", "etext")
    val nodes = aqeFinal(
      Decontam.contaminationFraction(evalDf, "eid", "etext", train, "text", n = 2))
    // the train corpus contributes one map-side semi-join probe; its text
    // must never enter an exchange (the only exchanges carry grams / eval
    // ids, both bounded by the eval gram count)
    assert(!shuffleChildren(nodes)
      .exists(_.output.exists(a => a.name == "text" || a.name == "etext")),
      "corpus/eval text must stay off every exchange")
    assert(nodes.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }.nonEmpty, "the train-side gram probe must stay a broadcast LeftSemi")
  }

  test("AQE: bm25 corpus text never shuffles") {
    val df = (1L to 50L).map(i => (i, s"the data model $i")).toDF("id", "text")
    val nodes = aqeFinal(Retrieval.bm25(df, "id", "text", Seq("the", "data")))
    assert(!shuffleChildren(nodes).exists(_.output.exists(_.name == "text")))
  }

  test("AQE: top-k operators still lower to TakeOrderedAndProject, never a global sort") {
    val vecs = (1L to 60L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 5).toFloat)))
      .toDF("id", "vec")
    val docs = (1L to 60L).map(i => (i, s"the data model $i")).toDF("id", "text")
    val qv = (0 until 8).map(_.toFloat)
    // brute-force top-k is exchange-free (scan → project → per-partition
    // top-k → driver merge), so AQE never wraps it — requireAdaptive=false
    // and the stronger assertion is "no shuffle at all"
    for (q <- Seq(
        Similarity.bruteForceTopK(vecs, "id", "vec", qv, 5),
        Retrieval.bm25TopK(docs, "id", "text", Seq("the", "data"), 5))) {
      val nodes = aqeFinal(q, requireAdaptive = false)
      assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        "expected TakeOrderedAndProject under AQE")
      assert(nodes.collect { case s: SortExec if s.global => s }.isEmpty,
        "no global sort for a top-k under AQE")
    }
    val bf = aqeFinal(Similarity.bruteForceTopK(vecs, "id", "vec", qv, 5),
      requireAdaptive = false)
    assert(!bf.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "brute-force top-k must stay exchange-free under AQE")
  }

  test("AQE: nearDuplicatePairs: no aggregate below band exchange, no fallback") {
    // 200 distinct texts, each twice: nearly every (band, band_hash) key is
    // unique, the regime where a map-side partial collect passes the
    // 128-key object-hash limit and sorts every band row; a plan check
    // alone cannot see that fallback, so read the executed metric too
    val docs = (1L to 400L)
      .map(i => (i, s"alpha beta gamma ${i % 200} delta epsilon ${i % 200 * 7} zeta"))
      .toDF("doc_id", "text")
    val nodes = aqeFinal(Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5))
    val band = nodes.collect {
      case s: ShuffleExchangeLike if s.output.exists(_.name == "band_hash") => s
    }
    assert(band.nonEmpty, s"no band exchange in:\n${nodes.head}")
    for (s <- band) {
      assert(s.child.find(_.isInstanceOf[BaseAggregateExec]).isEmpty,
        s"an aggregate sits below the band exchange:\n${s.child}")
      val perTask = s.metrics("shuffleRecordsWritten").value / s.numMappers
      assert(perTask > 128, s"$perTask band rows per map task: the input must pass 128 keys")
    }
    val fellBack = nodes.collect {
      case o: ObjectHashAggregateExec if o.metrics("numTasksFallBacked").value > 0 => o
    }
    assert(fellBack.isEmpty, s"object-hash aggregation fell back to sorting:\n$fellBack")
  }

  test("AQE: jaccardPairs — no exchange carries a pair with both gram arrays") {
    val docs = (1L to 80L).map(i => (i, s"alpha beta gamma delta ${i % 7} epsilon zeta"))
      .toDF("doc_id", "text")
    def arrayFields(dt: org.apache.spark.sql.types.DataType): Int = dt match {
      case org.apache.spark.sql.types.ArrayType(e, _) => 1 + arrayFields(e)
      case s: org.apache.spark.sql.types.StructType => s.fields.map(f => arrayFields(f.dataType)).sum
      case _ => 0
    }
    for (child <- shuffleChildren(aqeFinal(Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)))) {
      val topLevelArrays = child.output.count(a => arrayFields(a.dataType) > 0)
      assert(topLevelArrays <= 1,
        s"exchange carries $topLevelArrays array columns:\n${child.output}")
    }
  }

  test("AQE: repetition signals stay shuffle-free (no adaptive wrapper at all)") {
    val docs = (1L to 60L).map(i => (i, s"line a\nline a\ntok$i w x y z"))
      .toDF("id", "text")
    val nodes = aqeFinal(
      Corpus.withRepetitionSignals(docs, "text"), requireAdaptive = false)
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "the signal pass is a pure projection — AQE must find nothing to adapt")
  }

  test("AQE: approxDistinct's exchange carries KMV buffers, not values") {
    val df = (1L to 300L).map(i => (s"g${i % 3}", s"value-$i")).toDF("g", "v")
    val nodes = aqeFinal(Corpus.approxDistinct(df, Seq("g"), "v", k = 32))
    val ex = shuffleChildren(nodes)
    assert(ex.nonEmpty)
    assert(!ex.exists(_.output.exists(_.name == "v")),
      s"raw values must never ride the exchange: ${ex.map(_.output)}")
    assert(nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      "the TypedImperativeAggregate must stay on the object-hash path")
  }

  test("AQE: BPE word counts keep the map-side partial aggregate") {
    val docs = (1L to 60L).map(i => (i, s"some words tok$i")).toDF("id", "text")
    val nodes = aqeFinal(BpeTrain.wordCounts(docs, "text"))
    val ex = shuffleChildren(nodes)
    assert(ex.nonEmpty)
    // the exchange input is already aggregated — one row per distinct word
    // per partition, not per occurrence
    val hasPartial = ex.exists { c =>
      c.collectFirst {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
        case o: ObjectHashAggregateExec => o
      }.isDefined
    }
    assert(hasPartial, s"no partial aggregate below the word exchange: $ex")
  }

  test("AQE: saltedEquiJoin stays on the shuffle path (never broadcast)") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    // broadcast of the factor-replicated build side is the pathology the
    // hint exists to prevent: its single-threaded hash build measured 3x
    // the whole salted shuffle join, and planner flips between the modes
    // were the q35 bench row's historical 1.7 s run-to-run swing
    val fact = (1L to 5000L).map(i => (i % 40, i)).toDF("k", "payload")
    val dim = (0L until 40L).map(i => (i, s"d$i")).toDF("dk", "attr")
    val nodes = aqeFinal(SkewJoin.saltedEquiJoin(fact, dim, "k", "dk", factor = 4))
    assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "salted join must not be re-planned to broadcast")
    assert(nodes.exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec]),
      s"expected a shuffle join in: $nodes")
  }

  test("AQE: semanticDedup's in-cell pairs survive on the fused generator path") {
    import org.apache.spark.sql.execution.GenerateExec
    val data = (1L to 40L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(0.0), Array.fill(8)(2.0))
    val nodes = aqeFinal(Similarity.semanticDedup(
      data, "vec_id", "embedding", threshold = 0.9, centroids = cents))
    assert(nodes.collect { case g: GenerateExec => g }
      .exists(_.boundGenerator.isInstanceOf[graft.ops.expr.BucketCosinePairs]),
      "AQE re-plan must keep the survivor-only generator")
  }

  test("AQE: connectedComponents' edge-cache layout joins on v with no edge-side exchange or sort") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // The shuffle regime of Cluster.connectedComponents relies on this
    // Spark contract: a frame PERSISTED as repartition(P, v) →
    // dropDuplicates(u, v) → sortWithinPartitions(v) keeps that
    // partitioning AND ordering through the cache, so each round's join on
    // v plans with zero exchange and zero sort above the edge-side cache
    // scan — the per-round cost is the label-sized side only. If a Spark
    // upgrade stops propagating cached layout, every round silently
    // re-shuffles and re-sorts the full edge table; this pins the contract.
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = (1L to 200L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("u", "v")
      .repartition(p, col("v"))
      .dropDuplicates("u", "v")
      .sortWithinPartitions("v")
      .persist()
    val bcBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      edges.count()
      val labels = (1L to 201L).map(i => (i, i)).toDF("v", "nl")
      val nodes = aqeFinal(edges.join(labels, "v"))
      // exactly one exchange (the labels side) and no sort above the cache
      val shuffled = shuffleChildren(nodes)
      assert(shuffled.size == 1, s"expected ONE exchange (labels side), got ${shuffled.size}")
      assert(!shuffled.exists(_.collectLeaves().exists(_.isInstanceOf[InMemoryTableScanExec])),
        "the cached edge side must not be re-exchanged")
      def above(n: SparkPlan): Boolean = n match {
        case _: SortExec => n.collectLeaves().exists(_.isInstanceOf[InMemoryTableScanExec])
        case _ => false
      }
      assert(!nodes.exists(above), "the cached edge side must not be re-sorted")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcBefore)
      edges.unpersist(); ()
    }
  }
}
