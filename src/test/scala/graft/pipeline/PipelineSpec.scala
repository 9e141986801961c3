package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Project, Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dftly.{Compiler, DictParser, SparkTestBase}

class PipelineSpec extends SparkTestBase {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("chunk / bm25 / clusterDuplicates / profile verbs") {
    val chunks = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - chunk: {id: doc_id, text: text, chunkTokens: 64, overlapTokens: 16}
        |""".stripMargin, dir)
    assert(chunks.columns.toSeq == Seq("doc_id", "chunk_idx", "chunk", "n_tokens"))
    assert(chunks.count() > 500)

    val top = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - bm25: {id: doc_id, text: text, query: [the, data], k: 5}
        |""".stripMargin, dir)
    assert(top.count() == 5)

    val kept = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - clusterDuplicates: {id: doc_id, text: text, threshold: 0.5}
        |""".stripMargin, dir)
    val assigned = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - clusterDuplicates: {id: doc_id, text: text, threshold: 0.5, mode: assign}
        |""".stripMargin, dir)
    assert(assigned.columns.contains("cluster"))
    val families = assigned.select(countDistinct($"cluster")).as[Long].head()
    assert(kept.count() == families)

    val prof = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - profile: [n_chars]
        |""".stripMargin, dir)
    assert(prof.count() == 1 && prof.columns.contains("p50"))
  }

  test("groupBy rollup/cube modes and except/intersect verbs") {
    val roll = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - groupBy: {cols: [l_returnflag, l_linestatus], mode: rollup}
        |    agg:
        |      n: {count: "*"}
        |""".stripMargin, dir)
    val rows = roll.collect()
    // grand total row (both keys null) present, equal to table size
    val total = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(total.length == 1)
    assert(total.head.getLong(2) ==
      spark.read.parquet(s"$dir/lineitem.parquet").count())
    // cube adds the per-linestatus-only sets rollup lacks
    val cube = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - groupBy: {cols: [l_returnflag, l_linestatus], mode: cube}
        |    agg:
        |      n: {count: "*"}
        |""".stripMargin, dir)
    assert(cube.count() > roll.count())

    val except = Pipeline.runOnDir(spark,
      """source: orders
        |steps:
        |  - select: {o_orderkey: $o_orderkey}
        |  - except: {table: lineitem, cols: [l_orderkey], all: true}
        |""".stripMargin, dir)
    val expected = {
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      o.select($"o_orderkey").join(l, $"o_orderkey" === $"l_orderkey", "left_anti").count()
    }
    assert(except.count() == expected)

    val inter = Pipeline.runOnDir(spark,
      """source: orders
        |steps:
        |  - select: {o_orderkey: $o_orderkey}
        |  - intersect: {table: lineitem, cols: [l_orderkey]}
        |""".stripMargin, dir)
    assert(inter.count() + except.count() ==
      spark.read.parquet(s"$dir/orders.parquet").count())
  }

  test("select / withColumns / filter / orderBy / limit") {
    val out = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - withColumns:
        |      revenue: $l_extendedprice * (1 - $l_discount)
        |  - filter: $l_quantity >= 30
        |  - select:
        |      l_orderkey: $l_orderkey
        |      revenue: $revenue
        |  - orderBy: [-revenue]
        |  - limit: 5
        |""".stripMargin, dir)
    val rows = out.collect()
    assert(rows.length == 5)
    val revs = rows.map(_.getDouble(1))
    assert(revs.sameElements(revs.sortBy(-(_: Double))))
    // orderBy+limit lowers to TakeOrderedAndProject — no global sort
    assert(out.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("join with rename map + groupBy agg matches direct computation") {
    val out = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - withColumns:
        |      revenue: $l_extendedprice * (1 - $l_discount)
        |  - join: {table: orders, on: {l_orderkey: o_orderkey}, how: inner}
        |  - filter: $o_orderstatus == 'F'
        |  - groupBy: [l_returnflag]
        |    agg:
        |      total_rev: {sum: $revenue}
        |      n: {count: "*"}
        |      max_price: {max: $l_extendedprice}
        |""".stripMargin, dir)
    val got = out.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val expect = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter($"o_orderstatus" === "F")
      .groupBy("l_returnflag")
      .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (t, n)) =>
      assert(math.abs(t - expect(k)._1) < 1e-6 && n == expect(k)._2)
    }
  }

  test("broadcast: true puts a broadcast hint in the plan") {
    val out = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - join: {table: nation, on: {l_suppkey: n_nationkey}, how: left, broadcast: true}
        |""".stripMargin, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("dedupExact verb reuses ops.Dedup (id must be unique)") {
    val out = Pipeline.runOnDir(spark,
      """source: orders
        |steps:
        |  - dedupExact: {id: o_orderkey, keys: [o_orderstatus]}
        |""".stripMargin, dir)
    // one keeper per distinct status
    assert(out.count() ==
      spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderstatus").distinct().count())
  }

  test("inline csv source and parquet sink round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("pipe")
    java.nio.file.Files.writeString(tmp.resolve("in.csv"), "id,v\n1,10\n2,20\n3,30\n")
    val outPath = tmp.resolve("out").toString
    Pipeline.run(spark,
      s"""source: {format: csv, path: "$tmp/in.csv", options: {header: "true", inferSchema: "true"}}
         |steps:
         |  - withColumns:
         |      doubled: $$v * 2
         |  - filter: $$doubled > 20
         |sink: {path: "$outPath", format: parquet, mode: overwrite}
         |""".stripMargin,
      n => throw new IllegalArgumentException(s"no table $n"))
    val back = spark.read.parquet(outPath)
    assert(back.count() == 2)
    assert(back.select(org.apache.spark.sql.functions.sum("doubled")).head.getLong(0) == 100)
  }

  test("asOfJoin verb wires TemporalJoin through yaml") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val facts = Seq((1L, t0, "f0"), (1L, t1, "f1")).toDF("k", "ts", "f")
    val dims = Seq((1L, t2, "d0")).toDF("k", "rts", "d")
    facts.createOrReplaceTempView("__facts_unused")
    val out = Pipeline.run(spark,
      """source: facts
        |steps:
        |  - asOfJoin: {table: dims, keys: [k], leftTs: ts, rightTs: rts, rightCols: [d]}
        |""".stripMargin,
      { case "facts" => facts; case "dims" => dims })
    assert(out.select("f", "d").as[(String, String)].collect().toSet ==
      Set(("f0", "d0"), ("f1", "d0")))
  }

  test("end-to-end corpus cleaning pipeline in one YAML config") {
    // real docs + planted exact dup + planted near-dup + junk doc
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"n_chars").limit(100)
    val exactDup = docs.limit(1)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text", $"n_chars")
    val nearDup = docs.limit(1).select(
      ($"doc_id" + 6000L).as("doc_id"),
      concat(substring($"text", 1, 250),
        regexp_replace(substring($"text", 251, 100000), "[a-z]+$", "qqq")).as("text"),
      $"n_chars")
    val junk = Seq((7000L, "!!! ??? !!!", 11L)).toDF("doc_id", "text", "n_chars")
    val corpus = docs.union(exactDup).union(nearDup).union(junk)
    corpus.createOrReplaceTempView("corpus")

    val cleaned = Pipeline.run(spark,
      """source: corpus
        |steps:
        |  - textStats: text
        |  - filter: $punct_ratio < 0.5
        |  - dedupExact: {id: doc_id, keys: [text]}
        |  - dropNearDuplicates: {id: doc_id, text: text, threshold: 0.7}
        |""".stripMargin,
      { case "corpus" => spark.table("corpus") })
    val ids = cleaned.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(7000L), "junk doc should fail the quality filter")
    assert(!ids.contains(5000L), "exact dup should be dropped")
    assert(!ids.contains(6000L), "near dup should be dropped")
    // the real corpus has its own near-dups at this threshold — the exact
    // expected survivor set is originals minus brute-force id_b drops
    val realDrops = graft.ops.Dedup
      .bruteForceNearDuplicatePairs(docs, "doc_id", "text", 0.7)
      .select("id_b").as[Long].collect().toSet
    assert(ids == (0L until 100L).toSet -- realDrops,
      s"unexpected survivor set; spurious=${ids -- ((0L until 100L).toSet -- realDrops)}")
  }

  test("dedupEmbeddings verb: lsh and ivf methods drop planted duplicates") {
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").limit(200)
    // plant an identical copy of 3 vectors — both methods GUARANTEE these
    // pairs (identical sigs in every table / identical probe sets), so the
    // copies must be dropped and the originals kept regardless of tuning
    val dups = embs.limit(3).select(($"vec_id" + 9000L).as("vec_id"), $"embedding")
    embs.union(dups).createOrReplaceTempView("embcorpus")
    for ((method, extra) <- Seq(("lsh", ""), ("ivf", ""),
        ("ivf", ", trainSample: true"), ("ivf", ", trainSample: 150"))) {
      val out = Pipeline.run(spark,
        s"""source: embcorpus
           |steps:
           |  - dedupEmbeddings: {id: vec_id, embedding: embedding, threshold: 0.999, method: $method, cells: 4$extra}
           |""".stripMargin,
        { case "embcorpus" => spark.table("embcorpus") })
      val ids = out.select("vec_id").as[Long].collect().toSet
      assert(Seq(9000L, 9001L, 9002L).forall(id => !ids.contains(id)),
        s"$method$extra: planted copies must drop")
      assert(Seq(0L, 1L, 2L).forall(ids.contains),
        s"$method$extra: originals must survive")
    }
  }

  test("unknown verb / missing source give clear errors") {
    val e1 = intercept[IllegalArgumentException](
      Pipeline.runOnDir(spark, "source: lineitem\nsteps:\n  - frobnicate: 1\n", dir))
    assert(e1.getMessage.contains("Unknown pipeline verb"))
    val e2 = intercept[IllegalArgumentException](
      Pipeline.runOnDir(spark, "steps: []\n", dir))
    assert(e2.getMessage.contains("source"))
  }

  private def stepError(step: String): IllegalArgumentException =
    intercept[IllegalArgumentException](
      Pipeline.runOnDir(spark, s"source: documents\nsteps:\n  - $step\n", dir))

  test("a mistyped step key is rejected, naming the verb, the key and the accepted keys") {
    val e = stepError("dropNearDuplicates: {id: doc_id, text: text, threshhold: 0.5}")
    assert(e.getMessage.contains("dropNearDuplicates"), e.getMessage)
    assert(e.getMessage.contains("'threshhold'"), e.getMessage)
    assert(e.getMessage.contains("id, text, threshold, targetRecall"), e.getMessage)
    // only groupBy takes an `agg` beside its verb
    val agg = stepError("filter: $doc_id > 0\n    agg: {n: {count: \"*\"}}")
    assert(agg.getMessage.contains("filter") && agg.getMessage.contains("'agg'"), agg.getMessage)
  }

  test("a missing required step key names the verb and the key") {
    val e = stepError("dedupExact: {keys: [text]}")
    assert(e.getMessage.contains("dedupExact") && e.getMessage.contains("'id'"), e.getMessage)
  }

  test("a malformed number names the verb, the key and the value") {
    val e = stepError("dropNearDuplicates: {id: doc_id, text: text, threshold: high}")
    for (part <- Seq("dropNearDuplicates", "'threshold'", "high"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("unknown keys on a jsonl source, the default parquet sink and the config are rejected") {
    val src = intercept[IllegalArgumentException](Pipeline.run(spark,
      "source: {format: jsonl, path: /nonexistent/docs.jsonl, bogus: 1}\n",
      _ => fail("no table resolve expected")))
    assert(src.getMessage.contains("jsonl source") && src.getMessage.contains("'bogus'"),
      src.getMessage)
    val out = java.nio.file.Files.createTempDirectory("graft_sink_keys").resolve("out")
    val sink = intercept[IllegalArgumentException](Pipeline.runOnDir(spark,
      s"source: region\nsink: {path: $out, partitionby: [r_name]}\n", dir))
    assert(sink.getMessage.contains("parquet sink") && sink.getMessage.contains("'partitionby'"),
      sink.getMessage)
    assert(!java.nio.file.Files.exists(out), "a rejected sink must write nothing")
    val top = intercept[IllegalArgumentException](Pipeline.runOnDir(spark,
      s"source: region\nsinks: {path: $out}\n", dir))
    assert(top.getMessage.contains("'sinks'"), top.getMessage)
  }

  test("an empty join 'on' or an empty 'agg' fails, naming the verb") {
    for (on <- Seq("[]", "{}")) {
      val e = stepError(s"join: {table: region, on: $on}")
      assert(e.getMessage.contains("join"), e.getMessage)
    }
    val e = stepError("groupBy: [doc_id]\n    agg: {}")
    assert(e.getMessage.contains("groupBy"), e.getMessage)
  }

  test("README's verb table has one row per verb and names every declared key") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val rows = try readme.getLines().dropWhile(_ != "| Verb | Args | Lowers to |")
      .drop(2).takeWhile(_.startsWith("|")).toList finally readme.close()
    assert(rows.nonEmpty, "README has no verb table")
    val verbsOf = rows.map(r => r -> "`([A-Za-z0-9]+)`".r.findAllMatchIn(r.split('|')(1))
      .map(_.group(1)).toList)
    val named = verbsOf.flatMap(_._2)
    assert(named.toSet == Keys.steps.keySet,
      s"rows without a verb: ${named.toSet -- Keys.steps.keySet}; " +
        s"verbs without a row: ${Keys.steps.keySet -- named}")
    for ((row, verbs) <- verbsOf; verb <- verbs; key <- Keys.steps(verb))
      assert(s"(?<![A-Za-z0-9_])$key(?![A-Za-z0-9_])".r.findFirstIn(row).isDefined,
        s"README row of $verb does not name its key '$key'")
  }

  test("curation verbs: qualitySignals -> quota -> split in one config") {
    val out = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - qualitySignals: text
        |  - quota: {keys: [source], orderBy: [-mean_word_len, doc_id], k: 2}
        |  - split: {id: doc_id, weights: {train: 0.8, val: 0.1, test: 0.1}}
        |  - select:
        |      doc_id: $doc_id
        |      source: $source
        |      split: $split
        |""".stripMargin, "/root/testdata/sf0.001")
    val rows = out.as[(Long, String, String)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.groupBy(_._2).values.forall(_.size <= 2), "quota k=2 violated")
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("sessionize verb over the events table (batch)") {
    val out = Pipeline.run(spark,
      """source: events
        |steps:
        |  - sessionize: {keys: [user_id], ts: ts, gap: 30 minutes}
        |""".stripMargin,
      { case "events" =>
          graft.sources.Readers.readEvents(spark, "/root/testdata/sf0.001")
      })
    assert(out.columns.toSeq == Seq("user_id", "session_start", "session_end",
      "n_events", "first_event", "last_event"))
    assert(out.count() > 0)
    // session bounds are consistent
    import org.apache.spark.sql.functions._
    assert(out.filter(col("first_event") > col("last_event")).count() == 0)
    assert(out.filter(col("n_events") < 1).count() == 0)
  }


  test("window verb: rank within groups and lag over an ordered timeline") {
    val out = Pipeline.runOnDir(spark,
      """source: orders
        |steps:
        |  - window:
        |      partitionBy: [o_custkey]
        |      orderBy: [-o_totalprice, o_orderkey]
        |      cols:
        |        rk: row_number
        |        prev_price: {lag: $o_totalprice}
        |  - filter: $rk == 1
        |  - select:
        |      o_custkey: $o_custkey
        |      o_orderkey: $o_orderkey
        |      prev_price: $prev_price ?? -1
        |""".stripMargin, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    // rk == 1 => one row per customer, and lag of the first row is null -> -1
    assert(out.groupBy("o_custkey").count().filter($"count" > 1).count() == 0)
    assert(out.filter($"prev_price" =!= -1.0).count() == 0)
    assert(out.count() > 0)
  }


  test("sample verb: seeded determinism, plain and stratified") {
    val cfg =
      """source: documents
        |steps:
        |  - sample: {fraction: 0.3, seed: 7}
        |""".stripMargin
    val a = Pipeline.runOnDir(spark, cfg, "/root/testdata/sf0.001")
      .select("doc_id").as[Long].collect().toSet
    val b = Pipeline.runOnDir(spark, cfg, "/root/testdata/sf0.001")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "seeded sample must be reproducible")
    assert(a.nonEmpty && a.size < 500)

    val strat = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - sample: {fraction: {src0: 1.0, src1: 0.0}, by: source, seed: 7}
        |""".stripMargin, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    assert(strat.filter(col("source") === "src1").count() == 0)
    assert(strat.filter(col("source") === "src0").count() > 0)
  }

  test("approx_count_distinct aggregate verb is within HLL tolerance") {
    val out = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - groupBy: [l_returnflag]
        |    agg:
        |      approx_orders: {approx_count_distinct: $l_orderkey}
        |      exact_orders: {count_distinct: $l_orderkey}
        |""".stripMargin, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    val bad = out.filter(
      abs(col("approx_orders") - col("exact_orders")) > col("exact_orders") * 0.1)
    assert(bad.count() == 0)
  }

  test("globalIndex / shuffle / pack verbs") {
    val idx = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - globalIndex: {orderBy: [doc_id], as: idx}
        |""".stripMargin, dir)
    val n = idx.count()
    assert(idx.select("idx").as[Long].collect().sorted.toSeq == (0L until n))

    val shuffled = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - shuffle: {id: doc_id, seed: 3}
        |""".stripMargin, dir)
    assert(shuffled.select("pos").as[Long].collect().sorted.toSeq == (0L until n))

    // shuffle then pack the shuffled epoch order
    val packed = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - shuffle: {id: doc_id, seed: 3}
        |  - pack: {id: doc_id, text: text, seqTokens: 64, orderBy: [pos]}
        |""".stripMargin, dir)
    assert(packed.columns.toSeq ==
      Seq("doc_id", "seq_id", "seq_offset", "doc_offset", "n_tokens"))
    val perSeq = packed.groupBy("seq_id").agg(sum("n_tokens").as("filled"))
    val lastSeq = packed.agg(max("seq_id")).as[Long].head()
    assert(perSeq.filter(col("seq_id") < lastSeq && col("filled") =!= 64).count() == 0,
      "every non-tail sequence is slot-exact")
  }

  test("decontaminate verb: mark and remove against an eval table") {
    def run(mode: String) = Pipeline.run(spark,
      s"""source: train
         |steps:
         |  - decontaminate: {table: eval, id: id, text: text, evalText: etext,
         |                    n: 2, mode: $mode}
         |""".stripMargin,
      {
        case "train" => Seq((1L, "the cat sat on the mat"), (2L, "dogs bark loudly"))
          .toDF("id", "text")
        case "eval" => Seq((9L, "cat sat down")).toDF("eid", "etext")
      })
    val marked = run("mark").select("id", "contaminated")
      .as[(Long, Boolean)].collect().toMap
    assert(marked == Map(1L -> true, 2L -> false))
    assert(run("remove").select("id").as[Long].collect().toSeq == Seq(2L))
    // fraction mode replaces the frame with the per-eval report: the eval
    // doc has bigrams {cat sat, sat down}; only "cat sat" occurs in train
    val frac = Pipeline.run(spark,
      """source: train
        |steps:
        |  - decontaminate: {table: eval, id: id, evalId: eid, text: text,
        |                    evalText: etext, n: 2, mode: fraction}
        |""".stripMargin,
      {
        case "train" => Seq((1L, "the cat sat on the mat"), (2L, "dogs bark loudly"))
          .toDF("id", "text")
        case "eval" => Seq((9L, "cat sat down")).toDF("eid", "etext")
      })
      .select("eval_id", "n_grams", "n_seen", "contamination")
      .as[(Long, Long, Long, Double)].head()
    assert(frac == ((9L, 2L, 1L, 0.5)))
  }

  test("multimodal verbs: mediaFeatures / resizeImages / sampleFrames over a MediaRow frame") {
    import graft.ops.{MediaMeta, MediaRow}
    def media = Seq(
      MediaRow(1L, MediaMeta("image", "stub", 100, 80, 0, 0L), "img-bytes-payload".getBytes),
      MediaRow(2L, MediaMeta("audio", "stub", 0, 0, 16000, 1000L), "audio-bytes".getBytes),
      MediaRow(3L, MediaMeta("video", "stub", 0, 0, 0, 1000L), ("v" * 600).getBytes)
    ).toDF()
    def run(yaml: String) = Pipeline.run(spark, yaml, _ => media)
    val img = run("source: m\nsteps:\n  - mediaFeatures: {kind: image}\n")
    assert(img.columns.contains("meanLuma") && img.count() == 1)
    val aud = run("source: m\nsteps:\n  - mediaFeatures: {kind: audio}\n")
    assert(aud.select("nFrames").as[Long].head() == "audio-bytes".length)
    val rez = run("source: m\nsteps:\n  - resizeImages: {maxDim: 50}\n")
    assert(rez.count() == 3) // non-images pass through
    val frames = run("source: m\nsteps:\n  - sampleFrames: {everyN: 2, frameBytes: 100}\n")
    assert(frames.count() == 3) // 600 bytes / 100 = 6 frames, every 2nd
  }

  test("mediaDedup verb: pairs reports planted copies, drop keeps first, params validated") {
    import graft.ops.{MediaMeta, MediaRow}
    val dup = "identical-image-payload-bytes".getBytes
    def media = Seq(
      MediaRow(1L, MediaMeta("image", "stub", 10, 10, 0, 0L), dup),
      MediaRow(2L, MediaMeta("image", "stub", 10, 10, 0, 0L), dup),
      MediaRow(3L, MediaMeta("image", "stub", 10, 10, 0, 0L), dup),
      MediaRow(4L, MediaMeta("image", "stub", 10, 10, 0, 0L),
        Array.tabulate(64)(i => (i * 37 + 11).toByte))
    ).toDF()
    def run(yaml: String) = Pipeline.run(spark, yaml, _ => media)
    val pairs = run(
      "source: m\nsteps:\n  - mediaDedup: {kind: image, mode: pairs, decoder: stub}\n")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(pairs),
      s"identical payloads must pair, got $pairs")
    val kept = run(
      "source: m\nsteps:\n  - mediaDedup: {kind: image, decoder: stub}\n")
      .select("media_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L),
      s"drop keeps the first copy only, got $kept")
    // explicit knobs ride through; bad values refuse loudly
    val strict = run(
      "source: m\nsteps:\n  - mediaDedup: {kind: image, mode: pairs, maxHamming: 0, maxBucketSize: 10, decoder: stub}\n")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(strict))
    intercept[IllegalArgumentException] {
      run("source: m\nsteps:\n  - mediaDedup: {kind: hologram}\n")
    }
    intercept[IllegalArgumentException] {
      run("source: m\nsteps:\n  - mediaDedup: {kind: image, mode: banish}\n")
    }
    intercept[IllegalArgumentException] {
      run("source: m\nsteps:\n  - mediaDedup: {kind: image, decoder: quantum}\n")
    }
  }

  test("tokenBudget verb keeps the in-budget prefix in the given order") {
    val out = Pipeline.run(spark,
      """source: t
        |steps:
        |  - tokenBudget: {tokens: $n, budget: 12, orderBy: [-n, id]}
        |""".stripMargin,
      _ => Seq((1L, 8L), (2L, 4L), (3L, 3L)).toDF("id", "n"))
    // order by n desc: 8 + 4 = 12 fits exactly; 3 overflows
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("maskSpans / stripBoilerplate verbs route q52's config through YAML") {
    // Same parameters as q52_substring_mask — the verb must produce the
    // exact rows the direct Scala call does.
    val viaVerb = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - maskSpans: {id: doc_id, text: text, window: 8, minRepeats: 2}
        |""".stripMargin, dir)
      .select($"doc_id", $"text_clean", $"n_repeated_windows", $"n_tokens_removed")
    val direct = graft.ops.Dedup.maskRepeatedSpans(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      windowTokens = 8, minRepeats = 2)
      .select($"doc_id", $"text_clean", $"n_repeated_windows", $"n_tokens_removed")
    assert(viaVerb.exceptAll(direct).isEmpty && direct.exceptAll(viaVerb).isEmpty)

    val stripped = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - stripBoilerplate: {id: doc_id, text: text}
        |""".stripMargin, dir)
    // text rewritten in place, helper column gone, no empty husks survive
    assert(stripped.columns.contains("text") && !stripped.columns.contains("text_clean"))
    assert(stripped.filter(length($"text") === 0).count() == 0)
    assert(stripped.count() > 0)
  }

  test("stripHtml / normalizeUnicode / domainOf verbs match the direct ops") {
    import graft.ops.WebText
    val docs = Seq(
      (1L, "<head><title>t</title></head><p>Hello &amp; welcome</p>",
        "café at https://www.shop.example.co.uk/item?id=2, cheap"),
      (2L, "<div>plain</div><script>x=1;</script>",
        "see http://News.Site.com/a and more")).toDF("id", "html", "body")
    val clean = docs.orderBy($"id")
      .select(WebText.stripHtml($"html").as("c")).as[String].collect()
    assert(clean.toSeq == Seq("Hello & welcome", "plain"))
    val viaYamlStrip = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - stripHtml: {html: html, as: clean}
        |""".stripMargin, _ => docs)
    assert(viaYamlStrip.orderBy($"id").select($"clean").as[String].collect().toSeq
      == clean.toSeq)
    val viaYamlNorm = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - normalizeUnicode: {text: body, form: NFKC}
        |""".stripMargin, _ => docs)
    assert(viaYamlNorm.orderBy($"id").select($"body").as[String].collect().toSeq ==
      docs.orderBy($"id")
        .select(WebText.normalizeUnicode($"body", "NFKC")).as[String].collect().toSeq)
    val withUrl = docs.withColumn("url",
      element_at(WebText.extractUrls($"body"), 1))
    val viaYamlDom = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - domainOf: {url: url}
        |""".stripMargin, _ => withUrl)
    assert(viaYamlDom.orderBy($"id").select($"domain").as[String].collect().toSeq ==
      Seq("example.co.uk", "site.com"))
    // pslFile: the FULL list semantics (wildcard rule) through the verb
    val pslFile = java.nio.file.Files.createTempFile("psl_", ".dat")
    java.nio.file.Files.write(pslFile, "uk\nco.uk\ncom\n*.site.com\n".getBytes("UTF-8"))
    val viaYamlPsl = Pipeline.run(spark,
      s"""source: docs
         |steps:
         |  - domainOf: {url: url, pslFile: "$pslFile"}
         |""".stripMargin, _ => withUrl)
    // *.site.com makes news.site.com a public suffix -> the host itself
    // is suffix+0 labels and passes through
    assert(viaYamlPsl.orderBy($"id").select($"domain").as[String].collect().toSeq ==
      Seq("example.co.uk", "news.site.com"))
  }

  test("jsonl source: gz corpus ingestion with schema + bad-record policy") {
    val d = java.nio.file.Files.createTempDirectory("graft_pipe_jsonl").toFile
    d.deleteOnExit()
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(d, "part-0.jsonl.gz")))
    out.write(Seq(
      """{"doc_id": 1, "text": "alpha beta"}""",
      """not json at all""",
      """{"doc_id": 2, "text": "gamma"}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    val res = Pipeline.run(spark,
      s"""source: {format: jsonl, path: "${d.getPath}",
         |         schema: "doc_id BIGINT, text STRING", badRecords: drop}
         |steps:
         |  - withColumns:
         |      doc_id2: $$doc_id * 2
         |  - filter: $$doc_id >= 1
         |""".stripMargin,
      name => fail(s"unexpected table resolve: $name"))
    assert(res.count() == 2)
    assert(res.columns.toSeq == Seq("doc_id", "text", "doc_id2"))
  }

  test("redact verb scrubs PII into typed tokens") {
    val out = Pipeline.run(spark,
      """source: t
        |steps:
        |  - redact: {text: text, as: clean}
        |""".stripMargin,
      _ => Seq((1L, "mail me@here.org at 10.1.2.3")).toDF("id", "text"))
    assert(out.select("clean").as[String].head() == "mail <EMAIL> at <IP>")
  }

  test("profile verb: map form with approx quartiles") {
    val out = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - profile: {cols: [l_quantity], approx: true}
        |""".stripMargin, dir)
    val r = out.collect()
    assert(r.length == 1 && r.head.getString(0) == "l_quantity")
    assert(!r.head.isNullAt(7), "approx p50 present")
    // BOTH YAML forms default to the sketch; exact state is opt-in only
    val dflt = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - profile: {cols: [l_quantity]}
        |""".stripMargin, dir)
    assert(dflt.queryExecution.executedPlan.toString.contains("approx_percentile"),
      "map form without 'approx' must take the approx_percentile path")
    val exact = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - profile: {cols: [l_quantity], approx: false}
        |""".stripMargin, dir)
    assert(!exact.queryExecution.executedPlan.toString.contains("approx_percentile"),
      "approx: false must opt into the exact percentile")
    // the YAML STRING 'false' must coerce like the bare boolean — the
    // same contract as every other boolean option in the file
    val exactStr = Pipeline.runOnDir(spark,
      """source: lineitem
        |steps:
        |  - profile: {cols: [l_quantity], approx: 'false'}
        |""".stripMargin, dir)
    assert(!exactStr.queryExecution.executedPlan.toString.contains("approx_percentile"),
      "approx: 'false' (string) must also opt into the exact percentile")
  }

  test("sampleDeterministic / takePerStratum / mix verbs") {
    val det = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - sampleDeterministic: {key: doc_id, fraction: 0.5, seed: 7}
        |""".stripMargin, dir)
    val direct = graft.ops.Sampling.deterministicSample(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", 0.5, 7L)
    assert(det.select("doc_id").as[Long].collect().toSet ==
      direct.select("doc_id").as[Long].collect().toSet)

    val strat = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - takePerStratum: {by: [source], k: 2, key: doc_id, seed: 7}
        |""".stripMargin, dir)
    val bySrc = strat.groupBy("source").count().as[(String, Long)].collect()
    assert(bySrc.nonEmpty && bySrc.forall(_._2 <= 2))

    // mix: current frame as '$self' plus a resolved table, fraction mode
    val mixed = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - filter: $doc_id <= 24
        |  - mix:
        |      sources: {head: $self, all: documents}
        |      fractions: {head: 1.0, all: 0.25}
        |      key: doc_id
        |      seed: 11
        |""".stripMargin, dir)
    val counts = mixed.groupBy("mix_source").count().as[(String, Long)].collect().toMap
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docsDf.count()
    val nHead = docsDf.filter(col("doc_id") <= 24).count()
    assert(counts("head") == nHead)
    assert(counts.contains("all") && counts("all") < nDocs / 2)

    // exact-count mode with weights
    val exactMix = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - mix:
        |      sources: {a: documents, b: documents}
        |      weights: {a: 3, b: 1}
        |      total: 40
        |      key: doc_id
        |""".stripMargin, dir)
    val ec = exactMix.groupBy("mix_source").count().as[(String, Long)].collect().toMap
    assert(ec == Map("a" -> 30L, "b" -> 10L))
  }

  test("perplexity verb: scores joined back, filterable downstream") {
    val out = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - perplexity: {id: doc_id, text: text}
        |  - filter: $ppl >= 1.0
        |""".stripMargin, dir)
    assert(out.columns.contains("ppl") && out.columns.contains("text"))
    assert(out.count() > 0)
    val direct = graft.ops.LangModel.scorePerplexity(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      spark.read.parquet(s"$dir/documents.parquet"), "text")
    assert(out.count() == direct.filter($"ppl" >= 1.0).count())
  }

  test("tokenize verb: merges file → id arrays; no merges → byte ids") {
    val mergesFile = java.io.File.createTempFile("graft_merges", ".txt")
    mergesFile.deleteOnExit()
    java.nio.file.Files.write(mergesFile.toPath,
      java.util.Arrays.asList("#version: 0.2", "h e", "l l", "he ll", "hell o"))
    val out = Pipeline.run(spark,
      s"""source: docs
         |steps:
         |  - tokenize: {text: text, merges: ${mergesFile.getAbsolutePath}, as: ids}
         |""".stripMargin,
      (_: String) => Seq((1L, "hello")).toDF("doc_id", "text"))
    assert(out.select("ids").as[Seq[Int]].head() == Seq(259))
    val bytes = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - tokenize: {text: text}
        |""".stripMargin,
      (_: String) => Seq((1L, "!A")).toDF("doc_id", "text"))
    assert(bytes.select("tokens").as[Seq[Int]].head() == Seq(0, 32))
  }

  test("tokenize verb: vocab file → Unigram ids; merges+vocab rejected") {
    val vocabFile = java.io.File.createTempFile("graft_unigram", ".vocab")
    vocabFile.deleteOnExit()
    // the q84 fixture model, serialized in its own .vocab text form
    java.nio.file.Files.write(vocabFile.toPath,
      graft.SparkEntry.UnigramFixtureModel.toVocabLines.mkString("\n")
        .getBytes("UTF-8"))
    val out = Pipeline.run(spark,
      s"""source: docs
         |steps:
         |  - tokenize: {text: text, vocab: ${vocabFile.getAbsolutePath}, as: ids}
         |""".stripMargin,
      (_: String) => Seq((1L, "hello world")).toDF("doc_id", "text"))
    assert(out.select("ids").as[Seq[Int]].head() == Seq(0, 5, 6))
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark,
        s"""source: docs
           |steps:
           |  - tokenize: {text: text, merges: /x, vocab: /y}
           |""".stripMargin,
        (_: String) => Seq((1L, "a")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("at most one of"))
  }

  test("extractContent verb: DOM-block extraction drops chrome, keeps content") {
    val para = graft.SparkEntry.HtmlFixturePara
    val out = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - extractContent: {html: html, as: text}
        |""".stripMargin,
      (_: String) => Seq(
        (1L, s"<nav><a href='/'>Home</a></nav><p>$para</p>" +
          "<footer><a href='/tos'>Terms</a></footer>")
      ).toDF("doc_id", "html"))
    assert(out.select("text").as[String].head() == para)
    // threshold override flows through: a huge lengthHigh demotes the
    // paragraph to near-good with no good neighbor -> nothing kept
    val strict = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - extractContent: {html: html, as: text, lengthHigh: 100000}
        |""".stripMargin,
      (_: String) => Seq((1L, s"<p>$para</p>")).toDF("doc_id", "html"))
    assert(strict.select("text").as[String].head() == "")
  }

  test("langId verb + lang-keyed extractContent/repetitionSignals options") {
    val out = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - langId: {text: text}
        |  - filter: "$lang != 'ru'"
        |""".stripMargin,
      (_: String) => Seq(
        (1L, "the data is in the table and it is good for the most part"),
        (2L, "и в не на я что он с это как по но его к у из за то все она")
      ).toDF("doc_id", "text"))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // maxLangs + iso3 keys: the multi-code form, re-spelled as the
    // published cc-index 639-3 codes
    val iso = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - langId: {text: text, as: langs, maxLangs: 3, iso3: true}
        |""".stripMargin,
      (_: String) => Seq(
        (1L, "the data is in the table and it is good for the most part"))
        .toDF("doc_id", "text"))
    assert(iso.select("langs").as[String].head() == "eng")
    // stopword thresholds flow through: 0/0 = the no-stoplist mode, a
    // stopword-free long paragraph classifies good by length alone
    val salad = Seq.tabulate(40)(i => s"w${('a' + i % 26).toChar}ord").mkString(" ")
    assert(salad.length > 200)
    def kept(opts: String) = Pipeline.run(spark,
      s"""source: docs
         |steps:
         |  - extractContent: {html: html, as: text$opts}
         |""".stripMargin,
      (_: String) => Seq((1L, s"<p>$salad</p>")).toDF("doc_id", "html"))
      .select("text").as[String].head()
    assert(kept("") == "") // default en rules: zero stopwords -> bad
    assert(kept(", stopwordsLow: 0.0, stopwordsHigh: 0.0") == salad)
    // repetitionSignals lang option flows to the stopword gate
    val de = Pipeline.run(spark,
      """source: docs
        |steps:
        |  - repetitionSignals: {text: text, lang: de}
        |""".stripMargin,
      (_: String) => Seq((1L,
        "der hund lief und lief durch das weite feld und war mit sich im " +
          "reinen denn die sonne stand hoch und der tag war lang und gut"))
        .toDF("doc_id", "text"))
    assert(de.select("stopword_hits").as[Int].head() >= 5)
  }

  test("repetitionSignals / approxDistinct / semanticDedup verbs match the direct ops") {
    val rep = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - repetitionSignals: {text: text, n: 3}
        |  - select: {doc_id: $doc_id, dup_ngram_cov: $dup_ngram_cov, keep_full: $keep_full}
        |""".stripMargin, dir)
    val repDirect = graft.ops.Corpus.withRepetitionSignals(
      spark.read.parquet(s"$dir/documents.parquet"), "text", 3)
      .select(col("doc_id"), col("dup_ngram_cov"), col("keep_full"))
    assert(rep.exceptAll(repDirect).count() == 0)
    assert(repDirect.exceptAll(rep).count() == 0)

    val ad = Pipeline.runOnDir(spark,
      """source: documents
        |steps:
        |  - approxDistinct: {by: [source], value: text, k: 64, seed: 3}
        |""".stripMargin, dir)
    val adDirect = graft.ops.Corpus.approxDistinct(
      spark.read.parquet(s"$dir/documents.parquet"), Seq("source"), "text", 64, 3L)
    assert(ad.exceptAll(adDirect).count() == 0)

    val sem = Pipeline.runOnDir(spark,
      """source: embeddings
        |steps:
        |  - semanticDedup: {id: vec_id, embedding: embedding, threshold: 0.85, targetCellSize: 100}
        |""".stripMargin, dir)
    val semDirect = graft.ops.Similarity.semanticDedup(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      0.85, targetCellSize = 100)
    assert(sem.select("vec_id").as[Long].collect().toSet ==
      semDirect.select("vec_id").as[Long].collect().toSet)
  }

  test("bloomSeen / snapshotDiff verbs match the direct ops") {
    val resolver: String => org.apache.spark.sql.DataFrame = {
      case "ref" => Seq((1L, "dup-a"), (2L, "dup-b")).toDF("id", "text")
      case "oldsnap" => Seq((1L, "same"), (2L, "was")).toDF("id", "text")
      case n => fail(s"unexpected table $n")
    }
    val incoming = Seq((10L, "dup-a"), (11L, "fresh")).toDF("id", "text")
    incoming.createOrReplaceTempView("__unused")
    val dropped = Pipeline.run(spark,
      """source: cur
        |steps:
        |  - bloomSeen: {ref: ref, column: text, expectedItems: 100, mode: drop}
        |""".stripMargin,
      { case "cur" => incoming; case n => resolver(n) })
    assert(dropped.select("text").as[String].collect().toSeq == Seq("fresh"))

    val cur = Seq((1L, "same"), (2L, "now"), (3L, "new")).toDF("id", "text")
    val diff = Pipeline.run(spark,
      """source: cur
        |steps:
        |  - snapshotDiff: {old: oldsnap, id: id, content: [text]}
        |""".stripMargin,
      { case "cur" => cur; case n => resolver(n) })
      .as[(Long, String)].collect().toMap
    assert(diff == Map(1L -> "unchanged", 2L -> "changed", 3L -> "added"))

    val delta = Pipeline.run(spark,
      """source: cur
        |steps:
        |  - snapshotDiff: {old: oldsnap, id: id, content: [text], mode: delta}
        |""".stripMargin,
      { case "cur" => cur; case n => resolver(n) })
    assert(delta.select("id").as[Long].collect().toSeq.sorted == Seq(2L, 3L))
  }

  test("tar source: shards in, sample rows out; options rejected loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("pipe_tar_").toFile
    tmp.deleteOnExit()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(20)
    graft.sources.TarShards.writeTarShards(
      docs, tmp.getAbsolutePath, "doc_id", Seq("txt" -> col("text")))
    val out = Pipeline.run(spark,
      s"""source: {format: tar, path: ${tmp.getAbsolutePath}}
         |steps:
         |  - withColumns: {doc_id: "$$key :: int"}
         |  - select: {doc_id: $$doc_id}
         |""".stripMargin, (_: String) => fail("no table resolve expected"))
    assert(out.count() == 20)
    val err = intercept[IllegalArgumentException] {
      Pipeline.run(spark,
        s"""source: {format: tar, path: ${tmp.getAbsolutePath}, options: {a: b}}
           |steps: []
           |""".stripMargin, (_: String) => fail("no table resolve expected"))
    }
    assert(err.getMessage.contains("options"))
  }

  test("dsirSelect verb: weights-only and top-k modes match the direct op") {
    val raw = Seq(
      1L -> "the quick brown fox", 2L -> "lorem ipsum dolor",
      3L -> "the brown fox runs", 4L -> "spam spam spam buy")
      .toDF("doc_id", "text")
    val tgt = Seq("the brown fox", "fox runs fast").toDF("text")
    val resolve: String => org.apache.spark.sql.DataFrame = {
      case "raw" => raw; case "tgt" => tgt
      case n => fail(s"unexpected table $n")
    }
    val weighted = Pipeline.run(spark,
      """source: raw
        |steps:
        |  - dsirSelect: {target: tgt, id: doc_id, text: text, nibbles: 2}
        |""".stripMargin, resolve)
    val direct = graft.ops.Dsir.dsirLogWeights(raw, tgt, "doc_id", "text",
      nibbles = 2)
    assert(weighted.select("doc_id", "log_weight").as[(Long, Double)]
      .collect().toMap ==
      direct.select("doc_id", "log_weight").as[(Long, Double)].collect().toMap)
    val sampled = Pipeline.run(spark,
      """source: raw
        |steps:
        |  - dsirSelect: {target: tgt, id: doc_id, text: text, k: 2,
        |      nibbles: 2, seed: 9}
        |""".stripMargin, resolve)
    val directK = graft.ops.Dsir.dsirSample(raw, tgt, "doc_id", "text",
      k = 2, nibbles = 2, seed = 9L)
    assert(sampled.select("doc_id").as[Long].collect().toSet ==
      directK.select("doc_id").as[Long].collect().toSet)
  }

  test("hostRank verb: per-page host rank joined back, null off-graph") {
    val pages = Seq(
      ("https://a.test/1", "<a href=\"http://b.test/x\">l</a>"),
      ("https://a.test/2", "<a href=\"/local\">self only</a>"),
      ("https://b.test/1", "<a href=\"http://a.test/y\">l</a>"),
      ("https://c.test/1", "no links at all"))
      .toDF("url", "html")
    val out = Pipeline.run(spark,
      """source: pages
        |steps:
        |  - hostRank: {url: url, html: html, iterations: 4}
        |""".stripMargin, { case "pages" => pages; case n => fail(s"unexpected $n") })
    val ranks = out.select(col("url"), col("host_rank"))
      .as[(String, Option[Double])].collect().toMap
    // a<->b is a 2-cycle: both hosts at the 0.5 fixpoint; c is off-graph
    assert(ranks("https://a.test/1").contains(0.5))
    assert(ranks("https://a.test/2").contains(0.5))
    assert(ranks("https://b.test/1").contains(0.5))
    assert(ranks("https://c.test/1").isEmpty)
  }

  test("domainRank verb: domain-aggregated rank joined back per page") {
    // a<->b 2-cycle of hosts under ONE registrable domain (x.co.uk):
    // each host sits at the 0.5 fixpoint, the domain carries their SUM
    val pages = Seq(
      ("https://a.x.co.uk/1", "<a href=\"http://b.x.co.uk/p\">l</a>"),
      ("https://b.x.co.uk/1", "<a href=\"http://a.x.co.uk/q\">l</a>"),
      ("https://c.test/1", "no links"))
      .toDF("url", "html")
    val out = Pipeline.run(spark,
      """source: pages
        |steps:
        |  - domainRank: {url: url, html: html, iterations: 4}
        |""".stripMargin,
      { case "pages" => pages; case n => fail(s"unexpected $n") })
    val ranks = out.select(col("url"), col("domain_rank"))
      .as[(String, Option[Double])].collect().toMap
    assert(ranks("https://a.x.co.uk/1").exists(r => math.abs(r - 1.0) < 1e-12))
    assert(ranks("https://b.x.co.uk/1").exists(r => math.abs(r - 1.0) < 1e-12))
    assert(ranks("https://c.test/1").isEmpty)
  }

  // withColumns / window build one projection per dependency layer; each
  // test holds the step to the left fold of `withColumn` it replaces

  private def withColumnFold(df: DataFrame, entries: Seq[(String, String)]): DataFrame =
    entries.foldLeft(df) { case (acc, (n, e)) =>
      acc.withColumn(n, Compiler.compile(DictParser.parse(e)))
    }

  private def withColumnsStep(df: DataFrame, entries: Seq[(String, String)]): DataFrame = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val body = entries.map { case (n, e) => s"      ${q(n)}: ${q(e)}" }.mkString("\n")
    Pipeline.run(spark, s"source: t\nsteps:\n  - withColumns:\n$body\n", Map("t" -> df))
  }

  /** Projects in `got`'s analyzed plan above those of its source `df`. */
  private def addedProjects(got: DataFrame, df: DataFrame): Int = {
    def n(d: DataFrame) = d.queryExecution.analyzed.collect { case p: Project => p }.size
    n(got) - n(df)
  }

  private def assertAsFold(df: DataFrame, entries: (String, String)*): DataFrame = {
    val got = withColumnsStep(df, entries)
    val want = withColumnFold(df, entries)
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
    got
  }

  private def cells(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf))

  test("withColumns: new columns mixed across layers keep the fold's order") {
    val df = Seq((1, "p"), (2, "q")).toDF("a", "s")
    val got = assertAsFold(df,
      "x" -> "$a + 1", "y" -> "$x * 2", "z" -> "$a - 1", "w" -> "$y + $z", "v" -> "5")
    assert(got.columns.toSeq == Seq("a", "s", "x", "y", "z", "w", "v"))
    assert(addedProjects(got, df) == 1)
  }

  test("withColumns: an overwritten source column, read before and after the overwrite") {
    val df = Seq((1, 10), (2, 20)).toDF("a", "b")
    // `before` sits in layer 1 (it reads t), so the overwrite of a, which
    // reads nothing new, must wait for it there
    val got = assertAsFold(df,
      "t" -> "$b + 1", "before" -> "$a + $t", "a" -> "$a * 10", "after" -> "$a + 1")
    assert(got.columns.toSeq == Seq("a", "b", "t", "before", "after"))
    assert(cells(got) ==
      Seq(Seq("10", "10", "11", "12", "11"), Seq("20", "20", "21", "23", "21")))
  }

  test("withColumns: a chain of depth 3 is three projections") {
    val df = Seq(1, 2).toDF("a")
    val got = assertAsFold(df, "c1" -> "$a + 1", "c2" -> "$c1 * 2", "c3" -> "$c2 - 3")
    assert(cells(got.select("c3")) == Seq(Seq("1"), Seq("3")))
    assert(addedProjects(got, df) == 1)
  }

  test("withColumns: string + across layers concatenates") {
    val df = Seq("p", "q").toDF("s")
    // d concatenates only if its layer lowers against a schema that shows
    // a and c as strings; the source schema knows neither
    val got = assertAsFold(df,
      "a" -> "$s + \"x\"", "c" -> "$s + \"z\"", "b" -> "$a + \"y\"", "d" -> "$a + $c")
    assert(cells(got.select("b", "d")) == Seq(Seq("pxy", "pxpz"), Seq("qxy", "qxqz")))
  }

  test("withColumns: names match case-insensitively, as withColumn matches them") {
    assert(!spark.conf.get("spark.sql.caseSensitive").toBoolean)
    val df = Seq(1, 2).toDF("a")
    // A replaces a in place; y reads X as x; x redefines X after y read it
    val got = assertAsFold(df,
      "X" -> "$a + 1", "A" -> "$a * 3", "y" -> "$x * 2", "x" -> "$y + 1")
    assert(got.columns.toSeq == Seq("A", "x", "y"))
    assert(cells(got) == Seq(Seq("3", "5", "4"), Seq("6", "7", "6")))
    // like the fold, a definition is analyzed even when a later one replaces it
    intercept[org.apache.spark.sql.AnalysisException] {
      withColumnsStep(df, Seq("X" -> "$nope", "x" -> "$a"))
    }
  }

  test("withColumns: output names that contain a dot") {
    val df = Seq((1, 2)).toDF("x", "p.q")
    val got = assertAsFold(df,
      "a.b" -> "$x + 1", "c" -> "$`a.b` * 2", "p.q" -> "$`p.q` * 3")
    assert(got.columns.toSeq == Seq("x", "p.q", "a.b", "c"))
    assert(cells(got) == Seq(Seq("1", "6", "2", "4")))
  }

  test("withColumns: 200 entries of dependency depth 1 analyze to at most 3 Projects") {
    val df = Seq((1.0, "a")).toDF("v", "s")
    val entries = (0 until 200).map { k =>
      f"c$k%03d" -> (if (k >= 100 && k % 2 == 0) f"$$c${k - 100}%03d * 2" else s"$$v + $k")
    }
    val got = withColumnsStep(df, entries)
    assert(addedProjects(got, df) <= 3, got.queryExecution.analyzed.treeString.take(2000))
    assert(got.columns.toSeq == Seq("v", "s") ++ entries.map(_._1))
  }

  // inlining: a read of an earlier entry becomes a copy of its expression,
  // unless that would change the fold's meaning or compute it twice per row

  /** 200 entries in 8 families of 25, as `meds_wide` generates them; 49
    * read an earlier entry that reads none, each where `meds_wide` reads it.
    */
  private def medsLike: Seq[(String, String)] = {
    val outs = scala.collection.mutable.ArrayBuffer.empty[(String, String, Char, Boolean)]
    def earlier(kinds: String) = outs.filter(o => !o._4 && kinds.contains(o._3)).last._1
    for (k <- 0 until 200) {
      val (fam, m) = (k % 8, k / 8)
      val ref = fam != 4 && Set(5, 8, 11, 14, 17, 20, 23)(m)
      val (e, kind) = fam match {
        case 0 if ref => (s"$$${earlier("D")} * 2.5 - $m", 'D')
        case 0        => (s"$$numeric_value * 1.5 + $m", 'D')
        case 1 if ref => (s"$$${earlier("SC")}[1:3]", 'S')
        case 1        => (s"$$code[${m % 3}:${m % 3 + 2}]", 'S')
        case 2 if ref => (s"extract group 1 of /([0-9]+)(.?)/ from $$${earlier("C")}", 'S')
        case 2        => ("extract group 2 of /^([A-Z])(\\d+)/ from $code", 'S')
        case 3 if ref => (s"($$${earlier("SC")}::?float64) ?? 1.5", 'D')
        case 3        => (s"($$text_value::?float64) ?? $m", 'D')
        case 4        => ("$time_str ::? \"%Y-%m-%d %H:%M:%S\"", 'T')
        case 5 if ref => (s"\"H$m\" if $$${earlier("D")} > 3 else \"L$m\"", 'C')
        case 5        => (s"\"H$m\" if $$numeric_value > $m else \"L$m\"", 'C')
        case 6 if ref => (s"$$${earlier("SC")} ?? \"U$m\"", 'S')
        case 6        => (s"$$unit ?? \"U$m\"", 'S')
        case 7 if ref => (s"hash($$${earlier("DSCL")})", 'L')
        case _        => (s"hash($$code + \"k$m\")", 'L')
      }
      outs += ((f"c$k%03d", e, kind, ref))
    }
    assert(outs.count(_._4) == 49)
    outs.map(o => o._1 -> o._2).toSeq
  }

  test("withColumns: 200 entries with 49 cross-entry reads analyze to one Project") {
    val df = Seq(
      ("E11.9", "2021-03-04 05:06:07", "120/80", Some(4.5), Some("mg")),
      ("A1", "bad", null, None, None)).toDF("code", "time_str", "text_value", "numeric_value", "unit")
    val got = assertAsFold(df, medsLike: _*)
    assert(addedProjects(got, df) == 1, got.queryExecution.analyzed.treeString.take(2000))
  }

  test("withColumns: a column redefined between definition and reader keeps a layer") {
    val df = Seq((1, 10), (2, 20)).toDF("a", "b")
    // y must read x = old a + 1, not new a + 1
    val got = assertAsFold(df, "x" -> "$a + 1", "a" -> "$b * 10", "y" -> "$x * 2", "z" -> "$a + $x")
    assert(cells(got.select("y", "z")) == Seq(Seq("4", "102"), Seq("6", "203")))
    assert(addedProjects(got, df) == 2)
    // a self-redefinition is no copy either: its column names the old value
    val self = assertAsFold(df, "a" -> "$a * 10", "after" -> "$a + 1")
    assert(cells(self.select("after")) == Seq(Seq("11"), Seq("21")))
    assert(addedProjects(self, df) == 2)
  }

  test("withColumns: a read under if or after the first ?? argument keeps a layer") {
    val df = Seq((1, Some(5)), (2, None)).toDF("a", "b")
    assert(addedProjects(assertAsFold(df, "x" -> "$a * 3", "y" -> "$x if $a > 1 else 0"), df) == 2)
    assert(addedProjects(assertAsFold(df, "x" -> "$a * 3", "y" -> "$b ?? $x"), df) == 2)
    // the condition and the first ?? argument are evaluated on every row
    assert(addedProjects(assertAsFold(df, "x" -> "$a * 3", "y" -> "1 if $x > 3 else 0", "z" -> "$x ?? $b"), df) == 1)
    // a column or a literal is copied anywhere
    assert(addedProjects(assertAsFold(df, "x" -> "$a", "k" -> "7", "y" -> "$x if $b > 1 else $k"), df) == 1)
  }

  test("withColumns: an Extension output is not inlined") {
    val jitter = graft.dftly.NodeSpec.expression("jitter", 1, 1) { case Seq(x) => x + rand(7) }
    val parser = graft.dftly.DftlyParser.withDefaults("jitter" -> jitter)
    val df = spark.range(50).toDF("a")
    val got = Pipeline.run(spark,
      "source: t\nsteps:\n  - withColumns:\n      r: 'jitter($a)'\n      y: '$r * 2'\n",
      Map("t" -> df), parser)
    assert(addedProjects(got, df) == 2)
    assert(got.collect().forall(row => row.getDouble(2) == row.getDouble(1) * 2))
  }

  test("withColumns: copied duration and date definitions keep the fold's dates") {
    import java.time.{Duration, LocalDate}
    val df = Seq((LocalDate.of(2021, 3, 4), 2, Duration.ofHours(36), Duration.ofDays(1)))
      .toDF("d", "n", "dur", "dur2")
    // n * dur is an interval and dur + d a date: `+` and `-` choose over the
    // copies by the same analyzed types as over the columns, y and z stay dates
    val kept = assertAsFold(df,
      "x" -> "$n * $dur", "y" -> "$d + $x", "w" -> "$dur + $d", "z" -> "$w - $dur2")
    assert(addedProjects(kept, df) == 1)
    assert(cells(kept.select("y", "z")) == Seq(Seq("2021-03-07", "2021-03-04")))
    val got = assertAsFold(df, "x" -> "$d + $dur", "y" -> "$x - $dur2")
    assert(addedProjects(got, df) == 1)
    assert(cells(got.select("y")) == Seq(Seq("2021-03-04")))
  }

  test("withColumns: string + over a column of a layer below concatenates") {
    val df = Seq("p", "q").toDF("s")
    // a is read in a branch, so d lowers against the schema of a's layer
    val got = assertAsFold(df,
      "a" -> "$s + \"x\"", "b" -> "$a if $s == \"p\" else \"-\"", "d" -> "$a + $s")
    assert(addedProjects(got, df) == 2)
    assert(cells(got.select("b", "d")) == Seq(Seq("px", "pxp"), Seq("-", "qxq")))
  }

  test("withColumns: a chain of depth 100 equals the fold; one of depth 1000 builds") {
    val df = Seq(1, 2).toDF("k0")
    def chain(n: Int) = (1 to n).map(i => s"k$i" -> s"$$k${i - 1} + 1")
    // 31 links fit the node cap per projection
    assert(addedProjects(assertAsFold(df, chain(100): _*), df) == 4)
    val deep = withColumnsStep(df, chain(1000))
    assert(deep.queryExecution.executedPlan != null)
    assert(cells(deep.select("k1000")) == Seq(Seq("1001"), Seq("1002")))
  }

  test("window: one Window per dependency layer, output as the withColumn fold") {
    val df = Seq((1, 1, 1.0), (1, 2, 2.0), (1, 3, 4.0), (2, 1, 8.0), (2, 2, 16.0))
      .toDF("g", "t", "v")
    val got = Pipeline.run(spark,
      """source: t
        |steps:
        |  - window:
        |      partitionBy: [g]
        |      orderBy: [t]
        |      cols:
        |        rk: row_number
        |        s: {sum: $v}
        |        prev: {lag: $s}
        |""".stripMargin, Map("t" -> df))
    val w = Window.partitionBy(col("g")).orderBy(col("t").asc)
    val want = df.withColumn("rk", row_number().over(w))
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("prev", lag(col("s"), 1).over(w))
    assert(got.schema == want.schema)
    assert(cells(got.orderBy("g", "t")) == cells(want.orderBy("g", "t")))
    assert(cells(got.orderBy("g", "t").select("prev")).map(_.head) ==
      Seq("null", "1.0", "3.0", "null", "8.0"))
    // rk and s share one layer, prev reads s
    assert(got.queryExecution.analyzed.collect { case x: WindowNode => x }.size == 2)
  }

}
