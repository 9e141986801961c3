package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** ANN recall measurement: turns the IVF `nProbe` and hyperplane-LSH
  * `(planesPerTable, numTables)` tuning knobs from folklore into numbers.
  *
  *   - IVF: mean recall@k over Q held-in query vectors vs the exact
  *     brute-force top-k, for an nProbe sweep (nProbe = #cells is the
  *     full-probe sanity row — recall must be 1.0 there, and monotonically
  *     non-decreasing on the way).
  *   - Hyperplane LSH: pair recall vs the exact cosine pair set at a
  *     threshold, for a (planes, tables) sweep — more planes = smaller
  *     buckets and lower recall per table; more tables buy it back.
  *
  * Driver-side query loop is deliberate: Q×sweep tiny jobs on a cached
  * corpus is measurement tooling, not an operator; the measured operators
  * themselves are the library's distributed paths.
  *
  * Usage: runMain graft.tools.RecallBench [sfDir] [outFile]
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = if (args.length > 1) args(1) else "RECALL.json"
    val spark = graft.GraftSession.local(
      graft.GraftSession.cpus(), shufflePartitions = 32)
    import spark.implicits._

    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val n = embs.count()
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val k = 10
    val queries = embs.orderBy("vec_id").limit(20)
      .as[(Long, Array[Float])].collect()

    def topIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").as[Long].collect().toSet

    val exact: Map[Long, Set[Long]] = queries.map { case (qid, qv) =>
      qid -> topIds(Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv.toSeq, k))
    }.toMap

    val cells = 16
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (centroids, fullSec) =
      timed(Similarity.trainCentroids(embs, "embedding", cells, iters = 5))
    // sampled + k-means++ training: the 100 TB path — recall must hold at a
    // fraction of the training cost (sample bounded at ~max(200·k, 20k)
    // rows regardless of corpus size, so the gap WIDENS with scale; at
    // sf0.1's 20k vectors the sample is most of the corpus and the win
    // here is mostly the k-means++ init, not the row count)
    val (centroidsSampled, sampledSec) =
      timed(Similarity.trainCentroidsSampled(embs, "embedding", cells, iters = 5,
        sampleTarget = 4000))
    def ivfSweep(cents: Array[Array[Double]]): Seq[(Int, Double)] =
      Seq(1, 2, 4, 8, cells).map { nProbe =>
        val mean = queries.map { case (qid, qv) =>
          val got = topIds(Similarity.ivfTopK(
            embs, "vec_id", "embedding", cents, qv.toSeq, k, nProbe))
          (got intersect exact(qid)).size.toDouble / k
        }.sum / queries.length
        nProbe -> mean
      }
    val ivf = ivfSweep(centroids)
    val ivfSampled = ivfSweep(centroidsSampled)

    // IVFADC (product quantization): recall@k of codes-ranked candidates
    // with exact re-scoring, over (nProbe, refine). The full-probe
    // full-refine row must be 1.000 (nothing pruned + exact re-score ⇒
    // provably the brute-force answer — q60's gate); the pruned rows price
    // the 4·d→m byte compression in recall terms.
    val (cbPq, pqTrainSec) =
      timed(graft.ops.Pq.train(embs, "embedding", m = 8, ksub = 64, iters = 8))
    def pqRecall(nProbe: Int, refine: Int): Double =
      queries.map { case (qid, qv) =>
        val got = topIds(graft.ops.Pq.ivfTopKPqAdc(
          embs, "vec_id", "embedding", centroids, cbPq, qv.toSeq, k, nProbe, refine))
        (got intersect exact(qid)).size.toDouble / k
      }.sum / queries.length
    val pqSweep = for {
      nProbe <- Seq(2, 8, cells); refine <- Seq(1, 4, 16)
    } yield (nProbe, refine, pqRecall(nProbe, refine))
    val pqFull = pqRecall(cells, Int.MaxValue / k)
    val pqJson = {
      val rows = pqSweep.map { case (p, r, rec) =>
        s""""probe${p}_refine$r":${f"$rec%.3f"}"""
      }.mkString("{", ",", "}")
      s"""{"m":${cbPq.m},"ksub":${cbPq.ksub},"bytes_per_vec":${cbPq.m},""" +
        s""""float_bytes_per_vec":${4 * dim},"train_sec":${f"$pqTrainSec%.2f"},""" +
        s""""recall_at_$k":$rows,"full_probe_full_refine":${f"$pqFull%.3f"}}"""
    }

    // Random 64-dim vectors have essentially NO pairs at cosine 0.85
    // (≈6.8σ), so pair recall against the raw corpus is vacuous. Plant a
    // deterministic near-duplicate of every vector: per-element uniform
    // noise scaled by the VECTOR'S OWN rms (norm/√dim — absolute noise
    // would swamp unit-normalized embeddings), with strength a stepping
    // through {0.3, 0.6, 0.9, 1.2, 1.5} by id. E[cos] ≈ 1/√(1+a²/3) ≈
    // {0.99, 0.94, 0.89, 0.82, 0.76} — true cosines straddle the
    // threshold, so recall is measured on a mix of easy and boundary
    // pairs. Brute force defines the ground truth.
    val threshold = 0.85
    val rms = Similarity.norm(col("embedding")) / math.sqrt(dim)
    val noise = transform(col("embedding"), (x, i) =>
      x + (lit(0.3) + pmod(col("vec_id"), lit(5)).cast("double") * 0.3) * rms *
        ((pmod(xxhash64(col("vec_id"), i), lit(2001L)) - 1000L) / 1000.0))
    val corpus = embs.union(
      embs.select((col("vec_id") + 1000000L).as("vec_id"),
        noise.cast("array<float>").as("embedding"))).cache()
    val exactPairs = Similarity.bruteForceCosinePairs(corpus, "vec_id", "embedding", threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val autoParams = Similarity.lshParamsFor(corpus.count(), threshold,
      targetRecall = 0.9, targetBucket = 256)
    val lsh = for {
      (planes, tables) <- Seq(8, 12, 16).flatMap(p => Seq(1, 2, 4, 8).map(t => (p, t))) :+
        autoParams
    } yield {
      val got = Similarity.cosineNearDuplicatePairs(
        corpus, "vec_id", "embedding", threshold, dim,
        planesPerTable = planes, numTables = tables)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val recall =
        if (exactPairs.isEmpty) 1.0
        else (got intersect exactPairs).size.toDouble / exactPairs.size
      (planes, tables, recall, got.size)
    }

    // Quantized IVF pairs vs exact IVF pairs on the planted near-dup
    // corpus: same centroids, same candidate structure — the quantized
    // path must lose (retention) ~nothing to the int8 margin filter and
    // may admit NOTHING spurious (final scoring is exact on both paths).
    // Measured at the default margin and at margin 0 (the filter running
    // at the raw threshold — how much the safety margin actually buys).
    val pairCells = Similarity.ivfCellsFor(corpus.count())
    val pairCents = Similarity.trainCentroidsSampled(
      corpus, "embedding", pairCells, iters = 3)
    val (ivfExactPairs, ivfExactSec) = timed {
      Similarity.cosineNearDuplicatePairsIvf(
        corpus, "vec_id", "embedding", threshold, pairCents)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val quantSweep = Seq(0.04, 0.0).map { m =>
      val (got, sec) = timed {
        Similarity.cosineNearDuplicatePairsIvfQuantized(
          corpus, "vec_id", "embedding", threshold, pairCents, margin = m)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      }
      val retention =
        if (ivfExactPairs.isEmpty) 1.0
        else (got intersect ivfExactPairs).size.toDouble / ivfExactPairs.size
      (m, retention, got.size, (got -- ivfExactPairs).size, sec)
    }
    val quantJson = quantSweep.map { case (m, ret, sz, spur, sec) =>
      s""""margin_$m":{"retention":${f"$ret%.3f"},"pairs":$sz,""" +
        s""""spurious":$spur,"sec":${f"$sec%.2f"}}"""
    }.mkString("{", ",", "}")

    // SemDeDup's trade, quantified on the planted near-dup corpus: the
    // operator only compares WITHIN k-means cells (nProbe = 1), so pairs
    // whose members land in different cells are invisible to it — the
    // paper's recall price for never leaving a cell. Measure in-cell
    // pair coverage vs brute force at the auto cell count and a coarser
    // one, plus how many rows each prune semantics actually removes
    // (dominance vs connected-components on the SAME pair set).
    val semSweep = Seq(pairCells, pairCells * 4, pairCells * 16).map { c =>
      val cents = Similarity.trainCentroidsSampled(corpus, "embedding", c, iters = 3)
      val inCell = Similarity.cosineNearDuplicatePairsIvf(
        corpus, "vec_id", "embedding", threshold, cents, nProbe = 1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val coverage =
        if (exactPairs.isEmpty) 1.0
        else (inCell intersect exactPairs).size.toDouble / exactPairs.size
      val total = corpus.count()
      val keptDom = Similarity.semanticDedup(
        corpus, "vec_id", "embedding", threshold, centroids = cents).count()
      val keptCc = graft.ops.Cluster.keepClusterRepresentatives(
        corpus, "vec_id",
        Similarity.cosineNearDuplicatePairsIvf(
          corpus, "vec_id", "embedding", threshold, cents, nProbe = 1)).count()
      (c, coverage, inCell.size, total - keptDom, total - keptCc)
    }
    val semJson = semSweep.map { case (c, cov, sz, dDom, dCc) =>
      s""""cells_$c":{"pair_coverage":${f"$cov%.3f"},"in_cell_pairs":$sz,""" +
        s""""dropped_dominance":$dDom,"dropped_cc":$dCc}"""
    }.mkString("{", ",", "}")

    // Exact-Jaccard stop-gram ceiling sweep: maxGramDf bounds candidate
    // volume (Σ min(df, ceiling)² instead of Σ df² per prefix gram) at the
    // price of pairs whose every shared prefix gram is boilerplate. This
    // turns that price into numbers: pair retention + dropped-candidate
    // stats + wall time per ceiling, against the exact (ceiling-off) run.
    //
    // The raw sf0.1 corpus has NO gram above df 20 — a sweep over it shows
    // zero drops at every ceiling and measures nothing. Build the corpus
    // the ceiling exists for: a 12-token boilerplate footer on EVERY doc
    // (corpus-wide stop grams, like a site template or license header) and
    // an exact duplicate of every 3rd doc (true pairs whose retention is
    // at stake). Rarest-first prefix ranking should keep retention at 1.0
    // — boilerplate grams are the commonest, so they enter a prefix only
    // for documents with little else — and the sweep now verifies that
    // claim with nonzero drop counts instead of assuming it.
    val footer = " terms of service apply all rights reserved contact the site admin today"
    val docsBase = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(col("text"), lit(footer)).as("text"))
    val docs = docsBase.union(
      docsBase.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))).cache()
    val jt = 0.5
    val (exactJac, exactJacSec) = timed {
      graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", jt)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val jaccardSweep = Seq(1000L, 100L, 20L).map { ceil =>
      val pf = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", jt,
        maxGramDf = ceil)
      val (got, sec) = timed {
        pf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val (droppedInst, stopGrams, _) =
        graft.ops.Dedup.observedStopGramStats(pf).getOrElse((0L, 0L, 0L))
      val retention =
        if (exactJac.isEmpty) 1.0
        else (got intersect exactJac).size.toDouble / exactJac.size
      val spurious = (got -- exactJac).size // must be 0: verify is exact
      (ceil, retention, got.size, spurious, droppedInst, stopGrams, sec)
    }

    val jaccardJson = jaccardSweep.map {
      case (ceil, ret, sz, spur, dropped, sg, sec) =>
        s""""df_$ceil":{"retention":${f"$ret%.3f"},"pairs":$sz,""" +
          s""""spurious":$spur,"prefix_instances_dropped":$dropped,""" +
          s""""stop_grams":$sg,"sec":${f"$sec%.2f"}}"""
    }.mkString("{", ",", "}")

    val ivfJson = ivf.map { case (p, r) => s""""nProbe_$p":${f"$r%.3f"}""" }
      .mkString("{", ",", "}")
    val ivfSampledJson = ivfSampled.map { case (p, r) => s""""nProbe_$p":${f"$r%.3f"}""" }
      .mkString("{", ",", "}")
    val lshJson = lsh.map { case (p, t, r, sz) =>
      s""""p${p}_t$t":{"recall":${f"$r%.3f"},"pairs":$sz}"""
    }.mkString("{", ",", "}")
    // --- perceptual-hash robustness: re-encode + resize hamming ---------
    // Measured, not guaranteed (the q76 gate pins only the identity
    // floor). 400 real PNGs rendered from document text, each with a
    // BMP re-encode (identical raster) and two REAL resizes through the
    // JDK decoder; recall@band = fraction of variants within the default
    // maxHamming = 10 band of their original.
    val phashJson = {
      val dec = graft.ops.JdkMediaDecoder()
      def hashOf(p: Array[Byte]): Option[Long] = {
        val (w, h, _, l) = dec.decodeImage(p)
        graft.ops.PHash.phash64(w, h, l)
      }
      val texts = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("text")).limit(400).as[String].collect()
      // photo-like smooth content: a low-frequency sinusoid mixture seeded
      // by the text — the regime pHash's published robustness claims are
      // about. The noise-textured renderTestPng rows characterize the
      // adversarial end (per-pixel texture aliases under downscale).
      def smoothPng(seedText: String, w: Int, h: Int): Array[Byte] = {
        val seed = seedText.hashCode
        val a = 2 + math.floorMod(seed, 5)
        val b = 2 + math.floorMod(seed / 5, 5)
        val ph = math.floorMod(seed / 25, 628) / 100.0
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val fx = x.toDouble / w
            val fy = y.toDouble / h
            val g = (((math.sin(fx * a + ph) * math.cos(fy * b) +
              math.sin((fx + fy) * 3)) / 2 + 1) * 120).toInt.max(0).min(255)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val hams = texts.flatMap { t =>
        val png = graft.SparkEntry.renderTestPng(t, 96, 64)
        val sm = smoothPng(t, 96, 64)
        val noisy = hashOf(png).toSeq.flatMap { h0 =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "bmp", bos)
          val variants = Seq(
            "reenc" -> hashOf(bos.toByteArray),
            "noise_down075" -> hashOf(dec.resizeImage(png, 96, 64, 72, 48)),
            "noise_up150" -> hashOf(dec.resizeImage(png, 96, 64, 144, 96)))
          variants.collect { case (tag, Some(hv)) =>
            tag -> graft.ops.PHash.hamming(h0, hv)
          }
        }
        val smooth = hashOf(sm).toSeq.flatMap { h0 =>
          val variants = Seq(
            "smooth_down075" -> hashOf(dec.resizeImage(sm, 96, 64, 72, 48)),
            "smooth_down050" -> hashOf(dec.resizeImage(sm, 96, 64, 48, 32)),
            "smooth_up150" -> hashOf(dec.resizeImage(sm, 96, 64, 144, 96)))
          variants.collect { case (tag, Some(hv)) =>
            tag -> graft.ops.PHash.hamming(h0, hv)
          }
        }
        noisy ++ smooth
      }
      val byTag = hams.groupBy(_._1)
      byTag.toSeq.sortBy(_._1).map { case (tag, hs) =>
        val ds = hs.map(_._2)
        val mean = ds.sum.toDouble / ds.length
        val within = ds.count(_ <= 10).toDouble / ds.length
        s""""$tag":{"n":${ds.length},"mean_hamming":${f"$mean%.2f"},""" +
          s""""max_hamming":${ds.max},"recall_at_band10":${f"$within%.3f"}}"""
      }.mkString("{", ",", "}")
    }

    // --- audio-fingerprint robustness: gain / noise / re-quantization ---
    // half_gain must be hamming 0 on every clip (the q78 guarantee,
    // re-measured here); noise and 8-bit re-quantization are the measured
    // robustness of the energy contour. Perturbations are applied to the
    // PCM bytes of the SAME WAV (deterministic patterns), so each variant
    // differs from its base only in the stated way.
    val audioJson = {
      val dec = graft.ops.JdkMediaDecoder()
      def fp(p: Array[Byte]): Option[Long] =
        graft.ops.Multimodal.audioFingerprint64(dec.decodeAudio(p))
      def patchPcm(wav: Array[Byte])(f: (Int, Short) => Short): Array[Byte] = {
        val out = wav.clone()
        val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 44
        var s = 0
        while (i + 1 < out.length) {
          bb.putShort(i, f(s, bb.getShort(i)))
          i += 2; s += 1
        }
        out
      }
      val texts = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("text")).limit(300).as[String].collect()
      val hams = texts.flatMap { t =>
        val base = graft.SparkEntry.renderTestWav(t, halfGain = false)
        fp(base).toSeq.flatMap { h0 =>
          val variants = Seq(
            "half_gain" -> fp(graft.SparkEntry.renderTestWav(t, halfGain = true)),
            // ±3 of a ±16384 signal ≈ 0.02% additive noise
            "noise_small" -> fp(patchPcm(base)((i, v) =>
              (v + ((i * 31) % 7) - 3).toShort)),
            // ±300 ≈ 2% additive noise
            "noise_big" -> fp(patchPcm(base)((i, v) =>
              (v + ((i * 131) % 601) - 300).toShort)),
            // drop the low byte: 8-bit re-quantization
            "requant_8bit" -> fp(patchPcm(base)((_, v) => (v & 0xFF00).toShort)))
          variants.collect { case (tag, Some(hv)) =>
            tag -> graft.ops.PHash.hamming(h0, hv)
          }
        }
      }
      hams.groupBy(_._1).toSeq.sortBy(_._1).map { case (tag, hs) =>
        val ds = hs.map(_._2)
        val mean = ds.sum.toDouble / ds.length
        val within = ds.count(_ <= 8).toDouble / ds.length
        s""""$tag":{"n":${ds.length},"mean_hamming":${f"$mean%.2f"},""" +
          s""""max_hamming":${ds.max},"recall_at_band8":${f"$within%.3f"}}"""
      }.mkString("{", ",", "}")
    }

    // --- multi-index Hamming vs 1-of-(h+1) banding: measured planted
    // recall at h=10 on two corpus sizes bracketing the banding collapse.
    // 1000 planted companions at hamming 0..10 (cycling; XOR masks with
    // exactly i%11 distinct bit positions). At nSmall the banded buckets
    // sit under the cap and both engines find the floor; at nBig every one
    // of the 352 banded buckets exceeds the cap and is DROPPED (recall→0)
    // while multi-index keys on 4×2¹⁶ exact substrings and stays exact —
    // the r10 verdict's collapse, measured rather than argued. Denominator
    // is the planted floor only (organic hamming≤10 collisions among
    // xxhash64 sigs exist — ~tens at 100k — but recall on the KNOWN pairs
    // is the honest metric without a 10¹⁰-comparison ground truth).
    val mihJson = {
      val h = 10
      val nPlant = 1000
      def plantedCorpus(nBase: Long): org.apache.spark.sql.DataFrame = {
        val masks: Seq[Long] = (0 until nPlant).map { i =>
          var m = 0L
          var j = 0
          while (j < i % 11) { m |= 1L << ((i * 7 + j * 13) % 64); j += 1 }
          m
        }
        val base = spark.range(nBase)
          .select(col("id"), xxhash64(col("id")).as("sig"))
        val planted = spark.range(nPlant.toLong).select(
          (col("id") + nBase).as("id"),
          xxhash64(col("id")).bitwiseXOR(
            element_at(typedLit(masks), (col("id") + 1).cast("int"))).as("sig"))
        base.unionByName(planted)
      }
      def measure(nBase: Long,
          engine: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
        val pairs = engine(plantedCorpus(nBase))
        // collect IS the metrics-populating action on this frame (pair sets
        // here are ~1k rows — planted floor + a handful of organic hits);
        // a derived count() would execute its own plan and lose the
        // truncation observation (the ScaleBench round-11 lesson)
        val rows = pairs.collect()
        val found = rows.count(r =>
          r.getLong(1) == r.getLong(0) + nBase && r.getLong(0) < nPlant)
        val trunc = graft.ops.Dedup.observedBucketStats(pairs)
          .map(_._2).getOrElse(-1L)
        (found.toDouble / nPlant, trunc)
      }
      val cap = 1000
      val out = Seq(2000L, 100000L).map { nBase =>
        val (bR, bT) = measure(nBase,
          df => graft.ops.Dedup.bandedHammingPairs(df, "id", "sig", h, cap))
        val (mR, mT) = measure(nBase,
          df => graft.ops.Dedup.multiIndexHammingPairs(df, "id", "sig", h, cap))
        s""""n$nBase":{"planted":$nPlant,"max_hamming":$h,""" +
          s""""banded_recall":${f"$bR%.3f"},"banded_truncated":$bT,""" +
          s""""mih_recall":${f"$mR%.3f"},"mih_truncated":$mT}"""
      }
      out.mkString("{", ",", "}")
    }

    val json =
      s"""{"metric":"ann_recall","sf":"$sfDir","n":$n,"dim":$dim,"k":$k,""" +
        s""""queries":${queries.length},"ivf_cells":$cells,""" +
        s""""ivf_recall_at_$k":$ivfJson,""" +
        s""""ivf_sampled_recall_at_$k":$ivfSampledJson,""" +
        s""""ivf_train_sec_full":${f"$fullSec%.2f"},""" +
        s""""ivf_train_sec_sampled":${f"$sampledSec%.2f"},""" +
        s""""pq":$pqJson,""" +
        s""""lsh_threshold":$threshold,"lsh_exact_pairs":${exactPairs.size},""" +
        s""""lsh_auto_params":"p${autoParams._1}_t${autoParams._2}",""" +
        s""""lsh_pair_recall":$lshJson,""" +
        s""""ivf_pairs_exact":{"pairs":${ivfExactPairs.size},""" +
        s""""sec":${f"$ivfExactSec%.2f"},"cells":$pairCells},""" +
        s""""ivf_pairs_quantized":$quantJson,""" +
        s""""semdedup":$semJson,""" +
        s""""jaccard_threshold":$jt,"jaccard_exact_pairs":${exactJac.size},""" +
        s""""jaccard_exact_sec":${f"$exactJacSec%.2f"},""" +
        s""""jaccard_ceiling":$jaccardJson,""" +
        s""""phash":$phashJson,""" +
        s""""audio_fp":$audioJson,""" +
        s""""mih":$mihJson}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
