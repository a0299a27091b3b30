package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Recall-vs-speed evidence for the approximate similarity operators
  * (SCALE.md's "two-sided trade" methodology): measures recall@k of
  * `lshTopK`/`ivfTopK` and pair-recall of `cosineNearDupPairs` against
  * brute-force ground truth at several operating points, including the
  * `numPlanesFor`-derived one, with wall time beside each number. Usage:
  *   sbt "runMain graft.RecallBench <sfDir> [k] [threshold] [section]"
  * where section = all (default) | topk | pairs.
  *
  * The ground-truth pair pass is a deliberate all-pairs cross join — the
  * O(n²) baseline the bucketed operators exist to avoid; it runs here
  * because evidence needs exact truth, and only at SFs where n² is
  * feasible (`section=topk` skips it: top-k truth is 64 sampled queries
  * × n, which stays measurable a decade above where n² stops being).
  * Nothing in the library's operator surface calls it.
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val threshold = if (args.length > 2) args(2).toDouble else 0.4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables(spark, sfDir, "embeddings")
    emb.cache()
    val n = emb.count()
    val law = Similarity.numPlanesFor(n)
    val queries = emb.where(col("vec_id") < 64)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def forceCount(df: DataFrame): (DataFrame, Long, Double) = {
      val c = df.cache()
      val (cnt, sec) = timed(c.count())
      (c, cnt, sec)
    }

    val section = if (args.length > 3) args(3) else "all"
    require(
      Seq("all", "topk", "pairs", "ivfsplit", "pq", "bin", "images",
        "semantic").contains(section),
      s"section must be all|topk|pairs|ivfsplit|pq|bin|images|semantic, " +
        s"got $section")

    // ---- planted semantic-decontamination corpus: catch rate of
    // noisy benchmark paraphrases vs false-drop rate of clean docs,
    // across noise levels and thresholds. Paraphrase twin of benchmark
    // vec v = normalize(v + ε·g), so E[cos] ≈ 1/√(1+ε²) (ε 0.3 → ~.96,
    // 0.6 → ~.86, 1.0 → ~.71); clean random 64-dim pairs sit at
    // |cos| ≲ 0.4. Usage: … semantic [nCorpus]
    if (section == "semantic") {
      val nCorpus = if (args.length > 4) args(4).toInt else 100000
      val nBench = 200
      val epss = Seq(0.3, 0.6, 1.0, 1.5)
      val perEps = nCorpus / 20 // 5% planted per noise level
      val bench = plantedVecs(spark, 0, nBench, None, 0.0).cache()
      bench.count()
      // corpus = clean rows + per-ε paraphrases of benchmark vectors;
      // id encodes the class: [0, nCorpus) clean, then perEps per ε
      val plantedBase = 10000000L
      require(nCorpus < plantedBase.toInt, "corpus ids must stay below the planted id space")
      val corpus = epss.zipWithIndex
        .map { case (eps, i) =>
          plantedVecs(spark, plantedBase + i * 1000000L, perEps,
            Some(nBench), eps)
        }
        .foldLeft(plantedVecs(spark, 0L, nCorpus, None, 0.0)
          .where(col("vec_id") >= nBench))( // clean ids reuse the bench
          _.unionByName(_))                 // seed space; exclude them
        .cache()
      val total = corpus.count()
      for (tau <- Seq(0.6, 0.7, 0.8)) {
        val t0 = System.nanoTime()
        val surv = Similarity.semanticDecontaminate(
          corpus, bench, "embedding", tau)
          .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val cleanTotal = total - epss.size * perEps
        val cleanKept = surv.count(_ < plantedBase)
        epss.zipWithIndex.foreach { case (eps, i) =>
          val ids = (plantedBase + i * 1000000L) until
            (plantedBase + i * 1000000L + perEps)
          val caught = ids.count(!surv.contains(_))
          println(f"SEM catch@tau=$tau eps=$eps: " +
            f"${caught.toDouble / perEps}%.4f ($caught/$perEps)")
        }
        println(f"SEM false_drop@tau=$tau: " +
          f"${(cleanTotal - cleanKept).toDouble / cleanTotal}%.6f " +
          f"(${cleanTotal - cleanKept}/$cleanTotal) scan=$sec%.2f s " +
          f"(${sec * 1e6 / total}%.1f us/doc vs $nBench bench vecs)")
      }
      spark.stop()
      return
    }

    // ---- planted image near-dup corpus: dHash + Manku banding recall
    // and per-image cost at generator-chosen scale (the gen_neardup
    // pattern applied to images). Corpus = nBase smooth synthetic images
    // (bilinear-interpolated seeded coarse grids — crop/brightness edits
    // on white noise would move EVERY dHash bit, which is not what web
    // images do); 3 of every 10 bases get one planted twin: a BMP
    // re-encode (same pixels), a +16 brightness shift, or a 2px border
    // crop. Truth = the planted (base, twin) pairs, labeled by kind.
    // Usage: runMain graft.RecallBench <sfDir> <k> <t> images [nBase]
    if (section == "images") {
      val nBase = if (args.length > 4) args(4).toInt else 10000
      import graft.sources.Multimodal
      val (media, total, genSec) = forceCount(plantedImages(spark, nBase))
      println(f"IMG corpus: rows=$total (bases=$nBase) gen=$genSec%.2f s")
      val (_, nHashed, hashSec) = forceCount(
        Multimodal.dHashImages(media).where(col("dhash").isNotNull))
      println(f"IMG dhash: hashed=$nHashed time=$hashSec%.2f s " +
        f"(${hashSec * 1e6 / total}%.1f us/image)")
      val planted = spark.range(nBase)
        .where(pmod(col("id"), lit(10)) < 3)
        .select(col("id").as("id_a"), (col("id") + nBase).as("id_b"),
          element_at(
            array(lit("reencode"), lit("brightness"), lit("crop")),
            (pmod(col("id"), lit(10)) + 1).cast("int")).as("kind"))
        .cache()
      val nPlanted = planted.count()
      // two Manku operating points. Band count = C(blocks, blocks − h):
      // (3, 4) → 4 bands (the classic 4-split), (6, 8) → 28. Pushing h
      // higher is NOT free — (10, 16) would need C(16, 6) = 8008 bands,
      // 8008 banded rows per image: the exact-cover guarantee prices
      // high radii out, which is why the operator defaults to h ≤ 6.
      for ((maxHamming, blocks) <- Seq((3, 4), (6, 8))) {
        val (pairs, nPairs, pairSec) = forceCount(
          Multimodal.nearDupImagePairs(media, maxHamming, blocks))
        val hits = planted.join(pairs, Seq("id_a", "id_b"), "left_semi")
        val byKind = hits.groupBy("kind").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val plantedByKind = planted.groupBy("kind").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val nHits = byKind.values.sum
        val falsePairs = nPairs - nHits
        println(f"IMG pairs@h<=$maxHamming: found=$nPairs " +
          f"recall=${nHits.toDouble / nPlanted}%.4f " +
          f"(truth=$nPlanted) false_pairs=$falsePairs " +
          f"time=$pairSec%.2f s (${pairSec * 1e6 / total}%.1f us/image)")
        plantedByKind.toSeq.sortBy(_._1).foreach { case (kind, nK) =>
          val hK = byKind.getOrElse(kind, 0L)
          println(f"IMG recall/$kind@h<=$maxHamming: " +
            f"${hK.toDouble / nK}%.4f ($hK/$nK)")
        }
        // the exact-verify stage over the SAME candidates: what survives
        // the mean-centered raster MSE gate — false-pair wipeout is the
        // headline (the candidate set is 846 → 82k false pairs across
        // the decade at h <= 6 without it)
        val (vPairs, nVerified, vSec) = forceCount(
          Multimodal.verifyImagePairs(media, pairs))
        val vHits = planted.join(vPairs, Seq("id_a", "id_b"), "left_semi")
        val vByKind = vHits.groupBy("kind").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val nVHits = vByKind.values.sum
        println(f"IMG verify@h<=$maxHamming: kept=$nVerified " +
          f"recall=${nVHits.toDouble / nPlanted}%.4f " +
          f"false_pairs=${nVerified - nVHits} (was $falsePairs) " +
          f"time=$vSec%.2f s")
        plantedByKind.toSeq.sortBy(_._1).foreach { case (kind, nK) =>
          val hK = vByKind.getOrElse(kind, 0L)
          println(f"IMG verify_recall/$kind@h<=$maxHamming: " +
            f"${hK.toDouble / nK}%.4f ($hK/$nK)")
        }
        vPairs.unpersist()
        pairs.unpersist(); ()
      }
      spark.stop()
      return
    }

    // ---- binary (1-bit) quantization: storage cut at rest, Hamming
    // full-scan speed/recall vs exact truth, rerank recovery, and the
    // planted-twin hit rate — the PQ section's evidence protocol at the
    // bottom of the compression ladder ----
    if (section == "bin") {
      val cpuN = cpus.toInt
      val bEmb = emb.repartition(cpuN).cache()
      bEmb.count()
      val bQueries = bEmb.where(col("vec_id") < 64)
      val (truth, nTruth, truthSec) = forceCount(
        Similarity.bruteForceTopKL2(bQueries, bEmb, "vec_id", "embedding", k))
      println(f"BIN truth(L2): pairs=$nTruth bruteforce=$truthSec%.2f s")
      val (truthCos, _, truthCosSec) = forceCount(
        Similarity.bruteForceTopK(bQueries, bEmb, "vec_id", "embedding", k))
      println(f"BIN truth(cos): bruteforce=$truthCosSec%.2f s")
      val (codes, nEnc, encSec) = forceCount(
        Similarity.binQuantize(bEmb, "vec_id", "embedding", 64)
          .select(col("vec_id"), col("bin_words")))
      println(f"BIN encode: rows=$nEnc time=$encSec%.2f s")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_bin_storage").toString
      bEmb.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/raw")
      codes.write.mode("overwrite").parquet(s"$tmp/codes")
      def bytesOf(p: String): Long =
        new java.io.File(p).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val rawB = bytesOf(s"$tmp/raw")
      val codeB = bytesOf(s"$tmp/codes")
      println(f"BIN_STORAGE raw=$rawB%d B codes=$codeB%d B " +
        f"ratio=${rawB.toDouble / codeB}%.1f x")
      // measured; don't leak tens of MB per bench run
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      val (hm, _, hmSec) = forceCount(Similarity.hammingTopK(
        bQueries, codes, "vec_id", "embedding", k, 64))
      println(f"BIN hamming_scan: recall@$k(L2)=${Similarity.recallVs(truth, hm)}%.4f " +
        f"recall@$k(cos)=${Similarity.recallVs(truthCos, hm)}%.4f " +
        f"time=$hmSec%.2f s")
      hm.unpersist()
      val (rr, _, rrSec) = forceCount {
        val short = Similarity.hammingTopK(
          bQueries, codes, "vec_id", "embedding", 10 * k, 64)
        Similarity.rerankL2(bQueries, bEmb, short, "vec_id", "embedding", k)
      }
      println(f"BIN rerank(short=${10 * k}): " +
        f"recall@$k(L2)=${Similarity.recallVs(truth, rr)}%.4f time=$rrSec%.2f s")
      rr.unpersist()
      truthCos.unpersist()
      truth.unpersist()
      val plantedFile = new java.io.File(s"$sfDir/planted_pairs.parquet")
      if (plantedFile.exists()) {
        val planted = spark.read.parquet(plantedFile.toString).cache()
        val nPlanted = planted.count()
        val pqQ = bEmb.join(planted.select(col("id_a").as("vec_id")),
          Seq("vec_id"), "left_semi")
        def twinHits(df: DataFrame): Long = planted.join(df,
          planted("id_a") === df("query_id") &&
            planted("id_b") === df("neighbor_id"), "left_semi").count()
        val (hmP, _, hmPSec) = forceCount(Similarity.hammingTopK(
          pqQ, codes, "vec_id", "embedding", k, 64))
        println(f"BIN planted hamming_scan: twin_hit@$k=" +
          f"${twinHits(hmP).toDouble / nPlanted}%.4f " +
          f"queries=$nPlanted time=$hmPSec%.2f s")
        hmP.unpersist()
        // A/B: the same planted scan with the COMPOSED kernel
        // (zip_with + bit_count + aggregate — a lambda dispatch per word
        // per pair) — prices what the native vec_hamming loop buys on
        // the operator's own hot path
        val (hmC, _, hmCSec) = forceCount {
          val qq = Similarity.binQuantize(pqQ, "vec_id", "embedding", 64)
            .where(col("bin_words").isNotNull)
            .select(col("vec_id").as("query_id"), col("bin_words").as("_qw"))
          val cc = codes.where(col("bin_words").isNotNull)
            .select(col("vec_id").as("neighbor_id"), col("bin_words").as("_cw"))
          val hd = aggregate(
            zip_with(col("_qw"), col("_cw"),
              (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
            lit(0L), (acc, x) => acc + x)
          // the SAME rank tail as the native path (adcRank) — the A/B
          // must price only the kernel, not a reimplemented ranking
          Similarity.adcRank(
            cc.join(broadcast(qq), col("query_id") =!= col("neighbor_id"))
              .withColumn("_adc", hd.cast("double")), k)
        }
        println(f"BIN planted hamming_scan(composed): twin_hit@$k=" +
          f"${twinHits(hmC).toDouble / nPlanted}%.4f time=$hmCSec%.2f s")
        hmC.unpersist()
        // IVF ∘ binary: the sub-linear arm — same coarse cells as
        // IVFADC (√n, first-k-by-id seeds), Hamming inside probed cells
        val kc = math.max(4, math.sqrt(n.toDouble).toInt)
        Seq(1, 2, 4).foreach { np =>
          val (r, _, sec) = forceCount(Similarity.ivfBinTopK(
            pqQ, bEmb, "vec_id", "embedding", k, kc, 64, nprobe = np))
          println(f"BIN planted ivfbin_c$kc nprobe=$np: twin_hit@$k=" +
            f"${twinHits(r).toDouble / nPlanted}%.4f time=$sec%.2f s")
          r.unpersist(); ()
        }
        // the coarse-quantizer-quality lever through the caller-cents
        // seam — the ivfpq section measured Lloyd-converged cells worth
        // more than any nprobe doubling; same A/B for the binary arm
        val (kmCents, kmSec) = timed(Similarity.kmeansFit(
          bEmb, "vec_id", "embedding", kc, iters = 2))
        println(f"BIN kmeans cells (k=$kc, 2 Lloyd rounds): fit=$kmSec%.2f s")
        Seq(1, 4).foreach { np =>
          val (r, _, sec) = forceCount(Similarity.ivfBinTopKFrom(
            pqQ, bEmb, "vec_id", "embedding", k, kmCents, 64, nprobe = np))
          println(f"BIN planted ivfbin_km_c$kc nprobe=$np: twin_hit@$k=" +
            f"${twinHits(r).toDouble / nPlanted}%.4f time=$sec%.2f s")
          r.unpersist(); ()
        }
        val (rrP, _, rrPSec) = forceCount {
          val short = Similarity.hammingTopK(
            pqQ, codes, "vec_id", "embedding", 10 * k, 64)
          Similarity.rerankL2(pqQ, bEmb, short, "vec_id", "embedding", k)
        }
        println(f"BIN planted rerank(short=${10 * k}): twin_hit@$k=" +
          f"${twinHits(rrP).toDouble / nPlanted}%.4f time=$rrPSec%.2f s")
        rrP.unpersist()
        planted.unpersist(); ()
      }
      spark.stop(); return
    }

    // ---- PQ / IVFADC: compression-tier evidence — train + encode
    // throughput, the storage cut measured on parquet at rest, and the
    // ADC recall/speed trade vs brute force (full scan and cell-probed)
    if (section == "pq") {
      // the scaled embeddings dirs are ONE ~50 MB parquet file — under
      // maxPartitionBytes that is ONE input partition, and the cache
      // preserves it, so every scan-heavy pass here would run on a
      // single core of the 32 (measured: the 220k planted ADC leg sat
      // at load ~1 for 50+ min). A production corpus arrives in many
      // files; re-shard to the session's parallelism so the evidence
      // measures the operators, not a degenerate file layout.
      val cpuN = cpus.toInt
      val pqEmb = emb.repartition(cpuN).cache()
      pqEmb.count()
      val pqQueries = pqEmb.where(col("vec_id") < 64)
      // TWO truths: exact L2 (the metric PQ quantizes — the
      // apples-to-apples recall) and exact cosine (printed beside it to
      // quantify the metric-mismatch gap on this unnormalized corpus)
      val (truth, nTruth, truthSec) = forceCount(
        Similarity.bruteForceTopKL2(pqQueries, pqEmb, "vec_id", "embedding", k))
      println(f"PQ truth(L2): pairs=$nTruth bruteforce=$truthSec%.2f s")
      val (truthCos, _, truthCosSec) = forceCount(
        Similarity.bruteForceTopK(pqQueries, pqEmb, "vec_id", "embedding", k))
      println(f"PQ truth(cos): bruteforce=$truthCosSec%.2f s " +
        f"l2_vs_cos_overlap=${Similarity.recallVs(truthCos, truth)}%.4f")
      val (model, trainSec) = timed(
        Similarity.pqTrain(pqEmb, "vec_id", "embedding", 8, 16, 1))
      println(f"PQ train m=8 ks=16 iters=1: time=$trainSec%.2f s")
      val (enc, nEnc, encSec) = forceCount(
        Similarity.pqEncode(pqEmb, "vec_id", "embedding", model)
          .select(col("vec_id"), col("codes")))
      println(f"PQ encode: rows=$nEnc time=$encSec%.2f s")
      // the 64x in-memory claim (4-bit codes vs 64 float32s) measured
      // AT REST: parquet dictionary + bit-packing vs raw float arrays,
      // same id column on both sides
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_pq_storage").toString
      pqEmb.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/raw")
      enc.write.mode("overwrite").parquet(s"$tmp/codes")
      def bytesOf(p: String): Long =
        new java.io.File(p).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val rawB = bytesOf(s"$tmp/raw")
      val codeB = bytesOf(s"$tmp/codes")
      println(f"PQ_STORAGE raw=${rawB}%d B codes=${codeB}%d B " +
        f"ratio=${rawB.toDouble / codeB}%.1f x")
      val (adc, _, adcSec) = forceCount(
        Similarity.pqTopK(pqQueries, enc, "vec_id", "embedding", k, model))
      println(f"PQ adc_scan: recall@$k(L2)=${Similarity.recallVs(truth, adc)}%.4f " +
        f"recall@$k(cos)=${Similarity.recallVs(truthCos, adc)}%.4f " +
        f"time=$adcSec%.2f s")
      adc.unpersist()
      // two-stage: generous ADC shortlist (10k) re-ranked exactly — the
      // production fix for 4-bit quantization noise (mis-ordering, not
      // loss); recall should jump toward exact while the corpus scan
      // stays the 4-byte/vector code pass
      val (rr, _, rrSec) = forceCount {
        val short = Similarity.pqTopK(
          pqQueries, enc, "vec_id", "embedding", 10 * k, model)
        Similarity.rerankL2(pqQueries, pqEmb, short, "vec_id", "embedding", k)
      }
      println(f"PQ rerank(short=${10 * k}): " +
        f"recall@$k(L2)=${Similarity.recallVs(truth, rr)}%.4f time=$rrSec%.2f s")
      rr.unpersist()
      val kc = math.max(4, math.sqrt(n.toDouble).toInt)
      Seq(1, 2, 4, 8).foreach { np =>
        val (r, _, sec) = forceCount(Similarity.ivfPqTopK(
          pqQueries, pqEmb, "vec_id", "embedding", k, kc, model, nprobe = np))
        println(f"PQ ivfpq_c$kc nprobe=$np: " +
          f"recall@$k(L2)=${Similarity.recallVs(truth, r)}%.4f time=$sec%.2f s")
        r.unpersist(); ()
      }
      // residual arm, same cells: the codebook spans vec − centroid(cell)
      // (the paper's §V encoding) — the A/B that prices the raw arm's
      // within-cell offset at each nprobe
      val cents = Similarity.seedCentroidsFor(pqEmb, "vec_id", "embedding", kc)
      val (modelRes, trainResSec) = timed(
        Similarity.pqTrainRes(pqEmb, "vec_id", "embedding", cents, 8, 16, 1))
      println(f"PQ train(residual) m=8 ks=16 iters=1: time=$trainResSec%.2f s")
      Seq(1, 2, 4, 8).foreach { np =>
        val (r, _, sec) = forceCount(Similarity.ivfPqTopK(
          pqQueries, pqEmb, "vec_id", "embedding", k, kc, modelRes,
          nprobe = np, residual = true))
        println(f"PQ ivfpq_res_c$kc nprobe=$np: " +
          f"recall@$k(L2)=${Similarity.recallVs(truth, r)}%.4f time=$sec%.2f s")
        r.unpersist(); ()
      }
      truthCos.unpersist()
      truth.unpersist()
      // ---- planted-twin hit rate, when the dir carries planted pairs:
      // global recall@k on a distance-concentrated random corpus is
      // ranking noise beyond the planted twin (every method looks bad,
      // including exact search asked for 10 "neighbors" where only 1
      // exists) — the operational question is whether the REAL near
      // neighbor (planted cosine ≥ 0.9, i.e. a genuinely small L2 gap
      // on this constant-norm corpus) surfaces in the ADC top-k ----
      val plantedFile = new java.io.File(s"$sfDir/planted_pairs.parquet")
      if (plantedFile.exists()) {
        val planted = spark.read.parquet(plantedFile.toString).cache()
        val nPlanted = planted.count()
        val pq = pqEmb.join(planted.select(col("id_a").as("vec_id")),
          Seq("vec_id"), "left_semi")
        def twinHits(df: DataFrame): Long = planted.join(df,
          planted("id_a") === df("query_id") &&
            planted("id_b") === df("neighbor_id"), "left_semi").count()
        val (adcP, _, adcPSec) = forceCount(
          Similarity.pqTopK(pq, enc, "vec_id", "embedding", k, model))
        println(f"PQ planted adc_scan: twin_hit@$k=" +
          f"${twinHits(adcP).toDouble / nPlanted}%.4f " +
          f"queries=$nPlanted time=$adcPSec%.2f s")
        adcP.unpersist()
        Seq(1, 2, 4).foreach { np =>
          val (r, _, sec) = forceCount(Similarity.ivfPqTopK(
            pq, pqEmb, "vec_id", "embedding", k, kc, model, nprobe = np))
          println(f"PQ planted ivfpq_c$kc nprobe=$np: twin_hit@$k=" +
            f"${twinHits(r).toDouble / nPlanted}%.4f time=$sec%.2f s")
          r.unpersist(); ()
        }
        Seq(1, 2, 4).foreach { np =>
          val (r, _, sec) = forceCount(Similarity.ivfPqTopK(
            pq, pqEmb, "vec_id", "embedding", k, kc, modelRes,
            nprobe = np, residual = true))
          println(f"PQ planted ivfpq_res_c$kc nprobe=$np: twin_hit@$k=" +
            f"${twinHits(r).toDouble / nPlanted}%.4f time=$sec%.2f s")
          r.unpersist(); ()
        }
        // Lloyd-converged cells through the ...From seam: tighter cells
        // are the regime where the residual arm should pull ahead of raw
        // — both arms re-measured over the SAME kmeans cells
        val (kmCents, kmSec) = timed(Similarity.kmeansFit(
          pqEmb, "vec_id", "embedding", kc, iters = 2))
        val (modelResKm, kmTrainSec) = timed(Similarity.pqTrainRes(
          pqEmb, "vec_id", "embedding", kmCents, 8, 16, 1))
        println(f"PQ kmeans cells (k=$kc, 2 Lloyd rounds): fit=$kmSec%.2f s " +
          f"res_train=$kmTrainSec%.2f s")
        Seq(1, 4).foreach { np =>
          val (rr0, _, s0) = forceCount(Similarity.ivfPqTopKFrom(
            pq, pqEmb, "vec_id", "embedding", k, kmCents, model, nprobe = np))
          println(f"PQ planted ivfpq_km_c$kc nprobe=$np: twin_hit@$k=" +
            f"${twinHits(rr0).toDouble / nPlanted}%.4f time=$s0%.2f s")
          rr0.unpersist()
          val (rr1, _, s1) = forceCount(Similarity.ivfPqTopKFrom(
            pq, pqEmb, "vec_id", "embedding", k, kmCents, modelResKm,
            nprobe = np, residual = true))
          println(f"PQ planted ivfpq_km_res_c$kc nprobe=$np: twin_hit@$k=" +
            f"${twinHits(rr1).toDouble / nPlanted}%.4f time=$s1%.2f s")
          rr1.unpersist(); ()
        }
        // the full production pipeline: sub-linear IVFADC shortlist
        // (5×k from the probed cells) → exact re-rank. A twin sitting
        // at ADC rank 11..5k inside a probed cell comes BACK into the
        // top-k here — measures how much of the ivfpq miss is ADC
        // mis-ordering (recoverable) vs cell miss (nprobe's job)
        val (rr2, _, rr2Sec) = forceCount {
          val short = Similarity.ivfPqTopK(
            pq, pqEmb, "vec_id", "embedding", 5 * k, kc, model, nprobe = 4)
          Similarity.rerankL2(pq, pqEmb, short, "vec_id", "embedding", k)
        }
        println(f"PQ planted ivfpq_c$kc nprobe=4 +rerank(short=${5 * k}): " +
          f"twin_hit@$k=${twinHits(rr2).toDouble / nPlanted}%.4f " +
          f"time=$rr2Sec%.2f s")
        rr2.unpersist()
        planted.unpersist(); ()
      }
      spark.stop(); return
    }

    // ---- IVF artifact/probe amortization: what "build once per model
    // refresh" buys per query batch vs the inline path that re-assigns
    // the corpus every time. Same √n cells; parity is exact row-set
    // equality (both paths share one oracle by bit-identity).
    if (section == "ivfsplit") {
      val sqrtN = math.max(4, math.sqrt(n.toDouble).toInt)
      val (inline, nInline, inlineSec) = forceCount(
        Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k, sqrtN))
      println(f"IVFSPLIT inline ivf_c$sqrtN: rows=$nInline time=$inlineSec%.2f s")
      val wh = java.nio.file.Files.createTempDirectory("graft_ivfsplit").toString
      val (cents, buildSec) = timed(Similarity.ivfBuild(
        emb, "vec_id", "embedding", sqrtN, 32, wh, "emb_cells"))
      println(f"IVFSPLIT build (assign+bucketed write, once per refresh): " +
        f"time=$buildSec%.2f s")
      // probe from a FRESH catalog read: the artifact's bucket spec must
      // carry the co-partitioning, not this session's memory of it
      (1 to 3).foreach { i =>
        val assigned = Similarity.ivfAssigned(spark, wh, "emb_cells")
        val (probe, nProbe, probeSec) = forceCount(Similarity.ivfProbe(
          queries, assigned, "vec_id", "embedding", k, cents))
        val diff =
          if (i == 1) inline.exceptAll(probe).count() + probe.exceptAll(inline).count()
          else 0L
        println(f"IVFSPLIT probe#$i: rows=$nProbe time=$probeSec%.2f s" +
          (if (i == 1) f" parity_diff=$diff" else ""))
        probe.unpersist(); ()
      }
      inline.unpersist()
      // ---- multi-probe recall curve: the nprobe lever measured against
      // brute-force truth, amortized-probe times alongside — the
      // evidence behind probesFor's power-law miss-decay model ----
      val (truth, nTruth, truthSec) = forceCount(
        Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k))
      println(f"IVFPROBE truth: pairs=$nTruth bruteforce=$truthSec%.2f s")
      Seq(1, 2, 4, 8).foreach { np =>
        val assigned = Similarity.ivfAssigned(spark, wh, "emb_cells")
        val (probe, _, probeSec) = forceCount(Similarity.ivfProbe(
          queries, assigned, "vec_id", "embedding", k, cents, nprobe = np))
        val r = Similarity.recallVs(truth, probe)
        println(f"IVFPROBE nprobe=$np: recall@$k=$r%.4f time=$probeSec%.2f s")
        probe.unpersist(); ()
      }
      truth.unpersist()
      spark.stop(); return
    }

    // ---- top-k recall: lshTopK / ivfTopK vs bruteForceTopK ----
    if (section != "pairs") {
    val (truth, nTruth, truthSec) = forceCount(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k))
    println(f"RECALL n=$n law_planes=$law k=$k truth_pairs=$nTruth " +
      f"bruteforce=$truthSec%.2f s")
    val sqrtN = math.max(4, math.sqrt(n.toDouble).toInt)
    val topkVariants: Seq[(String, () => DataFrame)] = Seq(
      "lsh_p4" -> (() =>
        Similarity.lshTopK(queries, emb, "vec_id", "embedding", k, 4)),
      s"lsh_p$law" -> (() =>
        Similarity.lshTopK(queries, emb, "vec_id", "embedding", k, law)),
      "ivf_c4" -> (() =>
        Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k, 4)),
      s"ivf_c$sqrtN" -> (() =>
        Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k, sqrtN)))
    topkVariants.foreach { case (name, f) =>
      val (df, _, sec) = forceCount(f())
      val r = Similarity.recallVs(truth, df)
      println(f"RECALL topk/$name: recall@$k=$r%.4f time=$sec%.2f s")
      df.unpersist(); ()
    }
    truth.unpersist()
    }

    if (section != "topk") {
    // ---- pair recall: cosineNearDupPairs vs exact threshold pairs ----
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("_n"))
    val a = withNorm.select(col("vec_id").as("id_a"),
      col("embedding").as("_va"), col("_n").as("_na"))
    val b = withNorm.select(col("vec_id").as("id_b"),
      col("embedding").as("_vb"), col("_n").as("_nb"))
    // One exact pass at the base threshold, recall read at several
    // thresholds above it: SRP collision probability is (1 - θ/π) per
    // plane, so recall depends on the PAIR'S ANGLE — the curve across
    // thresholds is the published evidence, not one point.
    val (exact, nExact, exactSec) = forceCount(
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Similarity.dot(col("_va"), col("_vb")) /
            (col("_na") * col("_nb")), 6).as("score"))
        .where(col("score") >= threshold))
    println(f"RECALL exact pairs (threshold>=$threshold): n_pairs=$nExact " +
      f"time=$exactSec%.2f s")
    val thresholds = Seq(threshold, threshold + 0.1, threshold + 0.2)
    def pairRecall(name: String, df: => DataFrame): Unit = {
      val (pairs, _, sec) = forceCount(df)
      thresholds.foreach { t =>
        val te = exact.where(col("score") >= t)
        val nT = te.count()
        val hits = te.join(pairs.where(col("score") >= t),
          Seq("id_a", "id_b"), "left_semi").count()
        val r = if (nT == 0) 1.0 else hits.toDouble / nT
        println(f"RECALL pairs/$name@t=$t%.1f: recall=$r%.4f " +
          f"truth=$nT time=$sec%.2f s")
      }
      pairs.unpersist(); ()
    }
    (Seq(4, 6, 8) :+ law).distinct.sorted.foreach { p =>
      pairRecall(s"p$p",
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", threshold, p))
    }
    Seq(2, 4, 8).foreach { l =>
      pairRecall(s"banded_p${law}x$l",
        Similarity.cosineNearDupPairsBanded(
          emb, "vec_id", "embedding", threshold, law, l))
    }
    }
    spark.stop()
  }

  /** Deterministic SMOOTH synthetic image for `id`: a seeded 6×5 coarse
    * RGB grid bilinearly upscaled to 64×48. Smoothness is the point —
    * dHash's crop/brightness robustness holds for natural low-frequency
    * images; on white noise a 2px crop shifts every box boundary and
    * moves ~half the bits, which would measure the generator, not the
    * operator. `bright` shifts every channel (clamped); `crop` emits the
    * inner (64−2c)×(48−2c) window of the SAME field (the coordinate
    * mapping keeps the original sampling grid, so the crop is a true
    * sub-window, not a rescale).
    */
  private def smoothImage(
      id: Long, bright: Int, crop: Int): java.awt.image.BufferedImage = {
    val w = 64; val h = 48; val cw = 6; val ch = 5
    val rnd = new scala.util.Random(id * 2654435761L + 99991L)
    val grid = Array.fill(ch, cw, 3)(rnd.nextInt(256))
    val ow = w - 2 * crop; val oh = h - 2 * crop
    val img = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val sx = (x + crop).toDouble * (cw - 1) / (w - 1)
        val sy = (y + crop).toDouble * (ch - 1) / (h - 1)
        val x0 = math.min(sx.toInt, cw - 2); val y0 = math.min(sy.toInt, ch - 2)
        val fx = sx - x0; val fy = sy - y0
        var rgb = 0
        var c = 0
        while (c < 3) {
          val v = grid(y0)(x0)(c) * (1 - fx) * (1 - fy) +
            grid(y0)(x0 + 1)(c) * fx * (1 - fy) +
            grid(y0 + 1)(x0)(c) * (1 - fx) * fy +
            grid(y0 + 1)(x0 + 1)(c) * fx * fy
          rgb = (rgb << 8) | math.max(0, math.min(255, v.toInt + bright))
          c += 1
        }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeImage(
      img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, buf)
    buf.toByteArray
  }

  /** Deterministic unit-norm 64-dim vectors for the semantic-
    * decontamination leg. `paraphraseOf = Some(nb)`: row i is a noisy
    * copy of BENCHMARK vector (i mod nb) — base gaussian from seed
    * i mod nb (the benchmark's own seed space), plus eps × an
    * independent gaussian, renormalized, so E[cos(base, copy)] ≈
    * 1/√(1+eps²). `None`: an independent vector seeded by idBase + i.
    * Executor-side generation (mapPartitions over a range).
    */
  private[graft] def plantedVecs(
      spark: SparkSession, idBase: Long, n: Int,
      paraphraseOf: Option[Int], eps: Double): DataFrame = {
    import spark.implicits._
    def gauss(seed: Long): Array[Double] = {
      val r = new scala.util.Random(
        seed * 6364136223846793005L + 1442695040888963407L)
      Array.fill(64)(r.nextGaussian())
    }
    spark.range(n.toLong).as[Long]
      .mapPartitions { idxs =>
        idxs.map { i =>
          val v = paraphraseOf match {
            case None => gauss(idBase + i)
            case Some(nb) =>
              val base = gauss(i % nb)
              val noise = gauss(idBase + i + 777L)
              base.zip(noise).map { case (a, b) => a + eps * b }
          }
          val nrm = math.sqrt(v.map(x => x * x).sum)
          (idBase + i, v.map(x => (x / nrm).toFloat).toSeq)
        }
      }
      .toDF("vec_id", "embedding")
  }

  /** The planted image corpus: `nBase` smooth bases; bases with
    * id % 10 ∈ {0, 1, 2} get one twin at id + nBase — a BMP re-encode,
    * a +16 brightness shift, or a 2px border crop respectively.
    * Generation is distributed (mapPartitions over a range — image
    * bytes are produced executor-side, never collected).
    */
  private[graft] def plantedImages(
      spark: SparkSession, nBase: Int): DataFrame = {
    import spark.implicits._
    spark.range(nBase.toLong).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val base = (id, encodeImage(smoothImage(id, 0, 0), "png"), "image")
          val twin = (id % 10) match {
            case 0 => Seq((nBase + id,
              encodeImage(smoothImage(id, 0, 0), "bmp"), "image"))
            case 1 => Seq((nBase + id,
              encodeImage(smoothImage(id, 16, 0), "png"), "image"))
            case 2 => Seq((nBase + id,
              encodeImage(smoothImage(id, 0, 2), "png"), "image"))
            case _ => Seq.empty
          }
          Iterator(base) ++ twin.iterator
        }
      }
      .toDF("media_id", "payload", "media_type")
  }
}
