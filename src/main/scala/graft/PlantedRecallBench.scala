package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** MEASURED recall at the production near-dup operating point (t >= 0.9)
  * over a corpus with PLANTED true near-duplicates (`tools/gen_neardup.py`
  * emits a perturbed twin with known cosine for every stride-th vector).
  * Closes round-7's "priced, not measured" gap: the synthetic embeddings
  * have zero pairs above cos 0.9, so the ~0.96 expected-recall claim for
  * banded 8×p7 at t >= 0.9 rested on the (validated) SRP banding model
  * rather than a measurement — this harness measures it.
  *
  * Ground truth is recomputed ENGINE-SIDE from the stored float vectors
  * (the planter's target cosine is analytic, but float serialization can
  * move a pair an ulp across the threshold): planted pairs are joined to
  * their vectors and kept when round(cos, 6) >= t — the same rounding and
  * threshold discipline the operator applies, so recall compares like
  * with like. This is a |planted|-sized join, not an all-pairs pass.
  *
  * Usage: sbt "runMain graft.PlantedRecallBench <dir> [threshold]"
  *   where <dir> holds embeddings.parquet + planted_pairs.parquet.
  */
object PlantedRecallBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata/sf1_neardup")
    val threshold = if (args.length > 1) args(1).toDouble else 0.9
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val n = emb.count()
    val law = Similarity.numPlanesFor(n)
    val planted = spark.read.parquet(s"$dir/planted_pairs.parquet")

    // engine-exact truth over the planted set (operator's own rounding)
    val v = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("_n"))
    val truth = planted
      .join(v.select(col("vec_id").as("id_a"), col("embedding").as("_va"),
        col("_n").as("_na")), Seq("id_a"))
      .join(v.select(col("vec_id").as("id_b"), col("embedding").as("_vb"),
        col("_n").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("_va"), col("_vb")) /
          (col("_na") * col("_nb")), 6).as("score"))
      .where(col("score") >= threshold)
      .cache()
    val nTruth = truth.count()
    val nPlanted = planted.count()
    println(f"PLANTED n=$n law_planes=$law planted=$nPlanted " +
      f"truth@t>=$threshold%.2f=$nTruth (engine-exact float cosine)")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def measure(name: String, df: => DataFrame): Unit = {
      val (pairs, sec) = timed {
        val c = df.cache(); c.count(); c
      }
      val hits = truth.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
      val total = pairs.count()
      val r = if (nTruth == 0) 1.0 else hits.toDouble / nTruth
      println(f"PLANTED $name: recall@t>=$threshold%.2f=$r%.4f " +
        f"($hits/$nTruth) emitted=$total time=$sec%.2f s")
      pairs.unpersist(); ()
    }

    measure(s"single_p$law",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", threshold, law))
    Seq(2, 4, 8).foreach { l =>
      measure(s"banded_p${law}x$l",
        Similarity.cosineNearDupPairsBanded(
          emb, "vec_id", "embedding", threshold, law, l))
    }
    // the recall-SLA selector's pick for this (threshold, n) — measured
    // so the SLA is a verified property, not just a model output
    args.drop(2).headOption.map(_.toDouble).orElse(Some(0.95)).foreach { sla =>
      val (p, l) = Similarity.bandsFor(threshold, sla, n)
      println(f"PLANTED bandsFor(t=$threshold%.2f, sla=$sla%.2f, n=$n) " +
        f"= (p=$p, L=$l), model=${Similarity.expectedBandedRecall(threshold, p, l)}%.4f")
      measure(s"banded_sla_p${p}x$l",
        Similarity.cosineNearDupPairsBanded(
          emb, "vec_id", "embedding", threshold, sla, n, maxBands = 512))
    }
    spark.stop()
  }
}
