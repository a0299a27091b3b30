package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The contract every public top-k operator of [[Similarity]] shares,
  * pinned in one place over one tiny corpus: the output columns, no
  * self-pair, ranks 1..n (n ≤ k) contiguous per query, ties broken to
  * the smaller neighbor id, and a NULL-vector query returning no rows.
  *
  * The corpus plants two IDENTICAL vectors under different ids
  * (`twinLo`, `twinHi`): every metric, code and cell sees them as the
  * same point, so they tie in every family and the smaller id must
  * always come first. Query `near` sits next to the twins, so each
  * family is seen ranking both of them.
  */
class AnnFamilySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private val k = 5
  private val twinLo = 30L
  private val twinHi = 31L
  private val near = 32L
  private val nullQ = 99L

  private val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 30L).map(i =>
      i -> Seq.fill(dim)(rnd.nextGaussian().toFloat))
    val twin = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val nearVec = twin.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    base ++ Seq(twinLo -> twin, twinHi -> twin, near -> nearVec) ++
      (33L until 40L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private lazy val corpus: DataFrame = vecs.toDF("vec_id", "embedding")

  private lazy val queries: DataFrame =
    corpus.where(col("vec_id").isin(0L, 5L, twinLo, twinHi, near))
      .unionByName(Seq(nullQ).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<float>")))

  private lazy val pq = Similarity.pqTrain(corpus, "vec_id", "embedding",
    m = 8, ks = 4, iters = 1)
  private lazy val cents =
    Similarity.seedCentroidsFor(corpus, "vec_id", "embedding", 4)
  private lazy val pqRes = Similarity.pqTrainRes(corpus, "vec_id",
    "embedding", cents, m = 8, ks = 4, iters = 1)
  private lazy val wh =
    java.nio.file.Files.createTempDirectory("graft_ann_family").toString

  private def cols(v: (String, String)): Seq[(String, String)] =
    Seq("query_id" -> "bigint", "neighbor_id" -> "bigint", "rank" -> "int", v)

  /** name → (operator output, its output columns). */
  private def operators: Seq[(String, () => DataFrame, Seq[(String, String)])] = Seq(
    ("bruteForceTopK", () => Similarity.bruteForceTopK(
      queries, corpus, "vec_id", "embedding", k), cols("score" -> "double")),
    ("lshTopK", () => Similarity.lshTopK(
      queries, corpus, "vec_id", "embedding", k, numPlanes = 2),
      cols("score" -> "double")),
    ("ivfTopK", () => Similarity.ivfTopK(
      queries, corpus, "vec_id", "embedding", k, nCentroids = 4),
      cols("score" -> "double")),
    ("ivfProbe", () => {
      val c = Similarity.ivfBuild(corpus, "vec_id", "embedding", 4, 4, wh,
        "fam_ivf")
      Similarity.ivfProbe(queries, Similarity.ivfAssigned(spark, wh,
        "fam_ivf"), "vec_id", "embedding", k, c, nprobe = 2)
    }, cols("score" -> "double")),
    ("hammingTopK", () => Similarity.hammingTopK(queries,
      Similarity.binQuantize(corpus, "vec_id", "embedding", dim),
      "vec_id", "embedding", k, dim), cols("hamming" -> "bigint")),
    ("ivfBinTopK", () => Similarity.ivfBinTopK(
      queries, corpus, "vec_id", "embedding", k, 4, dim),
      cols("hamming" -> "bigint")),
    ("ivfBinProbe", () => {
      val c = Similarity.ivfBinBuild(corpus, "vec_id", "embedding", 4, dim,
        4, wh, "fam_bin")
      Similarity.ivfBinProbe(queries, Similarity.ivfAssigned(spark, wh,
        "fam_bin", "ivfbin"), "vec_id", "embedding", k, c, dim, nprobe = 2)
    }, cols("hamming" -> "bigint")),
    ("pqTopK", () => Similarity.pqTopK(queries,
      Similarity.pqEncode(corpus, "vec_id", "embedding", pq),
      "vec_id", "embedding", k, pq), cols("adc" -> "double")),
    ("ivfPqTopK raw", () => Similarity.ivfPqTopK(
      queries, corpus, "vec_id", "embedding", k, 4, pq),
      cols("adc" -> "double")),
    ("ivfPqTopK residual", () => Similarity.ivfPqTopK(
      queries, corpus, "vec_id", "embedding", k, 4, pqRes, nprobe = 2,
      residual = true), cols("adc" -> "double")),
    ("ivfPqProbe", () => {
      val c = Similarity.ivfPqBuild(corpus, "vec_id", "embedding", 4, pq, 4,
        wh, "fam_pq")
      Similarity.ivfPqProbe(queries, Similarity.ivfAssigned(spark, wh,
        "fam_pq", "ivfpq"), "vec_id", "embedding", k, c, pq)
    }, cols("adc" -> "double")),
    ("bruteForceTopKL2", () => Similarity.bruteForceTopKL2(
      queries, corpus, "vec_id", "embedding", k), cols("d2" -> "double")),
    ("rerankL2", () => {
      // a wide shortlist, plus two nominations for the NULL query: its
      // distances are NULL, so they must drop at the re-rank
      val shortlist = Similarity.bruteForceTopK(
        queries, corpus, "vec_id", "embedding", 3 * k)
        .select("query_id", "neighbor_id")
        .unionByName(Seq((nullQ, twinLo), (nullQ, 0L))
          .toDF("query_id", "neighbor_id"))
      Similarity.rerankL2(queries, corpus, shortlist, "vec_id", "embedding", k)
    }, cols("d2" -> "double")))

  operators.foreach { case (name, run, wantCols) =>
    test(s"$name keeps the top-k family contract: output columns, no " +
      "self-pair, contiguous ranks, twins tie to the smaller id, a NULL " +
      "query returns nothing") {
      val df = run()
      assert(df.schema.map(f => f.name -> f.dataType.simpleString) === wantCols)
      val rows = df.select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(!rows.exists(r => r._1 == r._2), s"$name returned a self-pair")
      assert(!rows.exists(_._1 == nullQ), s"$name ranked the NULL query")
      val byQuery = rows.groupBy(_._1).map { case (q, rs) =>
        val ranks = rs.map(_._3).sorted.toSeq
        assert(ranks === (1 to ranks.size) && ranks.size <= k,
          s"$name: query $q ranks $ranks are not 1..n with n <= $k")
        q -> rs.map(r => r._2 -> r._3).toMap
      }
      byQuery.foreach { case (q, ranked) =>
        if (q != twinLo) ranked.get(twinHi).foreach { hi =>
          assert(ranked.get(twinLo).exists(_ < hi),
            s"$name: query $q ranks twin $twinHi at $hi ahead of $twinLo " +
              s"(${ranked.get(twinLo)})")
        }
      }
      assert(byQuery.get(near).exists(m =>
        m.contains(twinLo) && m.contains(twinHi)),
        s"$name: the near query must rank both twins: ${byQuery.get(near)}")
      assert(byQuery.get(twinLo).exists(_.get(twinHi).contains(1)),
        s"$name: twin $twinLo must rank its identical twin first")
    }
  }

  test("every IVF cell key is a LongType column and the LSH bucket is an " +
    "IntegerType one, inline and read back from each artifact") {
    def cellType(df: DataFrame) = df.schema("_cell").dataType
    assert(cellType(Similarity.withCell(
      corpus, "vec_id", "embedding", cents)) === LongType)
    Seq(1, 2).foreach { np =>
      assert(cellType(Similarity.withCells(
        corpus, "vec_id", "embedding", cents, np)) === LongType, s"nprobe $np")
    }
    assert(cellType(Similarity.ivfPqResiduals(
      corpus, "vec_id", "embedding", cents)) === LongType)
    assert(cellType(Similarity.ivfPqRows(
      corpus, "vec_id", "embedding", cents, pqRes, residual = true)) === LongType)
    assert(cellType(Similarity.ivfBinRows(
      corpus, "vec_id", "embedding", cents, dim)) === LongType)
    Similarity.ivfBuild(corpus, "vec_id", "embedding", 4, 4, wh, "key_ivf")
    Similarity.ivfBinBuild(corpus, "vec_id", "embedding", 4, dim, 4, wh,
      "key_bin")
    Similarity.ivfPqBuild(corpus, "vec_id", "embedding", 4, pq, 4, wh,
      "key_pq")
    Seq(("key_ivf", "ivf"), ("key_bin", "ivfbin"), ("key_pq", "ivfpq"))
      .foreach { case (table, prefix) =>
        assert(cellType(Similarity.ivfAssigned(spark, wh, table, prefix)) ===
          LongType, s"$prefix artifact")
      }
    assert(Similarity.srpTable(corpus, "vec_id", "embedding", 4)
      .schema("_bkt").dataType === IntegerType)
    assert(corpus.select(Similarity.srpBucket(col("embedding"), 4))
      .schema.head.dataType === IntegerType)
  }
}
