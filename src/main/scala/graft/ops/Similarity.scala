package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (ArrayType(Float)).
  *
  * Scale notes: every top-k operator is one scan skeleton ([[topK]]): the
  * (small) query set is broadcast against the streaming corpus — one
  * corpus scan, no shuffle of the big side — then the partial-aggregable
  * top-k tail (k rows per (partition, query) reach the one exchange,
  * never the full scored set). The families differ only in the key the
  * candidates share (none for brute force, an LSH bucket, an IVF cell)
  * and in the code they score (float vector, PQ codes, sign bits).
  */
object Similarity {

  /** Elementwise dot product of two float-array columns, accumulated in
    * Double left-to-right (deterministic evaluation order, so the DuckDB
    * oracle reproduces the exact same floating-point result).
    *
    * Delegates to the native `vec_dot` codegen expression
    * (graft.functions.VecDot, registered by GraftExtensions — sessions
    * must be built `withExtensions(new GraftExtensions)` or retrofitted
    * via `GraftExtensions.register(spark)`): ANN/near-dup
    * scoring evaluates |candidate pairs| × dim multiplies, and Spark's
    * higher-order `aggregate`/`zip_with` interpret a lambda per element —
    * measured ~6× slower than the generated loop on the embed near-dup
    * query. Bit-identical results (same left-to-right order).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with IEEE zero-norm semantics: a zero-norm side yields NaN
    * (which the cell-assignment paths rank GREATEST), matching what the
    * native JVM loop in vec_argmax_cell computes — NOT an ANSI
    * divide-by-zero error. The `when` guard is lazy per row, so on the
    * (universal) non-zero path the arithmetic is the same single divide
    * as before, bit-identical to the DuckDB twins.
    */
  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(dot(a, b), norm(a), norm(b))

  /** [[cosine]] with the norms precomputed by the caller — the operator
    * pipelines carry `_n` columns so norms are computed once per vector,
    * not once per pair. ONE definition of the zero-norm guard for every
    * scoring site: an unguarded `d / (na * nb)` throws DIVIDE_BY_ZERO
    * under Spark 4's default ANSI mode the moment a zero-norm vector
    * (e.g. a failed-embedding placeholder) reaches it, and under
    * non-ANSI silently yields null-ranked-last instead of the documented
    * NaN-ranks-greatest.
    */
  private def cosineFromNorms(d: Column, na: Column, nb: Column): Column = {
    val np = na * nb
    when(np === lit(0.0), lit(Double.NaN)).otherwise(d / np)
  }

  /** The ONE scan skeleton behind every top-k operator: candidate join,
    * self-exclusion, score, rank. `queries` carries `query_id`, `corpus`
    * carries `neighbor_id`, and both carry whatever `score` reads plus the
    * `key` column when there is one.
    *
    * The QUERY side is broadcast (a query set is small by construction);
    * the corpus streams through one scan with zero shuffle of the big side
    * — broadcasting the corpus instead would OOM every executor at scale.
    * With a `key` (an IVF cell, an LSH bucket, a shortlist's neighbor id)
    * the candidates are the broadcast hash join on it; without one they
    * are every corpus row, a broadcast nested loop. A query never ranks
    * itself. The only shuffle is the |queries|-keyed top-k aggregation
    * exchange of [[rankBy]], which carries k rows per (partition, query).
    */
  private def topK(
      queries: DataFrame, corpus: DataFrame, key: Option[String],
      score: Column, k: Int, rankKey: Column => Column): DataFrame =
    rankBy(
      corpus.join(broadcast(queries), key.toSeq)
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("_score", score),
      k, rankKey)

  /** The ONE rank tail over a `_score` column: per query, the k largest
    * `rankKey(_score)`, ties to the smaller neighbor_id, as `(query_id,
    * neighbor_id, rank, _key)`. Cosines rank by [[cosineKey]], distances
    * by [[distanceKey]]. The partial-aggregable
    * [[graft.functions.TopKAggregator]] keeps (value DESC, id ASC) — the
    * `row_number` contract — but each map task reduces its scored pairs
    * to a k-element buffer BEFORE the shuffle, where a window would sort
    * the WHOLE per-query candidate set through one exchange (at 100 TB
    * the window exchange is the plan).
    *
    * NULL scores DROP (a NULL vector, a malformed query, a NaN distance):
    * the typed aggregator would otherwise decode NULL as 0.0 and silently
    * rank garbage mid-pack. The filter reads the raw score and the key is
    * taken inside the aggregate: Spark pushes the filter into the join
    * condition, and a filter on the key would cast each decimal ADC sum
    * to double there a second time (measured on q_pq_topk, SCALE.md).
    */
  private def rankBy(
      scored: DataFrame, k: Int, rankKey: Column => Column): DataFrame = {
    val topk = graft.functions.TopKAggregator.topK(k)
    scored
      .where(col("_score").isNotNull)
      .groupBy("query_id")
      .agg(topk(rankKey(col("_score")), col("neighbor_id")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col("query_id"), col("_t._2").as("neighbor_id"),
        (col("_i") + 1).cast("int").as("rank"), col("_t._1").as("_key"))
  }

  /** Cosine rank key. NaN ranks GREATEST (the documented zero-norm-cosine
    * semantics; Spark's DESC sort puts NaN first), but Scala's total
    * ordering on Double would sort −NaN last — so NaN enters the
    * aggregator as the sentinel 2.0 and [[cosineOut]] decodes it back.
    * Lossless because cosine is confined to [−1, 1] ∪ {NaN}, so 2.0 is
    * unreachable as a genuine score.
    */
  private def cosineKey(score: Column): Column =
    nanvl(score.cast("double"), lit(2.0))

  private def cosineOut(ranked: DataFrame): DataFrame =
    ranked.select(col("query_id"), col("neighbor_id"), col("rank"),
      when(col("_key") === 2.0, lit(Double.NaN)).otherwise(col("_key"))
        .as("score"))

  /** Distance rank key: the smallest distance ranks first. */
  private def distanceKey(distance: Column): Column =
    negate(distance.cast("double"))

  /** Un-negates a distance rank key into the output column `name`. */
  private def distanceOut(
      ranked: DataFrame, name: String, tpe: String = "double"): DataFrame =
    ranked.select(col("query_id"), col("neighbor_id"), col("rank"),
      negate(col("_key")).cast(tpe).as(name))

  /** The cosine scan: `(query_id, _qv, _qn)` against `(neighbor_id, _cv,
    * _cn)`, norms carried so each pair costs one dot product.
    */
  private def cosineScan(
      q: DataFrame, c: DataFrame, key: Option[String], k: Int): DataFrame =
    cosineOut(topK(q, c, key,
      cosineFromNorms(dot(col("_qv"), col("_cv")), col("_qn"), col("_cn")),
      k, cosineKey))

  /** [[rankBy]] over a frame already scored in a `score` column (score
    * DESC, NaN greatest, NULL dropped, ties to the smaller neighbor_id).
    */
  private[graft] def scoreRank(scored: DataFrame, k: Int): DataFrame =
    cosineOut(rankBy(scored.withColumnRenamed("score", "_score"), k, cosineKey))

  /** [[rankBy]] over a frame already scored in an `_adc` distance column
    * (adc ASC, NULL dropped, ties to the smaller neighbor_id).
    */
  private[graft] def adcRank(scored: DataFrame, k: Int): DataFrame =
    distanceOut(
      rankBy(scored.withColumnRenamed("_adc", "_score"), k, distanceKey), "adc")

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding self), ties broken by corpus id — [[topK]] with no
    * candidate key.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    cosineScan(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        norm(col(vecCol)).as("_qn")),
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        norm(col(vecCol)).as("_cn")),
      None, k)

  /** Sign-random-projection bucket id: bit per hyperplane, hyperplane h =
    * deterministic ±1 pattern derived from md5(h || ':' || index) — fully
    * engine-portable, no RNG state (`VecSrpBucket.sign`, the single
    * definition the DuckDB oracle twins replicate).
    *
    * Delegates to the native `srp_bucket` codegen expression
    * (graft.functions.VecSrpBucket): the composed form — a
    * `vec_dot(vec, slice(<4096-double literal>, ...))` per plane — blows
    * the codegen method limits as planes stack up and drops the
    * projection to INTERPRETED evaluation; measured at sf1, the banded
    * 8×7-plane hash pass alone cost 9.5-10 s composed vs ~0.7 s native
    * (SCALE.md round 8). Identical bits: same sign patterns, same
    * left-to-right accumulation, same null-collapse-to-bucket-0.
    */
  def srpBucket(vec: Column, numPlanes: Int): Column =
    srpBucketRange(vec, 0, numPlanes)

  /** SRP bucket from plane ids `firstPlane until firstPlane + numPlanes`
    * — the per-band hash of [[cosineNearDupPairsBanded]] (band b uses its
    * own disjoint plane range, so band hashes are independent).
    * `srpBucket(v, p)` ≡ `srpBucketRange(v, 0, p)`: the single-table
    * operators and their oracle twins are unchanged.
    */
  private[graft] def srpBucketBand(
      vec: Column, band: Int, planesPerBand: Int): Column =
    srpBucketRange(vec, band * planesPerBand, planesPerBand)

  private def srpBucketRange(
      vec: Column, firstPlane: Int, numPlanes: Int): Column =
    call_function("srp_bucket", vec, lit(firstPlane), lit(numPlanes))

  /** Embedding-cosine near-duplicate pairs, LSH-blocked: vectors sharing a
    * sign-random-projection bucket are compared exactly; pairs with cosine
    * >= threshold survive. One corpus pass for bucketing, one shuffle to
    * group bucket members, pairs generated in-bucket — never O(n²) across
    * the corpus (the standard recall-for-throughput trade; raise numPlanes
    * to shrink buckets at larger corpora).
    */
  def cosineNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 4): DataFrame = {
    // Norms ride along with each vector so the per-pair score is one dot
    // product, not three. Pair generation is a bucket self-join, NOT a
    // per-bucket collect+explode: a collect concentrates each bucket's
    // O(k²) pair work (and its vector payloads) into one task, which goes
    // superlinear as buckets grow — measured 10× data → ~20× time. The
    // join distributes pair scoring across the cluster; the bucketed
    // frame is materialized once so the hashing isn't computed per side.
    val bucketed = srpTable(corpus, idCol, vecCol, numPlanes)
    val a = bucketed.select(col("_bkt"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val b = bucketed.select(col("_bkt"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    a.join(b, Seq("_bkt"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFromNorms(dot(col("_va"), col("_vb")), col("_na"), col("_nb")), 6)
          .as("score"))
      .where(col("score") >= threshold)
  }

  /** Banded (multi-table) SRP near-dup pairs — the RECALL escape the
    * single-table operator's doc promises ("compensate with multi-probe
    * or band OR-ing"), now an operator rather than a footnote: `numBands`
    * independent SRP tables of `planesPerBand` planes each (band b hashes
    * its own disjoint plane range), candidates = the UNION of per-band
    * bucket collisions, deduped, then exact-cosine verified against
    * `threshold`.
    *
    * Why it exists, quantified (sf1 measurement, SCALE.md round 7): a
    * single SRP table finds a pair of angle θ with probability
    * (1 − θ/π)^p — measured to match theory within a point: 17% at
    * p = 4 for threshold-0.4 pairs, 4% at the law-derived p = 7. OR-ing
    * L bands lifts that to 1 − (1 − c^p)^L exactly like minhash
    * banding's S-curve; at near-dup thresholds (0.9: per-plane c ≈ 0.86)
    * 8 bands of 7 planes reach ~0.96 expected recall while each band
    * keeps the bucket sizes the plane-density law picked.
    *
    * Cost shape at 100 TB: one hashing pass emits `numBands` rows per
    * vector (the banded frame is the persisted-artifact analog of
    * `Dedup.bandTable` — L× the rows, same bucketed join); pair
    * generation stays in-bucket per band, never all-pairs. A pair
    * colliding in k bands is scored k times then deduped — dot products
    * are cheaper than shuffling vectors through a pre-scoring
    * distinct.
    */
  def cosineNearDupPairsBanded(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planesPerBand: Int = 4,
      numBands: Int = 4): DataFrame = {
    val banded = Text.spread(corpus)
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        norm(col(vecCol)).as("_n"),
        posexplode(array((0 until numBands).map(b =>
          srpBucketBand(col(vecCol), b, planesPerBand))
          : _*)).as(Seq("_band", "_bkt")))
      .transform(Materialize.checkpoint)
    val a = banded.select(col("_band"), col("_bkt"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val b = banded.select(col("_band"), col("_bkt"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    a.join(b, Seq("_band", "_bkt"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFromNorms(dot(col("_va"), col("_vb")), col("_na"), col("_nb")), 6)
          .as("score"))
      .where(col("score") >= threshold)
      .distinct()
  }

  /** SLA-driven banded near-dup pairs: the caller states WHAT it needs —
    * "pairs at cosine ≥ threshold, found with probability ≥ targetRecall,
    * over a corpus of n" — and [[bandsFor]] picks the (planesPerBand,
    * numBands) operating point from the validated S-curve chain. `n` is
    * a parameter, not a `corpus.count()`, because the caller usually
    * knows it (table stats, a prior stage) and an implicit count job
    * per call would be a hidden corpus scan.
    */
  def cosineNearDupPairsBanded(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetRecall: Double, n: Long,
      maxBands: Int): DataFrame = {
    val (p, l) = bandsFor(threshold, targetRecall, n, maxBands = maxBands)
    cosineNearDupPairsBanded(corpus, idCol, vecCol, threshold, p, l)
  }

  /** SRP plane count for a corpus of `n` vectors targeting ~`targetBucket`
    * vectors per bucket: ceil(log2(n / targetBucket)), floor 1. In-bucket
    * pair work is Σ k² over buckets, so the plane count MUST grow with the
    * corpus — measured at 200k vectors (sf10, threshold 0.4): 4 planes =
    * 16 buckets → 1.25G scored pairs, 176s; 8 planes → 13s; 10 planes
    * (this formula's pick at target 256) → 6s. The recall trade is the
    * standard LSH one: more planes split true near-dup pairs into
    * different buckets with probability growing in the pair's angle —
    * compensate with multi-probe or band OR-ing when recall matters more
    * than throughput. The oracle-pinned queries keep 4 planes (the
    * testdata operating point a DuckDB twin can replicate verbatim).
    *
    * [[CeilEps]] is subtracted inside the ceil (mirrored in the DuckDB
    * twins): neither engine's log/acos/pow is correctly rounded, so at
    * a corpus size where the TRUE ratio is exactly an integer (here
    * n = targetBucket·2^k — n = 512·256, 1024·256, … do occur) the two
    * libm values cluster within ulps on BOTH sides of that integer and
    * their ceils can disagree by one — a selector-derivation parity gap
    * masquerading as an operator defect at an ungraded SF. Nudging the
    * breakpoint off the integer by 1e-9 (≫ the ~1e-13 cross-libm
    * spread) makes both engines land on the same side everywhere.
    * sqrt-based laws (⌈√n⌉) need no epsilon: IEEE sqrt IS correctly
    * rounded, so the engines agree bit-for-bit.
    *
    * Large-n behavior, INTENTIONAL: just above a 256·2^k breakpoint the
    * true fractional part of log2(n/256) is ~1/(n·ln2), which drops
    * below the nudge once n exceeds ~1.4e9 rows — within ~n·ln2·1e-9
    * rows of such a breakpoint (a few rows at 1.4e9) the nudged ceil
    * derives p one LOWER than the un-nudged law. Both engines mirror the
    * nudge so cross-engine parity holds everywhere, and the operational
    * cost of the boundary case is bucket occupancy at 2×targetBucket
    * instead of 1× for those few corpus sizes — inside the law's
    * tolerance (Σk² moves 4×, the same factor a single skewed bucket
    * already contributes). The nudge is kept at ALL n rather than made
    * exact integrally because the DuckDB twins compute the identical
    * float route in SQL, and parity of the DERIVED parameter is the
    * invariant the gate grades.
    */
  val CeilEps = 1e-9

  def numPlanesFor(n: Long, targetBucket: Long = 256L): Int =
    math.max(1, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)
        - CeilEps).toInt)

  /** Per-plane SRP collision probability of a pair at cosine `c`:
    * 1 − θ/π (Charikar 2002, the sign-random-projection locality bound).
    * Input is clamped to [-1, 1] so float-rounded cosines at the
    * boundary don't NaN the acos.
    */
  def srpCollisionProb(cosine: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi

  /** Expected recall of a pair AT cosine `threshold` under `numBands`
    * bands of `planesPerBand` planes: 1 − (1 − c^p)^L, the minhash-style
    * banding S-curve over SRP collisions. Because per-plane collision
    * RISES with cosine, this is a FLOOR on the recall of any pair the
    * operator is asked to find (they all sit at cosine ≥ threshold) —
    * which is exactly how it validates against both planted
    * measurements (SCALE.md round 8: sf1 8×p7 model 0.963 vs measured
    * 0.9855; 220k 8×p10 model 0.852 vs measured 0.9417 — measured above
    * the at-threshold floor in both, and within ~2 points of the chain
    * evaluated at the planted-cosine mix).
    */
  def expectedBandedRecall(
      threshold: Double, planesPerBand: Int, numBands: Int): Double = {
    val cp = math.pow(srpCollisionProb(threshold), planesPerBand)
    1.0 - math.pow(1.0 - cp, numBands)
  }

  /** Recall-SLA selector — the operational companion to [[numPlanesFor]]
    * (bucket sizing) and `Dedup.rowsPerBandFor` (minhash banding):
    * given the near-dup `threshold`, a `targetRecall` SLA, and the
    * corpus size `n`, returns `(planesPerBand, numBands)` such that
    * in-bucket pair work stays law-sized per band AND the S-curve model
    * holds expected at-threshold recall ≥ the SLA.
    *
    * Derivation: planes come from the plane-density law (buckets of
    * ~`targetBucket`, so Σk² pair work doesn't go superlinear as n
    * grows); bands then buy the recall back —
    * L = ⌈ln(1 − targetRecall) / ln(1 − c^p)⌉. This codifies the
    * production rule the two planted measurements bracket (recall at
    * FIXED L = 8 drifted 0.986 → 0.942 a decade up as the law moved
    * p 7 → 10; a deployment pinning an SLA must GROW L with n):
    * bandsFor(0.9, 0.95, 22k) = (7, 8) — precisely the sf1 measured
    * point, which delivered 0.9855 — and bandsFor(0.9, 0.95, 220k)
    * = (10, 13), growing the bands the decade demands.
    *
    * Cost is linear in L (hash rows emitted per vector, per-band
    * bucketed joins), so an unreachable SLA must fail loudly rather
    * than silently emitting a 100×-cost plan: `maxBands` caps the
    * blow-up (loosen it deliberately, not by default).
    */
  def bandsFor(
      threshold: Double, targetRecall: Double, n: Long,
      targetBucket: Long = 256L, maxBands: Int = 64): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val p = numPlanesFor(n, targetBucket)
    val cp = math.pow(srpCollisionProb(threshold), p)
    // ln(1 − x), NOT log1p(−x): the DuckDB oracle twin computes this
    // band count in SQL as ceil(ln(1.0 − r) / ln(1.0 − c^p)) and has no
    // log1p — both engines must walk the SAME float route (identical
    // 1−x double first, then ln) or their ceils can straddle an integer
    // at an ungraded corpus size and a selector-derivation parity gap
    // would masquerade as an operator defect. log1p's extra accuracy
    // near 0 is irrelevant here (1 − r and 1 − c^p are far from 1).
    // CeilEps: same breakpoint nudge as numPlanesFor, mirrored in SQL.
    val l = math.max(1,
      math.ceil(
        math.log(1.0 - targetRecall) / math.log(1.0 - cp) - CeilEps).toInt)
    require(l <= maxBands,
      f"recall SLA $targetRecall at threshold $threshold over n=$n needs " +
        f"$l bands (> maxBands $maxBands) at law planes p=$p: lower the " +
        "SLA, raise targetBucket (fewer planes per band), or raise " +
        "maxBands knowingly — cost is linear in bands")
    (p, l)
  }

  /** Recall-SLA selector for IVF multi-probe — [[bandsFor]]'s exact gap
    * closed for the cell-probed ANN family: given a `targetRecall` SLA
    * and the corpus size `n`, returns the `nprobe` to hand
    * [[ivfProbe]]/[[ivfTopK]].
    *
    * Model — POWER-LAW miss decay, calibrated on the measured curve:
    * miss(nprobe) ≈ miss(1) · nprobe^(−β). A geometric model (each
    * extra cell recovering the same fraction of residual misses) was
    * REJECTED against measurement: at the 220k decade / √n cells the
    * RecallBench ivfsplit leg measured misses 0.0141 → 0.0078 → 0.0047
    * → 0.0031 across nprobe 1/2/4/8 — β ≈ 0.73, i.e. late cells recover
    * much less than the first, exactly the tail a geometric model
    * inflates (it predicted 0.9998 at nprobe = 2; measured 0.9922).
    * Solving miss(1)·np^(−β) ≤ 1 − target:
    * nprobe = ⌈(miss₁ / (1 − target))^(1/β)⌉, with
    * miss₁ = 1 − `singleProbeRecall` (default the recorded 220k
    * single-probe measurement, 0.9828 — the lower of the two recorded
    * runs) and β = `missDecay` (default 0.7, just under the measured
    * 0.73 so the selector errs CONSERVATIVE — it buys probes, never
    * banks on tail recovery the curve doesn't deliver).
    *
    * Probe cost is linear in nprobe (query fan-out rows and in-cell
    * score work), so an SLA that needs more than `maxProbes` cells
    * fails loudly — same discipline as [[bandsFor]]'s band cap; under
    * this law a 0.999 SLA genuinely costs ~59 probes, and the selector
    * says so instead of quietly under-probing. nprobe is also capped at
    * the law cell count ⌈√n⌉ (probing every cell IS brute force).
    */
  def probesFor(
      targetRecall: Double, n: Long,
      singleProbeRecall: Double = 0.9828, missDecay: Double = 0.7,
      maxProbes: Int = 16): Int = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(singleProbeRecall > 0.0 && singleProbeRecall < 1.0,
      s"singleProbeRecall must be in (0, 1), got $singleProbeRecall")
    require(missDecay > 0.0, s"missDecay must be > 0, got $missDecay")
    val cells = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val miss1 = 1.0 - singleProbeRecall
    val targetMiss = 1.0 - targetRecall
    val np =
      if (targetMiss >= miss1) 1
      else math.ceil(math.pow(miss1 / targetMiss, 1.0 / missDecay)).toInt
    val capped = math.min(np, cells)
    require(capped <= maxProbes,
      f"recall SLA $targetRecall over n=$n needs $capped probes " +
        f"(> maxProbes $maxProbes) at measured single-probe recall " +
        f"$singleProbeRecall, miss decay $missDecay: lower the SLA or " +
        "raise maxProbes knowingly — probe cost is linear in nprobe")
    capped
  }

  /** The SRP bucket table of a corpus: `(_id, _v, _bkt, _n)`, eagerly
    * materialized. Internal input to pair generation AND the persistent
    * artifact of INCREMENTAL embedding dedup — store it (parquet,
    * partitioned by `_bkt`) and each ingest batch joins its own buckets
    * against the store instead of re-hashing the corpus (the embedding
    * twin of `Dedup.bandTable`).
    */
  def srpTable(
      corpus: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int = 4): DataFrame =
    Text.spread(corpus)
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        srpBucket(col(vecCol), numPlanes).as("_bkt"))
      .select(col("_id"), col("_v"), col("_bkt"), norm(col("_v")).as("_n"))
      .transform(Materialize.checkpoint)
      // self-describing store, stamped AFTER the checkpoint so the
      // in-session frame stays lean — see Dedup.requireStoreParams and
      // the bandTable note
      .withColumn("_params", lit(s"srp:p$numPlanes"))

  /** Incremental embedding near-dup: scored candidate pairs INVOLVING a
    * new ingest batch — new×new plus new×stored — given the persisted
    * [[srpTable]] of the existing corpus. The corpus is never re-hashed or
    * self-joined; each pair is normalized (id_a < id_b). Equivalence: on
    * (corpus ∪ batch) these are exactly the full run's pairs that touch
    * the batch (property-checked in specs). Cost per ingest: O(|batch|)
    * hashing + one bucket-key join against the store.
    */
  def cosineIncrementalCandidates(
      newVecs: DataFrame, idCol: String, vecCol: String,
      storedBuckets: DataFrame, threshold: Double,
      numPlanes: Int = 4): DataFrame = {
    // drift guard: a store hashed with a different plane count answers a
    // different bucket question — fail loudly, not zero candidates
    Dedup.requireStoreParams(storedBuckets, s"srp:p$numPlanes", "SRP bucket")
    val nb = srpTable(newVecs, idCol, vecCol, numPlanes)
    val nBatch = nb.count() // cheap: srpTable is checkpointed
    val a = nb.select(col("_bkt"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val bNew = nb.select(col("_bkt"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    val newNew = a.join(bNew, Seq("_bkt"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_va"), col("_na"),
        col("_vb"), col("_nb"))
    // A RETRIED ingest can present ids that already sit in the store; the
    // batch's copy is authoritative, and keeping the stored copy too
    // would emit the (x, y) pair twice (once new×new, once new×stored) —
    // breaking the full-run-pair-set equivalence. Anti-join, not
    // distinct: distinct would also have to dedup value columns and
    // costs a full-output shuffle; the anti-join is one bucket-key pass.
    //
    // Both store-side joins carry the batch-side broadcast hint
    // (size-dispatched): the persisted SRP store then STREAMS through
    // anti-join + bucket join in one shuffle-free pass — unhinted, each
    // plans sort-merge and re-shuffles the whole store per ingest (the
    // exactIncremental finding; an over-broadcast-sized backfill
    // degrades to the shuffle joins).
    val batchIds = graft.ops.Joins.broadcastIfSmall(
      nb.select(col("_id")), Some(nBatch))
    val stored = storedBuckets
      .join(batchIds, storedBuckets("_id") === batchIds("_id"), "left_anti")
      .select(col("_bkt"), col("_id").as("_sid"),
        col("_v").as("_vb"), col("_n").as("_nb"))
    val newStored = graft.ops.Joins.broadcastIfSmall(a, Some(nBatch))
      .join(stored, Seq("_bkt"))
      .where(col("id_a") =!= col("_sid"))
      .select(least(col("id_a"), col("_sid")).as("id_a"),
        greatest(col("id_a"), col("_sid")).as("id_b"),
        col("_va"), col("_na"), col("_vb"), col("_nb"))
    newNew.unionByName(newStored)
      .select(col("id_a"), col("id_b"),
        round(cosineFromNorms(dot(col("_va"), col("_vb")), col("_na"), col("_nb")), 6)
          .as("score"))
      .where(col("score") >= threshold)
  }

  /** IVF (inverted-file) approximate top-k. Coarse quantizer = the first
    * `nCentroids` corpus vectors by id (deterministic, oracle-replicable;
    * a production build would train k-means centroids offline). Every
    * vector is assigned to its max-cosine centroid (ties → smaller
    * centroid id); search compares the query only against its own cell.
    *
    * Centroids live on the driver (an IVF coarse quantizer is a model
    * artifact, not data) and are inlined as literals — cell assignment is
    * a pure map-side projection, no join, no shuffle of the corpus. Seed
    * extraction and the argmax expression are shared with kmeansFit
    * (seedCentroids/withCell): one definition for the tie-break/rounding
    * contract the oracle twins mirror. Multi-probe (nprobe > 1) fans out
    * QUERY rows to their nprobe nearest cells — the corpus side stays
    * one row per vector in its own cell, so the recall lever costs
    * query-batch-sized work, never a corpus pass.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nCentroids: Int = 4,
      nprobe: Int = 1): DataFrame = {
    val cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    ivfRank(
      withCell(corpus, idCol, vecCol, cents)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
          col("_cell"), norm(col(vecCol)).as("_cn")),
      queries, idCol, vecCol, cents, nprobe, k)
  }

  /** The cell-restricted cosine scan shared by the inline ([[ivfTopK]])
    * and artifact ([[ivfProbe]]) paths, which differ ONLY in where the
    * corpus frame `(neighbor_id, _cv, _cell, _cn)` comes from.
    */
  private def ivfRank(
      corpusSide: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Long, Seq[Double])], nprobe: Int,
      k: Int): DataFrame =
    cosineScan(
      withCells(queries, idCol, vecCol, cents, nprobe)
        .select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
          col("_cell"), norm(col(vecCol)).as("_qn")),
      corpusSide, Some("_cell"), k)

  /** Deterministic fingerprint of a centroid model — stamped into the
    * [[ivfBuild]] artifact and re-derived by [[ivfProbe]] from the model
    * it was handed, so probing a disk artifact with a DIFFERENT model
    * (re-seeded after the corpus grew, different k) fails loudly: the
    * query cells and the artifact's corpus cells would come from two
    * different quantizers, and every same-cell join silently returns
    * wrong-cell neighbors — a recall collapse that looks like success.
    */
  private def centsFingerprint(cents: Seq[(Long, Seq[Double])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    // canonical order: a set-identical model reloaded in a different
    // row order is the SAME quantizer and must not be refused
    cents.sortBy(_._1).foreach { case (id, v) =>
      buf.clear(); buf.putLong(id)
      md.update(buf.array())
      v.foreach { d => buf.clear(); buf.putDouble(d); md.update(buf.array()) }
    }
    s"ivf:k${cents.size}:" +
      md.digest().map("%02x".format(_)).mkString.take(12)
  }

  /** The bucketed `_cell` layout every IVF artifact is written and read
    * back with (a read needs only the catalog prefix, not the bucket
    * count).
    */
  private def cellSink(numBuckets: Int, prefix: String) =
    graft.sources.BucketedSink(numBuckets, Seq("_cell"), Seq("_cell"), prefix)

  /** The IVF artifact/probe split — the production shape of [[ivfTopK]].
    * [[ivfTopK]] rebuilds the corpus cell assignment inline on every
    * query; a deployment builds it ONCE per model refresh and amortizes
    * it over every query batch until the next refresh. `ivfBuild`
    * persists the assigned corpus `(id, vec, _cell, _vn)` through
    * [[graft.sources.BucketedSink]] bucketed on `_cell`, and precomputes
    * the vector norms, so the probe pays neither the assignment nor the
    * norm pass. The probe broadcasts its queries like every top-k here,
    * so the corpus reaches the join with zero Exchange whatever its file
    * layout (PlanSpec pins it). What the bucket spec keeps is each cell's
    * rows in one bucket: a scan filtered to a few cells prunes whole
    * buckets, and a join against another `_cell`-bucketed table skips its
    * shuffle.
    *
    * Returns the centroid model (the same driver-side artifact
    * [[ivfTopK]] derives inline) — callers hand it to [[ivfProbe]], the
    * same split as a k-means model: artifact on disk, model in hand.
    */
  def ivfBuild(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, numBuckets: Int, target: String, table: String,
      tablePrefix: String = "ivf"): Seq[(Long, Seq[Double])] = {
    val cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    val assigned = withCell(corpus, idCol, vecCol, cents)
      .withColumn("_vn", norm(col(vecCol)))
      // self-describing artifact: the quantizer that assigned these
      // cells, as a constant column (free under parquet dictionary
      // encoding) — see centsFingerprint
      .withColumn("_params", lit(centsFingerprint(cents)))
    cellSink(numBuckets, tablePrefix).write(assigned, target, table, "parquet")
    cents
  }

  /** Catalog-resolved read of an [[ivfBuild]] artifact — keeps the bucket
    * spec visible to the planner (a bare-path read would silently drop it).
    */
  def ivfAssigned(
      spark: org.apache.spark.sql.SparkSession, target: String,
      table: String, tablePrefix: String = "ivf"): DataFrame =
    cellSink(1, tablePrefix).read(spark, target, table)

  /** Probe a persisted [[ivfBuild]] assignment: queries are assigned
    * map-side against the centroid model (no corpus touch), then joined
    * to the bucketed corpus on `_cell`. At `nprobe = 1` this is
    * bit-identical to [[ivfTopK]] on the same corpus — same assignment
    * expression (`vec_top_cells(..., 1)(0) ≡ vec_argmax_cell`, spec-
    * pinned), same scoring arithmetic (`_vn` was computed by the same
    * `norm` at build time), same rank tail — so the two paths share
    * one oracle. `nprobe > 1` probes the query's nprobe nearest cells
    * (the standard IVF recall lever; size it with [[probesFor]]): the
    * fan-out multiplies QUERY rows only.
    */
  def ivfProbe(
      queries: DataFrame, assigned: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[(Long, Seq[Double])],
      nprobe: Int = 1): DataFrame = {
    // model-drift guard: the artifact records which quantizer assigned
    // its cells; probing with a different model would join query cells
    // from one quantizer to corpus cells from another (silent recall
    // collapse). Pre-column artifacts are tolerated.
    Dedup.requireStoreParams(assigned, centsFingerprint(cents), "IVF")
    ivfRank(
      assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        col("_cell"), col("_vn").as("_cn")),
      queries, idCol, vecCol, cents, nprobe, k)
  }

  /** Deterministic centroid seeds: the first `k` corpus vectors by id,
    * collected as a driver-side model artifact (Float widened exactly,
    * matching CAST(FLOAT AS DOUBLE)). Shared by the IVF quantizer and
    * the k-means trainer so both sides of the oracle gate see one seed
    * definition.
    *
    * Vector ids are NUMERIC by contract across the whole ANN/k-means
    * family — the centroid artifact is `Seq[(Long, Seq[Double])]` and
    * cell ids ARE centroid row ids (unlike the dedup family, which is
    * id-type-agnostic because doc ids are routinely strings). A
    * string-keyed embedding corpus should join a dense numeric alias
    * before seeding; under ANSI the cast below fails loudly rather
    * than mislabeling.
    */
  private[graft] def seedCentroidsFor(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Long, Seq[Double])] = seedCentroids(corpus, idCol, vecCol, k)

  private def seedCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Long, Seq[Double])] =
    corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: java.lang.Number => n.doubleValue
        case null => throw new IllegalArgumentException(
          s"centroid seed vector id=${r.getLong(0)} contains a null " +
            "element — filter or repair embeddings before seeding " +
            "centroids (assignment paths tolerate null elements as " +
            "NULL rows; a seed cannot)")
      }.toSeq)).toSeq

  /** Max-cosine cell assignment against a driver-side centroid set
    * (model artifact, inlined as literals — a pure map-side projection,
    * no join, no shuffle of the corpus; ties → smaller centroid id).
    * A vector with a NULL element assigns to NULL — without the guard,
    * every per-centroid score is null, struct ordering treats the all-
    * null scores as ties, and the max silently falls through to the
    * SMALLEST centroid id as if it were a real assignment; the native
    * `vec_argmax_cell` and `cellsByJoin` paths return NULL for that row,
    * and the three-way contract requires one answer.
    */
  private def cellOf(v: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    when(exists(v, e => e.isNull) || size(v) =!= lit(dim),
        lit(null).cast("long"))
      .otherwise(
        array_max(array(cents.map { case (cid, cv) =>
          val cvLit = array(cv.map(lit): _*)
          struct(round(cosine(v, cvLit), 9).as("s"), lit(-cid).as("nid"))
        }: _*)).getField("nid") * -1)
  }

  /** Corpus `(id, vec)` → `(id, vec, _cell)`: max-cosine assignment
    * against a centroid model via the native `vec_argmax_cell` codegen
    * expression (graft.functions.VecArgmaxCell) — ONE generated loop
    * over the k×dim matrix reference object, map-side, zero shuffle, at
    * ANY cell count. The dense argmax index decodes to the centroid id
    * through a folded literal array.
    *
    * Why an expression (measured at sf1, 20k vectors, k = 141 — SCALE.md
    * round 8): [[cellsByLiteral]] (k inlined cosine branches) blows the
    * codegen method limits past a few dozen centroids and drops the
    * projection to interpreted evaluation (16.5 s); [[cellsByJoin]]
    * (broadcast centroid table + primitive-packed argmax aggregation)
    * pays the k-fold row multiply and a corpus shuffle (8 s); the native
    * loop does the same arithmetic in ~0.5 s. Both alternatives are kept
    * as the measured baselines and for the three-way equivalence spec —
    * all three share the tie/rounding contract (round(cos, 9) DESC,
    * ties → smaller cid, NaN ranks greatest).
    */
  private[graft] def withCell(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val (mat, cidArr) = centModel(cents)
    corpus.select(col(idCol), col(vecCol),
      element_at(cidArr,
        call_function("vec_argmax_cell", col(vecCol), mat) + 1).as("_cell"))
  }

  /** A centroid model as plan literals: the k×dim matrix and the centroid
    * ids, both in ascending-id order, so dense index i decodes to id
    * `element_at(ids, i + 1)`. Single-Literal model artifacts (the
    * bookMat/bpeTokens shape): at the √n law cell count a CreateArray
    * matrix was k×dim literal nodes (≈2,900 at sf0.1's k=45) re-walked by
    * every analyzer pass — plan-construction overhead, not row work.
    */
  private def centModel(cents: Seq[(Long, Seq[Double])]): (Column, Column) = {
    val ordered = cents.sortBy(_._1)
    (modelConst(typedlit(ordered.map(_._2.toSeq))),
      modelConst(typedlit(ordered.map(_._1))))
  }

  /** Query `(id, vec)` → `(id, vec, _cell)` with ONE ROW PER PROBED
    * CELL: the multi-probe generalization of [[withCell]], built on the
    * native `vec_top_cells` loop (same contract, element 0 ≡ argmax).
    * At `nprobe = 1` the output is row-for-row [[withCell]] minus the
    * NULL-cell rows (`explode` drops them; every consumer joins on
    * `_cell`, where a NULL never matches — spec-pinned equivalence).
    * Intended for QUERY sides: the fan-out is nprobe × |queries| rows.
    * Corpus sides keep [[withCell]] — a corpus vector lives in exactly
    * one cell.
    */
  private[graft] def withCells(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    if (nprobe == 1) {
      // single-probe stays on the argmax expression — same generated
      // loop as the pre-multi-probe operator; the NULL-cell filter only
      // drops rows a downstream `_cell` join would drop anyway
      withCell(corpus, idCol, vecCol, cents)
        .where(col("_cell").isNotNull)
    } else {
      val (mat, cidArr) = centModel(cents)
      corpus.select(col(idCol), col(vecCol),
        explode(transform(
          call_function("vec_top_cells", col(vecCol), mat, lit(nprobe)),
          i => element_at(cidArr, i + 1))).as("_cell"))
    }
  }

  private[graft] def cellsByLiteral(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      cellOf(col(vecCol), cents).as("_cell"))

  private[graft] def cellsByJoin(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // (score, cell) packed into ONE long so the argmax is a plain
    // max() over a PRIMITIVE buffer — a struct/array aggregation buffer
    // would force sort-based aggregation of the k-fold row multiply
    // (measured 6.7 s vs ~1 s at sf1/k=141 for exactly this reason):
    // enc = round9(cos)·1e9 · 2^20 − denseIndex. max(enc) picks max
    // score then MIN dense index; indices are assigned in ascending cid
    // order, so min index = min cid — the literal path's tie contract.
    val M = 1 << 20
    require(cents.size < M, s"cell count ${cents.size} exceeds $M")
    val ordered = cents.sortBy(_._1)
    // centroid norms precomputed driver-side with the same left-to-right
    // accumulation vec_dot uses, so the per-row cosine is ONE dot product
    val centDf = ordered.zipWithIndex.map { case ((_, cv), i) =>
      var s = 0.0; cv.foreach(x => s += x * x)
      (i, cv, math.sqrt(s))
    }.toDF("_ci", "_cv", "_cn")
      .select(col("_ci"), col("_cv").cast("array<double>"), col("_cn"))
    val (_, cidArr) = centModel(cents)
    // k-row broadcast side: this cross join is the centroid-model
    // attachment, the same broadcast-small-side class as the scalar
    // attachments — never corpus × corpus
    val np = col("_n") * col("_cn")
    // same zero-norm-→-NaN semantics as [[cosine]] (ANSI would throw)
    val cos9 = round(
      when(np === lit(0.0), lit(Double.NaN))
        .otherwise(dot(col(vecCol), col("_cv")) / np), 9)
    // NaN cosine (zero-norm vector or centroid) must rank GREATEST to
    // match the literal/native paths' contract; under non-ANSI semantics
    // NaN.cast(long) is 0, which would rank it mid-pack instead. Encode
    // it above any representable score (|s9·1e9| ≤ 1e9 < MaxValue/M).
    val s9 = when(isnan(cos9), lit(Long.MaxValue / M))
      .otherwise(round(cos9 * 1e9, 0).cast("long"))
    val enc = (s9 * M) - col("_ci")
    corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("_n"))
      .crossJoin(broadcast(centDf))
      .groupBy(col(idCol), col(vecCol))
      .agg(max(enc).as("_enc"))
      .select(col(idCol), col(vecCol),
        element_at(cidArr,
          (pmod(-col("_enc"), lit(M.toLong)) + 1).cast("int")).as("_cell"))
  }

  /** Per-cell mean centroids of an assigned corpus, engine-portable:
    * decimal(28,10) per-position sums (exact, order-independent — float
    * partial-merge order differs per engine/partitioning) divided at the
    * end and rounded to 6, the q_centroid discipline. ONE (cell, pos)-
    * keyed hash aggregate over the corpus, map-side partials; the k×dim
    * result is a model artifact and is collected (same precedent as the
    * IVF coarse quantizer, ivfTopK above).
    */
  private def meansOf(
      assigned: DataFrame, vecCol: String): Seq[(Long, Seq[Double])] =
    assigned
      .select(col("_cell"), posexplode(col(vecCol)).as(Seq("_pos", "_x")))
      .groupBy("_cell", "_pos")
      .agg(sum(col("_x").cast("decimal(28,10)")).as("_s"),
        count(lit(1)).as("_n"))
      .groupBy("_cell")
      // NOTE on cross-engine portability (round 10): the 6dp mean is
      // NOT bit-portable — decimal→double casting differs between
      // engines at the last ulp (Java's BigDecimal path vs DuckDB's
      // unscaled-hugeint route, which exceeds 2^53 and double-rounds),
      // and a one-microunit mean flip moves downstream cosines by
      // ~1e-7. The ASSIGNMENT survives this (a flip would need two
      // cells within 1e-9 of each other at round9), so cells are the
      // graded contract; raw per-row scores derived from means are
      // diagnostics, not oracle-comparable values (q_kmeans_assign
      // grades (vec_id, cell) for exactly this reason).
      .agg(sort_array(collect_list(struct(col("_pos"),
        round(col("_s").cast("double") / col("_n"), 6).as("v")))).as("_c"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)).toSeq))
      .sortBy(_._1).toSeq

  /** Distributed Lloyd's k-means — the trainer `ivfTopK`'s doc defers to
    * ("a production build would train k-means centroids offline").
    * Deterministic seeding (first `k` corpus vectors by id, the same
    * convention the IVF quantizer uses), then `iters` rounds of:
    * map-side argmax-cosine assignment against the broadcast-literal
    * centroids → one (cell, pos)-keyed decimal-exact mean aggregate.
    * Per round the corpus is scanned once and shuffled never (the only
    * shuffle carries k×dim partial sums). Empty cells drop out (their
    * seed won no vectors) — standard Lloyd behavior.
    *
    * Returns the trained (cell id, centroid) model — k×dim doubles, a
    * model artifact like the IVF centroid set, NOT corpus-sized data.
    */
  def kmeansFit(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 4): Seq[(Long, Seq[Double])] = {
    val seeds = seedCentroids(corpus, idCol, vecCol, k)
    kmeansFitFrom(corpus, idCol, vecCol, seeds, iters)
  }

  /** [[kmeansFit]] from CALLER-SUPPLIED seeds — the Lloyd rounds are
    * identical (`kmeansFit` == `kmeansFitFrom(seedCentroids(...))` by
    * construction); pass [[kmeansParallelSeeds]] when seed QUALITY
    * matters more than the first-k-by-id determinism convention the
    * oracle-graded rows pin (both seedings are deterministic; they pin
    * different things — the graded rows stay on first-k because the
    * DuckDB twin reproduces it in one ORDER BY/LIMIT).
    */
  def kmeansFitFrom(
      corpus: DataFrame, idCol: String, vecCol: String,
      seeds: Seq[(Long, Seq[Double])], iters: Int = 4): Seq[(Long, Seq[Double])] =
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      meansOf(
        withCell(corpus, idCol, vecCol, cents).select(col(vecCol), col("_cell")),
        vecCol)
    }

  /** Deterministic hash-sample of a corpus: keep rows whose seeded
    * md5-prefix (first 8 hex chars, a uniform 32-bit draw — the
    * q_sample_hash / mixture-sampling device) falls below `frac` of the
    * hex space. Reproducible across runs, engines, and partitionings —
    * unlike `DataFrame.sample`, whose RNG is split-dependent. Pure
    * map-side filter; `frac >= 1` short-circuits to the corpus itself
    * (the 8-hex-char comparison cannot express the closed upper bound).
    */
  def hashSampled(corpus: DataFrame, idCol: String, frac: Double,
      seed: String = "km:"): DataFrame = {
    require(frac > 0, s"frac must be > 0, got $frac")
    if (frac >= 1.0) corpus
    else {
      val bound = f"${math.floor(frac * 4294967296.0).toLong}%08x"
      corpus.where(substring(
        md5(concat(lit(seed), col(idCol).cast("string"))), 1, 8) < lit(bound))
    }
  }

  /** [[kmeansFit]] trained on a deterministic [[hashSampled]] fraction
    * of the corpus — the 100 TB Lloyd path. Full-corpus training costs
    * O(iters · n · k · d) assignment work, and at the ⌈√n⌉ law point
    * that is O(iters · n^1.5 · d); centroids are means, so a uniform
    * sample's means converge at O(1/√(n·frac)) per cell — at web scale
    * a 1–10% sample moves cell boundaries by less than the quantize
    * step while cutting trainer cost 10–100×. The FULL corpus is still
    * assigned in the one existing map-side pass (`withCell` /
    * `ivfTopKFrom(kmeansFitSampled(...))`), so only TRAINING sees the
    * sample. Deterministic end to end: the sample is a pure function of
    * (seed, id), seeding stays first-k-by-id within the sample.
    */
  def kmeansFitSampled(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 4, frac: Double = 0.1,
      seed: String = "km:"): Seq[(Long, Seq[Double])] = {
    // cache the sample: seeding + every Lloyd round re-scans it, and
    // without the cache each scan re-reads (and re-filters) the corpus
    val sample = hashSampled(corpus, idCol, frac, seed)
    val materialized = if (frac >= 1.0) sample else sample.cache()
    try kmeansFit(materialized, idCol, vecCol, k, iters)
    finally if (frac < 1.0) { materialized.unpersist(); () }
  }

  /** Cosine k-means inertia of a centroid model over a corpus:
    * Σ (1 − cos(x, nearest center)) — the quality number seeding
    * strategies compare on. One map-side pass (argmax cell + one dot
    * against the assigned centroid), one global sum; zero-norm/NULL
    * vectors are excluded (they have no meaningful angle to any
    * center).
    */
  def inertia(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): Double = {
    val (mat, _) = centModel(cents)
    corpus
      .select((lit(1.0) - cosine(col(vecCol),
        element_at(mat,
          call_function("vec_argmax_cell", col(vecCol), mat) + 1))).as("_d"))
      .where(col("_d").isNotNull && !isnan(col("_d")))
      .agg(coalesce(sum("_d"), lit(0.0))).head().getDouble(0)
  }

  /** k-means‖ seeding (Bahmani et al. 2012, "Scalable k-means++",
    * PVLDB 5(7) — the distributed kmeans++ replacement): instead of k
    * sequential corpus passes (kmeans++) or quality-arbitrary first-k
    * ids, oversample candidates in `rounds` parallel passes — each
    * point joins the candidate set independently with probability
    * min(1, ℓ·d²(x, C)/φ) where φ = Σ d² — then reduce the ~ℓ·rounds
    * candidates to k centers driver-side by weighted greedy
    * farthest-first (weights = corpus points nearest each candidate).
    *
    * Deterministic BY CONSTRUCTION, unlike the paper's coin flips: the
    * per-point draw is the engine's seeded md5-prefix filter (the same
    * device as mixture sampling — reproducible across runs and
    * engines), the first center is the min-id vector, and the
    * reduction breaks ties by id. Cosine dissimilarity d² = 1 − cos.
    *
    * Scale shape: each round is one map-side pass (argmax against ≤
    * |C| broadcast-literal centers + one dot) plus one scalar agg for
    * φ; the candidate set (≈ ℓ·rounds + 1, default ≈ 2k·rounds) is the
    * only thing collected. Same discipline as every model artifact
    * here: corpus never shuffles for seeding.
    */
  def kmeansParallelSeeds(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int = 4, oversample: Double = 0.0): Seq[(Long, Seq[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val l = if (oversample > 0) oversample else 2.0 * k
    val clean = corpus
      .where(col(vecCol).isNotNull && !exists(col(vecCol), e => e.isNull))
      .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"),
        norm(col(vecCol)).as("_n"))
      .where(col("_n") > 0)
    // first center: min-id (deterministic; a seed, not a sample)
    val first = clean.orderBy(col("_id")).limit(1)
      .select(col("_id"), col("_v")).collect()
      .map(r => (r.getLong(0), toDoubleSeq(r.get(1)))).toSeq
    var cands = first
    // a corpus with no usable vectors (all NULL/zero-norm) has no first
    // center; skip the sampling rounds — an empty candidate matrix
    // would fail vec_argmax_cell's analysis — and fall through to the
    // first-k pad, which is the only meaningful answer there
    (1 to (if (first.isEmpty) 0 else rounds)).foreach { r =>
      val (mat, _) = centModel(cands)
      val scored = clean.select(col("_id"), col("_v"),
        (lit(1.0) - cosine(col("_v"),
          element_at(mat,
            call_function("vec_argmax_cell", col("_v"), mat) + 1))).as("_d2"))
        .where(!isnan(col("_d2")) && col("_d2") > 0)
      // φ summed EXACTLY in 1e-9 units (decimal, associative) — a plain
      // double sum is partial-merge-order dependent, so the draw cutoff
      // floor(p·2³²) could flip at ulp boundaries between local[4] and
      // a 1000-executor run, breaking the documented determinism. Same
      // discipline as meansOf's micro-unit accumulation; d² ∈ [0, 2] so
      // units fit comfortably in decimal(38,0).
      val phiUnits = scored
        .agg(coalesce(sum(round(col("_d2") * 1e9, 0).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0)
      val phi = phiUnits.doubleValue / 1e9
      if (phi > 0) {
        val p = least(lit(1.0), lit(l) * col("_d2") / lit(phi))
        // p ≥ 1 keeps the point explicitly — same guard as
        // Text.mixtureSample: floor(1.0·2^32) renders as 9 hex digits
        // and only ~1/16 of 8-char md5 prefixes compare below it, so
        // without this clause a far outlier with saturated probability
        // is MISSED ~77% of the time across 4 rounds — the exact
        // degenerate seeding k-means‖ exists to fix
        val drawn = scored
          .where(lit(l) * col("_d2") >= lit(phi) ||
            substring(md5(concat(lit(s"kpp:$r:"),
              col("_id").cast("string"))), 1, 8) <
            format_string("%08x", floor(p * 4294967296d).cast("long")))
          .select(col("_id"), col("_v")).collect()
          .map(rr => (rr.getLong(0), toDoubleSeq(rr.get(1)))).toSeq
        val known = cands.map(_._1).toSet
        cands = cands ++ drawn.filterNot(c => known(c._1))
      }
    }
    // pad degenerate draws (tiny corpora, all-identical vectors) so the
    // contract "returns k centers when the corpus has k distinct ids"
    // holds. Preference order: USABLE vectors first (the `clean` frame —
    // padding from the raw corpus would re-admit exactly what clean
    // excluded: a null-element embedding among the first k ids throws
    // in seedCentroids even when enough usable vectors exist, and a
    // zero-norm pad seed's NaN cosines capture every point in the
    // weights pass); raw corpus only when clean is exhausted (the
    // all-degenerate case, where first-k of raw IS the contract),
    // skipping null-element vectors which can never be a seed.
    if (cands.size < k) {
      val known = cands.map(_._1).toSet
      val fromClean = clean.orderBy(col("_id")).limit(k + cands.size)
        .select(col("_id"), col("_v")).collect()
        .map(r => (r.getLong(0), toDoubleSeq(r.get(1)))).toSeq
        .filterNot(c => known(c._1))
      cands = (cands ++ fromClean).take(k)
    }
    if (cands.size < k) {
      val known = cands.map(_._1).toSet
      val fromRaw = corpus
        .where(col(vecCol).isNotNull && !exists(col(vecCol), e => e.isNull))
        .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
        .orderBy(col("_id")).limit(k + cands.size)
        .collect()
        .map(r => (r.getLong(0), toDoubleSeq(r.get(1)))).toSeq
        .filterNot(c => known(c._1))
      cands = (cands ++ fromRaw).take(k)
    }
    if (cands.size <= k) return cands.sortBy(_._1).take(k)
    // weights: corpus points nearest each candidate (one map-side pass)
    val ordered = cands.sortBy(_._1)
    val weights = withCell(
      clean.select(col("_id"), col("_v")), "_id", "_v", ordered)
      .groupBy("_cell").count().collect()
      .map(rr => rr.getLong(0) -> rr.getLong(1)).toMap
    // weighted greedy farthest-first reduction, ties by id: start at the
    // heaviest candidate, then repeatedly take argmax weight·d²(c, chosen)
    def cosTo(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0) 0.0 else dot / d
    }
    val start = ordered.maxBy(c => (weights.getOrElse(c._1, 0L), -c._1))
    val chosen = scala.collection.mutable.ArrayBuffer(start)
    val remaining = scala.collection.mutable.ArrayBuffer(
      ordered.filterNot(_._1 == start._1): _*)
    while (chosen.size < k && remaining.nonEmpty) {
      val next = remaining.maxBy { c =>
        val d2 = 1.0 - chosen.map(ch => cosTo(c._2, ch._2)).max
        (weights.getOrElse(c._1, 0L).toDouble * d2, -c._1.toDouble)
      }
      chosen += next
      remaining -= next
    }
    chosen.sortBy(_._1).toSeq
  }

  private def toDoubleSeq(v: Any): Seq[Double] =
    v.asInstanceOf[scala.collection.Seq[Any]].map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: java.lang.Number => n.doubleValue
      case null => 0.0
    }.toSeq

  /** One per-iteration observation from [[kmeansFitTrace]]: round number
    * (1-based), wall seconds for the round, and the max absolute
    * per-coordinate centroid shift vs the previous round (over cells
    * present in both — a dropped empty cell does not register as shift).
    */
  final case class KmeansIter(iter: Int, seconds: Double, maxShift: Double)

  /** [[kmeansFit]] with per-iteration observability and an optional
    * convergence stop: identical arithmetic round for round (the fold
    * just records wall time and centroid shift between rounds), so
    * `kmeansFitTrace(...).model == kmeansFit(...)` — spec-pinned.
    * Training stops early once the max centroid shift falls to `tol` or
    * below (a zero shift always stops: an exact fixpoint cannot move
    * again, so the model still equals the full-`iters` run); the trace's
    * length IS the iterations-to-convergence evidence (SCALE.md records
    * the sf1/sf10 rows). Per-round cost is one map-side corpus scan against
    * broadcast-literal centroids plus the k×dim partial-sum shuffle —
    * flat per round, which the per-iteration seconds make measurable.
    */
  def kmeansFitTrace(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 4, tol: Double = 0.0)
      : (Seq[(Long, Seq[Double])], Seq[KmeansIter]) = {
    val seeds = seedCentroids(corpus, idCol, vecCol, k)
    val trace = Seq.newBuilder[KmeansIter]
    var cents = seeds
    var it = 0
    var shift = Double.MaxValue
    while (it < iters && shift > tol) {
      it += 1
      val t0 = System.nanoTime()
      val next = meansOf(
        withCell(corpus, idCol, vecCol, cents).select(col(vecCol), col("_cell")),
        vecCol)
      val sec = (System.nanoTime() - t0) / 1e9
      val prev = cents.toMap
      shift = next.flatMap { case (cid, cv) =>
        prev.get(cid).map(pv => cv.zip(pv).map { case (a, b) => math.abs(a - b) }.max)
      } match {
        case Nil => 0.0
        case ds => ds.max
      }
      trace += KmeansIter(it, sec, shift)
      cents = next
    }
    (cents, trace.result())
  }

  /** recall@k of an approximate ANN result against ground truth: the
    * fraction of truth (query_id, neighbor_id) pairs the approximate
    * result recovered. Engine-side (one semi join + two counts) — works
    * at any corpus size the truth itself can be computed at.
    */
  def recallVs(truth: DataFrame, approx: DataFrame): Double = {
    val t = truth.select("query_id", "neighbor_id")
    val total = t.count()
    require(total > 0, "empty ground truth")
    val hits = t.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    hits.toDouble / total
  }

  /** One Lloyd refinement + full-corpus assignment, end-to-end in the
    * engine: seed cells from the first-k-by-id quantizer, refine each
    * cell's centroid to its decimal-exact mean, then assign every vector
    * to its max-cosine refined centroid (ties → smaller cell id).
    * Output: (id, cell, score = cosine to the refined centroid, 6dp).
    * This is `kmeansFit(iters = 1)` + assignment, shaped for the oracle
    * gate — the DuckDB twin reproduces seeds, means, and assignment
    * bit-exactly, which grades the whole training step.
    */
  def kmeansRefineAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 4): DataFrame = {
    val cents = kmeansFit(corpus, idCol, vecCol, k, iters = 1)
    // native argmax + ONE cosine against the winning centroid (decoded
    // from the same model_const matrix): identical cell/score contract as
    // the k-inlined array_max(struct...) formulation this replaces —
    // which blew the codegen method limits past a few dozen centroids
    // (the cellsByLiteral lesson) and priced 2k cosines per row where
    // the law k = ⌈√n⌉ needs k + 1
    val (mat, cidArr) = centModel(cents)
    val idx = call_function("vec_argmax_cell", col(vecCol), mat)
    // the score is a DIAGNOSTIC, not an oracle-comparable value: it is
    // a cosine against 6dp-rounded means, and those means are not
    // bit-portable across engines (see meansOf) — the graded row
    // projects (id, cell) only and the spec pins the score Spark-side
    corpus.select(col(idCol),
      element_at(cidArr, idx + 1).as("cell"),
      round(cosine(col(vecCol), element_at(mat, idx + 1)), 6).as("score"))
  }

  /** SemDeDup — semantic deduplication via k-means cells + within-cell
    * cosine pruning (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the corpus with the one-step Lloyd
    * quantizer ([[kmeansRefineAssign]]'s cells — seeds, decimal-exact
    * means, argmax-cosine assignment, all oracle-graded already), then
    * within each cell drop every vector that has a SMALLER-id neighbor
    * at cosine >= `threshold`. Keep-min-id is the deterministic stand-in
    * for the paper's keep-farthest-from-centroid (any per-group
    * tie-broken priority yields the paper's semantics; min-id matches
    * this engine's keeper conventions and makes the DuckDB twin exact).
    * The greedy-by-id rule is closure-free: b is dropped when ANY a < b
    * in its cell clears the threshold, whether or not a itself survives
    * — one bucket self-join decides every row, no iteration.
    *
    * Output: `(id, cell)` survivors.
    *
    * Scale shape at 100 TB: cell assignment is a map-side projection
    * against broadcast-literal centroids (zero corpus shuffle — the
    * [[ivfTopK]] discipline); the pruning join is keyed by cell, so pair
    * work is Σ|cell|² — bounded by growing k with the corpus exactly
    * like the IVF quantizer (√n cells keeps in-cell pair work ~n·√n at
    * fixed cell size), never all-pairs. The assigned frame is
    * materialized once and feeds both join sides plus the anti-join.
    */
  def semDeDup(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, threshold: Double = 0.4): DataFrame = {
    val cents = kmeansFit(corpus, idCol, vecCol, k, iters = 1)
    val assigned = withCell(corpus, idCol, vecCol, cents)
      .select(col(idCol), col(vecCol), col("_cell").as("cell"),
        norm(col(vecCol)).as("_n"))
      .transform(Materialize.checkpoint)
    val a = assigned.select(col("cell"), col(idCol).as("_id_a"),
      col(vecCol).as("_va"), col("_n").as("_na"))
    val b = assigned.select(col("cell"), col(idCol).as("_id_b"),
      col(vecCol).as("_vb"), col("_n").as("_nb"))
    val shadowed = a.join(b, Seq("cell"))
      .where(col("_id_a") < col("_id_b"))
      .where(round(cosineFromNorms(dot(col("_va"), col("_vb")), col("_na"), col("_nb")), 6)
        >= threshold)
      .select(col("_id_b").as(idCol)).distinct()
    assigned
      .join(shadowed, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** Retrieval-evaluation metrics — recall@k, MRR and binary-relevance
    * nDCG@k per query — for an approximate ranking (`results`) against
    * an exact one (`truth`), both in the (query_id, neighbor_id, rank)
    * top-k shape. This is the measurement half every ANN ladder
    * owes: the RecallBench harnesses report corpus aggregates; this is
    * the OPERATOR form a pipeline runs per evaluation batch (and the
    * per-query frame those aggregates mean over).
    *
    *  - relevant set = truth rows with rank ≤ k (so |relevant| ≤ k and
    *    recall@k = hits / |relevant| — the truth side defines its own
    *    depth; queries absent from `results` score 0 across the board);
    *  - MRR = 1 / (first relevant rank), 0 when no hit (the standard
    *    convention);
    *  - nDCG@k with binary gains: DCG = Σ_hits 1/log₂(rank+1), IDCG =
    *    Σ_{i=1..|relevant|} 1/log₂(i+1).
    *
    * Scale shape: both inputs are |queries| × k frames — one equi-join
    * on (query, neighbor), two partial-aggregable per-query aggregates,
    * no window, nothing corpus-sized. Metrics round to 6dp (the cosine
    * gate discipline) so the DuckDB twin reproduces them exactly.
    */
  def retrievalMetrics(
      results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"retrievalMetrics: k >= 1, got $k")
    val rel = truth.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val relN = rel.groupBy("query_id")
      .agg(count(lit(1)).as("n_relevant"))
    val hits = results.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(rel, Seq("query_id", "neighbor_id"))
    val agg = hits.groupBy("query_id").agg(
      count(lit(1)).as("_nh"),
      max(lit(1.0) / col("rank")).as("_mrr"), // 1/min(rank) = max(1/rank)
      sum(lit(1.0) / log2(col("rank") + lit(1))).as("_dcg"))
    val idcg = aggregate(
      sequence(lit(1), col("n_relevant").cast("int")),
      lit(0.0d), (acc, i) => acc + lit(1.0) / log2(i + lit(1)))
    relN.join(agg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("_nh"), lit(0L)).as("n_hits"),
        round(coalesce(col("_nh"), lit(0L)).cast("double") /
          col("n_relevant"), 6).as("recall"),
        round(coalesce(col("_mrr"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("_dcg"), lit(0.0)) / idcg, 6).as("ndcg"))
  }

  /** Embedding-space benchmark decontamination — the SEMANTIC arm of the
    * decontamination ladder (exact shingles → minhash fuzzy →
    * winnowed spans → this): drop every corpus doc whose embedding
    * sits within cosine ≥ `threshold` of ANY benchmark embedding.
    * Paraphrase-level eval leakage survives all text-overlap detectors
    * (no shared n-grams), but a decent encoder maps it next to its
    * source — which is exactly what this catches.
    *
    * Shape: the benchmark is eval-suite-sized by construction, so its
    * (vector, norm) pairs ride ONE broadcast; the corpus streams a
    * single scan through a broadcast nested-loop LEFT ANTI join — zero
    * shuffle at any corpus size, |corpus| × |benchmark| dot products of
    * map-side work (the native `vec_dot` kernel). For benchmarks too
    * big for that product, bucket BOTH sides first and restrict the
    * comparison to shared buckets — the [[cosineNearDupPairsBanded]] /
    * [[semDeDup]] machinery; the exact arm here is the graded truth
    * those approximations are sized against.
    *
    * Malformed (zero-norm / NaN) scores never count as contamination
    * hits (the explicit isnan guard — BOTH engines would otherwise
    * treat NaN ≥ τ as true, silently deleting every failed-embedding
    * row as "contaminated"); such rows pass through to the quality/
    * dedup stages whose job they are. Scores compare at 6dp like every
    * cosine gate in this file, so the DuckDB twin reproduces the
    * survivor set exactly.
    */
  def semanticDecontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      vecCol: String, threshold: Double): DataFrame =
    semanticScreen(corpus, benchmark, vecCol, threshold, "left_anti")

  /** The COMPLEMENT of [[semanticDecontaminate]] — the corpus rows that
    * DO sit within cosine ≥ `threshold` of a benchmark embedding (one
    * broadcast semi scan, same condition, same NaN guard). This is the
    * drop-set form a composed pipeline wants: the curation chain
    * anti-joins these ids off its survivor frame, so docs WITHOUT an
    * embedding row are untouched (can't check → pass through — the
    * conservative direction for a coverage-partial embedding table).
    */
  def semanticContaminated(
      corpus: DataFrame, benchmark: DataFrame,
      vecCol: String, threshold: Double): DataFrame =
    semanticScreen(corpus, benchmark, vecCol, threshold, "left_semi")

  private def semanticScreen(
      corpus: DataFrame, benchmark: DataFrame,
      vecCol: String, threshold: Double, joinType: String): DataFrame = {
    val b = benchmark.select(col(vecCol).as("_bv"), norm(col(vecCol)).as("_bn"))
    val score = cosineFromNorms(
      dot(col(vecCol), col("_bv")), col("_cn"), col("_bn"))
    corpus
      .withColumn("_cn", norm(col(vecCol)))
      .join(broadcast(b), !isnan(score) && round(score, 6) >= threshold,
        joinType)
      .drop("_cn")
  }

  /** LSH-bucketed approximate top-k: candidates limited to same-bucket
    * vectors, then exact cosine + rank within candidates.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, numPlanes: Int = 4): DataFrame =
    cosineScan(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        srpBucket(col(vecCol), numPlanes).as("_bkt"),
        norm(col(vecCol)).as("_qn")),
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        srpBucket(col(vecCol), numPlanes).as("_bkt"),
        norm(col(vecCol)).as("_cn")),
      Some("_bkt"), k)

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max |x|, q_i = floor(x_i·127/scale + 0.5) ∈ [-127, 127] — the
    * storage/serving format that cuts a float32 corpus 4× before ANN.
    * Map-side only (no shuffle at any corpus size). Rounding is an
    * explicit floor(+0.5) rather than `round`: engines disagree on
    * round-half for negatives, floor(+0.5) is bit-portable — and the
    * quantized vector serializes to a comma-joined string so the result
    * is oracle-hashable. Zero vectors quantize to zeros with scale 0.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb
      // scale projected once per row — inlining array_max into the
      // quantize lambda would re-reduce the vector per element (O(d²))
      .select(col(idCol), col(vecCol),
        array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("_s"))
      .select(
        col(idCol),
        // raw max — same floats reduce to the same double in any engine,
        // while round-half-at-1e-9 is not portable
        col("_s").as("scale"),
        concat_ws(",", transform(col(vecCol), x =>
          when(col("_s") > 0,
            greatest(lit(-127), least(lit(127),
              floor(x.cast("double") * 127 / col("_s") + 0.5).cast("int"))))
            .otherwise(lit(0)).cast("string"))).as("qvec"))

  // --------------------------------------------------------------------
  // Binary (1-bit / sign) quantization — the floor of the compression
  // ladder: one bit per dimension packs a 64-dim float32 vector into 8
  // bytes (32×), and candidate distance collapses to Hamming popcount
  // over the packed words (XOR + POPCNT — cheaper per candidate than
  // even PQ's m table lookups). Charikar 2002 grounds the semantics:
  // sign bits ARE a 1-bit SRP sketch whose hyperplanes are the
  // coordinate axes, so E[hamming/dim] = θ/π and Hamming rank
  // approximates angle rank. Production retrieval ships this as stage
  // one of binary-scan + exact-rerank; stage two here is [[rerankL2]]
  // unchanged. No training, no model artifact: the code is a pure
  // per-row function of the vector, which is what makes the encode
  // embarrassingly map-side at any corpus size and lets ANY engine
  // (the DuckDB twin included) reproduce it bit-for-bit.
  // --------------------------------------------------------------------

  /** Sign-bit packing: word `w` holds dims `[32w, 32w+32)`, bit `j` of
    * word `w` = 1 iff `vec(32w + j) > 0`. Words use bits 0..31 only —
    * every word value is in [0, 2³²), so the packed BIGINT never
    * touches the sign bit and Spark and DuckDB integer arithmetic agree
    * exactly (packing 64 bits per word would need the sign bit and
    * engines diverge on `1 << 63` overflow discipline).
    *
    * Output: `bin_words` (array<bigint>, dim/32 words — the scan-side
    * artifact [[hammingTopK]] consumes) and `bin_code` (the same words
    * comma-joined — the oracle-hashable projection, the [[quantizeInt8]]
    * qvec convention). Malformed rows — wrong length, NULL element, NaN
    * element — poison to NULL code rather than a silently plausible one
    * (NaN > 0 is false, so an unguarded NaN would quietly encode as a 0
    * bit; the pqEncode length-guard lesson applied from day one).
    * Map-side only: zero shuffle at any corpus size.
    *
    * The packing dim rides the `bin_words` column as SCHEMA METADATA
    * (`graft.bin.dim`) — it survives projections and parquet round
    * trips, so even an INLINE codes frame (no artifact `_params` stamp)
    * carries its one packing parameter, and [[hammingTopK]] can refuse
    * a dim-drifted frame at plan time for free.
    */
  val BinDimKey = "graft.bin.dim"

  def binQuantize(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame =
    emb.select(
      col(idCol),
      binWordsCol(col(vecCol), dim).as("bin_words",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(BinDimKey, dim.toLong).build()))
      .withColumn("bin_code",
        when(col("bin_words").isNull, lit(null))
          .otherwise(concat_ws(",",
            transform(col("bin_words"), _.cast("string")))))

  /** The packing expression behind [[binQuantize]] — ONE definition of
    * the word/guard contract, shared with the composed scans
    * ([[ivfBinTopKFrom]]) so a cell-restricted code can never fork from
    * the full-scan one.
    */
  private[graft] def binWordsCol(vec: Column, dim: Int): Column = {
    require(dim > 0 && dim % 32 == 0,
      s"binQuantize: dim must be a positive multiple of 32, got $dim")
    val words = dim / 32
    // static unroll: 32 adds per word, all plain integer arithmetic on
    // literal masks — stays inside whole-stage codegen (no higher-order
    // lambda on the encode path)
    val wordCols = (0 until words).map { w =>
      (0 until 32).map { j =>
        when(element_at(vec, w * 32 + j + 1).cast("double") > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    // POSITIVE gate with no otherwise: a NULL input array makes both
    // conjuncts NULL, the when never fires, and the result is NULL. The
    // negative formulation (`when(malformed, null).otherwise(array)`)
    // was MEASURED to encode a NULL vector as the all-zeros code —
    // size(NULL) and exists(NULL, ...) are NULL, NULL is not true, so
    // the otherwise branch ran and every element_at(NULL, i) > 0
    // quietly contributed a 0 bit (the adcTable wellFormed pattern).
    val wellFormed = size(vec) === dim &&
      !exists(vec, x => x.isNull || isnan(x.cast("double")))
    when(wellFormed, array(wordCols: _*))
  }

  /** Hamming top-k over packed sign bits: for each query, the k corpus
    * codes with the fewest differing bits (ties to the smaller
    * neighbor_id — integer distances in [0, dim] tie CONSTANTLY, so the
    * deterministic break is load-bearing, not cosmetic). `codes` is
    * [[binQuantize]] output; queries are encoded on the fly and
    * malformed queries DROP (NULL `bin_words` — the bruteForceTopK NaN
    * discipline, not an arbitrary neighbor_id-ordered answer).
    *
    * Scale shape: the [[topK]] scan of 8 bytes/vector touching
    * XOR+POPCNT per word. This is the cheapest full-scan retrieval
    * arithmetic in the file; its recall ceiling (1 bit/dim cannot rank
    * what it cannot resolve) is what [[rerankL2]] on a widened shortlist
    * buys back.
    *
    * Drift guard: a `codes` frame packed at a DIFFERENT dim than the
    * queries would yield word-count-mismatched pairs, whose
    * `vec_hamming` is NULL, and those pairs DROP — every query would
    * return fewer (or zero) neighbors instead of failing. Since
    * [[binQuantize]] stamps its packing dim into the `bin_words`
    * column's schema metadata ([[BinDimKey]] — survives projections
    * and parquet round trips), the mismatch is refused HERE at plan
    * time, no corpus touch. Frames without the stamp (hand-built,
    * pre-stamp parquet) are tolerated, the ivfProbe pre-column-artifact
    * convention.
    */
  def hammingTopK(
      queries: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    codes.schema.fields.find(_.name == "bin_words")
      .filter(_.metadata.contains(BinDimKey))
      .map(_.metadata.getLong(BinDimKey))
      .foreach(d => require(d == dim,
        s"hammingTopK: codes were packed at dim=$d but queries encode " +
          s"at dim=$dim — every distance would be NULL and every pair " +
          "would silently drop"))
    hammingScan(
      binQuantize(queries, idCol, vecCol, dim)
        .select(col(idCol).as("query_id"), col("bin_words").as("_qw")),
      codes.select(col(idCol).as("neighbor_id"), col("bin_words").as("_cw")),
      None, k)
  }

  /** The Hamming scan: `(query_id, _qw)` against `(neighbor_id, _cw)`;
    * a NULL code on either side drops its rows before the join. The
    * kernel is native codegen (graft.functions.VecHamming): the scan is
    * |queries| × |corpus| evaluations of XOR+POPCNT per word — the
    * vec_dot precedent; the composed zip_with/aggregate form pays a
    * lambda dispatch per word per pair (measured ~2× slower on the
    * 2000-query planted leg, SCALE.md round 12).
    */
  private def hammingScan(
      q: DataFrame, c: DataFrame, key: Option[String], k: Int): DataFrame =
    distanceOut(
      topK(q.where(col("_qw").isNotNull), c.where(col("_cw").isNotNull), key,
        call_function("vec_hamming", col("_qw"), col("_cw")), k, distanceKey),
      "hamming", "long")

  /** IVF ∘ binary: the coarse cosine cells of [[ivfPqTopK]] composed
    * with the Hamming code scan — per-query candidates shrink from n to
    * one cell (~√n rows at the law cell count) AND each candidate costs
    * two XOR+POPCNT words instead of dim multiplies. Same structure,
    * same levers, same honesty clauses as IVFADC: nprobe recovers cell
    * misses, the result is bit-identical to [[hammingTopK]] restricted
    * to probed cells (spec-pinned, including nprobe = cells ≡ the full
    * scan), and the corpus never shuffles — cells and codes are both
    * pure map-side functions (the binary arm needs NO trained codebook,
    * so unlike IVFADC there is no second model to drift).
    */
  def ivfBinTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int, dim: Int, nprobe: Int = 1): DataFrame =
    ivfBinTopKFrom(queries, corpus, idCol, vecCol, k,
      seedCentroids(corpus, idCol, vecCol, nCentroids), dim, nprobe)

  /** [[ivfBinTopK]] with caller-supplied coarse centroids — the
    * coarse-quantizer-quality seam ([[ivfPqTopKFrom]]'s contract:
    * Lloyd-converged cells for production, first-k-by-id for twins).
    */
  def ivfBinTopKFrom(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, cents: Seq[(Long, Seq[Double])], dim: Int,
      nprobe: Int = 1): DataFrame =
    ivfBinRank(
      withCells(corpus, idCol, vecCol, cents, 1)
        .select(col(idCol).as("neighbor_id"), col("_cell"),
          binWordsCol(col(vecCol), dim).as("_cw")),
      queries, idCol, vecCol, cents, dim, nprobe, k)

  /** The cell-restricted Hamming scan shared by the inline
    * ([[ivfBinTopKFrom]]) and artifact ([[ivfBinProbe]]) paths, which
    * differ ONLY in where the corpus frame `(neighbor_id, _cell, _cw)`
    * comes from; the probe ≡ inline spec pin holds by construction.
    */
  private def ivfBinRank(
      corpusSide: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Long, Seq[Double])], dim: Int,
      nprobe: Int, k: Int): DataFrame =
    hammingScan(
      withCells(queries, idCol, vecCol, cents, nprobe)
        .select(col(idCol).as("query_id"), col("_cell"),
          binWordsCol(col(vecCol), dim).as("_qw")),
      corpusSide, Some("_cell"), k)

  /** `_params` stamp of the binary artifact: packing dim + coarse cells.
    * Unlike IVFADC's two-model stamp there is no codebook half — dim is
    * the packing's ONLY parameter (the [[hammingTopK]] drift note made
    * checkable at the artifact seam).
    */
  private def ivfBinParams(cents: Seq[(Long, Seq[Double])], dim: Int): String =
    s"bin:d$dim+" + centsFingerprint(cents)

  /** The artifact row projection shared by [[ivfBinBuildFrom]] (and any
    * future streaming ingest): assign cells + pack sign bits, both pure
    * map-side functions — ingest paths are bit-equivalent to a rebuild
    * by construction.
    */
  private[graft] def ivfBinRows(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], dim: Int): DataFrame =
    withCells(batch, idCol, vecCol, cents, 1)
      .select(col(idCol), col("_cell"),
        binWordsCol(col(vecCol), dim).as("bin_words"))
      .withColumn("_params", lit(ivfBinParams(cents, dim)))

  /** Persist the IVF-binary serving artifact: `(id, _cell, bin_words,
    * _params)` bucketed by `_cell` through the Sink seam — 8 bytes of
    * signature per vector, NO raw vectors (the [[ivfPqBuild]] contract
    * at the 1-bit tier; exact re-rank fetches vectors for shortlist
    * survivors only). Read back via [[ivfAssigned]]`(…, "ivfbin")`.
    */
  def ivfBinBuild(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, dim: Int, numBuckets: Int,
      target: String, table: String,
      tablePrefix: String = "ivfbin"): Seq[(Long, Seq[Double])] =
    ivfBinBuildFrom(corpus, idCol, vecCol,
      seedCentroids(corpus, idCol, vecCol, nCentroids), dim, numBuckets,
      target, table, tablePrefix)

  /** [[ivfBinBuild]] with caller-supplied coarse centroids (the
    * [[ivfPqTopKFrom]] seam). Returns the cents it was given.
    */
  def ivfBinBuildFrom(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], dim: Int, numBuckets: Int,
      target: String, table: String,
      tablePrefix: String = "ivfbin"): Seq[(Long, Seq[Double])] = {
    cellSink(numBuckets, tablePrefix)
      .write(ivfBinRows(corpus, idCol, vecCol, cents, dim),
        target, table, "parquet")
    cents
  }

  /** Probe the persisted binary artifact: queries assign + pack
    * map-side, join the signatures on `_cell`, rank by the native
    * Hamming kernel — bit-identical to [[ivfBinTopKFrom]] on the same
    * corpus (spec-pinned). The `_params` stamp fails loudly on EITHER drift
    * axis: wrong cells join wrong buckets, wrong dim yields
    * NULL-dropping word mismatches — both are silent recall collapses
    * without the guard.
    */
  def ivfBinProbe(
      queries: DataFrame, assigned: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[(Long, Seq[Double])], dim: Int,
      nprobe: Int = 1): DataFrame = {
    Dedup.requireStoreParams(
      assigned, ivfBinParams(cents, dim), "IVF-binary")
    ivfBinRank(
      assigned.select(col(idCol).as("neighbor_id"), col("_cell"),
        col("bin_words").as("_cw")),
      queries, idCol, vecCol, cents, dim, nprobe, k)
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // quantization for nearest neighbor search", IEEE TPAMI 33(1)) — the
  // compression tier BELOW int8: int8 cuts a float32 corpus 4×, PQ at
  // (m=8, ks=16) stores 4 bits per subvector = 4 bytes per 64-dim vector,
  // a 64× cut, and ANN scoring runs against the CODES (m table lookups
  // per candidate instead of dim multiplies) so the memory traffic of a
  // scan shrinks by the same factor. (m, ks) are a STORAGE FORMAT, fixed
  // by the bit budget — unlike IVF's cell count or LSH's plane count they
  // do NOT grow with n (FAISS ships fixed 4/8-bit codebooks at any corpus
  // size; the sub-linear scale lever is IVF composed on top).
  // --------------------------------------------------------------------

  /** Per-subspace PQ codebooks: `books(s)(c)` is codeword `c` of subspace
    * `s` (dense 0-based codes, each codeword `dim / books.length`
    * doubles). A model artifact — m×ks×subDim doubles collected
    * driver-side and shipped as plan literals, the same footprint class
    * as the k-means centroid set.
    */
  case class PqModel(dim: Int, books: Seq[IndexedSeq[Seq[Double]]]) {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "PqModel: every subspace needs at least one codeword")
    require(dim % books.length == 0,
      s"PqModel: dim $dim not divisible by m=${books.length}")
    def m: Int = books.length
    def subDim: Int = dim / books.length
  }

  // ONE Literal node, not array(array(lit...)): a CreateArray tree of
  // m×ks×subDim literal children is re-traversed by every analyzer pass
  // and re-evaluated per foldable check — the bpeTokens lesson (ABBench
  // `bpe` measured the two shapes); typedlit collapses the whole
  // codebook to a single O(1)-eval node. Wrapped in `model_const`
  // (graft.functions.ModelConst) so the EXECUTED plan renders/hashes it
  // in O(1): Literal.toString renders every element, and Spark
  // stringifies the executed plan per action AND per AQE re-plan — the
  // measured driver-side bulk of the PQ family after the literal
  // collapse (ProfileStacks, round 18).
  private[ops] def modelConst(c: Column): Column =
    call_function("model_const", c)

  private def bookMat(book: Seq[Seq[Double]]): Column =
    modelConst(typedlit(book.map(_.toSeq).toSeq))

  /** Train per-subspace PQ codebooks: split each vector into `m`
    * contiguous subvectors, run Lloyd rounds independently per subspace
    * under squared-L2 (the PQ paper's metric — subvector magnitudes are
    * signal; see [[graft.functions.VecArgminL2]]).
    *
    * Deterministic by the engine's conventions: seeds are the first `ks`
    * corpus vectors by id sliced per subspace (the first-k-by-id
    * convention every graded quantizer row pins and the DuckDB twin
    * reproduces in one ORDER BY/LIMIT), assignment is the native
    * `vec_argmin_l2` round-9 contract, and means are decimal-exact
    * ([[kmeansFit]]'s meansOf discipline — partial-merge order cannot
    * move them). Empty codewords drop out per round, surviving codewords
    * keep ascending-code order (dense re-index), standard Lloyd.
    *
    * Scale shape: ONE corpus pass per round covers ALL m subspaces (the
    * per-subspace assignments ride one projection; the explode fans each
    * row to m×subDim mean contributions map-side), one partial-agg
    * shuffle carrying ≤ m×ks×subDim decimal sums, and the collected model
    * is m×ks×subDim doubles — the corpus itself never shuffles. Training
    * on a sample is the production norm; the trainer takes whatever frame
    * it is given.
    */
  def pqTrain(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, iters: Int = 1): PqModel = {
    // cheap scalar argument checks FIRST: seedCentroids below is a
    // cluster job (orderBy/limit/collect of the corpus head) — an
    // invalid m/ks/iters must not cost a scan before it fails
    require(ks >= 2, s"ks must be >= 2, got $ks")
    require(m >= 1, s"m must be >= 1, got $m")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val seeds = seedCentroids(corpus, idCol, vecCol, ks)
    require(seeds.size >= 2,
      s"pqTrain: corpus has ${seeds.size} row(s) — PQ needs >= 2 to seed " +
        "distinct codewords")
    pqTrainFrom(corpus, idCol, vecCol, seeds.map(_._2), m, iters)
  }

  /** [[pqTrain]] from CALLER-PROVIDED full-dim seed vectors (sliced per
    * subspace here) — the seeding-quality seam: feed
    * [[kmeansParallelSeeds]] (k-means‖) centers for codebooks that
    * don't depend on the first-ks-by-id id order, exactly the
    * [[kmeansFitFrom]] split. ks = `seedVecs.length`. The graded rows
    * stay on [[pqTrain]]'s first-k convention (the one a DuckDB twin
    * reproduces in one ORDER BY/LIMIT); `pqTrain ≡ pqTrainFrom(first-ks
    * seeds)` is spec-pinned.
    */
  def pqTrainFrom(
      corpus: DataFrame, idCol: String, vecCol: String,
      seedVecs: Seq[Seq[Double]], m: Int = 8, iters: Int = 1): PqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(seedVecs.size >= 2,
      s"pqTrainFrom needs >= 2 seed vectors, got ${seedVecs.size}")
    val seeds = seedVecs
    val dim = seeds.head.length
    require(seeds.forall(_.length == dim),
      "pqTrainFrom: seed vectors must share one dimension")
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val sub = dim / m
    val seedBooks: Seq[IndexedSeq[Seq[Double]]] = (0 until m).map { s =>
      seeds.map(_.slice(s * sub, (s + 1) * sub)).toIndexedSeq
    }
    val trained = (1 to iters).foldLeft(seedBooks) { (books, _) =>
      // one pass, all subspaces: (s, code, subvector) exploded map-side
      val subStructs = (0 until m).map { s =>
        val sv = slice(col(vecCol), s * sub + 1, sub)
        struct(lit(s).as("s"),
          call_function("vec_argmin_l2", sv, bookMat(books(s))).as("code"),
          sv.as("sv"))
      }
      val sums = corpus
        .select(explode(array(subStructs: _*)).as("e"))
        .where(col("e.code").isNotNull)
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.sv")).as(Seq("_pos", "_x")))
        .groupBy("s", "code", "_pos")
        .agg(sum(col("_x").cast("decimal(28,10)")).as("_sum"),
          count(lit(1)).as("_n"))
        .groupBy("s", "code")
        .agg(sort_array(collect_list(struct(col("_pos"),
          round(col("_sum").cast("double") / col("_n"), 6).as("v")))).as("_c"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(1)).toSeq))
        .toMap
      (0 until m).map { s =>
        books(s).indices.flatMap(c => sums.get((s, c))).toIndexedSeq
      }
    }
    trained.zipWithIndex.foreach { case (b, s) =>
      require(b.nonEmpty, s"pqTrain: subspace $s lost every codeword — " +
        "the corpus rows all failed assignment (null/short vectors)") }
    PqModel(dim, trained)
  }

  /** Encode a corpus against a PQ model: `codes` = one dense code per
    * subspace (array<int>, the storage format — parquet dictionary +
    * bit-packing store 4-bit codes at their information content), and
    * `pq_code` = the comma-joined portable string. Pure map-side — zero
    * shuffle at any corpus size, m generated argmin loops per row.
    *
    * A vector that fails ANY subspace (NULL, null element, wrong length)
    * encodes to NULL in BOTH columns — `concat_ws` silently skips nulls,
    * so without the explicit guard a 7-code string would masquerade as a
    * full 8-code word and every downstream ADC lookup would read the
    * wrong tables.
    */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel, keep: Seq[String] = Nil): DataFrame = {
    val sub = model.subDim
    val codeCols = (0 until model.m).map { s =>
      call_function("vec_argmin_l2",
        slice(col(vecCol), s * sub + 1, sub), bookMat(model.books(s)))
    }
    val keepCols = keep.map(col)
    corpus
      // explicit size guard up front: a vector LONGER than model.dim
      // slices cleanly into all m subspaces and would silently encode
      // from its first dim elements (the short case already poisons via
      // the per-subspace codeword-length check inside vec_argmin_l2) —
      // one equality check covers both directions, and a NULL vector
      // falls through the null condition into the NULL branch
      .select(col(idCol) +: keepCols :+
        when(size(col(vecCol)) === model.dim, array(codeCols: _*))
          .otherwise(lit(null).cast("array<int>")).as("codes"): _*)
      .select(col(idCol) +: keepCols :+
        when(exists(col("codes"), c => c.isNull), lit(null)
          .cast("array<int>")).otherwise(col("codes")).as("codes"): _*)
      .withColumn("pq_code",
        when(col("codes").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(",",
            transform(col("codes"), c => c.cast("string")))))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds its
    * m×ks distance TABLE against the codebooks (exact squared-L2 from the
    * raw query vector — the "asymmetric" in ADC: only the corpus side is
    * quantized), then every encoded corpus row scores as Σ_s
    * table[s][code_s] — m element_at lookups per candidate, all codegen,
    * no vector arithmetic on the scan.
    *
    * Same [[topK]] scan as [[bruteForceTopK]]; the win over it is bytes:
    * the scan touches m small ints per row instead of dim floats (×64
    * less memory traffic at m=8/dim=64), which is what a 100 TB corpus
    * scan is bounded by. The table build itself uses higher-order
    * lambdas (CodegenFallback) — acceptable because it runs once per
    * QUERY row, never on the corpus.
    *
    * Cross-engine determinism: table entries are rounded to 6dp and cast
    * DECIMAL(18,6), and the ADC score is their exact decimal sum —
    * associative, so partial-merge order cannot flip a rank, and the
    * DuckDB twin reproduces the sum bit-for-bit (a double sum of 8 terms
    * is ulp-order-dependent; the decimal sum is not). The aggregator
    * orders the NEGATED double cast of that decimal: IEEE double cast is
    * monotone, and at ADC magnitudes (≤ ~4·dim for unit-scale
    * embeddings; ulp ≫ collision only past ~4.5e9) it is injective on
    * the 6dp grid, so the double rank equals the decimal rank the twin
    * computes. `adc` is exposed as a double diagnostic; the graded
    * contract is (query, neighbor, rank), the meansOf stance on
    * mean-derived doubles.
    *
    * A malformed QUERY vector (wrong length, null element, NaN) yields
    * NULL table entries and thus a NULL ADC score for every pair; those rows
    * are dropped by [[rankBy]] — the query returns no neighbors rather
    * than an arbitrary id-ordered top-k (ascending NULLS FIRST under the
    * old window shape), mirroring bruteForceTopK's NaN discipline.
    */
  def pqTopK(
      queries: DataFrame, encoded: DataFrame, idCol: String,
      vecCol: String, k: Int, model: PqModel): DataFrame =
    adcScan(
      queries.select(col(idCol).as("query_id"),
        adcTable(col(vecCol), model).as("_tbl")),
      encoded.select(col(idCol).as("neighbor_id"), col("codes"))
        .where(col("codes").isNotNull),
      None, model, k)

  /** The ADC scan: `(query_id, _tbl)` against `(neighbor_id, codes)`. */
  private def adcScan(
      q: DataFrame, c: DataFrame, key: Option[String], model: PqModel,
      k: Int): DataFrame =
    distanceOut(
      topK(q, c, key, adcScore(model), k, distanceKey), "adc")

  /** Exact squared-L2 top-k — the ADC family's ground truth and the
    * exact-metric baseline PQ approximates (PQ/ADC is an L2 method;
    * measuring its recall against the COSINE brute force conflates
    * quantization error with a metric mismatch — on unnormalized
    * corpora the two orderings genuinely differ). Same plan shape as
    * [[bruteForceTopK]] ([[topK]] with no key), ranked by (d² ASC,
    * neighbor ASC). The per-pair distance uses higher-order lambdas
    * (CodegenFallback) — acceptable for the truth/re-rank passes this
    * exists for; the production approximate path is the codegen'd ADC
    * scan it grounds.
    */
  def bruteForceTopKL2(
      queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    l2Scan(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")),
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv")),
      None, k)

  /** The exact-L2 scan: `(query_id, _qv)` against `(neighbor_id, _cv)`. */
  private def l2Scan(
      q: DataFrame, c: DataFrame, key: Option[String], k: Int): DataFrame =
    distanceOut(
      topK(q, c, key, l2sq(col("_qv"), col("_cv")), k, distanceKey), "d2")

  /** Exact squared L2 of two float-array columns: cast to double,
    * subtract, square, left-fold — the route the DuckDB twins mirror bit
    * for bit. A NaN distance (malformed vector) is NULL, so its row drops.
    */
  private def l2sq(a: Column, b: Column): Column =
    nanvl(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }), lit(0.0), (acc, x) => acc + x), lit(null).cast("double"))

  /** Exact-L2 re-rank of an ANN shortlist — the second stage of the
    * standard two-stage retrieval ([[pqTopK]]/[[ivfPqTopK]] produce a
    * generous candidate shortlist from codes alone; this fetches the raw
    * vectors for JUST those candidates and re-orders the top k by exact
    * distance). What it buys depends on the corpus geometry, both
    * measured (RecallBench `pq`, 22k corpus): where real neighbor
    * structure exists the shortlist never loses it (planted twin_hit@10
    * = 1.0 for the full scan) and the re-rank fixes ADC's ordering; on
    * the distance-CONCENTRATED bulk, a 10×k shortlist re-ranked exactly
    * lifts global recall@10 from 0.116 to 0.333 — the remaining gap is
    * shortlist MISSES (every distance within quantization error of every
    * other), which no second stage can repair, only a wider k′ or more
    * code bits. The production sizing rule follows: k′ buys recall only
    * up to the quantizer's resolution floor; past it, spend bits not
    * candidates.
    *
    * Scale shape: [[topK]] keyed on the neighbor id — the shortlist is
    * |queries|×k′ rows on the broadcast side, the corpus streams through
    * one more scan, and only shortlist survivors (tiny) reach the
    * exact-distance lambda. No corpus row is scored that the shortlist
    * didn't nominate, and a self-pair in the shortlist is dropped like
    * every other top-k here drops it.
    *
    * Rank contract mirrors the whole family: (d² ASC, neighbor ASC),
    * identical arithmetic route on both engines (cast-to-double,
    * subtract, square, left-fold — the [[bruteForceTopKL2]] sum), so the
    * DuckDB twin reproduces ranks bit-for-bit like the raw-cosine IVF
    * rows do. Malformed vectors (NaN) drop their rows.
    */
  def rerankL2(
      queries: DataFrame, corpus: DataFrame, shortlist: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    l2Scan(
      shortlist.select(col("query_id"), col("neighbor_id"))
        .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")),
          Seq("query_id")),
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv")),
      Some("neighbor_id"), k)

  /** The per-query m×ks ADC distance table (exact squared-L2 from the
    * raw query vector to every trained codeword, 6dp DECIMAL(18,6)
    * entries) — ONE definition shared by [[pqTopK]] and the IVFADC
    * probes so the scoring contract cannot fork.
    */
  private def adcTable(vec: Column, model: PqModel): Column = {
    // explicit length guard, the pqEncode discipline mirrored onto the
    // QUERY side: a vector LONGER than model.dim slices cleanly into all
    // m subspaces and would silently score on its first dim elements; a
    // SHORTER one already poisons via the zip_with length behavior, but
    // one equality check covers both directions and a NULL vector falls
    // through to the NULL branch (NULL _tbl → the row drops in rankBy)
    when(size(vec) === model.dim, adcTableUnchecked(vec, model))
  }

  private def adcTableUnchecked(vec: Column, model: PqModel): Column = {
    val sub = model.subDim
    // The WHOLE codebook enters as ONE nested-array Literal and the
    // m×ks table is built by two index-aware transforms — ~25 plan
    // nodes. The retired shape unrolled m×ks per-entry HOF trees
    // (~2000 nodes for 8×16): per-QUERY-row evaluation cost was fine,
    // but ANALYSIS + codegen of that tree was the measured driver-side
    // bulk of every PQ row. Arithmetic is node-for-node identical
    // (cast-double subtract, square, left-fold sum, isnan → NULL,
    // round(·,6) → decimal(18,6)), so the table is bit-identical.
    val bookLit = modelConst(typedlit(model.books.map(_.map(_.toSeq).toSeq).toSeq))
    transform(bookLit, (bookS, s) => {
      val qsv = slice(vec, s * lit(sub) + 1, lit(sub))
      transform(bookS, cw => {
        val d2 = aggregate(
          zip_with(qsv, cw, (a, b) => {
            val d = a.cast("double") - b
            d * d
          }),
          lit(0.0), (acc, x) => acc + x)
        // NaN query element: the decimal cast would fail under ANSI
        // (and silently NULL otherwise) — make it an explicit NULL
        // entry so the malformed-query row drops with the others
        when(isnan(d2), lit(null).cast("decimal(18,6)"))
          .otherwise(round(d2, 6).cast("decimal(18,6)"))
      })
    })
  }

  /** Σ_s table[s][code_s] — m `element_at` lookups per candidate, all
    * codegen, exact decimal sum over a `_tbl`/`codes` pair of columns.
    */
  private def adcScore(model: PqModel): Column =
    (0 until model.m)
      .map(s => element_at(element_at(col("_tbl"), s + 1),
        col("codes").getItem(s) + 1))
      .reduce(_ + _)

  // --------------------------------------------------------------------
  // IVFADC (Jégou et al. 2011 §V: IVF coarse quantizer composed with the
  // PQ code scan — the FAISS production ANN shape). pqTopK's ADC scan is
  // linear in the corpus; composing it with the IVF cell partition makes
  // the per-query candidate set one cell (expected n/⌈√n⌉ = √n rows at
  // the law cell count), so the scan is sub-linear AND each candidate
  // costs m table lookups instead of dim multiplies. Two encoding arms:
  //
  // DEFAULT (residual = false): codes quantize the RAW vectors. This
  // keeps ONE m×ks×subDim model valid across any cell layout (a coarse-
  // quantizer refresh reuses existing codes) and makes the composition
  // bit-identical to pqTopK restricted to the probed cells — the graded
  // equivalence. The recall cost is the within-cell offset the paper's
  // residual encoding removes — recoverable via nprobe, the same lever
  // [[probesFor]] sizes.
  //
  // RESIDUAL (residual = true, the paper's §V shape / FAISS default):
  // codes quantize `vec − centroid(cell)` against ONE shared codebook
  // trained on the residual distribution ([[pqTrainRes]]). The codebook's
  // ks codewords then span only the within-cell spread instead of the
  // whole corpus diameter, so the same bit budget resolves finer — the
  // measured recall lever (RecallBench `pq`, SCALE.md round 12). Costs:
  // a coarse refresh invalidates every code (the artifact's `res+`
  // params stamp makes that loud, not silent), and each probe builds its
  // ADC table per (query, probed cell) rather than per query —
  // broadcast-side work, nprobe × m×ks entries; the corpus scan is
  // unchanged.
  // --------------------------------------------------------------------

  /** Deterministic fingerprint of a PQ model — the PQ half of the IVFADC
    * artifact's `_params` stamp (see [[centsFingerprint]] for the
    * rationale: probing an artifact with a different codebook reads
    * wrong distance tables and collapses recall silently).
    */
  private def pqFingerprint(model: PqModel): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = {
      buf.clear(); buf.putLong(l); md.update(buf.array())
    }
    putLong(model.dim.toLong)
    model.books.zipWithIndex.foreach { case (book, s) =>
      putLong(s.toLong)
      book.foreach { cw =>
        cw.foreach { d => buf.clear(); buf.putDouble(d); md.update(buf.array()) }
      }
    }
    s"pq:m${model.m}:" + md.digest().map("%02x".format(_)).mkString.take(12)
  }

  private def ivfPqParams(
      cents: Seq[(Long, Seq[Double])], model: PqModel,
      residual: Boolean = false): String =
    (if (residual) "res+" else "") +
      centsFingerprint(cents) + "+" + pqFingerprint(model)

  /** Corpus `(id, vec)` → `(id, vec, _cell, _rv)` in ONE codegen
    * projection: cell index from the `vec_argmax_cell` loop, id decode
    * AND the residual `vec − centroid(cell)` from the same index via the
    * native `vec_sub_at` loop (graft.functions.VecSubAt — whole-stage
    * codegen keeps the shared argmax subexpression to one evaluation).
    * Subtraction is exact IEEE double — centroids are raw corpus vectors
    * (float→double exact), so both engines compute the identical residual
    * and the decimal ADC chain stays bit-reproducible. A malformed vector
    * (NULL cell index) poisons `_cell` and `_rv` to NULL — the family's
    * discipline.
    *
    * Why native and not `zip_with(vec, element_at(matLit, _cell), -)`:
    * the lambda is CodegenFallback, and under `pqEncode`'s m per-subspace
    * `slice(_rv)` arguments interpreted evaluation recomputed the whole
    * subtraction per subspace per row — measured 26–30 s vs ~2 s for the
    * raw arm on the 22k RecallBench legs (SCALE.md round 12).
    */
  private def withCellResid(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val (mat, cidArr) = centModel(cents)
    val ci = call_function("vec_argmax_cell", col(vecCol), mat)
    corpus.select(col(idCol), col(vecCol),
      element_at(cidArr, ci + 1).as("_cell"),
      call_function("vec_sub_at", col(vecCol), mat, ci).as("_rv"))
  }

  /** Query fan-out for the residual arm: `(id, _cell, _rv)` with ONE ROW
    * PER PROBED CELL, where `_rv` is the residual against THAT probed
    * cell's centroid (the residual ADC table is cell-relative). The
    * [[withCells]] twin with the index kept long enough to feed
    * `vec_sub_at`.
    */
  private def withCellsResid(
      queries: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    if (nprobe == 1)
      withCellResid(queries, idCol, vecCol, cents)
        .where(col("_cell").isNotNull)
        .select(col(idCol), col("_cell"), col("_rv"))
    else {
      val (mat, cidArr) = centModel(cents)
      queries
        .select(col(idCol), col(vecCol),
          explode(call_function("vec_top_cells", col(vecCol), mat,
            lit(nprobe))).as("_ci"))
        .select(col(idCol),
          element_at(cidArr, col("_ci") + 1).as("_cell"),
          call_function("vec_sub_at", col(vecCol), mat, col("_ci"))
            .as("_rv"))
    }
  }

  /** Corpus `(id, vec)` → `(id, vec, _cell, _rv)` where `_rv` is the
    * residual against the assigned coarse cell — the training/encoding
    * frame of the residual IVFADC arm. Rows whose vector cannot assign a
    * cell are dropped (they could never be probed). Feed `_rv` to
    * [[pqTrain]] (or use [[pqTrainRes]]) for the residual codebook.
    */
  def ivfPqResiduals(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    withCellResid(corpus, idCol, vecCol, cents)
      .where(col("_cell").isNotNull)

  /** Train a PQ codebook on coarse-cell residuals: ONE shared codebook
    * over the residual distribution (the FAISS IVFADC default — not
    * per-cell books). This is the codebook [[ivfPqTopK]]/[[ivfPqBuild]]
    * with `residual = true` expect; pairing arms and codebooks wrong is
    * caught by the artifact's `res+` params stamp, not silently.
    *
    * Seeding: the first ks rows PAST the centroid prefix (id >
    * max centroid id), NOT first-ks-by-id. The coarse centroids are
    * their own nearest cells, so their residuals are EXACTLY the zero
    * vector — and under the family's first-k-by-id cents convention the
    * first ks corpus rows are all centroids, so naive first-k seeding
    * feeds Lloyd ks identical zero seeds: every assignment ties to code
    * 0, codes 1..ks−1 empty out, and the dense re-index leaves ONE
    * codeword per subspace — every corpus row encodes identically and
    * ADC ranking collapses to neighbor_id order. Measured before/after
    * on the 22k planted corpus: twin_hit@10 = 0.0000 degenerate vs the
    * healthy curve in SCALE.md round 12. Still deterministic and
    * twin-reproducible (one extra WHERE in the seeds CTE).
    */
  def pqTrainRes(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int = 8, ks: Int = 16, iters: Int = 1): PqModel = {
    val resid = ivfPqResiduals(corpus, idCol, vecCol, cents)
    val maxCentId = cents.map(_._1).max
    val seeds = seedCentroids(
      resid.where(col(idCol) > lit(maxCentId)), idCol, "_rv", ks)
    require(seeds.size >= 2,
      s"pqTrainRes: need >= 2 seed rows past the centroid prefix (id > " +
        s"$maxCentId), found ${seeds.size} — corpus too small for this " +
        "cell count, or cents do not follow the first-k-by-id convention " +
        "(pass explicit seeds to pqTrainFrom over ivfPqResiduals instead)")
    pqTrainFrom(resid, idCol, "_rv", seeds.map(_._2), m, iters)
  }

  /** Inline IVFADC top-k: cell-probe + ADC scoring within the probed
    * cells. Corpus rows carry their one max-cosine cell (the [[ivfTopK]]
    * coarse quantizer, same seeds/tie contract) and their PQ codes (both
    * map-side projections fused into one pass — no self-join); queries
    * fan out to `nprobe` cells with their ADC tables.
    *
    * By construction the raw arm's result is [[pqTopK]] restricted to
    * pairs sharing a probed cell — the IvfPqSpec pins that equivalence,
    * and the graded twin replicates both quantizer chains. The residual
    * arm (`residual = true`, codebook from [[pqTrainRes]]) scores
    * `‖(q − cent) − (code word)‖²` instead — no global-scan equivalent
    * exists (distances are cell-relative), so its pins are the in-memory
    * ADC reference property and its own graded twin.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int, model: PqModel, nprobe: Int = 1,
      residual: Boolean = false): DataFrame =
    ivfPqTopKFrom(queries, corpus, idCol, vecCol, k,
      seedCentroids(corpus, idCol, vecCol, nCentroids), model, nprobe,
      residual)

  /** [[ivfPqTopK]] with CALLER-SUPPLIED coarse centroids — the
    * coarse-quantizer-quality seam, the [[kmeansFitFrom]]/[[pqTrainFrom]]
    * split applied to IVFADC: pass [[kmeansFit]]/[[kmeansParallelSeeds]]
    * Lloyd-converged cells when cell tightness matters (the residual
    * arm's recall payoff scales with it — SCALE.md round 12); the graded
    * rows stay on the first-k-by-id convention a DuckDB twin reproduces.
    * `ivfPqTopK ≡ ivfPqTopKFrom(seedCentroids(...))` by construction
    * (spec-pinned). [[ivfPqProbe]]/[[ivfPqAppend]] already take cents —
    * this closes the inline path, and [[ivfPqBuildFrom]] the artifact
    * one.
    */
  def ivfPqTopKFrom(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, cents: Seq[(Long, Seq[Double])], model: PqModel,
      nprobe: Int = 1, residual: Boolean = false): DataFrame =
    // the corpus side is ivfPqRows's projection (ONE definition of the
    // encode-side contract, so the inline scan cannot fork from the
    // artifact/ingest rows) minus the constant `_params` stamp
    ivfPqRank(
      ivfPqRows(corpus, idCol, vecCol, cents, model, residual)
        .select(col(idCol).as("neighbor_id"), col("_cell"), col("codes"))
        .where(col("codes").isNotNull && col("_cell").isNotNull),
      queries, idCol, vecCol, cents, model, nprobe, residual, k)

  /** The cell-restricted ADC scan shared by the inline
    * ([[ivfPqTopKFrom]]) and artifact ([[ivfPqProbe]]) paths, which
    * differ ONLY in where the corpus frame `(neighbor_id, _cell, codes)`
    * comes from.
    *
    * The query side is `(query_id, _cell, _tbl)` per probed cell.
    * Residual arm: the ADC table is per (query, PROBED CELL) — distances
    * go to `cent_cell + codeword`, so each probe row subtracts its own
    * cell's centroid (native `vec_sub_at`) before the table build. Still
    * broadcast-side work: nprobe × |queries| table builds, never a
    * corpus-side op.
    */
  private def ivfPqRank(
      corpusSide: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Long, Seq[Double])], model: PqModel,
      nprobe: Int, residual: Boolean, k: Int): DataFrame = {
    val q =
      if (residual)
        withCellsResid(queries, idCol, vecCol, cents, nprobe)
          .select(col(idCol).as("query_id"), col("_cell"),
            adcTable(col("_rv"), model).as("_tbl"))
      else
        withCells(queries, idCol, vecCol, cents, nprobe)
          .select(col(idCol).as("query_id"), col("_cell"),
            adcTable(col(vecCol), model).as("_tbl"))
    adcScan(q, corpusSide, Some("_cell"), model, k)
  }

  /** The artifact row projection shared by [[ivfPqBuild]], [[ivfPqAppend]]
    * and the streaming ingest ([[graft.streaming.EventStream.ivfPqIngest]]):
    * assign cells + encode codes map-side against the two models, stamp
    * `_params`. Pure per-row functions of the models — the property that
    * makes every ingest path bit-equivalent to a rebuild.
    */
  private[graft] def ivfPqRows(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], model: PqModel,
      residual: Boolean): DataFrame = {
    val encSrc =
      if (residual) withCellResid(batch, idCol, vecCol, cents)
      else withCell(batch, idCol, vecCol, cents)
    pqEncode(encSrc, idCol, if (residual) "_rv" else vecCol,
        model, keep = Seq("_cell"))
      .select(col(idCol), col("_cell"), col("codes"))
      .withColumn("_params", lit(ivfPqParams(cents, model, residual)))
  }

  /** The drift check, exposed for the streaming ingest (same message
    * contract as the batch paths).
    */
  private[graft] def requireIvfPqParams(
      assigned: DataFrame, cents: Seq[(Long, Seq[Double])],
      model: PqModel, residual: Boolean): Unit =
    Dedup.requireStoreParams(
      assigned, ivfPqParams(cents, model, residual), "IVFADC")

  /** Persist the IVFADC artifact: `(id, _cell, codes, _params)` bucketed
    * by `_cell` through [[graft.sources.BucketedSink]] — the [[ivfBuild]]
    * split with the PQ codes riding the same write. Note what is NOT
    * stored: the raw vectors. ADC scores against the codes alone, so the
    * serving artifact is ~4 bytes of code word per vector instead of
    * dim×4 float bytes — this artifact is where PQ's 64× storage cut is
    * realized at rest (parquet dictionary + bit-packing store the dense
    * small ints at their information content; see SCALE.md). The PQ
    * model arrives TRAINED (callers use [[pqTrain]]) so the training-set
    * choice stays with the caller — artifact on disk, model in hand,
    * exactly the [[ivfProbe]] contract. Read it back catalog-resolved
    * via [[ivfAssigned]]`(spark, target, table, "ivfpq")`.
    */
  def ivfPqBuild(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, model: PqModel, numBuckets: Int,
      target: String, table: String,
      tablePrefix: String = "ivfpq",
      residual: Boolean = false): Seq[(Long, Seq[Double])] =
    ivfPqBuildFrom(corpus, idCol, vecCol,
      seedCentroids(corpus, idCol, vecCol, nCentroids), model, numBuckets,
      target, table, tablePrefix, residual)

  /** [[ivfPqBuild]] with caller-supplied coarse centroids (see
    * [[ivfPqTopKFrom]]). Returns the cents it was given, for call-site
    * symmetry with ivfPqBuild.
    */
  def ivfPqBuildFrom(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], model: PqModel, numBuckets: Int,
      target: String, table: String,
      tablePrefix: String = "ivfpq",
      residual: Boolean = false): Seq[(Long, Seq[Double])] = {
    cellSink(numBuckets, tablePrefix).write(
      ivfPqRows(corpus, idCol, vecCol, cents, model, residual),
      target, table, "parquet")
    cents
  }

  /** Incremental IVFADC ingest: a new batch assigns cells and encodes
    * map-side against the SAME two models that built the artifact
    * (drift-guarded against the artifact's `_params` stamp — encoding a
    * batch with a refreshed codebook into an old-codebook artifact would
    * make every ADC lookup read the wrong tables for those rows) and
    * appends under the same bucket spec. O(batch) work; the existing
    * corpus is never re-read, re-encoded, or re-shuffled — the ANN twin
    * of the dedup family's ingest operators. Because cells and codes are
    * pure per-row functions of the two models, the appended artifact is
    * bit-identical to a from-scratch rebuild over (corpus ∪ batch) with
    * the same models — the spec pins probe-equality, the ingest-
    * equivalence discipline every incremental operator here carries.
    */
  def ivfPqAppend(
      batch: DataFrame, assigned: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], model: PqModel, numBuckets: Int,
      target: String, table: String, tablePrefix: String = "ivfpq",
      residual: Boolean = false): Unit = {
    requireIvfPqParams(assigned, cents, model, residual)
    cellSink(numBuckets, tablePrefix)
      .append(ivfPqRows(batch, idCol, vecCol, cents, model, residual),
        target, table)
  }

  /** Compact an appended IVFADC artifact into a NEW table: every
    * [[ivfPqAppend]]/[[graft.streaming.EventStream.ivfPqIngest]] batch
    * adds its own file set per bucket, so a long-running ingest
    * accumulates O(batches × buckets) small files — the probe plan stays
    * shuffle-free throughout (bucket spec is catalog metadata, not file
    * layout), but scan open/footer costs grow linearly with file count.
    * One pre-shuffled bucketed rewrite restores a BATCH-COUNT-INDEPENDENT
    * file floor (one file per populated (task, bucket) pair — measured
    * 256 → 153 files after 8 ingest batches at 32 buckets, probe latency
    * 3.3 → 2.0 s, StreamScaleBench `ivfpq`); `_params` rides through so
    * the drift guard keeps working.
    *
    * Deliberately compacts to a NEW table name: the caller flips probes
    * and drops the old artifact afterwards. An in-place overwrite would
    * need an atomic swap of both the directory AND the catalog entry —
    * a metastore transaction the plain-parquet seam does not own — and a
    * crash mid-overwrite would lose the serving artifact; compact-then-
    * flip keeps the old artifact intact until the caller retires it
    * (probe equality spec-pinned).
    */
  def ivfPqCompact(
      spark: org.apache.spark.sql.SparkSession, target: String,
      fromTable: String, toTable: String, numBuckets: Int,
      tablePrefix: String = "ivfpq"): Unit = {
    require(fromTable != toTable,
      "ivfPqCompact writes a NEW table — flip probes and drop the old " +
        "one after; an in-place overwrite would be lossy on crash")
    val sink = cellSink(numBuckets, tablePrefix)
    val assigned = sink.read(spark, target, fromTable)
    sink.write(assigned.repartition(numBuckets, col("_cell")),
      target, toTable, "parquet")
  }

  /** Probe a persisted [[ivfPqBuild]] artifact: queries assign map-side
    * (cells + ADC tables, no corpus touch), join the codes on `_cell`,
    * score by table lookups. Bit-identical to [[ivfPqTopK]] on the same
    * corpus/model (spec-pinned). The `_params` stamp guards BOTH models:
    * a different coarse quantizer joins wrong cells, a different
    * codebook reads wrong tables — either is a silent recall collapse,
    * so either fails loudly.
    */
  def ivfPqProbe(
      queries: DataFrame, assigned: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[(Long, Seq[Double])],
      model: PqModel, nprobe: Int = 1,
      residual: Boolean = false): DataFrame = {
    requireIvfPqParams(assigned, cents, model, residual)
    ivfPqRank(
      assigned.select(col(idCol).as("neighbor_id"), col("_cell"), col("codes"))
        .where(col("codes").isNotNull),
      queries, idCol, vecCol, cents, model, nprobe, residual, k)
  }
}
