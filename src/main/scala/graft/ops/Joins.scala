package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join shapes Spark has no single built-in operator for, built scale-first.
  * The reference pipeline itself needs only equi/semi/anti joins
  * (SURVEY.md §2.3); these are the §7.5 extensions a training-data /
  * event-analytics workload adds on top.
  */
object Joins {

  /** Runtime conf key: max row count `broadcastIfSmall` will still
    * broadcast. The row gate bounds the per-row work of the broadcast
    * build (hash-table entries); the byte gate below bounds its memory.
    */
  val MaxBroadcastRowsKey = "spark.graft.broadcast.maxRows"

  /** Runtime conf key: max ESTIMATED size in bytes `broadcastIfSmall`
    * will still broadcast (default 256 MB). Estimated as row count ×
    * measured average row size over a small driver-side sample — a row
    * gate alone cannot see width: a 2M-row frame of (long, long) id
    * pairs is ~100 MB, the same row count of 100-dim embedding arrays is
    * ~1.6 GB, a driver OOM under a pure row threshold.
    */
  val MaxBroadcastBytesKey = "spark.graft.broadcast.maxBytes"

  private val SampleRowsPerPartition = 8

  /** The [[broadcastIfSmall]] gates for a frame whose per-row width is
    * STATICALLY known (a fixed-width column, e.g. a 32-hex digest) and
    * whose row count is bounded by `rows` — no sampling pass, so the
    * dispatch never executes the frame. For derived frames this is the
    * difference between hinting for free and running the upstream join
    * twice (once for the size sample, once for real).
    */
  def fitsBroadcast(
      spark: org.apache.spark.sql.SparkSession, rows: Long,
      rowBytes: Long): Boolean = {
    val conf = spark.conf
    val maxRows = conf.get(MaxBroadcastRowsKey, "2000000").toLong
    val maxBytes =
      conf.get(MaxBroadcastBytesKey, (256L * 1024 * 1024).toString).toLong
    rows <= maxRows && rows * rowBytes <= maxBytes
  }

  /** Static per-row byte estimate for a frame of FIXED-WIDTH-ish
    * columns (ids, labels, digests — never text/array payloads), for
    * [[fitsBroadcast]] dispatch without a sampling job: schema
    * `defaultSize` per column plus JVM/Tungsten row overhead.
    *
    * Variable-width columns (string/binary) do NOT use `defaultSize`
    * (20 B): an UNDERestimate errs the dangerous direction — 2M rows of
    * URL-length ids would pass the byte gate at a computed ~170 MB
    * while the real driver collect approaches 1 GB. Each such column is
    * charged a conservative 96 B (32-hex digest + UTF8String/offset
    * overhead, ~2× a UUID string's heap cost), so wide-string frames
    * fail the gate and fall back to a plain shuffle join — the
    * recoverable direction (AQE can still broadcast off runtime stats;
    * the driver never OOMs). Fixed-width columns keep `defaultSize`,
    * which is exact for them.
    */
  def staticRowBytes(df: DataFrame): Long =
    df.schema.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType => 96L
        case dt => dt.defaultSize.toLong
      }
    }.sum + 64L

  /** True when every column is fixed-width — exactly the schemas whose
    * [[staticRowBytes]] is EXACT. FORCED-broadcast dispatches
    * ([[broadcastIfFits]]) must require this: for variable-width columns
    * a static per-string constant can UNDERestimate long payloads
    * (URL/path doc ids are routine in this domain), and a forced hint
    * overrides Spark's own size checks — the driver-OOM direction.
    * Variable-width frames simply skip the hint; AQE still
    * auto-broadcasts off runtime stats, the recoverable direction.
    */
  def fixedWidth(df: DataFrame): Boolean =
    df.schema.forall(f => f.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType => false
      case _ => true
    })

  /** Broadcast `dim` only when it is actually broadcast-sized; identity
    * otherwise (the join then falls to AQE's shuffle-side strategies).
    *
    * Exists because an unconditional `broadcast()` hint OVERRIDES Spark's
    * own size checks: a closure/member table that is dimension-sized at
    * one SF (20k tasks → 140k pairs) is 15M+ rows two decades up, and the
    * forced hint would collect ~1 GB to the driver and re-ship it to every
    * executor — the measured bulk of `q_budget_report`'s sf10 cost, and an
    * OOM on a real cluster. Below the thresholds the hint stays: a TRUE
    * row count and a sampled row width beat the planner's sizeInBytes
    * estimate (checkpointed frames propagate the PRE-materialization
    * estimate, which over-counts after a selective derivation and would
    * leave a broadcastable dim on the shuffle path). Above them, no hint —
    * Spark/AQE still auto-broadcast from runtime stats if they disagree,
    * which is the safe direction.
    *
    * Size is gated on BYTES as well as rows: `SizeEstimator` over a
    * sample of rows taken from EVERY partition (a few per partition, not
    * `head(n)` — head reads only the first partition, and for frames with
    * variable-width columns sorted or clustered by size the head can
    * undercount the true average width, the UNSAFE direction) gives
    * count × avg-row-width. The JVM-object estimate over-counts vs the
    * Tungsten broadcast encoding, which errs toward not broadcasting —
    * the recoverable direction. Callers pass MATERIALIZED frames (the
    * `count()`/sample are then cheap passes over resident blocks, not
    * recomputes) and may supply `countHint` when the count is already
    * known.
    */
  def broadcastIfSmall(dim: DataFrame, countHint: Option[Long] = None): DataFrame = {
    val spark = dim.sparkSession
    val n = countHint.getOrElse(dim.count())
    val fits =
      // Fixed-width schemas (id/label/hash frames — the common dispatch
      // targets) need no sampling job: staticRowBytes is EXACT for them,
      // so the gates decide from the schema alone. Variable-width frames
      // keep the sampled estimate — a static per-string constant can
      // underestimate long payloads, the driver-OOM direction.
      if (fixedWidth(dim)) fitsBroadcast(spark, n, staticRowBytes(dim))
      // the row gate alone first (zero width passes the byte gate), so
      // a frame past it never pays the sampling job
      else fitsBroadcast(spark, n, 0L) &&
        fitsBroadcast(spark, n, sampledRowBytes(dim))
    if (fits) broadcast(dim) else dim
  }

  /** Average JVM-object row size over a few rows from EVERY partition
    * (0 for an empty frame). One small driver-side collect.
    */
  private def sampledRowBytes(dim: DataFrame): Long = {
    val sample =
      dim.rdd.mapPartitions(_.take(SampleRowsPerPartition)).collect()
    if (sample.isEmpty) 0L
    else org.apache.spark.util.SizeEstimator.estimate(sample) / sample.length
  }

  /** The FORCED-broadcast gate for a frame of at most `rows` rows: hint
    * only when every column is fixed-width ([[fixedWidth]]) and the
    * static size passes [[fitsBroadcast]]. Runs no job, so it suits
    * frames whose count is already known (a `checkpointCounted` result,
    * a fixpoint round's signature). Variable-width frames never get the
    * hint: AQE still auto-broadcasts them off runtime stats.
    */
  def broadcastIfFits(df: DataFrame, rows: Long): DataFrame =
    if (fixedWidth(df) &&
        fitsBroadcast(df.sparkSession, rows, staticRowBytes(df))) broadcast(df)
    else df

  /** As-of join: for every left row, attach the latest right row with
    * `rightTs <= leftTs` for the same key (NULL payload when none).
    *
    * NOT implemented as a join at all: both sides are unioned with a side
    * tag and swept by ONE window pass per key ordered by (ts, side) —
    * `last(payload, ignoreNulls)` carries the most recent right payload
    * forward onto each left row. At 100 TB this is a single shuffle on the
    * key (the same cost as any keyed aggregation); the naive
    * inequality-join formulation is a per-key cross product that explodes
    * quadratically, and a per-left-row subquery doesn't distribute at all.
    *
    * Determinism: right rows sort before left rows at equal ts (<= match
    * includes same-instant rows), and ties among right rows break on
    * `rightTieBreak` (the LAST one in that order wins, i.e. the max).
    * Callers needing a different tie policy pre-dedup the right side with
    * `Transforms.firstPerGroup`.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String,
      rightPayload: Seq[String], rightTieBreak: Column): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct(rightPayload.map(right(_)) :+
      rightTieBreak.as("_tie"): _*)
    // A NULL right timestamp sorts nulls-first and its payload would be
    // carried forward into EVERY left row of its key ("matches
    // everything"); the as-of contract for an unknowable timestamp is
    // "matches nothing" — drop such rows. (A NULL left timestamp sorts
    // before all surviving right rows and correctly yields NULL payload.)
    val r = right.where(col(rightTs).isNotNull).select(
      keys.map(col) ++ Seq(
        col(rightTs).as("_ts"), lit(0).as("_side"),
        rightTieBreak.as("_tie"), payload.as("_rp")) ++
        leftCols.filterNot(keys.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("_ts"), lit(1).as("_side"),
        lit(null).cast(r.schema("_tie").dataType).as("_tie"),
        lit(null).cast(r.schema("_rp").dataType).as("_rp")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts"), col("_side"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("_match", last(col("_rp"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(leftCols.map(col) ++
        rightPayload.map(p => col(s"_match.$p").as(p)): _*)
  }

  /** Banded range join: pairs (left, right) on the same key with
    * `rightTs` in `[leftTs, leftTs + window)`.
    *
    * The naive formulation is an inequality join — a per-key cross product.
    * Here both sides are assigned to fixed-width time bands of `window`
    * millis; a qualifying right row lives either in the left row's band or
    * the next one, so the left side fans out to exactly 2 (key, band)
    * probes and the join is a plain equi-join on (key, band) + a residual
    * range filter. One shuffle, linear fan-out, no cross product — the
    * same trick Databricks' range-join optimization applies, expressed in
    * plan-level primitives.
    */
  def rangeJoinBucketed(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, windowMs: Long): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    // Comparisons run at MICROSECOND precision — Spark (and DuckDB)
    // timestamps carry µs, and an earlier ms truncation admitted pairs
    // whose true delta was sub-millisecond-negative (b 0.5ms BEFORE a
    // truncates to the same ms and passes >=). Band arithmetic is exact
    // integer floor-division via pmod: a double divide of e15-scale
    // micros is not exact at band boundaries.
    val windowUs = windowMs * 1000L
    def bandOf(us: Column): Column =
      ((us - pmod(us, lit(windowUs))) / lit(windowUs)).cast("long")
    val l = left
      .withColumn("_lus", unix_micros(col(leftTs).cast("timestamp")))
      .withColumn("_band", explode(array(
        bandOf(col("_lus")), bandOf(col("_lus")) + 1)))
    val r = right
      .withColumn("_rus", unix_micros(col(rightTs).cast("timestamp")))
      .withColumn("_band", bandOf(col("_rus")))
    l.join(r, keys :+ "_band")
      .where(col("_rus") >= col("_lus") &&
        col("_rus") < col("_lus") + windowUs)
      .drop("_band", "_lus", "_rus")
  }

  /** Bloom-prefiltered fact ⋈ dim join: the dim side's join keys are
    * folded into a bloom filter (one small aggregate), the filter is
    * broadcast, and the FACT side is pre-filtered with `might_contain`
    * BEFORE the join — so when the dim is selective, the fact rows that
    * would not survive the join are dropped at the scan and never reach
    * the join's shuffle/build. False positives are removed by the real
    * join, so the result is EXACTLY the plain inner join (the oracle runs
    * the plain join).
    *
    * This is the manual form of Spark's runtime row-level filtering
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, which only
    * triggers on shuffle joins with selective creation sides); expressing
    * it in the plan makes the pruning unconditional and portable. At
    * 100 TB: a 1M-key dim bloom is ~1 MB broadcast vs shuffling the
    * non-matching majority of a fact scan — the standard semi-join
    * reduction when the dim is too big to broadcast whole but its KEY SET
    * fits a sketch.
    *
    * `expectedItems`/`numBits` size the sketch (Spark's
    * `bloom_filter_agg` defaults target ~3% FPP at `expectedItems`);
    * FPP only affects how much pre-filtering is achieved, never
    * correctness.
    */
  def bloomPrefilterJoin(
      fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    // The sketch is built DISTRIBUTED (one partial-merged aggregate over
    // the dim) and materialized to the driver as a model artifact — the
    // same pattern as the IVF centroids — because `might_contain` requires
    // a constant/scalar-subquery filter side. It re-enters the plan as a
    // binary literal riding the task binary (~numBits/8 bytes; 1 MB for
    // the default 8M bits), NOT as a join input.
    val sketch = dim.agg(
      expr(s"bloom_filter_agg(xxhash64($dimKey), ${expectedItems}L, ${numBits}L)")
        .as("_bf")).head().getAs[Array[Byte]](0)
    val pre =
      if (sketch == null) fact.where(lit(false)) // empty dim → empty join
      else fact.where(
        call_function("might_contain", lit(sketch), xxhash64(col(factKey))))
    // qualified references: with factKey == dimKey (or the name present
    // on both sides) bare col() is AMBIGUOUS_REFERENCE at analysis
    pre.join(dim, pre(factKey) === dim(dimKey))
  }
}
