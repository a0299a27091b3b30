package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Physical-plan assertions — the properties that matter at 100 TB, locked
  * in as tests so a refactor can't silently regress them:
  * filter/column pushdown into the parquet scan, broadcast of dimension
  * joins, and shuffle-free joins between co-bucketed tables.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection push down to the parquet scan") {
    val df = Tables(spark, dir, "orders")
      .where(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"),
      s"expected pushed filter in:\n$plan")
    // pruned scan: only the referenced columns reach the reader
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string>"),
      s"expected pruned ReadSchema in:\n$plan")
  }

  test("dimension join broadcasts (no shuffle of the fact side)") {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val plan = planOf(
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey")))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ in:\n$plan")
  }

  test("dynamic partition pruning fires on partitioned fact ⋈ filtered dim") {
    val base = Files.createTempDirectory("graft_dpp").toString
    Tables(spark, dir, "orders")
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    val dim = Seq(("O", "open")).toDF("st", "label")
    val j = fact.join(dim, fact("status") === dim("st"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning") ||
      // at minimum the static partition filter path must exist for literal
      // filters — assert pruned read when filtering directly
      {
        val direct = fact.where(col("status") === "O")
          .queryExecution.executedPlan.toString
        direct.contains("PartitionFilters: [isnotnull(status")
      },
      s"expected dynamic or static partition pruning in:\n$plan")
    assert(j.count() > 0)
  }

  test("bruteForceTopK broadcasts the QUERY side, streams the corpus") {
    val emb = Tables(spark, dir, "embeddings")
    val df = ops.Similarity.bruteForceTopK(
      emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
    val plan = planOf(df)
    // the non-equi self-exclusion forces a nested loop; the BUILD side must
    // be the query set — broadcasting the corpus instead would OOM at scale
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected BroadcastNestedLoopJoin in:\n$plan")
    val joinLine = plan.linesIterator
      .find(_.contains("BroadcastNestedLoopJoin")).get
    assert(joinLine.contains("BuildRight"),
      s"query side must be the (right) build side:\n$joinLine")
    // corpus side reaches the join without an Exchange: the only shuffle
    // in the whole plan is the |queries|-keyed top-k aggregation
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      s"corpus side must not shuffle before the join:\n$plan")
    // the rank tail is the shared partial-aggregable scoreRank — k rows
    // per (partition, query) reach the exchange, never the full scored
    // corpus×queries set the old row_number window sorted
    assert(!plan.contains("Window"),
      s"cosine ranking must not plan a window over scored pairs:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkaggregator"),
      s"expected map-side partial top-k aggregation in:\n$plan")
  }

  test("ivfTopK / lshTopK rank through the partial-aggregable tail — " +
    "no row_number window on any production cosine path") {
    val emb = Tables(spark, dir, "embeddings")
    for (df <- Seq(
        ops.Similarity.ivfTopK(
          emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 5),
        ops.Similarity.lshTopK(
          emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 5))) {
      val plan = planOf(df)
      assert(!plan.contains("Window"),
        s"cosine ranking must not plan a window over scored pairs:\n$plan")
      assert(plan.toLowerCase.contains("partial_topkaggregator"),
        s"expected map-side partial top-k aggregation in:\n$plan")
    }
  }

  test("exactIncremental: the digest store STREAMS into a broadcast " +
    "semi-probe of the batch — zero store-side Exchange per ingest") {
    val docs = Tables(spark, dir, "documents")
    val seen = docs.where(col("doc_id") < 250)
      .select(md5(col("text").cast("binary")).as("digest"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the HINT must carry the broadcast, not size stats — at 100 TB the
    // store's stats would never qualify anything on this join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = ops.Dedup.exactIncremental(
        docs.where(col("doc_id") >= 250), "doc_id", "text", seen)
      val plan = planOf(out)
      val semiAt = plan.linesIterator.indexWhere(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
      assert(semiAt >= 0,
        s"store probe must be a broadcast semi-join:\n$plan")
      // the streamed (store) side sits between the semi-join node and
      // its BroadcastExchange build side: no shuffle may appear there —
      // the old sort-merge anti-join re-shuffled the WHOLE store per
      // batch, the exchange that IS the cost of a daily ingest at scale
      val lines = plan.linesIterator.toVector
      val bcastAt = lines.indexWhere(_.contains("BroadcastExchange"), semiAt)
      assert(bcastAt > semiAt, s"expected a broadcast build side:\n$plan")
      val storeSide = lines.slice(semiAt + 1, bcastAt)
      assert(!storeSide.exists(_.contains("Exchange hashpartitioning")),
        s"store side must not shuffle before the probe:\n$plan")
      assert(storeSide.exists(_.contains("Scan parquet")),
        s"store side should be the streamed scan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental band/bucket probes broadcast the BATCH side: the " +
    "persisted store streams with zero store-side shuffle per ingest") {
    val docs = Tables(spark, dir, "documents")
    val emb = Tables(spark, dir, "embeddings")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // minhash: batch (doc_id >= 250) vs the persisted band table
      val storedBands = ops.Dedup.bandTable(
        docs.where(col("doc_id") < 250).select(col("doc_id").as("_id"),
          ops.Text.shingles(col("text"), 3).as("_sh")))
      val mh = ops.Dedup.minhashIncrementalCandidates(
        docs.where(col("doc_id") >= 250), "doc_id", "text", storedBands)
      val mhPlan = planOf(mh)
      assert(mhPlan.contains("BroadcastHashJoin"),
        s"batch side must broadcast onto the band store:\n$mhPlan")
      // SRP: batch vec_ids ≡ 0 mod 5 vs the persisted bucket table
      val storedBkts = ops.Similarity.srpTable(
        emb.where(pmod(col("vec_id"), lit(5)) =!= 0), "vec_id", "embedding")
      val sp = ops.Similarity.cosineIncrementalCandidates(
        emb.where(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding",
        storedBkts, 0.4)
      val spPlan = planOf(sp)
      // both store-side joins (retry anti-join + bucket join) must be
      // broadcast — one leftover sort-merge join re-shuffles the store
      val bhj = spPlan.linesIterator
        .count(_.contains("BroadcastHashJoin"))
      assert(bhj >= 2,
        s"expected both store-side joins broadcast, got $bhj:\n$spPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("curation composite: stage boundaries are materialized exactly " +
    "once — the final plan reads checkpointed blocks, never the source " +
    "parquet, so no stage can re-run a predecessor's scan or shuffle") {
    val docs = Tables(spark, dir, "documents")
    val out = ops.Curation.curate(
      docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
      "doc_id", "text", "source")
    val plan = planOf(out)
    // everything upstream of the last materialization (`head`) was
    // checkpointed during construction: a parquet scan in THIS plan
    // would mean some stage reached past a checkpoint back to the
    // source and will re-execute the whole upstream chain per action
    assert(!plan.contains("Scan parquet"),
      s"final curation plan must read checkpoints, not parquet:\n$plan")
    // the tail is cap + semi-join + shard window over capped survivors:
    // group-keyed exchanges only, nothing corpus-wide beyond them
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 4,
      s"unexpected extra shuffles in the curation tail:\n$plan")
    // and the funnel is non-vacuous end to end
    assert(out.count() > 0)
  }

  test("curateStaged: the dedup/decontaminate/head boundary joins read " +
    "co-bucketed tables — ZERO Exchange on either side even with " +
    "auto-broadcast off (the co-location the checkpoint seam loses)") {
    val docs = Tables(spark, dir, "documents")
    val wh = java.nio.file.Files.createTempDirectory("graft_curstp").toString
    val sink = graft.sources.BucketedSink(4, Seq("doc_id"))
    val plans = scala.collection.mutable.Map.empty[String, String]
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = ops.Curation.curateStagedTapped(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
        "doc_id", "text", "source", sink, wh,
        tap = (stage, df) => plans(stage) = planOf(df))
      assert(out.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // `exact` is the digest aggregate over the raw corpus (its shuffle is
    // the aggregation itself); every LATER boundary is an id-keyed join
    // of two tables bucketed on doc_id — co-located, no Exchange at all
    Seq("deduped", "clean", "head").foreach { stage =>
      val p = plans.getOrElse(stage, fail(s"stage $stage never tapped"))
      assert(!p.contains("Exchange"),
        s"boundary join '$stage' must be co-located end to end:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"boundary join '$stage' should be a bucket-co-located join:\n$p")
      assert(p.contains("Bucketed: true"),
        s"boundary join '$stage' should read bucket-aware scans:\n$p")
    }
  }

  test("curateIncremental: batch fold against PARQUET-persisted stores — " +
    "the final plan reads checkpoints only, and the returned label store " +
    "update is the ONE map-side relabel pass (broadcast merge map, zero " +
    "store-side Exchange)") {
    val docs = Tables(spark, dir, "documents")
    val ws = ops.Text.winnowStore(
      docs.where(col("doc_id") < 50), "doc_id", "text")
    val b0 = docs.where(col("doc_id") >= 50 && pmod(col("doc_id"), lit(2)) === 0)
    val b1 = docs.where(col("doc_id") >= 50 && pmod(col("doc_id"), lit(2)) === 1)
    val (_, st1) = ops.Curation.curateIncremental(
      b0, ws, "doc_id", "text", "source",
      ops.Curation.CurationStores.empty(spark, "source"),
      metricsTag = "curinc_p0")
    // persist the stores the way a production fold would, and re-read:
    // the batch-2 probes must stream THESE parquet scans shuffle-free
    val wh = java.nio.file.Files.createTempDirectory("graft_curinc").toString
    def roundTrip(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$wh/$name")
      spark.read.parquet(s"$wh/$name")
    }
    val persisted = st1.copy(
      digests = roundTrip(st1.digests, "digests"),
      bands = roundTrip(st1.bands, "bands"),
      labels = roundTrip(st1.labels, "labels"),
      capCounts = roundTrip(st1.capCounts, "caps"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (out2, st2) = ops.Curation.curateIncremental(
        b1, ws, "doc_id", "text", "source", persisted,
        metricsTag = "curinc_p1")
      // stage discipline: the output reads checkpointed stage frames,
      // never the source or store parquet (no stage re-runs upstream)
      val outPlan = planOf(out2)
      assert(!outPlan.contains("Scan parquet"),
        s"fold output must read checkpoints, not parquet:\n$outPlan")
      assert(out2.count() > 0, "fold must be non-vacuous at sf0.001")
      // label-store update: one broadcast left join over the store scan,
      // plus the batch-sized union — NO hash-partitioning Exchange
      // anywhere (a sort-merge relabel would re-shuffle the whole store
      // per ingest, the exactIncremental finding)
      val lblPlan = planOf(st2.labels)
      assert(lblPlan.contains("BroadcastHashJoin"),
        s"store relabel must broadcast the merge map:\n$lblPlan")
      assert(!lblPlan.contains("Exchange hashpartitioning"),
        s"label store must never shuffle on ingest:\n$lblPlan")
      assert(lblPlan.contains("Scan parquet"),
        s"the relabel pass should stream the persisted store:\n$lblPlan")
      // digest/band store updates are pure appends (union of the scan
      // with checkpointed batch rows) — same zero-Exchange contract
      Seq(st2.digests, st2.bands).foreach { store =>
        val p = planOf(store)
        assert(!p.contains("Exchange hashpartitioning"),
          s"append-only store update must not shuffle:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("curateIncremental: broadcast dispatch issues NO count job — the " +
    "only driver actions during a fold are the materializing counts " +
    "(checkpointCounted), never a second per-frame probe") {
    val docs = Tables(spark, dir, "documents")
    val ws = ops.Text.winnowStore(
      docs.where(col("doc_id") < 50), "doc_id", "text")
    val b = docs.where(col("doc_id") >= 50)
    // The pin is the raw JOB COUNT of one fold against empty stores.
    // Each materialization is exactly ONE job (checkpointCounted's
    // forcing count / the eager checkpoint's internal count) plus the
    // plans' own exchange/broadcast jobs; the retired dispatch
    // (`broadcastIfSmall(df, Some(df.count()))`) added one count job per
    // hinted frame and a sampling collect on top — ~10 extra jobs, well
    // past the headroom below.
    val foldJobs = jobsDuring {
      ops.Curation.curateIncremental(
        b, ws, "doc_id", "text", "source",
        ops.Curation.CurationStores.empty(spark, "source"),
        metricsTag = "curinc_jobs")
    }
    // measured 70 at sf0.001 under AQE (each exchange/broadcast stage
    // is its own job; 74 while the in-session winnow and ppl-threshold
    // stores each paid a `_params` probe job, 72 before the cap gate's
    // two width samples); the retired dispatch added ~16 (one count +
    // one sampling collect per hinted frame, 8 frames), i.e. ~86. The
    // bound is 82, set at 74 + 8 and still below that. A legitimate plan change that crosses
    // it should re-baseline CONSCIOUSLY, with this arithmetic in hand.
    val bound = 82
    assert(foldJobs <= bound,
      s"one curateIncremental fold launched $foldJobs jobs (> $bound): " +
        "a per-frame count/sampling probe crept back into the " +
        "broadcast dispatch")
    assert(foldJobs > 0, "listener saw no fold jobs — harness broken")
  }

  test("curate runs a bounded number of jobs on the sf0.01 documents: " +
    "no store-params probe, near-dup components from one collect") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val jobs = jobsDuring {
      ops.Curation.curate(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
        "doc_id", "text", "source").collect()
    }
    // measured 40 here, output collect included (44 before: each of
    // the two in-session stores — the winnow fingerprints and the ppl
    // thresholds — paid a `_params` probe job, and the near-dup CC ran
    // an eager pair checkpoint, a checkpointed symmetrized distinct (2
    // jobs) and a collect where it now runs a counted pair checkpoint
    // and one collect; the contaminated ids add one checkpoint job on
    // their branch: 44 − 2 − 3 + 1 = 40). The bound is 40 + 1 = 41, so
    // the two returning probes (+2) or the pair-side CC jobs (+3) fail
    // it. A legitimate plan change that crosses it should
    // re-baseline with this arithmetic in hand.
    val bound = 41
    assert(jobs <= bound,
      s"one curate call launched $jobs jobs (> $bound): a store-params " +
        "probe or a pair-side CC job crept back")
    assert(jobs > 0, "listener saw no curate jobs — harness broken")
  }

  test("scoreRank keeps the window's rank contract on the edges: NaN " +
    "ranks greatest, NULL scores drop, ties break to the smaller id") {
    import spark.implicits._
    val scored = Seq(
      (1L, 10L, Some(0.5)), (1L, 11L, Some(Double.NaN)),
      (1L, 12L, Some(0.9)), (1L, 13L, None),
      (1L, 14L, Some(0.9)), (1L, 15L, Some(Double.NaN)))
      .toDF("query_id", "neighbor_id", "score")
    val got = ops.Similarity.scoreRank(scored, 3)
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    // NaN first (id ties ascending), then score DESC / id ASC; the NULL
    // row never appears; decoded scores carry NaN, not the 2.0 sentinel
    assert(got.map(x => (x._1, x._2)).toSeq ===
      Seq((11L, 1), (15L, 2), (12L, 3)))
    assert(got(0)._3.isNaN && got(1)._3.isNaN && got(2)._3 === 0.9)
  }

  test("budget report: fact side scanned once and joined broadcast") {
    val report = reports.BudgetReport(
      reports.TaskTree.tasks(spark, dir), reports.TaskTree.entries(spark, dir))
    val plan = planOf(report)
    // the 100 TB side (entries = lineitem here) must appear in exactly ONE
    // scan — the closure/rollup must never trigger a second pass or a
    // re-shuffle of the fact table
    val factScans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(factScans === 1, s"expected 1 lineitem scan, got $factScans in:\n$plan")
    // at this SF the closure is dimension-sized, so broadcastIfSmall must
    // still dispatch to a broadcast join
    assert(plan.contains("BroadcastHashJoin"),
      s"closure must broadcast against the fact side:\n$plan")
    // partial aggregation runs map-side before the only fact shuffle
    assert(plan.contains("HashAggregate"), s"expected hash agg in:\n$plan")
  }

  test("broadcastIfSmall: hint only while the dim is broadcast-sized") {
    val dim = spark.range(100)
      .select(col("id").as("k"), lit("x").as("v"))
      .transform(Materialize.checkpoint)
    val fact = spark.range(1000).select((col("id") % 100).as("k"), col("id").as("p"))
    // isolate the helper's dispatch from Spark's own stats-based broadcast
    // (checkpointed frames PROPAGATE size estimates, so auto-broadcast can
    // fire with no hint at all — the helper's job is only the hint)
    // broadcastIfFits, the forced gate on a known row count: only
    // fixed-width frames under both gates get the hint
    val fixed = dim.select(col("k"), (col("k") * 2).as("v"))
    def fits(df: org.apache.spark.sql.DataFrame) =
      planOf(fact.join(ops.Joins.broadcastIfFits(df, 100), Seq("k")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = planOf(fact.join(ops.Joins.broadcastIfSmall(dim), Seq("k")))
      assert(small.contains("BroadcastHashJoin"),
        s"100 rows must dispatch to broadcast:\n$small")
      val fitsFixed = fits(fixed)
      assert(fitsFixed.contains("BroadcastHashJoin"),
        s"a fixed-width frame under the gates must get the hint:\n$fitsFixed")
      val fitsString = fits(dim)
      assert(!fitsString.contains("BroadcastHashJoin"),
        s"a frame with a string column must NOT be force-broadcast:\n$fitsString")
      spark.conf.set(ops.Joins.MaxBroadcastRowsKey, "10")
      val big = planOf(fact.join(ops.Joins.broadcastIfSmall(dim), Seq("k")))
      assert(!big.contains("BroadcastHashJoin"),
        s"over-threshold dim must NOT be force-broadcast:\n$big")
      val fitsOver = fits(fixed)
      assert(!fitsOver.contains("BroadcastHashJoin"),
        s"rows above ${ops.Joins.MaxBroadcastRowsKey} must NOT be force-broadcast:\n$fitsOver")
    } finally {
      spark.conf.unset(ops.Joins.MaxBroadcastRowsKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("broadcastIfSmall gates on bytes, not just rows: a narrow dim " +
    "broadcasts, a wide embedding dim of EQUAL row count does not") {
    val n = 5000
    val narrow = spark.range(n)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
      .transform(Materialize.checkpoint)
    val wide = spark.range(n)
      .select(col("id").as("k"),
        array((0 until 100).map(i => (col("id") + i).cast("double")): _*).as("emb"))
      .transform(Materialize.checkpoint)
    val fact = spark.range(n * 10).select((col("id") % n).as("k"), col("id").as("p"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // both frames pass the ROW gate; only the byte gate separates them:
    // ~5k × ~100 B (two longs) vs ~5k × ~900 B (100-double array)
    spark.conf.set(ops.Joins.MaxBroadcastBytesKey, (2L * 1024 * 1024).toString)
    try {
      val slim = planOf(fact.join(ops.Joins.broadcastIfSmall(narrow), Seq("k")))
      assert(slim.contains("BroadcastHashJoin"),
        s"narrow dim under the byte cap must broadcast:\n$slim")
      val fat = planOf(fact.join(ops.Joins.broadcastIfSmall(wide), Seq("k")))
      assert(!fat.contains("BroadcastHashJoin"),
        s"wide dim over the byte cap must NOT be force-broadcast:\n$fat")
    } finally {
      spark.conf.unset(ops.Joins.MaxBroadcastBytesKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bloom prefilter lands on the fact side before the join") {
    val fact = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val dim = Tables(spark, dir, "supplier")
      .where(col("s_acctbal") > 6000).select(col("s_suppkey"), col("s_name"))
    val j = ops.Joins.bloomPrefilterJoin(fact, dim, "l_suppkey", "s_suppkey")
    val plan = planOf(j)
    // the sketch probe must appear as a Filter on the fact branch —
    // that's the whole point: non-matching fact rows die before the join
    assert(plan.contains("might_contain"),
      s"expected bloom probe filter in:\n$plan")
    // exactness: identical multiset as the plain join (FPs removed)
    val plain = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
    assert(j.count() === plain.count())
    assert(j.exceptAll(plain).isEmpty && plain.exceptAll(j).isEmpty)
  }

  test("gopher rule bundle runs at scan speed: zero Exchange, one scan") {
    val plan = planOf(
      graft.ops.Text.gopherStats(Tables(spark, dir, "documents"), "doc_id", "text"))
    assert(!plan.contains("Exchange"), s"gopher filter must not shuffle:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    // the FILTER shape (curation stage 1) keeps the same plan contract:
    // one scan, zero shuffle — a stats+semi-join formulation would plan
    // a second scan and an id-keyed Exchange of the corpus
    val fPlan = planOf(
      graft.ops.Text.gopherFilter(Tables(spark, dir, "documents"), "text"))
    assert(!fPlan.contains("Exchange"),
      s"gopherFilter must not shuffle:\n$fPlan")
    assert("Scan parquet".r.findAllIn(fPlan).size === 1, fPlan)
  }

  test("cleanText and classifierScore run at scan speed: zero Exchange, " +
    "one scan, no UDF; cleanText alone stays whole-stage-codegen") {
    val docs = Tables(spark, dir, "documents")
    val plan = planOf(docs.select(col("doc_id"),
      graft.ops.Text.cleanText(col("text")).as("clean"),
      graft.ops.Text.classifierScore(
        col("text"), Map("the" -> 0.5, "a" -> -0.5), 0.1).as("score")))
    assert(!plan.contains("Exchange"), s"map-side ops must not shuffle:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"no UDF fence expected:\n$plan")
    // the classifier's fold is a Catalyst higher-order function —
    // CodegenFallback by Spark design (all HOFs are), which keeps the
    // combined Project un-starred. cleanText has no HOF: its projection
    // must carry the whole-stage-codegen star (nfc_normalize doGenCode)
    val cleanOnly = planOf(docs.select(col("doc_id"),
      graft.ops.Text.cleanText(col("text")).as("clean")))
    assert("""\*\(\d+\) Project""".r.findFirstIn(cleanOnly).isDefined,
      s"cleanText projection must stay inside codegen:\n$cleanOnly")
  }

  test("nbTrain: ONE token-keyed exchange with map-side partial agg, " +
    "totals joined by broadcast, no UDF") {
    val docs = Tables(spark, dir, "documents")
    val plan = planOf(graft.ops.Text.nbTrain(docs, "text",
      col("doc_id") < 100))
    // the token counts shuffle once; the one-row totals re-enter via
    // BroadcastExchange (scalars, never a shuffled join). AQE may plan
    // the totals' own agg as a second small exchange — the contract is
    // on the token key: exactly one HASH-partitioned Exchange.
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"nbTrain must not shuffle beyond the token key + totals agg:\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastQueryStage"),
      s"totals row must broadcast:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"map-side partial agg expected:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"no UDF fence expected:\n$plan")
  }

  test("capTokensPerGroup: ONE exchange (the group key), budget filter " +
    "applied before the output projection") {
    val docs = Tables(spark, dir, "documents")
    val plan = planOf(graft.ops.Text.capTokensPerGroup(
      docs, "source", "doc_id", "text", 400L))
    assert("Exchange".r.findAllIn(plan).size === 1,
      s"token cap must shuffle exactly once, on the group key:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
  }

  test("keep-best resolution uses a partial-aggregable struct-min, no Window") {
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7)).toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val plan = planOf(graft.ops.Dedup.keepBestPerCluster(
      docs, "doc_id", col("q"), clusters))
    // a window-rank keeper pick would serialize each cluster through one
    // task AND block partial aggregation; the struct-min shape must hold
    assert(!plan.contains("Window"), s"keeper pick must not use a window:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"expected map-side partial struct-min in:\n$plan")
  }

  test("IVF probe: the persisted assignment reaches the join with ZERO " +
    "corpus-side shuffle, and the result is bit-identical to the inline path") {
    val wh = Files.createTempDirectory("graft_ivf_plan").toString
    val emb = Tables(spark, dir, "embeddings")
    val cents = ops.Similarity.ivfBuild(emb, "vec_id", "embedding", 4, 8, wh, "ivf")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = ops.Similarity.ivfProbe(
        emb.where(col("vec_id") < 8),
        ops.Similarity.ivfAssigned(spark, wh, "ivf"),
        "vec_id", "embedding", 5, cents)
      val plan = planOf(probe)
      // the only shuffles allowed: the (batch-sized) query side moving
      // into the corpus's bucket partitioning, and the |queries|-keyed
      // top-k aggregation — the corpus itself reaches the join
      // pre-partitioned by the bucketed layout the build paid for once.
      // An un-bucketed read would plan a third Exchange on the corpus
      // branch.
      assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
        s"corpus side must not shuffle before the probe join:\n$plan")
      assert(!plan.contains("Window"),
        s"probe ranking must not plan a window over scored pairs:\n$plan")
      assert(plan.toLowerCase.contains("partial_topkaggregator"),
        s"expected map-side partial top-k aggregation in:\n$plan")
      // amortizing the artifact must not change a single row vs inline
      val inline = ops.Similarity.ivfTopK(
        emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
      assert(probe.exceptAll(inline).isEmpty && inline.exceptAll(probe).isEmpty)
      // multi-probe fans out QUERY rows only: the corpus branch still
      // reaches the join pre-partitioned — same Exchange budget at
      // nprobe = 2 (a corpus-side fan-out would add a third Exchange
      // AND multiply corpus rows; this pins both away)
      val probe2 = ops.Similarity.ivfProbe(
        emb.where(col("vec_id") < 8),
        ops.Similarity.ivfAssigned(spark, wh, "ivf"),
        "vec_id", "embedding", 5, cents, nprobe = 2)
      val plan2 = planOf(probe2)
      assert(plan2.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
        s"corpus side must not shuffle at nprobe=2:\n$plan2")
      // model-drift guard: probing the artifact with a DIFFERENT
      // quantizer (here k=6 vs the k=4 that assigned the cells) must
      // fail loudly — two quantizers joined on _cell is a silent
      // recall collapse, not an answer
      val other = ops.Similarity.seedCentroidsFor(emb, "vec_id", "embedding", 6)
      val eDrift = intercept[IllegalArgumentException] {
        ops.Similarity.ivfProbe(
          emb.where(col("vec_id") < 8),
          ops.Similarity.ivfAssigned(spark, wh, "ivf"),
          "vec_id", "embedding", 5, other)
      }
      assert(eDrift.getMessage.contains("ivf:k4:"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS " + graft.sources
        .BucketedSink(8, Seq("_cell"), Nil, "ivf").catalogName(wh, "ivf"))
    }
  }

  test("pqTopK: queries broadcast, corpus streams, and the ADC top-k is " +
    "partial-aggregable — no row_number window over the scored pairs") {
    val emb = Tables(spark, dir, "embeddings")
    val model = ops.Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ks = 16, iters = 1)
    val enc = ops.Similarity.pqEncode(emb, "vec_id", "embedding", model)
    val df = ops.Similarity.pqTopK(
      emb.where(col("vec_id") < 8), enc, "vec_id", "embedding", 5, model)
    val plan = planOf(df)
    // query side (with its ADC tables) is the broadcast build side
    val joinLine = plan.linesIterator
      .find(_.contains("BroadcastNestedLoopJoin"))
    assert(joinLine.exists(_.contains("BuildRight")),
      s"expected BroadcastNestedLoopJoin BuildRight in:\n$plan")
    // the old shape ranked via row_number() over a per-query window: every
    // scored corpus×queries pair shuffled into the window sort. The
    // aggregator shape reduces to k rows per (partition, query) BEFORE
    // the one exchange — no Window node may appear on the ADC path
    assert(!plan.contains("Window"),
      s"ADC ranking must not plan a window over scored pairs:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkaggregator"),
      s"expected map-side partial top-k aggregation in:\n$plan")
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      s"only the |queries|-keyed agg exchange may shuffle:\n$plan")
  }

  test("hammingTopK: queries broadcast, corpus codes stream, rank tail " +
    "is partial-aggregable — no window, at most one exchange") {
    val emb = Tables(spark, dir, "embeddings")
    val codes = ops.Similarity.binQuantize(emb, "vec_id", "embedding", 64)
    val df = ops.Similarity.hammingTopK(
      emb.where(col("vec_id") < 8), codes, "vec_id", "embedding", 5, 64)
    val plan = planOf(df)
    val joinLine = plan.linesIterator
      .find(_.contains("BroadcastNestedLoopJoin"))
    assert(joinLine.exists(_.contains("BuildRight")),
      s"expected BroadcastNestedLoopJoin BuildRight in:\n$plan")
    assert(!plan.contains("Window"),
      s"Hamming ranking must not plan a window over scored pairs:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkaggregator"),
      s"expected map-side partial top-k aggregation in:\n$plan")
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      s"only the |queries|-keyed agg exchange may shuffle:\n$plan")
  }

  test("ivfBinTopK: cells and codes are map-side on the corpus (zero " +
    "corpus-side Exchange before the rank agg), probes broadcast") {
    val emb = Tables(spark, dir, "embeddings")
    val df = ops.Similarity.ivfBinTopK(
      emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
      5, 16, 64, nprobe = 2)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the probe side to broadcast onto the cell join:\n$plan")
    assert(!plan.contains("Window"),
      s"no window may rank the scored pairs:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkaggregator"),
      s"expected map-side partial top-k aggregation in:\n$plan")
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      s"only the |queries|-keyed agg exchange may shuffle:\n$plan")
  }

  test("repeatedSpans: the repeated tail joins back as a broadcast " +
    "semi-join (the corpus-sized span set never re-shuffles for it) and " +
    "the cross-doc detection is partial-aggregated map-side") {
    val docs = Tables(spark, dir, "documents")
    val df = ops.Text.repeatedSpans(docs, "doc_id", "text", w = 8)
    val plan = planOf(df)
    // the repeated set is the duplicated TAIL — broadcast-sized on any
    // real corpus; the span rows must meet it in a broadcast semi-join,
    // not a second full shuffle of the exploded windows
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast LEFT SEMI for the repeated tail in:\n$plan")
    // countDistinct over the span key plans as two-phase partial_count
    // (distinct handled by the first keyed aggregate) — no Window
    assert(!plan.contains("Window"),
      s"no window may appear on the repeated-span path:\n$plan")
    assert(plan.toLowerCase.contains("partial_count"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("co-bucketed tables written through the Sink seam join without a shuffle") {
    val wh = Files.createTempDirectory("graft_bucketed").toString
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    // the production path: BucketedSink pays the shuffle once at write time
    val liSink = graft.sources.BucketedSink(8, Seq("l_orderkey"),
      Seq("l_orderkey"), tablePrefix = "b")
    val oSink = graft.sources.BucketedSink(8, Seq("o_orderkey"),
      Seq("o_orderkey"), tablePrefix = "b")
    liSink.write(li, s"$wh/li", "li", "parquet")
    oSink.write(o, s"$wh/o", "o", "parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = liSink.read(spark, s"$wh/li", "li")
        .join(oSink.read(spark, s"$wh/o", "o"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = planOf(j)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS ${liSink.catalogName(s"$wh/li", "li")}")
      spark.sql(s"DROP TABLE IF EXISTS ${oSink.catalogName(s"$wh/o", "o")}")
    }
  }
}
