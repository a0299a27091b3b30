package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension (SURVEY.md §7.5 — not reference parity;
  * the reference is strictly batch, `dlt_fetch_timecamp.py:55-66`).
  *
  * The transforms are written against a plain DataFrame so the identical
  * logical plan serves batch (`Tables(.., "events")`) and streaming
  * (`spark.readStream` on the same schema): Structured Streaming's
  * incrementalization is exactly Spark's "one plan, two execution modes"
  * contract. Watermarking applies only when the input is streaming.
  */
object EventStream {

  /** Tumbling-window aggregate per user: hourly event count + value sum.
    * On a stream, a 2-hour watermark bounds state; on batch it's a plain
    * group-by (watermark is a no-op on batch plans).
    */
  def hourlyAgg(events: DataFrame): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    withWm
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        col("window.start").as("hour_start"),
        col("n_events"), col("sum_value"))
  }

  /** Gap-based session windows per user (native `session_window`): events
    * closer than `gap` merge into one session; output is the session span
    * and event count. Identical plan serves batch and streaming (with a
    * watermark bounding session state on streams). At scale this shuffles
    * once on user_id; session merge is streaming-state or sort-based agg.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    withWm
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** Step-ordered funnel analysis: for each user, match `steps` head to
    * its EARLIEST event, then every later step to the earliest
    * qualifying event strictly after the previous match and within
    * `window` of it — the GREEDY sequential-match funnel (deterministic;
    * the common analytics-product semantics). Output: one row per step,
    * `(step, event_type, n_users)` — users whose chain reaches it.
    *
    * Greedy is a deliberately documented choice, not an oversight: an
    * exists-ANY-chain match can reach further (a later step-i event may
    * open a window the earliest one closes), but deciding it needs a
    * per-user time sweep over ALL events, while greedy is k−1 rounds of
    * (one type-pruned scan + one user-keyed join/aggregate) with ONE
    * row of state per user per round — bounded however hot a user is.
    * The per-user sweep shape (collect + fold) concentrates a hot
    * user's whole history in one task; this one never does. Rounds are
    * checkpointed (the iterative-fixpoint discipline) so round plans
    * stay O(1) and each reach frame feeds both its successor and the
    * final count union without re-running its join.
    */
  /** Validated funnel window: the caller-supplied duration string must
    * parse as a positive calendar interval BEFORE it is spliced into the
    * plan — interpolating it raw surfaces a malformed window ("24h",
    * empty string) as an opaque Catalyst parse error instead of the
    * loud require(...) the rest of the operator family uses.
    */
  private def funnelInterval(window: String): Column = {
    val parsed = org.apache.spark.sql.catalyst.util.IntervalUtils
      .safeStringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(window))
    require(parsed != null,
      s"funnel: window '$window' is not a valid interval " +
        "(expected e.g. '24 hours', '30 minutes')")
    require(
      parsed.months > 0 || parsed.days > 0 || parsed.microseconds > 0,
      s"funnel: window '$window' must be a positive duration")
    expr(s"INTERVAL $window")
  }

  def funnel(
      events: DataFrame, steps: Seq[String], window: String = "24 hours",
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type",
      wholeFunnelWindow: Boolean = false): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    val w = funnelInterval(window)
    val first = graft.Materialize.checkpoint(
      events.where(col(typeCol) === steps.head)
        .groupBy(col(userCol))
        .agg(min(col(tsCol)).as("_t"))
        .withColumn("_t0", col("_t")))
    // Two published window conventions, both spec-pinned: per-step (each
    // step within `window` of the PREVIOUS match — the default) and
    // whole-funnel (every step within `window` of the step-1 match).
    // Whole-funnel is the stricter gate whenever k > 2; the chains are
    // identical otherwise. The greedy match stays min-ts either way —
    // under the whole-funnel deadline the earliest qualifying event is
    // never worse than a later one, so greedy IS optimal for that mode.
    val reaches = steps.tail.scanLeft(first) { (prev, step) =>
      graft.Materialize.checkpoint(
        events.where(col(typeCol) === step)
          .join(prev.select(col(userCol), col("_t").as("_tp"), col("_t0")),
            Seq(userCol))
          .where(col(tsCol) > col("_tp") &&
            col(tsCol) <= (if (wholeFunnelWindow) col("_t0") else col("_tp")) + w)
          .groupBy(col(userCol), col("_t0")).agg(min(col(tsCol)).as("_t"))
          .select(col(userCol), col("_t"), col("_t0")))
    }
    reaches.zip(steps).zipWithIndex
      .map { case ((r, step), i) =>
        r.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(step).as("event_type"),
            col("n_users"))
      }
      .reduce(_.unionByName(_))
  }

  /** Per-user running event count ordered by event time — on a stream this
    * is the `mapGroupsWithState` shape; expressed declaratively it is a
    * cumulative window, which Structured Streaming cannot run but batch
    * backfill uses. The streaming twin is `runningCountStateful`.
    */
  def runningCount(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    events.withColumn("running_n", count(lit(1)).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
  }

  /** Stream-stream interval join (purchase attribution): each click pairs
    * with same-user purchases within `within` AFTER it. On streams both
    * sides carry watermarks and the time-range condition bounds join state
    * (Spark evicts buffered rows past watermark+bound); on batch the same
    * plan is a plain range-condition join. One shuffle per side on
    * user_id.
    */
  def purchaseAttribution(
      clicks: DataFrame, purchases: DataFrame,
      within: String = "1 hour"): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", "2 hours") else df
    val l = wm(clicks).select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val r = wm(purchases).select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    l.join(r,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $within"))
      .select(col("click_id"), col("user_id"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Exactly-once-shaped dedup by event id. Streaming uses
    * `dropDuplicatesWithinWatermark` so the dedup state is EVICTABLE —
    * ids older than the watermark are forgotten (unbounded-state
    * `dropDuplicates` on a stream never frees anything); batch is a plain
    * dedup. Duplicate rows are byte-identical retransmissions, so the
    * arbitrary survivor is deterministic in value.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  case class DocIn(doc_id: Long, text: String)
  case class DocKept(doc_id: Long, digest: String)

  /** Streaming twin of `Dedup.exactIncremental`: a document ingest stream
    * deduplicated by content digest ACROSS micro-batches — the first doc
    * per digest survives (in-batch ties resolve to the min doc_id, the
    * batch path's keeper rule), every later retransmission or re-crawl is
    * dropped. State is one boolean per distinct digest — the same
    * O(distinct-digest) footprint the batch path persists as its digest
    * store, here held by the streaming state store. NO watermark: corpus
    * dedup is permanent semantics (a document seen a year ago is still a
    * duplicate), which is exactly why the state must be the 32-byte
    * digest, never the document.
    */
  def dedupDocStream(docs: Dataset[DocIn]): Dataset[DocKept] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("digest")).as[DocKept]
      .groupByKey(_.digest)
      .flatMapGroupsWithState[Boolean, DocKept](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (digest: String, rows: Iterator[DocKept], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.toSeq.sortBy(_.doc_id).headOption.iterator
          }
      }
  }

  case class CapDocIn(doc_id: Long, source: String)
  case class CapAdmitted(source: String, doc_id: Long)

  /** Streaming twin of `Text.capPerGroupIncremental`: rolling per-source
    * admission over a document ingest stream. State is ONE Long per
    * source — the admitted count, exactly the `capCounts` store the
    * batch path persists, here held by the streaming state store. A
    * full source admits nothing forever (no watermark: the cap is
    * permanent corpus semantics, and the state is 8 bytes per source,
    * never documents). Within each micro-batch the admission order is
    * the SAME seeded 48-bit md5 rank as the batch paths
    * (`Text.capRankOf` ≡ the `capRank` Column, spec-pinned), ties to
    * the smaller id — so a micro-batch sequence admits exactly what the
    * same sequence of `capPerGroupIncremental` calls admits
    * (EventStreamSpec pins the equivalence), and earlier batches claim
    * quota first, the admission-control contract.
    */
  def capAdmissionStream(
      docs: Dataset[CapDocIn], cap: Int,
      seed: String = "cap:"): Dataset[CapAdmitted] = {
    require(cap >= 1, s"capAdmissionStream: cap must be >= 1, got $cap")
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, CapAdmitted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[CapDocIn], state: GroupState[Long]) =>
          val kept = state.getOption.getOrElse(0L)
          if (kept >= cap) Iterator.empty
          else {
            val admitted = rows.toSeq
              .sortBy(d => (graft.ops.Text.capRankOf(d.doc_id, seed), d.doc_id))
              .take((cap - kept).toInt)
            if (admitted.nonEmpty) state.update(kept + admitted.size)
            admitted.map(d => CapAdmitted(source, d.doc_id)).iterator
          }
      }
  }

  case class BandRow(doc_id: Long, bno: Int, bkey: String)
  case class CandPair(id_a: Long, id_b: Long)

  /** Streaming twin of `Dedup.minhashIncrementalCandidates`: a document
    * ingest stream emitting minhash-LSH candidate near-dup pairs as docs
    * arrive. The banding projection is IDENTICAL to `Dedup.bandTable`
    * (same shingles → signature → band-key expressions, minus the batch
    * path's eager materialization — here the STATE STORE is the band
    * table): state per (band, key) bucket is the member doc-id list, so
    * an arriving doc pairs with every previously-stored member of its
    * buckets plus its in-batch peers, then joins the bucket. That is
    * exactly the O(bucket-membership) artifact the batch path persists as
    * `bandTable` rows — keyed by band instead of row-wise — and each
    * ingest batch costs O(|batch| bands + emitted pairs), never a corpus
    * re-band. NO watermark: band membership is permanent corpus state,
    * which is why it holds 8-byte ids, never documents.
    *
    * Emission contract: a pair sharing k bands is emitted up to k times
    * (one per bucket — buckets are independent state groups); the batch
    * path's trailing `.distinct()` is not expressible under append mode,
    * so the pair SET (after a downstream distinct) equals the batch
    * twin's, which is what EventStreamSpec asserts.
    */
  def minhashCandidateStream(
      docs: Dataset[DocIn], shingleSize: Int = 3,
      numHashes: Int = 8, rowsPerBand: Int = 2): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val banded = docs.toDF()
      .select(col("doc_id"),
        graft.ops.Text.tokens(col("text")).as("_ts"))
      // token-less docs are dropped before banding — the batch path's
      // empty-doc guard (all such docs share ONE shingle value, a
      // guaranteed hot state key); stream and batch must agree or the
      // equivalence contract breaks on empty input
      .where(size(col("_ts")) > 0)
      .select(col("doc_id"),
        graft.ops.Dedup.minhashSignature(
          graft.ops.Text.shinglesOfTokens(col("_ts"), shingleSize),
          numHashes).as("_sig"))
      // the band key is Dedup.bandExplode — ONE definition with the batch
      // band table, so state-store keys can never drift from it
      .select(col("doc_id"),
        graft.ops.Dedup.bandExplode(col("_sig"), numHashes, rowsPerBand)
          .as("_b"))
      .select(col("doc_id"), col("_b.bno").as("bno"), col("_b.bkey").as("bkey"))
      .as[BandRow]
    banded
      .groupByKey(r => (r.bno, r.bkey))
      .flatMapGroupsWithState[Seq[Long], CandPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows: Iterator[BandRow], state: GroupState[Seq[Long]]) =>
          val stored = state.getOption.getOrElse(Seq.empty)
          val seen = stored.toSet
          val arriving = rows.map(_.doc_id).toSeq.distinct.sorted
            .filterNot(seen)
          val newVsStored = for (n <- arriving.iterator; s <- stored.iterator)
            yield CandPair(math.min(n, s), math.max(n, s))
          val newVsNew = for {
            i <- arriving.indices.iterator
            j <- (i + 1 until arriving.size).iterator
          } yield CandPair(arriving(i), arriving(j))
          if (arriving.nonEmpty) state.update(stored ++ arriving)
          newVsStored ++ newVsNew
      }
  }

  /** Streaming cluster maintenance: keeps a PERSISTED component labeling
    * current as near-dup edges stream in (e.g. from
    * [[minhashCandidateStream]]). Component merging spans arbitrary keys
    * — cross-group global state that `flatMapGroupsWithState` cannot
    * express — so this is the standard `foreachBatch` composition: each
    * micro-batch folds its edges into the label store via
    * [[graft.ops.Dedup.connectedComponentsIncremental]] (O(batch +
    * touched components); the store is scanned once map-side, never
    * re-clustered) and replaces the store. The updated labeling is
    * eagerly materialized through the [[graft.Materialize]] seam BEFORE
    * the overwrite — its plan reads the store being replaced.
    *
    * Returns the started query; the store at `storeDir` is parquet
    * `(id, component)`, the same artifact the batch incremental APIs
    * read, bootstrapped empty on first batch. Store replacement is
    * write-to-temp + a RECOVERABLE rename sequence, NOT
    * overwrite-in-place: the updated plan READS the store it replaces,
    * and in-place overwrite would both trip Spark's
    * overwrite-while-reading guard (for any plan whose lineage still
    * reaches the store) and lose the store on a mid-write crash. The
    * sequence is: write `._next` fully; rename the live store
    * aside to `._old`; promote `._next`; drop `._old` — so at every
    * instant a complete copy of the labeling exists on disk, and
    * [[recoverLabelStore]] (run at the head of each batch) promotes an
    * orphaned `._next` / restores `._old` after a crash in any window.
    * Re-folding the crashed batch into an already-updated store is safe:
    * the CC merge is idempotent (already-merged edges contract to
    * dropped self-loops). Existence checks and the swap go through the
    * Hadoop FileSystem of the store's own URI — a bare `java.io.File`
    * would report false on every DFS path and silently reset the store
    * each batch.
    */
  def clusterMaintenance(
      edges: DataFrame, storeDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    edges.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val path = new org.apache.hadoop.fs.Path(storeDir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        recoverLabelStore(fs, storeDir)
        val idType = batch.schema("id_a").dataType
        val labels =
          if (fs.exists(path)) spark.read.parquet(storeDir)
          else
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id", idType),
                org.apache.spark.sql.types.StructField("component", idType))))
        val updated = graft.ops.Dedup
          .connectedComponentsIncremental(labels, batch)
        val tmp = new org.apache.hadoop.fs.Path(storeDir + "._next")
        fs.delete(tmp, true)
        // executes the full plan (reading the OLD store) before any
        // mutation of it
        updated.write.mode("overwrite").parquet(tmp.toString)
        // re-stamp with a manifest: the bare Spark marker cannot prove
        // completeness once the dir has been RENAMED by the swap (see
        // stampSuccess — object-store renames can copy _SUCCESS first)
        stampSuccess(fs, tmp)
        swapLabelStore(fs, storeDir)
        ()
      }
      .start()
  }

  /** The STREAMING twin of the daily-ingest curation composite
    * ([[graft.ops.Curation.curateIncremental]] driven by foreachBatch —
    * the module's convention, completing the composite family): each
    * micro-batch of `(id, text, source)` docs folds through the full
    * chain against PARQUET-persisted stores under `storeRoot`, admitted
    * docs land as training-ordered `b=<version>` parquet under
    * `storeRoot/out`, and the stores advance one version per batch.
    *
    * Store layout and crash model — versioned, not swapped-in-place:
    *  - append-only stores (`digests/`, `bands/`, `out/`) grow one
    *    `b=<version>` subdir per batch — O(batch) bytes written;
    *  - version stores (`labels/`, `caps/`, `ppl_lm/`, `ppl_th/`) are
    *    rewritten whole as `v=<version>` — labels is the one O(store)
    *    write per batch (the [[clusterMaintenance]] unsharded arm; the
    *    sharded label store is the at-scale answer there);
    *  - the LIVE version is the max `_live_<n>` token at the root,
    *    created ONLY after every write of version n landed. A crash in
    *    any window leaves residue ABOVE the live version, which the
    *    next fold deletes before reading — readers and refolds never
    *    see a torn store.
    * Replay safety is CONTENT-level, not marker-level: refolding an
    * already-absorbed batch admits nothing (its digests are in the
    * store, so every doc exact-blocks; caps/labels updates degrade to
    * no-ops) — the dedup IS the idempotency. That also covers the
    * fresh-checkpoint-over-existing-store case that marker protocols
    * scoped to a checkpoint lose data on ([[ivfPqIngest]]'s note): a
    * re-fed corpus admits nothing new, by the operator's own semantics.
    */
  /** `shardedLabels = Some(n)`: the label store lives as the n-shard
    * component-keyed store (`labels_sharded/`) instead of the
    * whole-store `v=<version>` rewrite — per-batch label writes become
    * O(touched shards), removing the composite's one remaining
    * O(store)-per-batch term (the [[shardLabelStore]] trade). Because
    * the sharded store is self-recovering rather than versioned, its
    * ingestion is a POST-COMMIT catch-up: the batch's label edges land
    * as `edges/b=<version>` inside the commit, and each fold first
    * drives the store up to the live version (`_folded_<n>` tokens;
    * refolds are idempotent — already-merged edges contract to dropped
    * self-loops). Folding the store BEFORE the commit token would open
    * a data-loss window: a crash after the fold would leave the
    * replayed batch blocked by its own labels while its output was
    * discarded as residue.
    */
  def curateStream(
      docs: DataFrame, winnowStore: DataFrame, storeRoot: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source",
      pplBuckets: Int = 10, dropTailBuckets: Int = 1,
      capPerSource: Int = 10, numShards: Int = 8,
      semantic: Option[graft.ops.Curation.Semantic] = None,
      shardedLabels: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateFoldBatch(batch, winnowStore, storeRoot, idCol, textCol,
          sourceCol, pplBuckets, dropTailBuckets, capPerSource, numShards,
          semantic, shardedLabels)
        ()
      }
      .start()

  /** One [[curateStream]] fold, directly callable (the testable body —
    * and the shape a non-streaming scheduler like a daily cron drives).
    */
  private[graft] def curateFoldBatch(
      batch: DataFrame, winnowStore: DataFrame, storeRoot: String,
      idCol: String, textCol: String, sourceCol: String,
      pplBuckets: Int = 10, dropTailBuckets: Int = 1,
      capPerSource: Int = 10, numShards: Int = 8,
      semantic: Option[graft.ops.Curation.Semantic] = None,
      shardedLabels: Option[Int] = None): Unit = {
    import graft.ops.Curation
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    // live version = max _live_<n> token; tokens are created atomically
    // AFTER version n is fully on disk
    val live: Long = {
      val names =
        if (!fs.exists(root)) Array.empty[String]
        else fs.listStatus(root).map(_.getPath.getName)
      val ids = names.collect {
        case n if n.startsWith("_live_") => n.stripPrefix("_live_").toLong
      }
      if (ids.isEmpty) -1L else ids.max
    }
    val next = live + 1
    // clear residue of any crashed fold above the live version
    def sub(parts: String*): org.apache.hadoop.fs.Path =
      parts.foldLeft(root)((p, c) => new org.apache.hadoop.fs.Path(p, c))
    Seq("digests", "bands", "out", "edges").foreach { d =>
      fs.globStatus(sub(d, "b=*")).foreach { st =>
        if (st.getPath.getName.stripPrefix("b=").toLong > live)
          fs.delete(st.getPath, true)
      }
    }
    Seq("labels", "caps", "ppl_lm", "ppl_th").foreach { d =>
      fs.globStatus(sub(d, "v=*")).foreach { st =>
        if (st.getPath.getName.stripPrefix("v=").toLong > live)
          fs.delete(st.getPath, true)
      }
    }
    // assemble the live stores (empty bootstrap when no version exists)
    val emptyStores = Curation.CurationStores.empty(spark, sourceCol)
    def readOr(p: org.apache.hadoop.fs.Path, orElse: DataFrame): DataFrame =
      if (fs.exists(p)) spark.read.parquet(p.toString) else orElse
    def readAppends(d: String, orElse: DataFrame, cols: Seq[String]) = {
      val any = fs.globStatus(sub(d, "b=*")).nonEmpty
      if (any) spark.read.parquet(sub(d).toString)
        .select(cols.map(col): _*)
      else orElse
    }
    def shardedLabelsDf(n: Int): DataFrame = {
      // drive the sharded store up to the live version FIRST (post-commit
      // catch-up — see curateStream's shardedLabels note), then read it
      catchUpShardedLabels(spark, fs, root, live, n)
      val dirS = sub("labels_sharded").toString
      recoverShardedStore(fs, dirS)
      val shards = listShards(fs, dirS).live.toSeq.sorted
      if (shards.nonEmpty)
        spark.read.parquet(shards.map(shardDir(dirS, _)): _*)
      else emptyStores.labels
    }
    val baseStores =
      if (live < 0) emptyStores
      else Curation.CurationStores(
        digests = readAppends("digests", emptyStores.digests, Seq("digest")),
        bands = readAppends("bands", emptyStores.bands,
          Seq("_id", "_bno", "_bkey", "_params")),
        labels = readOr(sub("labels", s"v=$live"), emptyStores.labels),
        ppl = {
          // the model is FIXED after bootstrap, so it is written ONCE at
          // its bootstrap version and read from the newest version ≤
          // live rather than rewritten every batch
          def latest(d: String): Option[org.apache.hadoop.fs.Path] = {
            val vs = fs.globStatus(sub(d, "v=*"))
              .map(_.getPath)
              .filter(_.getName.stripPrefix("v=").toLong <= live)
            if (vs.isEmpty) None
            else Some(vs.maxBy(_.getName.stripPrefix("v=").toLong))
          }
          (latest("ppl_lm"), latest("ppl_th")) match {
            case (Some(lmP), Some(thP)) => Some(Curation.PplModel(
              spark.read.parquet(lmP.toString),
              spark.read.parquet(thP.toString)))
            case _ => None
          }
        },
        capCounts = readOr(sub("caps", s"v=$live"), emptyStores.capCounts))
    val stores = shardedLabels match {
      case Some(n) => baseStores.copy(labels = shardedLabelsDf(n))
      case None => baseStores
    }
    val (out, st, delta) = Curation.curateIncrementalWithDelta(
      batch, winnowStore, idCol, textCol, sourceCol, stores,
      pplBuckets, dropTailBuckets, capPerSource, numShards,
      metricsTag = s"curstream_$next", semantic)
    def write(df: DataFrame, p: org.apache.hadoop.fs.Path): Unit =
      df.write.mode("overwrite").parquet(p.toString)
    write(out.withColumn("batch", lit(next)), sub("out", s"b=$next"))
    write(delta.newDigests, sub("digests", s"b=$next"))
    write(delta.newBands, sub("bands", s"b=$next"))
    if (shardedLabels.isEmpty) write(st.labels, sub("labels", s"v=$next"))
    else write(delta.newEdges, sub("edges", s"b=$next"))
    write(st.capCounts, sub("caps", s"v=$next"))
    // the model is fixed after bootstrap — write it only the batch that
    // TRAINED it (stores carried None in, Some out); later versions read
    // the newest ppl version ≤ live
    if (stores.ppl.isEmpty) st.ppl.foreach { m =>
      write(m.lm, sub("ppl_lm", s"v=$next"))
      write(m.thresholds, sub("ppl_th", s"v=$next"))
    }
    // the commit point: version `next` is live from here on
    fs.create(sub(s"_live_$next"), true).close()
    // prune superseded labels/caps versions (ppl versions are few: one
    // per bootstrap) and live tokens older than the previous one (the
    // previous stays as a history tombstone)
    Seq("labels", "caps").foreach { d =>
      fs.globStatus(sub(d, "v=*")).foreach { stt =>
        if (stt.getPath.getName.stripPrefix("v=").toLong < next)
          fs.delete(stt.getPath, true)
      }
    }
    fs.globStatus(sub("_live_*")).foreach { stt =>
      if (stt.getPath.getName.stripPrefix("_live_").toLong < next - 1)
        fs.delete(stt.getPath, false)
    }
    shardedLabels.foreach(catchUpShardedLabels(spark, fs, root, next, _))
    ()
  }

  /** Drive the sharded label store up to version `upTo`: fold each
    * committed-but-unfolded `edges/b=<m>` log in order, stamping a
    * `_folded_<m>` token per version and retiring the log (dead weight
    * once folded). Refolds after a crash in ANY window are idempotent:
    * already-merged edges contract to dropped self-loops in the
    * quotient, and the touched-shard rewrite reproduces the same bytes.
    */
  private def catchUpShardedLabels(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, upTo: Long, numShards: Int): Unit = {
    def at(parts: String*): org.apache.hadoop.fs.Path =
      parts.foldLeft(root)((p, c) => new org.apache.hadoop.fs.Path(p, c))
    val folded = {
      val ids = fs.listStatus(root).map(_.getPath.getName).collect {
        case n if n.startsWith("_folded_") => n.stripPrefix("_folded_").toLong
      }
      if (ids.isEmpty) -1L else ids.max
    }
    ((folded + 1) to upTo).foreach { m =>
      val log = at("edges", s"b=$m")
      if (fs.exists(log)) {
        foldShardedBatch(
          spark.read.parquet(log.toString),
          at("labels_sharded").toString, numShards)
        ()
      }
      fs.create(at(s"_folded_$m"), true).close()
      fs.delete(log, true)
      ()
    }
    fs.globStatus(at("_folded_*")).foreach { stt =>
      if (stt.getPath.getName.stripPrefix("_folded_").toLong < upTo - 1)
        fs.delete(stt.getPath, false)
    }
    ()
  }

  /** Append-store COMPACTION for [[curateStream]]'s root — the periodic
    * maintenance a long-running ingest owes: each fold reads `digests/`
    * and `bands/` through partition discovery over one `b=<version>`
    * subdir per batch, so after 10⁵ batches the per-fold LISTING cost
    * (and the DFS small-file count) grows linearly even though the data
    * read does not. Compaction folds every committed `b=*` subdir into a
    * single `b=<next version>` dir and retires the originals.
    *
    * Crash model, same version discipline as the fold: the combined dir
    * is written ABOVE the live version (discarded as residue if the
    * token never lands); after the token, the retired subdirs are
    * deleted — a crash inside THAT window leaves duplicate rows visible
    * (old dirs + the combined dir), which is CORRECT-but-fat for both
    * stores (digest/band probes are semi-joins; duplicate band rows
    * produce duplicate candidate pairs that the generator's `distinct()`
    * already folds) and is reclaimed by re-running compaction. `out/` is
    * a sink, never re-read by folds, and is left untouched.
    */
  def compactCurationStores(
      spark: org.apache.spark.sql.SparkSession, storeRoot: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sub(parts: String*): org.apache.hadoop.fs.Path =
      parts.foldLeft(root)((p, c) => new org.apache.hadoop.fs.Path(p, c))
    val live: Long = {
      val ids = fs.listStatus(root).map(_.getPath.getName).collect {
        case n if n.startsWith("_live_") => n.stripPrefix("_live_").toLong
      }
      if (ids.isEmpty) return // nothing committed, nothing to compact
      ids.max
    }
    val next = live + 1
    // discard residue above live (a crashed fold or compaction)
    Seq("digests", "bands", "out").foreach { d =>
      fs.globStatus(sub(d, "b=*")).foreach { st =>
        if (st.getPath.getName.stripPrefix("b=").toLong > live)
          fs.delete(st.getPath, true)
      }
    }
    Seq("labels", "caps", "ppl_lm", "ppl_th").foreach { d =>
      fs.globStatus(sub(d, "v=*")).foreach { st =>
        if (st.getPath.getName.stripPrefix("v=").toLong > live)
          fs.delete(st.getPath, true)
      }
    }
    val appendDirs = Seq("digests", "bands")
      .map(d => d -> fs.globStatus(sub(d, "b=*")).map(_.getPath).toSeq)
      .filter(_._2.nonEmpty)
    if (appendDirs.forall(_._2.lengthCompare(1) <= 0)) return // compact already
    appendDirs.foreach { case (d, dirs) =>
      spark.read.parquet(dirs.map(_.toString): _*)
        .write.mode("overwrite").parquet(sub(d, s"b=$next").toString)
    }
    // carry the version stores forward so version `next` is complete
    Seq("labels", "caps", "ppl_lm", "ppl_th").foreach { d =>
      val src = sub(d, s"v=$live")
      if (fs.exists(src))
        spark.read.parquet(src.toString)
          .write.mode("overwrite").parquet(sub(d, s"v=$next").toString)
    }
    fs.create(sub(s"_live_$next"), true).close()
    appendDirs.foreach { case (d, dirs) => dirs.foreach(fs.delete(_, true)) }
    Seq("labels", "caps").foreach { d =>
      val old = sub(d, s"v=$live")
      if (fs.exists(sub(d, s"v=$next"))) { fs.delete(old, true); () }
    }
    ()
  }

  /** Streaming IVFADC ingest: each micro-batch of `(id, vec)` rows
    * assigns cells + encodes PQ codes map-side against the CALLER'S two
    * trained models and lands in the bucketed artifact —
    * [[graft.ops.Similarity.ivfPqAppend]] driven by a stream, the ANN
    * twin of [[clusterMaintenance]]. O(batch) per micro-batch; the
    * existing artifact is never re-read on the happy path, and because
    * cells/codes are pure per-row functions of the models, the streamed
    * artifact stays bit-identical to a batch rebuild over everything
    * ingested (the ivfPqAppend equivalence, spec-pinned through this
    * path too).
    *
    * Exactly-once across restarts, two-marker protocol per batch under
    * `checkpointDir/_ingest/` — the CHECKPOINT owns batch-id identity,
    * so the markers must live with it: batch ids restart at 0 for every
    * fresh checkpoint, and artifact-scoped markers would silently skip a
    * second stream's first batches as "already committed" (data loss,
    * no error). Corollary, the standard Structured Streaming contract:
    * deleting the checkpoint while keeping the artifact discards the
    * dedup state — a re-run of the same source appends duplicates.
    * Markers per batch:
    *  - `commit_<batchId>` present → the batch fully landed; a replayed
    *    batch returns immediately (appending it again would duplicate
    *    every row — and a duplicated corpus row would surface TWICE in a
    *    probe's top-k, k−1 real answers);
    *  - `inflight_<batchId>` present without its commit → a crash hit
    *    inside THIS batch's append, so SOME of its rows may already be
    *    in the artifact: the replay re-encodes and anti-joins the batch
    *    against the artifact's ids before appending. That anti-join
    *    scans the store once — the O(store) cost is paid ONLY on crash
    *    recovery of the torn batch, never per batch;
    *  - otherwise: mark inflight, append (first batch creates the table
    *    with the bucket spec), mark commit, clear inflight.
    *
    * Model drift fails loudly per batch via the artifact's `_params`
    * stamp (both quantizers, both arms — see ivfPqAppend). `residual`
    * selects the encoding arm; the model must come from the matching
    * trainer ([[graft.ops.Similarity.pqTrainRes]] vs `pqTrain`).
    */
  def ivfPqIngest(
      vectors: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      model: graft.ops.Similarity.PqModel,
      numBuckets: Int, target: String, table: String,
      checkpointDir: String, tablePrefix: String = "ivfpq",
      residual: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        ivfPqIngestBatch(batch, bid, idCol, vecCol, cents, model,
          numBuckets, target, table, s"$checkpointDir/_ingest",
          tablePrefix, residual)
      }
      .start()

  /** One micro-batch of [[ivfPqIngest]] — factored out so the replay
    * protocol is testable without staging a crash inside a real stream.
    */
  private[graft] def ivfPqIngestBatch(
      batch: DataFrame, bid: Long, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      model: graft.ops.Similarity.PqModel,
      numBuckets: Int, target: String, table: String,
      markerDir: String, tablePrefix: String, residual: Boolean): Unit = {
    import graft.ops.Similarity
    val spark = batch.sparkSession
    val sink = graft.sources
      .BucketedSink(numBuckets, Seq("_cell"), Seq("_cell"), tablePrefix)
    val markers = new org.apache.hadoop.fs.Path(markerDir)
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commit = new org.apache.hadoop.fs.Path(markers, s"commit_$bid")
    val inflight = new org.apache.hadoop.fs.Path(markers, s"inflight_$bid")
    if (fs.exists(commit)) return
    var rows = Similarity.ivfPqRows(
      batch, idCol, vecCol, cents, model, residual)
    if (spark.catalog.tableExists(sink.catalogName(target, table))) {
      val assigned = Similarity.ivfAssigned(spark, target, table, tablePrefix)
      Similarity.requireIvfPqParams(assigned, cents, model, residual)
      if (fs.exists(inflight)) {
        // recovery-only store scan: drop the torn batch's already-landed
        // rows (ids are the artifact's PK — the batch side is small, the
        // store streams through the anti-join once)
        rows = rows.join(assigned.select(col(idCol)), Seq(idCol), "left_anti")
      }
      fs.mkdirs(markers)
      fs.create(inflight, true).close()
      sink.append(rows, target, table)
    } else {
      fs.mkdirs(markers)
      fs.create(inflight, true).close()
      // first batch creates the table (mode=overwrite of nothing) with
      // the bucket spec every later append is validated against
      sink.write(rows, target, table, "parquet")
    }
    fs.create(commit, true).close()
    fs.delete(inflight, false)
    // O(1) marker housekeeping: Structured Streaming replays at most the
    // LAST uncommitted batch of a checkpoint lineage, so once bid commits,
    // markers older than bid−1 can never be consulted again — drop
    // commit_(bid−2) each batch and the marker dir stays at ≤ 2 files
    // forever instead of one per batch
    if (bid >= 2)
      fs.delete(new org.apache.hadoop.fs.Path(markers, s"commit_${bid - 2}"),
        false)
    ()
  }

  /** Crash recovery for the [[clusterMaintenance]] store swap; run before
    * reading the store. Windows:
    *  - store missing, complete `._next` present (crash between the
    *    rename-aside and the promote): promote `._next` — it holds the
    *    post-merge labeling, and re-folding the replayed batch is
    *    idempotent;
    *  - store missing, no complete `._next`, `._old` present (crash
    *    mid-promote): restore `._old`;
    *  - live store WITHOUT its `_SUCCESS` marker while swap artifacts
    *    exist (a torn directory rename — possible on object stores where
    *    rename is copy-then-delete, not atomic): the torn copy is
    *    DISCARDED and the newest complete copy (`._next`, else `._old`)
    *    restored. A live store with no swap artifacts beside it is
    *    accepted as-is even without the marker (a caller-provided
    *    bootstrap store, not a crash residue);
    *  - stale `._next`/`._old` next to a complete live store (crash
    *    before the swap finished cleanup): `._old` dropped (`._next` is
    *    deleted by the next batch before rewriting).
    */

  /** Stamp `dir/_SUCCESS` with a MANIFEST: one line per data file
    * currently in the dir (underscore-prefixed names excluded), plus an
    * optional leading `batch=<token>` line. Two jobs in one marker:
    *  - completeness that survives arbitrary rename copy order — a torn
    *    copy that materialized `_SUCCESS` before the data files fails
    *    [[dirComplete]]'s manifest check (an S3-style rename copies keys
    *    in listing order, and `_SUCCESS` < `part-*`);
    *  - the batch token travels WITH the directory through renames, so
    *    sharded recovery can tell "this live dir IS the promoted
    *    `._next`" from "this live dir is the old content whose archive
    *    rename tore" — two states that are otherwise byte-identical in
    *    dir layout.
    */
  private[graft] def stampSuccess(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      batchToken: Option[String] = None): Unit = {
    val files = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .sorted
    val body = (batchToken.map(t => s"batch=$t").toSeq ++ files)
      .mkString("\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), true)
    out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Read the `batch=` token from a dir's `_SUCCESS`, if any. */
  private[graft] def batchTokenOf(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (!fs.exists(marker)) None
    else readSuccess(fs, marker).collectFirst {
      case l if l.startsWith("batch=") => l.stripPrefix("batch=")
    }
  }

  private def readSuccess(
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(marker)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  /** `_SUCCESS` present and, when it carries a manifest, every listed
    * data file present. An EMPTY marker (Spark's own commit, a dir that
    * was never renamed) is trusted bare — Spark's commit protocol is
    * already marker-last on a non-renamed dir.
    */
  private[graft] def dirComplete(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (!fs.exists(dir) || !fs.exists(marker)) return false
    val listed = readSuccess(fs, marker).filterNot(_.startsWith("batch="))
    listed.isEmpty ||
      listed.forall(f => fs.exists(new org.apache.hadoop.fs.Path(dir, f)))
  }

  /** Crash recovery invariant notes:
    * "Complete" = the `_SUCCESS` marker is present AND, when the marker
    * carries a manifest (see [[stampSuccess]]), every listed data file
    * exists. The manifest matters on object stores whose rename copies
    * keys in LISTING order: `_SUCCESS` sorts before `part-*`, so a torn
    * copy can materialize the marker with zero data files behind it —
    * a bare marker check would trust the hollow directory. Spark's own
    * empty `_SUCCESS` (a dir freshly written by a committed Spark job,
    * never renamed) is trusted as before. The swap protocol guarantees
    * a complete copy exists in every crash window, so finding a torn
    * live store with NO complete sibling is a protocol violation and
    * throws rather than silently serving partial labels.
    */
  private[graft] def recoverLabelStore(
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val next = new org.apache.hadoop.fs.Path(storeDir + "._next")
    val old = new org.apache.hadoop.fs.Path(storeDir + "._old")
    def complete(p: org.apache.hadoop.fs.Path): Boolean = dirComplete(fs, p)
    def promote(src: org.apache.hadoop.fs.Path): Unit = {
      fs.delete(path, true)
      if (!fs.rename(src, path))
        throw new java.io.IOException(s"recovery rename $src -> $path failed")
    }
    val liveTrusted = fs.exists(path) &&
      (complete(path) || (!fs.exists(next) && !fs.exists(old)))
    if (!liveTrusted) {
      if (complete(next)) promote(next)
      else if (complete(old)) promote(old)
      else if (fs.exists(path) || fs.exists(next) || fs.exists(old))
        throw new java.io.IOException(
          s"label store $storeDir is torn (no _SUCCESS) and no complete " +
            "._next/._old copy exists — swap protocol violated; refusing " +
            "to serve partial labels or bootstrap empty over crash residue")
      // else: nothing anywhere — first-batch bootstrap
    }
    // anything left beside a trusted live store is a superseded artifact
    if (fs.exists(path)) { fs.delete(old, true); () }
  }

  /** The swap step: `._next` (fully written by the caller) becomes the
    * store, the previous store is renamed aside first and dropped last,
    * so a complete labeling exists on disk at every instant.
    */
  private[graft] def swapLabelStore(
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val next = new org.apache.hadoop.fs.Path(storeDir + "._next")
    val old = new org.apache.hadoop.fs.Path(storeDir + "._old")
    fs.delete(old, true)
    if (fs.exists(path) && !fs.rename(path, old))
      throw new java.io.IOException(s"rename $path -> $old failed")
    if (!fs.rename(next, path))
      throw new java.io.IOException(s"rename $next -> $path failed")
    fs.delete(old, true)
    ()
  }

  // ------------------------------------------------------------------
  // Sharded label store — removes [[clusterMaintenance]]'s one remaining
  // store-size term. The unsharded fold's merge work is O(batch) but its
  // STORE REWRITE is O(store): every batch rewrites the whole labeling.
  // Keyed sharding by component (shard = xxhash64(component) mod numShards; labels
  // are canonical min-ids, so a component's rows always live in exactly
  // one shard) turns the rewrite into O(touched shards): the merge map
  // from the quotient clustering names exactly which components change,
  // rows only ever move between shards the map already touches, and
  // every untouched shard stays BYTE-IDENTICAL on disk (the spec pins
  // this). At 100 TB the per-batch write cost becomes proportional to
  // the batch's component footprint, not the corpus.
  //
  // Each shard is an independent parquet dir `s=<k>` under the store
  // root, swapped with the SAME per-shard `._next`/`._old` torn-rename
  // protocol as the unsharded store. Cross-shard atomicity comes from a
  // two-phase commit: phase 1 writes every touched shard's `._next`;
  // a `_swap_pending` marker at the root is the commit point; phase 2
  // swaps each touched shard and drops the marker.
  // [[recoverShardedStore]] makes any crash window consistent: before
  // the marker the old state is intact (ALL `._next` residue is
  // discarded, never promoted — even a complete one on a shard with no
  // live dir is phase-1 residue of an uncommitted batch), after it
  // every residue shard is driven to its new content — so readers
  // never see a half-merged labeling.
  // ------------------------------------------------------------------

  /** Store-size-driven shard-count selector — the sharding companion to
    * `Similarity.bandsFor`/`probesFor` (state WHAT you need, the
    * selector picks the operating point): given the labeling's on-disk
    * `storeBytes`, returns the shard count that keeps each shard near
    * `targetShardBytes`.
    *
    * The trade both ends of the dial lose: FEWER shards → each touched
    * shard rewrite carries more bystander bytes (the measured 16-shard
    * point at ~925-edge batches rewrote 100% of store bytes/batch — at
    * that batch size the footprint covers every shard and sharding can
    * only tie); MORE shards → per-batch fixed costs grow (a rename +
    * manifest stamp + recovery probe per touched shard, an O(numShards)
    * listing per fold) and shards shrink into the DFS small-file
    * regime. Holding shard size AT a fixed target as the store grows is
    * what makes the trickle measurement transfer: rewrite bytes/batch ≈
    * touched × targetShardBytes ≈ the batch's component footprint,
    * independent of store size (the 256-shard sf1 trickle point
    * measured 14–17% of store bytes/batch; the retired StreamScaleBench's
    * selector leg measured a second count on the same feed).
    *
    * Store size alone is NOT sufficient — the selector's second
    * constraint is the BATCH FOOTPRINT, and it is measured, not
    * theoretical: at the sf1 trickle feed (~35 components/batch) a
    * store-size-only pick of 7 shards measured **100% of store bytes
    * rewritten per batch** (every shard touched — the mod-hash spreads
    * 35 components across 7 shards with near-certain full coverage)
    * where 256 shards measured 14–17%. A shard is untouched with
    * probability (1 − 1/N)^C ≈ e^(−C/N), so holding the rewritten
    * fraction at ≤ f needs N ≥ C / f. `batchComponents` (C, ≈ 2× the
    * edges of a typical batch) turns that on; the default
    * `maxRewriteFraction` 0.15 reproduces the measured 256-shard
    * operating point from its own feed (⌈35 / 0.15⌉ = 234).
    *
    * Default target 128 MiB — parquet/DFS file-sizing discipline (the
    * same figure as `spark.sql.files.maxPartitionBytes`), so one shard
    * rewrite is one well-sized file job. `maxShards` caps the listing/
    * fixed-cost growth loudly. NOTE: the shard key is
    * `xxhash64(cast(component as string)) mod numShards`, so changing
    * the count on an EXISTING store is a one-off re-shard
    * (`shardLabelStore` on a read of the old store), not a config
    * flip — the store's `_layout` marker enforces this (folds refuse a
    * mismatched count or scheme) — size it from the projected store,
    * not the bootstrap batch.
    */
  def shardsFor(
      storeBytes: Long, targetShardBytes: Long = 128L << 20,
      batchComponents: Long = 0L, maxRewriteFraction: Double = 0.15,
      maxShards: Int = 4096): Int = {
    require(storeBytes >= 0, s"storeBytes must be >= 0, got $storeBytes")
    require(targetShardBytes > 0,
      s"targetShardBytes must be > 0, got $targetShardBytes")
    require(maxRewriteFraction > 0.0 && maxRewriteFraction <= 1.0,
      s"maxRewriteFraction must be in (0, 1], got $maxRewriteFraction")
    val bySize = math.ceil(storeBytes.toDouble / targetShardBytes.toDouble)
    val byFootprint =
      math.ceil(batchComponents.toDouble / maxRewriteFraction)
    val n = math.max(1.0, math.max(bySize, byFootprint))
    val want = if (n > Int.MaxValue) Int.MaxValue else n.toInt
    require(want <= maxShards,
      s"$storeBytes store bytes at $targetShardBytes/shard with " +
        s"$batchComponents components/batch at rewrite fraction " +
        s"$maxRewriteFraction need $want shards (> maxShards $maxShards): " +
        "raise targetShardBytes / maxRewriteFraction or raise maxShards " +
        "knowingly — every fold pays an O(numShards) listing and " +
        "per-touched-shard rename/stamp fixed costs")
    want
  }

  private[graft] def shardDir(storeDir: String, shard: Int): String =
    s"$storeDir/s=$shard"

  /** The shard-placement scheme this code writes. Bump when [[shardOf]]
    * changes: rows are findable only under the scheme that placed them.
    */
  private[graft] val ShardLayout = "xxhash64-utf8-mod"

  /** Enforce that folds only ever run against a store whose rows were
    * PLACED by this code's scheme and shard count — a `_layout` marker
    * at the store root records both at bootstrap. Without the guard,
    * changing the hash scheme (or silently passing a different
    * numShards to a later fold) makes the fold compute touched shards
    * that do not contain the components' rows: the merge "succeeds"
    * and the store permanently holds conflicting labels with no error.
    * A store with live shards but NO marker predates the marker or was
    * written by foreign code — refuse and ask for a re-shard rather
    * than guess.
    */
  private[graft] def checkOrStampLayout(
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      numShards: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(storeDir, "_layout")
    val expected = s"shard=$ShardLayout numShards=$numShards"
    if (fs.exists(p)) {
      val actual = readSuccess(fs, p).mkString("\n")
      if (actual != expected)
        throw new java.io.IOException(
          s"sharded store $storeDir layout mismatch: store was placed " +
            s"with '$actual', this fold would place with '$expected' — " +
            "rows would land in (and be looked for in) the wrong " +
            "shards. Run EventStream.reshardStore(spark, storeDir, " +
            "numShards) once to migrate (crash-resumable), or " +
            "readShardedStore + shardLabelStore by hand.")
    } else if (listShards(fs, storeDir).live.nonEmpty) {
      throw new java.io.IOException(
        s"sharded store $storeDir has live shards but no _layout " +
          "marker — it predates the layout marker or was written by a " +
          "different scheme; its placement cannot be trusted for " +
          "folds. Run EventStream.reshardStore(spark, storeDir, " +
          "numShards) once to migrate (crash-resumable), or " +
          "readShardedStore + shardLabelStore by hand.")
    } else {
      stampLayout(fs, storeDir, numShards)
    }
  }

  /** Unconditional stamp — for the bootstrap writer, which has just
    * (over)written the shards itself and therefore IS the placement
    * authority. Everything else goes through [[checkOrStampLayout]].
    */
  private def stampLayout(
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      numShards: Int): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(storeDir))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(storeDir, "_layout"), true)
    out.write(s"shard=$ShardLayout numShards=$numShards"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def shardOf(component: Column, numShards: Int): Column =
    // hash, not cast-to-long-and-mod: labels are id-typed and ids can
    // be STRINGS (connectedComponents is type-agnostic since the
    // string-checksum fix) — an ANSI cast of "doc_x1" throws mid-fold,
    // a legacy cast nulls the shard. The hash goes through a STRING
    // normalization first because xxhash64 is width-sensitive (int 5
    // and long 5 hash differently, where the old cast("long") was
    // width-stable): a long-bootstrapped store folded with int-typed
    // batches must not split a component across two shards. CAST AS
    // STRING is total on every id type, so the invariant that matters
    // (a component maps to exactly ONE shard, every batch, every fold)
    // holds across both id types and integer widths
    pmod(xxhash64(component.cast("string")), lit(numShards.toLong)).cast("int")

  /** Bootstrap writer: shard an existing `(id, component)` labeling into
    * the sharded layout (e.g. the output of a from-scratch
    * [[graft.ops.Dedup.connectedComponents]] run, or a flat store being
    * migrated). `partitionBy` writes one root `_SUCCESS`; each shard dir
    * is then stamped with its OWN marker so per-shard recovery always
    * trusts a live bootstrap shard — without it, a stale complete
    * `._next` from a pre-commit-point crash would outrank the markerless
    * live dir and be promoted without the `_swap_pending` marker's
    * all-or-nothing guarantee.
    */
  def shardLabelStore(
      labels: DataFrame, storeDir: String, numShards: Int): Unit = {
    labels.select(col("id"), col("component"))
      .withColumn("s", shardOf(col("component"), numShards))
      .write.mode("overwrite").partitionBy("s").parquet(storeDir)
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(labels.sparkSession.sparkContext.hadoopConfiguration)
    (0 until numShards).foreach { k =>
      val d = new org.apache.hadoop.fs.Path(shardDir(storeDir, k))
      if (fs.exists(d)) stampSuccess(fs, d)
    }
    // the bootstrap just placed every row itself — stamp unconditionally
    // (overwrite wiped any previous marker with the previous store)
    stampLayout(fs, storeDir, numShards)
  }

  private[graft] val ReshardSrcSuffix = "._reshard_src"

  /** One-shot re-shard / layout migration: rewrite an existing sharded
    * store under THIS code's placement scheme at `numShards` — the
    * recovery path for the two refusals [[checkOrStampLayout]] raises
    * (a store placed by an older hash scheme, live shards with no
    * `_layout` marker) and for deliberate shard-count changes
    * ([[shardsFor]] sizing a grown store up).
    *
    * The source is PARKED first (rename to `<dir>._reshard_src`): the
    * bootstrap writer overwrites `storeDir`, and Spark reads lazily, so
    * rewriting in place would delete the source mid-read. The parked
    * name also makes the migration crash-resumable: on entry, a
    * surviving parked dir IS the authority (regardless of how far the
    * previous attempt got) and the rewrite re-runs from it —
    * `shardLabelStore`'s overwrite makes the resume idempotent. Only
    * after the rewrite completes is the parked source deleted. Reading
    * the source goes through [[readShardedStore]], so a source parked
    * with its own crash residue recovers first; reads are
    * placement-agnostic (recovery and scans never consult `_layout`),
    * which is what lets this read a store whose placement scheme the
    * fold path refuses. Single-writer, like every store mutation here.
    */
  def reshardStore(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      numShards: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parked = new org.apache.hadoop.fs.Path(storeDir + ReshardSrcSuffix)
    if (!fs.exists(parked)) {
      require(fs.exists(root),
        s"no store at $storeDir to re-shard — bootstrap with " +
          "shardLabelStore instead")
      require(fs.rename(root, parked),
        s"could not park $storeDir for re-shard")
    }
    val labels = readShardedStore(spark, parked.toString)
    shardLabelStore(labels, storeDir, numShards)
    fs.delete(parked, true)
    ()
  }

  /** One `listStatus` of the store root → which shards have a live dir,
    * `._next` residue, `._old` residue, and whether the commit marker is
    * present. Every recovery/fold decision derives from this single
    * listing: per-shard existence probes would cost O(numShards)
    * metadata RPCs per micro-batch on an object store — a fixed per-
    * batch term proportional to shard count, exactly the shape sharding
    * exists to remove. Per-dir `_SUCCESS` checks still happen, but only
    * on shards the listing shows carry residue.
    */
  private[graft] case class ShardListing(
      live: Set[Int], next: Set[Int], old: Set[Int], marker: Boolean)

  private val ShardName = """s=(\d+)(\._next|\._old)?""".r

  private[graft] def listShards(
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): ShardListing = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    if (!fs.exists(root)) return ShardListing(Set(), Set(), Set(), false)
    var live = Set.empty[Int]; var next = Set.empty[Int]
    var old = Set.empty[Int]; var marker = false
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case "_swap_pending" => marker = true
        case ShardName(k, suffix) => suffix match {
          case "._next" => next += k.toInt
          case "._old" => old += k.toInt
          case _ => live += k.toInt
        }
        case _ => ()
      }
    }
    ShardListing(live, next, old, marker)
  }

  /** Crash recovery for the sharded store, driven by the commit marker.
    *
    * WITHOUT `_swap_pending`: no swap ever started, so the live state is
    * the consistent one and every `._next` is phase-1 residue — DISCARD
    * it, never promote. (The flat-store rule "complete ._next with no
    * live dir = mid-swap, promote" is wrong for sharded phase-1 residue:
    * a crash after writing a brand-new shard's `._next` but before the
    * marker would otherwise resurrect half a batch — conflicting
    * duplicate labels across shards.) `._old` residue then goes through
    * the flat per-shard recovery, which also clears it.
    *
    * WITH the marker: phase 1 completed in full, so the batch is
    * committed and every residue shard must end at its NEW content.
    * The one genuinely ambiguous dir LAYOUT — live complete, `._old`
    * present, `._next` present — arises from two opposite windows:
    * the promote rename's torn DELETE side (live IS the new content;
    * drop the residues) and the ARCHIVE rename's torn delete side
    * (live is still the OLD content; the swap must run). Layout cannot
    * tell them apart, so the batch TOKEN does: phase 1 stamps every
    * `._next`'s manifest with the batch's token, and the token travels
    * with the directory through the promote rename — live carrying the
    * SAME token as `._next` proves the promote copy finished. Any
    * other residue state: complete `._next` → run the swap
    * ([[swapLabelStore]] handles each sub-window); else flat per-shard
    * recovery, with leftover incomplete `._next` deleted by the next
    * no-marker pass.
    */
  private[graft] def recoverShardedStore(
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String): Unit = {
    val l = listShards(fs, storeDir)
    def complete(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(p) && fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    if (!l.marker) {
      l.next.foreach { k =>
        fs.delete(
          new org.apache.hadoop.fs.Path(shardDir(storeDir, k) + "._next"),
          true)
      }
      l.old.foreach(k => recoverLabelStore(fs, shardDir(storeDir, k)))
    } else {
      (l.next ++ l.old).foreach { k =>
        val d = shardDir(storeDir, k)
        val live = new org.apache.hadoop.fs.Path(d)
        val next = new org.apache.hadoop.fs.Path(d + "._next")
        val old = new org.apache.hadoop.fs.Path(d + "._old")
        // The live dir must pass the MANIFEST check, not a bare
        // _SUCCESS-existence check: in the torn promote-rename copy
        // window an S3-style rename copies `_SUCCESS` (carrying the
        // batch token) before the data files, so a hollow live dir can
        // hold a matching token while `._next` is still the only
        // complete copy. A bare check here would delete `._next` AND
        // `._old` — losing the shard. `._next` itself only needs the
        // token (phase 1 stamps it marker-LAST, and the marker proves
        // phase 1 completed for that shard). The bare `._next` test
        // below is safe under ARBITRARY torn-delete ordering too, but
        // only because this promote-finished branch is checked FIRST:
        // a hollow ._next whose marker survived its data files can only
        // come from a promote rename's torn DELETE phase, and that
        // rename's copy phase completed — so the live dir is complete
        // and token-matching, and this branch intercepts before the
        // swap path could promote the husk (whose swapLabelStore would
        // first drop the parked ._old). Reordering these branches
        // breaks that argument.
        val promoteFinished = dirComplete(fs, live) && fs.exists(old) &&
          fs.exists(next) && batchTokenOf(fs, live).exists(t =>
            batchTokenOf(fs, next).contains(t))
        if (promoteFinished) {
          fs.delete(next, true); fs.delete(old, true)
        } else if (complete(next)) swapLabelStore(fs, d)
        else recoverLabelStore(fs, d)
      }
      fs.delete(new org.apache.hadoop.fs.Path(storeDir, "_swap_pending"),
        false)
      ()
    }
  }

  /** Read the sharded store as one `(id, component)` labeling (recovery
    * runs first, so a post-crash read sees a consistent state). */
  def readShardedStore(
      spark: org.apache.spark.sql.SparkSession, storeDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverShardedStore(fs, storeDir)
    val existing = listShards(fs, storeDir).live.toSeq.sorted
      .map(shardDir(storeDir, _))
    require(existing.nonEmpty, s"no shards under $storeDir — bootstrap " +
      "with shardLabelStore or fold a first batch")
    spark.read.parquet(existing: _*)
  }

  /** One micro-batch fold into the sharded store; returns the shard ids
    * it rewrote (the untouched rest is bit-untouched on disk). The merge
    * math is [[graft.ops.Dedup.incrementalMergeParts]] — identical to
    * the unsharded fold — but only shards whose components appear in the
    * merge map (either side) or receive new ids are read back, relabeled
    * map-side against the broadcast map, and rewritten. The full store
    * is still SCANNED once (batch ids can live in any shard — the
    * labeling is component-keyed, not id-keyed), but a scan is a cheap
    * parallel read of two columns; the O(store) WRITE is what sharding
    * removes.
    */
  private[graft] def foldShardedBatch(
      batch: DataFrame, storeDir: String, numShards: Int): Seq[Int] = {
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverShardedStore(fs, storeDir)
    // placement guard BEFORE any merge math: folding with a different
    // scheme or shard count than the one that placed the store's rows
    // would silently write conflicting labels
    checkOrStampLayout(fs, storeDir, numShards)
    val existing = listShards(fs, storeDir).live.toSeq.sorted
    val idType = batch.schema("id_a").dataType
    val labels =
      if (existing.nonEmpty)
        spark.read.parquet(existing.map(shardDir(storeDir, _)): _*)
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", idType),
            org.apache.spark.sql.types.StructField("component", idType))))
    val (bcMerged, newRowsRaw, storeComps) =
      graft.ops.Dedup.incrementalMergeParts(labels, batch)
    // read twice below (touched-shard calc + the rewrite) — materialize
    val newRows = newRowsRaw.transform(graft.Materialize.checkpoint)
    // Touched = shards that LOSE rows (merge-map _olds restricted to
    // components the batch's endpoints actually HAVE in the store —
    // storeComps is batch-sized, derived from the fold's one store scan;
    // an _old that is a brand-new id's self-label has no store rows and
    // its shard must NOT be rewritten) ∪ shards that GAIN rows (every
    // _new target gains at least its loser's relabeled rows or a newRow;
    // every newRow lands in its component's shard).
    val touched = storeComps
      .join(bcMerged, storeComps("c") === col("_old"), "left_semi")
      .unionByName(bcMerged.select(col("_new").as("c")))
      .unionByName(newRows.select(col("component").as("c")))
      .select(shardOf(col("c"), numShards).as("s")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.nonEmpty) {
      val touchedExisting = touched.filter(existing.contains(_))
      val touchedOld =
        if (touchedExisting.nonEmpty)
          spark.read.parquet(
            touchedExisting.map(shardDir(storeDir, _)): _*)
        else labels.limit(0)
      // relabel is map-side against the broadcast merge map; a row can
      // only move between shards the map already touches, so this union
      // is the complete new content of every touched shard
      val updated = touchedOld
        .join(bcMerged, touchedOld("component") === col("_old"), "left")
        .select(touchedOld("id"),
          coalesce(col("_new"), touchedOld("component")).as("component"))
        .unionByName(newRows)
        .withColumn("_s", shardOf(col("component"), numShards))
        .transform(graft.Materialize.checkpoint)
      // recovery above consumed or discarded every ._next, so the marker
      // can never promote a stale copy; clear the touched destinations
      // anyway (rename refuses an existing target) — bounded by the
      // batch footprint, not the shard count
      touched.foreach(k => fs.delete(
        new org.apache.hadoop.fs.Path(shardDir(storeDir, k) + "._next"), true))
      // phase 1: every touched shard's replacement in ONE partitionBy job
      // (a write job per shard would pay fixed scheduling cost × touched —
      // measured 2× the whole fold at sf1), then per-shard renames into
      // `._next` position. The per-dir `_SUCCESS` is stamped AFTER each
      // rename returns — marker-last, so a torn copy-then-delete rename
      // leaves an incomplete dir that recovery refuses, same as a torn
      // Spark write.
      val staging = new org.apache.hadoop.fs.Path(storeDir + "._staging")
      fs.delete(staging, true)
      updated.write.mode("overwrite").partitionBy("_s")
        .parquet(staging.toString)
      // the batch token: stamped into every ._next manifest so recovery
      // can prove "this live dir IS this batch's promoted ._next"
      val batchToken = java.util.UUID.randomUUID().toString
      // first batch into a fresh store: the rename targets live under
      // the root — HDFS/S3A rename does NOT create missing parents (the
      // local-FS fallback does, which is why only a real DFS would see
      // the failure)
      fs.mkdirs(root)
      touched.foreach { k =>
        val src = new org.apache.hadoop.fs.Path(staging, s"_s=$k")
        val dst = new org.apache.hadoop.fs.Path(shardDir(storeDir, k) + "._next")
        if (fs.exists(src)) {
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"staging rename $src -> $dst failed")
        } else
          // a shard whose every component merged away this batch: its
          // replacement is EMPTY — write it through Spark so the dir
          // still carries a readable schema
          updated.where(col("_s") === k).drop("_s")
            .write.mode("overwrite").parquet(dst.toString)
        stampSuccess(fs, dst, Some(batchToken))
      }
      fs.delete(staging, true)
      // commit point
      fs.mkdirs(root)
      fs.create(new org.apache.hadoop.fs.Path(root, "_swap_pending"), true)
        .close()
      // phase 2: per-shard recoverable swaps, then drop the marker
      touched.foreach(k => swapLabelStore(fs, shardDir(storeDir, k)))
      fs.delete(new org.apache.hadoop.fs.Path(root, "_swap_pending"), false)
      ()
    }
    touched
  }

  /** [[clusterMaintenance]] over the sharded store: same edge feed, same
    * merge semantics (the spec pins equality with from-scratch CC), but
    * per-batch write cost proportional to the batch's component
    * footprint instead of the store.
    */
  def clusterMaintenanceSharded(
      edges: DataFrame, storeDir: String, checkpointDir: String,
      numShards: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        foldShardedBatch(batch, storeDir, numShards)
        ()
      }
      .start()

  case class FunnelEvIn(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  case class FunnelReach(user_id: Long, step: Int, event_type: String,
      ts: java.sql.Timestamp)
  case class FunnelState(step: Int, lastMs: Long, firstMs: Long)

  /** The stateful twin of [[funnel]] for true streams (the module's
    * twin convention: every batch operator with per-key state gets one):
    * `flatMapGroupsWithState` keeps ONE (current step, last-match ts,
    * first-match ts) row per user — O(users) state, hot-user-safe like
    * the batch rounds — and emits a [[FunnelReach]] row the moment a
    * user's chain advances a step. Per-step user counts = one count per
    * `step` over the output, the batch funnel's `n_users`.
    *
    * Ordering contract: within a micro-batch a user's events sort by
    * (ts, event_type) before the greedy fold; ACROSS batches the fold
    * consumes arrival order (the at-a-time streaming contract shared
    * with [[runningCountStateful]]) — greedy matching cannot
    * retro-match an event that arrives after a later one was already
    * consumed, so out-of-order delivery ACROSS batches can only lose
    * matches, never invent them. With per-user in-order delivery the
    * fold is exactly the batch [[funnel]]'s greedy semantics
    * (MemoryStream agreement spec-pinned, both window modes).
    *
    * `window` must be a fixed-length duration (days/hours/minutes —
    * no calendar months: the state does millisecond arithmetic).
    */
  def funnelStateful(
      events: Dataset[FunnelEvIn], steps: Seq[String],
      window: String = "24 hours",
      wholeFunnelWindow: Boolean = false): Dataset[FunnelReach] = {
    require(steps.nonEmpty, "funnel: need at least one step")
    val windowMs = funnelWindowMs(window)
    val stepArr = steps.toArray
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelReach](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[FunnelEvIn],
            state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelReach]
          evs.toSeq.sortBy(e => (e.ts.getTime, e.event_type)).foreach { e =>
            if (st.step < stepArr.length && e.event_type == stepArr(st.step)) {
              val t = e.ts.getTime
              val deadline =
                (if (wholeFunnelWindow) st.firstMs else st.lastMs) + windowMs
              if (st.step == 0) {
                st = FunnelState(1, t, t)
                out += FunnelReach(user, 1, stepArr(0), e.ts)
              } else if (t > st.lastMs && t <= deadline) {
                st = FunnelState(st.step + 1, t, st.firstMs)
                out += FunnelReach(user, st.step, stepArr(st.step - 1), e.ts)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** [[funnelInterval]]'s fixed-duration milliseconds for executor-side
    * state arithmetic — rejects calendar months (no fixed length).
    */
  private def funnelWindowMs(window: String): Long = {
    val parsed = org.apache.spark.sql.catalyst.util.IntervalUtils
      .safeStringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(window))
    require(parsed != null,
      s"funnel: window '$window' is not a valid interval " +
        "(expected e.g. '24 hours', '30 minutes')")
    require(parsed.months == 0,
      s"funnel (stateful): window '$window' must be a fixed-length " +
        "duration — calendar months have no millisecond length")
    val ms = parsed.days * 86400000L + parsed.microseconds / 1000L
    require(ms > 0, s"funnel: window '$window' must be a positive duration")
    ms
  }

  case class EvIn(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class EvCounted(event_id: Long, user_id: Long, running_n: Long)

  /** The arbitrary-state twin of `runningCount` for true streams:
    * `flatMapGroupsWithState` keeps one Long of state per user and emits
    * each event with its running index. Within a micro-batch, events are
    * ordered by (ts, event_id) before numbering — cross-batch order is
    * arrival order, the standard at-a-time streaming contract. State is
    * O(users), no watermark needed (nothing is ever evicted; add a
    * timeout if user cardinality is unbounded).
    */
  def runningCountStateful(events: Dataset[EvIn]): Dataset[EvCounted] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, EvCounted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[EvIn], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            n += 1
            EvCounted(e.event_id, user, n)
          }
          state.update(n)
          out.iterator
      }
  }
}
