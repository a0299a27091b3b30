package graft

import org.apache.spark.sql.DataFrame

/** The single seam every materialization in graft goes through.
  *
  * Iterative operators (breadcrumb doubling, connected components, BPE
  * merges) and multi-consumer frames (band tables, shingle frames)
  * must be materialized: once to truncate lineage so per-iteration plans
  * stay O(1), and once so expensive derivations aren't re-executed per
  * consumer. HOW to materialize is a deployment decision, not an
  * operator decision. Both modes truncate lineage:
  *
  *  - `local` (default): `localCheckpoint` — blocks stored UNREPLICATED
  *    on executors. Fastest (no DFS round-trip); correct on `local[*]`
  *    where executor == driver process. On a real cluster a single lost
  *    executor makes the checkpointed RDD unrecoverable and aborts the
  *    job — acceptable for short interactive work, NOT for a multi-hour
  *    100 TB dedup.
  *  - `reliable`: `checkpoint` to the fault-tolerant checkpoint
  *    directory (HDFS/object store). An executor loss re-reads the
  *    checkpointed blocks from the DFS. The directory comes from
  *    `SparkContext.setCheckpointDir` or, if unset, from
  *    `spark.graft.materialize.dir`.
  *
  * Select with `spark.conf.set("spark.graft.materialize.mode", ...)` (a
  * runtime conf — switchable per job without rebuilding the session).
  * Any other value fails the first materialization with a named error.
  */
object Materialize {

  /** Runtime conf key selecting the materialization strategy:
    * `local` (default) | `reliable`.
    */
  val ModeKey = "spark.graft.materialize.mode"

  /** Fallback checkpoint directory for `reliable` mode when
    * `SparkContext.setCheckpointDir` was not called.
    */
  val DirKey = "spark.graft.materialize.dir"

  // Last (context, conf value pushed, resulting getCheckpointDir) from
  // this seam's SparkContext.setCheckpointDir call. Keyed by the CONTEXT,
  // not just the dir string: checkpoint dirs are per-SparkContext state,
  // so after a stop + recreate (or with two sessions over distinct
  // contexts) a cached bare string would claim the dir is set on a
  // context that never saw it — every reliable checkpoint would then
  // throw "Checkpoint directory has not been set". The RESULTING dir is
  // recorded too (setCheckpointDir appends a UUID subdirectory, so the
  // pushed conf value never equals getCheckpointDir): it is how the seam
  // tells "the context's current dir is the one I set" from "a caller
  // set their own dir directly" — the latter always wins, even when
  // DirKey changes afterwards. The context is held weakly so a stopped
  // context can be collected.
  @volatile private var lastReliable
      : Option[(java.lang.ref.WeakReference[org.apache.spark.SparkContext], String, String)] = None

  /** Eagerly materialize `df` under the configured strategy and return
    * the lineage-truncated frame. Usable point-free:
    * `df.transform(Materialize.checkpoint)`.
    */
  def checkpoint(df: DataFrame): DataFrame = mark(df, eager = true)

  /** [[checkpoint]] marked LAZILY: the first job that touches the frame
    * materializes it (and every later consumer reads the blocks), so a
    * multi-consumer frame whose FIRST consumer is itself an action costs
    * ZERO dedicated checkpoint jobs — where the eager form schedules one
    * job per call purely to force blocks. Use when (a) the frame has a
    * downstream action that is guaranteed to run before any second
    * consumer, and (b) nothing needs the row count (otherwise
    * [[checkpointCounted]] — same one-job property, count kept).
    */
  def checkpointLazy(df: DataFrame): DataFrame = mark(df, eager = false)

  /** [[checkpoint]] that also returns the frame's ROW COUNT at zero
    * extra cost: the checkpoint is taken LAZILY and the count is the
    * forcing action — one job, exactly like the eager form (whose own
    * materializer is an internal count it throws away). Exists for the
    * broadcast-dispatch pattern around every incremental-fold frame
    * (`broadcastIfSmall(df, Some(df.count()))` after an eager
    * checkpoint = a SECOND job per frame, ~8 per `curateIncremental`
    * fold — pure scheduler overhead that compounds across batches and
    * that a static-width `Joins.broadcastIfFits(df, n)` dispatch on
    * this count eliminates entirely; PlanSpec pins the fold's job
    * count).
    */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) =
    // force via the PHYSICAL rdd count, not Dataset.count(): the SQL
    // count plans a partial/final aggregate whose exchange is its own
    // AQE job (2 jobs), while rdd.count() is the very job the eager
    // checkpoint's internal materializer runs (1) — same work, value kept
    checkpointForced(df)(_.queryExecution.toRdd.count())

  /** [[checkpoint]] whose forcing action is the CALLER's own aggregate:
    * the checkpoint is marked lazily and `force` (an action over the
    * returned frame — e.g. a convergence-signature agg) materializes it
    * as its job completes. One job where eager-checkpoint-then-aggregate
    * ran two AND scanned the fresh blocks a second time — the fixpoint
    * loops (star CC, label propagation) pay that pattern once per round,
    * so the per-round saving compounds.
    */
  def checkpointForced[T](df: DataFrame)(force: DataFrame => T): (DataFrame, T) = {
    val cp = mark(df, eager = false)
    (cp, force(cp))
  }

  /** The one mode dispatch: checkpoint `df` under the configured mode,
    * eagerly (one job now) or lazily (the first job over the returned
    * frame materializes it).
    */
  private def mark(df: DataFrame, eager: Boolean): DataFrame =
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" =>
        ensureReliableDir(df.sparkSession)
        df.checkpoint(eager)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable, got '$other'")
    }

  /** Test hook: record the context's CURRENT checkpoint dir as seam-set
    * (with a sentinel conf value no real DirKey equals), handing dir
    * ownership back to the seam after a spec exercised the
    * caller-setCheckpointDir-wins path — checkpoint dirs are
    * per-context state shared by every suite in the JVM. Never called
    * from production code.
    */
  private[graft] def adoptCurrentDirForTest(
      sc: org.apache.spark.SparkContext): Unit =
    lastReliable = sc.getCheckpointDir.map(d =>
      (new java.lang.ref.WeakReference(sc), "", d))

  /** The `reliable`-mode checkpoint-directory handshake, shared by the
    * eager and counted materializers.
    *
    * Set ONCE per (context, conf value), not per call: setCheckpointDir
    * mkdirs a fresh UUID subdirectory every invocation — per-iteration
    * calls in the breadcrumb/CC loops would issue one namenode round-trip
    * per round and scatter artifacts over dozens of directories. Gate on
    * the CONTEXT's own state too: a recreated context starts with no
    * checkpoint dir regardless of what was pushed before. A caller's
    * direct setCheckpointDir(...) ALWAYS wins — DirKey is the fallback —
    * including when DirKey changes afterwards: the seam re-pushes only
    * while the context's current dir is the one the seam itself last
    * set. (Two sessions over one context with DIFFERENT DirKey values
    * are genuinely conflicting config — checkpoint dirs are per-context
    * state; each push then flips the dir, so configure one DirKey per
    * context. getCheckpointDir is a local getter; per-call cost is nil.)
    */
  private def ensureReliableDir(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    spark.conf.getOption(DirKey) match {
      case Some(dir) =>
        val current = sc.getCheckpointDir
        val seamSet = lastReliable.collect {
          case (c, pushed, result) if c.get eq sc => (pushed, result)
        }
        val seamOwnsCurrent =
          current.isDefined && seamSet.exists(_._2 == current.get)
        if (current.isEmpty ||
            (seamOwnsCurrent && seamSet.exists(_._1 != dir))) {
          sc.setCheckpointDir(dir)
          lastReliable = Some((new java.lang.ref.WeakReference(sc), dir,
            sc.getCheckpointDir.getOrElse(dir)))
        }
      case None if sc.getCheckpointDir.nonEmpty => ()
      case None => throw new IllegalStateException(
        s"$ModeKey=reliable requires SparkContext.setCheckpointDir(...) or $DirKey")
    }
  }
}
