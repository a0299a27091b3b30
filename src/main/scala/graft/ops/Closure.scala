package graft.ops

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive-hierarchy operators — the one capability the reference needs
  * that Spark has no single built-in operator for.
  *
  * Semantics from the reference's recursive CTE (`SAMPLE-REPORTS.md:59-75`,
  * `SAMPLE-PROJECT-BUDGET-REPORT.md:53-70`) and the Python breadcrumb
  * walkers (`dlt_fetch_timecamp.py:313-346`, `:527-547`).
  *
  * One algorithm per operator, each the measured winner of its A/B
  * (SCALE.md): the closure is Spark 4's native `WITH RECURSIVE`, the
  * reference's own `UNION ALL` shape; breadcrumbs walk by recursive
  * doubling, ⌈log₂ depth⌉ rounds, each one
  * [[graft.Materialize.checkpointForced]] whose forcing job is the
  * convergence count, so the plan stays O(1) per round. Hierarchy dimensions are small (tasks/groups —
  * thousands to low millions of rows) even when the fact side is 100 TB,
  * so every round is a dimension-sized join, and the final closure is
  * typically broadcast against the fact table.
  */
object Closure {

  /** Spark's recursive CTE guards against runaway recursion with a
    * 1M-row default cap (`RECURSION_ROW_LIMIT_EXCEEDED`) — sized for
    * interactive misuse, not ETL: a closure over a 2M-node forest
    * legitimately emits tens of millions of pairs (hit at sf10 by the
    * bench's error reporting). Raise the session cap, never lower it —
    * the depth cap (`cteRecursionLevelLimit`, default 100) stays, it is
    * the actual cycle guard.
    */
  private def raiseRecursionRowLimit(nodes: DataFrame, maxDepth: Int): Unit = {
    val conf = nodes.sparkSession.conf
    val rowKey = "spark.sql.cteRecursionRowLimit"
    if (conf.getOption(rowKey).map(_.toLong).getOrElse(1000000L) < Int.MaxValue)
      conf.set(rowKey, Int.MaxValue)
    // The engine depth guard (default 100) must sit ABOVE the requested
    // truncation boundary, or the query errors before our own lvl cap
    // truncates; never lower it (it stays the runaway backstop for
    // misconfigured caps).
    val lvlKey = "spark.sql.cteRecursionLevelLimit"
    val need = maxDepth.toLong + 2
    if (conf.getOption(lvlKey).map(_.toLong).getOrElse(100L) < need)
      conf.set(lvlKey, need)
  }

  /** Transitive closure of a parent-pointer forest via Spark 4's native
    * recursive CTE (`WITH RECURSIVE` → `UnionLoop`): one query execution,
    * no driver-side fixpoint loop or per-iteration checkpoints.
    *
    * Input: any DataFrame with an id column and a nullable parent column
    * (NULL parent = root). Output: `(descendant_id, ancestor_id)` pairs
    * including the reflexive self-pair for every node, exactly as the
    * reference's base case does (`SAMPLE-REPORTS.md:61-63`).
    *
    * `maxDepth` caps the walk: output = pairs at walk distance
    * ≤ `maxDepth`, truncated by the step's own level column instead of
    * erroring into the engine recursion limit (which is raised above the
    * cap when needed and kept as the backstop). Spark only supports the
    * UNION ALL step form, the reference's own: on cyclic input the level
    * bound makes the loop terminate and the output is a multiset (one
    * row per winding); its distinct pairs are the reachable set.
    */
  def transitiveClosure(
      nodes: DataFrame, idCol: String, parentCol: String,
      maxDepth: Int = 32): DataFrame = {
    raiseRecursionRowLimit(nodes, maxDepth)
    val view = s"_graft_closure_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    // Materialize the projection once: UnionLoop re-executes the step plan
    // per level, which would otherwise re-run the source scan every level.
    nodes.select(col(idCol).as("id"), col(parentCol).as("parent"))
      .transform(Materialize.checkpoint)
      .createOrReplaceTempView(view)
    val out = nodes.sparkSession.sql(
      s"""WITH RECURSIVE th(descendant_id, ancestor_id, lvl) AS (
         |  SELECT id AS descendant_id, id AS ancestor_id, 0 AS lvl FROM $view
         |  UNION ALL
         |  SELECT th.descendant_id, n.parent AS ancestor_id, th.lvl + 1
         |  FROM th JOIN $view n ON th.ancestor_id = n.id
         |  WHERE n.parent IS NOT NULL AND th.lvl < $maxDepth
         |) SELECT descendant_id, ancestor_id FROM th""".stripMargin)
    // views resolve during analysis (spark.sql above), so the returned
    // plan no longer needs the catalog entry — dropping it immediately
    // keeps a per-job caller from accumulating one pinned checkpointed
    // frame per call for the session's lifetime
    nodes.sparkSession.catalog.dropTempView(view)
    out
  }

  /** Root-to-self breadcrumb paths for a parent-pointer forest.
    *
    * Returns the input columns plus:
    *  - `path`: ArrayType(String) of names, root first, self last
    *  - `breadcrumb`: `" / "`-joined path (`dlt_fetch_timecamp.py:559-561`)
    *
    * Recursive doubling: the state is ONE row per node at every round —
    * `(id, up, path)` where `up` is the ancestor at distance exactly 2^k
    * (NULL once the root is within reach) and `path` holds the last
    * min(2^k, depth+1) names ending at the node. One self-join per round
    * composes both: `path ← path(up) ++ path`, `up ← up(up)`. So
    * ⌈log₂(depth)⌉ rounds of n-row joins, where a level walker needs
    * `depth` rounds and materializes a frontier per level.
    *
    * Paths cover levels ≤ `maxDepth` (root = level 1; the loop overshoots
    * to the next power of two, then the emit clamps on `size(path)`), and
    * deeper nodes emit NULL path/breadcrumb. A node whose parent id does
    * not exist in the table starts its own path (the reference walker
    * stops at the missing ancestor, `dlt_fetch_timecamp.py:534`). Nodes
    * whose ancestor chain enters a cycle still hold a non-NULL `up` when
    * the round cap fires and are emitted with NULL path/breadcrumb.
    */
  def breadcrumbs(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      nameCol: String,
      maxDepth: Int = 32): DataFrame = {
    val base = nodes
      .select(col(idCol).as("_id"), col(parentCol).as("_parent"),
        col(nameCol).as("_name"))
      .transform(Materialize.checkpoint)
    val ids = base.select(col("_id").as("_x"))
    // counted-while-forcing: each round's convergence probe (any rows
    // still walking, i.e. non-null _up?) is the checkpoint's forcing
    // action — one job per round, not checkpoint + isEmpty
    def pending(df: DataFrame): Long =
      df.where(col("_up").isNotNull).queryExecution.toRdd.count()
    var (state, nPending) = Materialize.checkpointForced(
      base
        .join(ids, base("_parent") === col("_x"), "left")
        .select(col("_id"),
          when(col("_x").isNotNull, col("_parent")).as("_up"),
          array(col("_name")).as("path")))(pending)
    var span = 1L
    while (span < maxDepth && nPending > 0) {
      val anc = state.select(col("_id").as("_a_id"),
        col("_up").as("_a_up"), col("path").as("_a_path"))
      // `_up` non-null ⇒ the ancestor row exists (pointers are only ever
      // set to ids present in the table), so the left join's NULL branch
      // is exactly the already-complete rows.
      val (next, n) = Materialize.checkpointForced(
        state
          .join(anc, state("_up") === col("_a_id"), "left")
          .select(state("_id"),
            when(state("_up").isNotNull, col("_a_up")).as("_up"),
            when(state("_up").isNotNull, concat(col("_a_path"), state("path")))
              .otherwise(state("path")).as("path")))(pending)
      state = next
      nPending = n
      span *= 2
    }
    // clamp to the level boundary: completed paths deeper than
    // maxDepth levels (covered because rounds overshoot to a power of
    // two) emit NULL exactly like an uncompleted one
    val done = state.select(col("_id").as(idCol),
      when(col("_up").isNull && size(col("path")) <= maxDepth,
        col("path")).as("path"))
    nodes.join(
      done.withColumn("breadcrumb",
        when(col("path").isNotNull, concat_ws(" / ", col("path")))),
      Seq(idCol), "left")
  }

  /** Fan the first `levels` breadcrumb elements out to string columns
    * (`task_level_1..8` / `group_level_1..5`, empty string beyond depth —
    * `dlt_fetch_timecamp.py:563-567`). Expects a `path` array column.
    */
  def withLevelColumns(df: DataFrame, prefix: String, levels: Int): DataFrame =
    (1 to levels).foldLeft(df) { (d, i) =>
      d.withColumn(s"${prefix}_level_$i",
        coalesce(try_element_at(col("path"), lit(i)), lit("")))
    }
}
