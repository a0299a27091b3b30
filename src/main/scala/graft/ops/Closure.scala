package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Recursive-hierarchy operators — the one capability the reference needs
  * that Spark has no single built-in operator for.
  *
  * Semantics from the reference's recursive CTE (`SAMPLE-REPORTS.md:59-75`,
  * `SAMPLE-PROJECT-BUDGET-REPORT.md:53-70`) and the Python breadcrumb
  * walkers (`dlt_fetch_timecamp.py:313-346`, `:527-547`).
  *
  * One walker serves both operators: recursive doubling over one row per
  * node, ⌈log₂ depth⌉ rounds, each one [[graft.Materialize.checkpointForced]]
  * whose forcing job is the pending count, so the plan stays O(1) per
  * round. Breadcrumbs walk names; the closure walks ids and explodes each
  * node's path into its ancestor pairs. It won the breadcrumb A/B against
  * the recursive CTE at every scale (SCALE.md), and unlike the CTE's
  * `UNION ALL` it cannot repeat a pair on a cycle. Hierarchy dimensions
  * are small (tasks/groups — thousands to low millions of rows) even when
  * the fact side is 100 TB, so every round is a dimension-sized join, and
  * the closure is typically broadcast against the fact table.
  */
object Closure {

  /** The recursive-doubling walk over `base` = `(_id, _parent, payload…)`.
    *
    * The state is ONE row per node at every round: `(_id, _up, path)`
    * where `_up` is the ancestor at distance exactly 2^k (NULL once the
    * path is complete) and `path` holds the last 2^k entries ending at the
    * node — or, once complete, the whole chain. One self-join per round
    * composes both: `path ← path(up) ++ path`, `up ← up(up)`. A root, or
    * a node whose parent id is missing from the table, is complete from
    * the start with `firstPath(false)`; every other node starts from
    * `firstPath(true)`.
    *
    * Rounds stop once paths hold `entries` entries or nothing is pending;
    * returns the final state and its pending count. Rows still pending
    * then are chains deeper than `entries` or nodes that reach a cycle.
    */
  private def walk(
      base: DataFrame, firstPath: Column => Column,
      entries: Int): (DataFrame, Long) = {
    val nodes = base.transform(Materialize.checkpoint)
    val ids = nodes.select(col("_id").as("_x"))
    // counted-while-forcing: each round's convergence probe (any rows
    // still walking, i.e. non-null _up?) is the checkpoint's forcing
    // action — one job per round, not checkpoint + isEmpty
    def pending(df: DataFrame): Long =
      df.where(col("_up").isNotNull).queryExecution.toRdd.count()
    var (state, nPending) = Materialize.checkpointForced(
      nodes
        .join(ids, nodes("_parent") === col("_x"), "left")
        .select(col("_id"),
          when(col("_x").isNotNull, col("_parent")).as("_up"),
          firstPath(col("_x").isNotNull).as("path")))(pending)
    var span = 1L
    while (span < entries && nPending > 0) {
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
    (state, nPending)
  }

  /** Transitive closure of a parent-pointer forest: the id walk, each
    * node's path exploded into `(descendant_id, ancestor_id)` pairs.
    *
    * Input: any DataFrame with an id column and a nullable parent column
    * (NULL parent = root). Output: one row per pair, including the
    * reflexive self-pair for every node, exactly as the reference's base
    * case does (`SAMPLE-REPORTS.md:61-63`). A parent id missing from the
    * table is an ancestor whose own walk ends there, as in the
    * reference's join (node 9 under a missing 404 gives `(9, 404)`).
    *
    * `maxDepth` caps the walk: output = pairs at walk distance
    * ≤ `maxDepth`, so a chain deeper than that is truncated.
    *
    * Cycles fail loudly: a node on a parent cycle of at most `maxDepth`
    * nodes meets its own id among its ancestors, and the call throws an
    * `IllegalArgumentException` listing up to 10 such ids. (The reference
    * CTE's `UNION ALL` would instead repeat each cycle pair once per
    * winding, silently multiplying every sum taken over the closure.) A
    * longer cycle is truncated at `maxDepth` like a deep chain. The check
    * is one collect, run only when the walk stopped at the cap with rows
    * still pending — on a forest within `maxDepth` it costs nothing.
    * The walk's rounds, and the check, run when this is called; the
    * returned pairs are a projection of the last checkpointed round.
    */
  def transitiveClosure(
      nodes: DataFrame, idCol: String, parentCol: String,
      maxDepth: Int = 32): DataFrame = {
    val entries = maxDepth + 1
    val (state, nPending) = walk(
      nodes.select(col(idCol).as("_id"), col(parentCol).as("_parent")),
      found => when(col("_parent").isNotNull && !found,
        array(col("_parent"), col("_id"))).otherwise(array(col("_id"))),
      entries)
    // the last `entries` ids of the path, self first: position = distance
    // (reversing first keeps slice's start at 1 — a negative start past
    // the front of a short array returns an empty array)
    val chain = slice(reverse(col("path")), 1, entries)
    if (nPending > 0) {
      val cyclic = state
        .where(col("_up").isNotNull &&
          array_contains(slice(chain, 2, maxDepth), col("_id")))
        .select(col("_id")).orderBy(col("_id")).limit(10)
        .collect().map(_.get(0))
      if (cyclic.nonEmpty) throw new IllegalArgumentException(
        s"Closure.transitiveClosure: parent cycle in '$parentCol' through " +
          s"$idCol ${cyclic.mkString(", ")} (at most 10 shown)")
    }
    state.select(col("_id").as("descendant_id"), explode(chain).as("ancestor_id"))
  }

  /** Root-to-self breadcrumb paths for a parent-pointer forest: the name
    * walk.
    *
    * Returns the input columns plus:
    *  - `path`: ArrayType(String) of names, root first, self last
    *  - `breadcrumb`: `" / "`-joined path (`dlt_fetch_timecamp.py:559-561`)
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
    val (state, _) = walk(
      nodes.select(col(idCol).as("_id"), col(parentCol).as("_parent"),
        col(nameCol).as("_name")),
      _ => array(col("_name")),
      maxDepth)
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
