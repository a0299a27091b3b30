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
  * Implementation is an iterative fixpoint of DataFrame self-joins. Scale
  * notes: hierarchy dimensions are small (tasks/groups — thousands to low
  * millions of rows) even when the fact side is 100 TB, so each iteration
  * is a small shuffle (or broadcast) join; an eager
  * [[graft.Materialize.checkpoint]] per iteration truncates lineage so the
  * plan stays O(1) per step instead of growing exponentially (local
  * checkpoint on local mode, reliable checkpoint on clusters — see
  * Materialize's scaladoc), and the final closure is typically broadcast
  * against the fact table by AQE.
  */
object Closure {

  /** Transitive closure of a parent-pointer forest.
    *
    * Input: any DataFrame with an id column and a nullable parent column
    * (NULL parent = root). Output: `(descendant_id, ancestor_id)` pairs
    * including the reflexive self-pair for every node, exactly as the
    * reference's base case does (`SAMPLE-REPORTS.md:61-63`).
    *
    * `maxDepth` caps iterations: cycle *tolerance*, not cycle detection —
    * the reference's walkers return partial paths on cycles rather than
    * erroring (`dlt_fetch_timecamp.py:534`).
    */
  def transitiveClosure(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      maxDepth: Int = 32): DataFrame = {
    val edges = nodes
      .select(col(idCol).as("_e_id"), col(parentCol).as("_e_parent"))
      .where(col(parentCol).isNotNull)
      .transform(Materialize.checkpoint)

    val self = nodes.select(
      col(idCol).as("descendant_id"), col(idCol).as("ancestor_id"))

    // frontier k = (descendant, ancestor-at-distance-k), minus pairs already
    // seen — the set-difference makes cyclic graphs converge (the pair
    // space is finite) instead of re-deriving pairs until the cap. Only
    // frontiers are eagerly checkpointed; the accumulated result is a
    // union of those materialized RDDs, so its plan stays shallow without
    // paying one extra materialization job per iteration.
    var result = self.transform(Materialize.checkpoint)
    // counted checkpoints: the frontier count doubles as the
    // loop guard (one job per round; the retired isEmpty probe was a
    // second)
    var (frontier, nFrontier) = Materialize.checkpointCounted(
      edges.select(col("_e_id").as("descendant_id"),
        col("_e_parent").as("ancestor_id")))
    var depth = 0
    while (depth < maxDepth && nFrontier > 0) {
      result = result.unionByName(frontier)
      val (next, n) = Materialize.checkpointCounted(
        frontier
          .join(edges, frontier("ancestor_id") === edges("_e_id"))
          .select(frontier("descendant_id"), edges("_e_parent").as("ancestor_id"))
          .distinct()
          .join(result, Seq("descendant_id", "ancestor_id"), "left_anti"))
      frontier = next
      nFrontier = n
      depth += 1
    }
    result
  }

  /** Transitive closure by pointer doubling: ⌈log₂(depth)⌉ rounds instead
    * of `depth` rounds (Valiant-style path doubling, the standard
    * PRAM/MapReduce technique for shortening dependence chains).
    *
    * Invariants per round k:
    *  - `reach`  = all (descendant, ancestor) pairs at distance < 2^k
    *  - `hop`    = (node, ancestor-at-distance-EXACTLY-2^k) pointers
    * Step: `reach ∪ (reach ∘ hop)` covers distances < 2^(k+1) — and on a
    * FOREST each pair is produced exactly once, because the decomposition
    * d = d' + 2^k with d' < 2^k is the binary representation of d: no
    * `distinct`/anti-join dedup is needed (the iterative variant pays one
    * per level). `hop ∘ hop` doubles the pointer table.
    *
    * Scale: a depth-60 hierarchy costs 6 rounds of dimension-sized joins
    * and 6 lineage truncations instead of 60 — at 100 TB the per-round
    * fixed cost (scheduling + materialization barrier) dominates closure
    * work, so rounds are the term to minimize.
    *
    * Cap semantics are UNIFIED with the other variants (one boundary for
    * all of [[transitiveClosure]]/[[transitiveClosureDoubling]]/
    * [[transitiveClosureRecursive]]): output = pairs at walk distance
    * ≤ `maxDepth`, exactly. Each reach row carries its distance; the
    * compose step prunes compositions that would exceed the cap, so the
    * boundary is exact rather than "the next power of two".
    *
    * Cyclic input (parent pointers are functional, so a "cycle" is a
    * ρ-shaped chain into a loop): the hop table never drains, but rounds
    * are capped, even-cycle self-pointer degeneracy is dropped, and with
    * `assumeForest = false` a final pair-level dedup makes the output the
    * SAME SET the iterative variant produces (it re-derives ancestors
    * once per winding otherwise — on forests every pair is produced
    * exactly once because d = d' + 2^k with d' < 2^k is the binary
    * representation of d, so the dedup shuffle is pure waste there and
    * stays opt-in).
    */
  def transitiveClosureDoubling(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      maxDepth: Int = 32,
      assumeForest: Boolean = true): DataFrame = {
    var reach = nodes
      .select(col(idCol).as("descendant_id"), col(idCol).as("ancestor_id"),
        lit(0L).as("_dist"))
      .transform(Materialize.checkpoint)
    // counted checkpoints: the hop count doubles as the loop
    // guard (one job per round; the retired isEmpty probe was a second)
    var (hop, nHop) = Materialize.checkpointCounted(
      nodes
        .select(col(idCol).as("_h_from"), col(parentCol).as("_h_to"))
        .where(col(parentCol).isNotNull))
    var span = 1L // hop distance this round
    while (span <= maxDepth && nHop > 0) {
      // compose only rows that stay within the cap — the pruned rows can
      // never produce an in-cap pair later either (distances only grow)
      val composable = reach.where(col("_dist") + span <= maxDepth)
      reach = reach
        .unionByName(composable
          .join(hop, composable("ancestor_id") === hop("_h_from"))
          .select(composable("descendant_id"),
            hop("_h_to").as("ancestor_id"),
            (composable("_dist") + span).as("_dist")))
        .transform(Materialize.checkpoint)
      val (nextHop, n) = Materialize.checkpointCounted(
        hop.alias("a")
          .join(hop.alias("b"), col("a._h_to") === col("b._h_from"))
          .select(col("a._h_from").as("_h_from"), col("b._h_to").as("_h_to"))
          // even-length cycles collapse to self-pointers at span ≥ cycle
          // length; dropping them re-drains the hop table (no-op on forests)
          .where(col("_h_from") =!= col("_h_to")))
      hop = nextHop
      nHop = n
      span *= 2
    }
    val out = reach.select(col("descendant_id"), col("ancestor_id"))
    if (assumeForest) out
    else out.dropDuplicates("descendant_id", "ancestor_id")
  }

  /** Transitive closure via Spark 4's native recursive CTE (`WITH
    * RECURSIVE` → `UnionLoop`): one query execution, no driver-side
    * fixpoint loop or per-iteration checkpoints. Spark only supports the
    * UNION ALL step form, which re-derives pairs forever on a cycle — use
    * this on inputs known to be acyclic (every hierarchy the reference
    * ships is a forest) and `transitiveClosure` when cycle tolerance is
    * required. Semantics on forests are identical.
    */
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

  /** Cap semantics unified with [[transitiveClosure]]: the step tracks its
    * level and stops at distance `maxDepth`, TRUNCATING like the iterative
    * variant instead of erroring into the engine recursion limit (which is
    * raised above the cap when needed and kept as the backstop). On cyclic
    * input the level bound also makes the UNION ALL loop terminate — the
    * output is then a multiset (one row per winding); callers needing the
    * iterative variant's set semantics on possibly-cyclic input use
    * [[transitiveClosure]] or `transitiveClosureDoubling(...,
    * assumeForest = false)`.
    */
  def transitiveClosureRecursive(
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

  /** Breadcrumbs via Spark 4's native recursive CTE — single query
    * execution instead of a per-level driver loop. Unlike the closure,
    * this shape is cycle-SAFE even with UNION ALL: paths grow strictly
    * downward from roots, so cycle components are never reached and the
    * loop drains — they surface with NULL path/breadcrumb exactly like
    * `breadcrumbs`. Cap semantics unified with the walker: paths cover
    * levels ≤ `maxDepth` (root = level 1), deeper nodes emit NULL
    * path/breadcrumb; the engine recursion limit is raised above the cap
    * when needed and stays the backstop.
    */
  def breadcrumbsRecursive(
      nodes: DataFrame, idCol: String, parentCol: String,
      nameCol: String, maxDepth: Int = 32): DataFrame = {
    raiseRecursionRowLimit(nodes, maxDepth)
    val view = s"_graft_bc_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    // Materialized once — the per-level step re-executes its scan of this
    // view, and the anchor's NOT IN needs a second pass over it.
    nodes.select(col(idCol).as("id"), col(parentCol).as("parent"),
      col(nameCol).as("name"))
      .transform(Materialize.checkpoint)
      .createOrReplaceTempView(view)
    // Orphan detection is NOT EXISTS, not NOT IN: a NOT IN over a nullable
    // subquery is a null-aware anti-join, which Spark can only execute as
    // a BroadcastNestedLoopJoin — O(n²) row comparisons in the anchor
    // (~4×10^10 at 200k nodes; the operator appeared to hang at sf1).
    // NOT EXISTS with an equality correlate plans as a hash LEFT ANTI join.
    val done = nodes.sparkSession.sql(
      s"""WITH RECURSIVE bc(id, path, lvl) AS (
         |  SELECT id, array(name), 1 AS lvl FROM $view c
         |  WHERE parent IS NULL
         |     OR NOT EXISTS (SELECT 1 FROM $view v WHERE v.id = c.parent)
         |  UNION ALL
         |  SELECT c.id, concat(p.path, array(c.name)), p.lvl + 1
         |  FROM $view c JOIN bc p ON c.parent = p.id
         |  WHERE p.lvl < $maxDepth
         |) SELECT id, path FROM bc""".stripMargin)
    // resolved during analysis above — drop so per-job callers don't
    // accumulate pinned checkpointed frames in the session catalog
    nodes.sparkSession.catalog.dropTempView(view)
    nodes.join(
      done.select(col("id").as(idCol), col("path"),
        concat_ws(" / ", col("path")).as("breadcrumb")),
      Seq(idCol), "left")
  }

  /** Breadcrumbs by recursive doubling: the state is ONE row per node at
    * every round — `(id, up, path)` where `up` is the ancestor at distance
    * exactly 2^k (NULL once the root is within reach) and `path` holds the
    * last min(2^k, depth+1) names ending at the node. One self-join per
    * round composes both: `path ← path(up) ++ path`, `up ← up(up)`.
    *
    * ⌈log₂(depth)⌉ rounds of n-row joins, vs `depth` rounds for the
    * level-walking variants — AND no per-level frontier materialization
    * (the level walker materializes O(n) rows per level; the recursive CTE
    * re-executes its step scan per level). Semantics match `breadcrumbs`
    * exactly, including the cap boundary: paths cover levels ≤ `maxDepth`
    * (the loop overshoots to the next power of two, then the emit clamps
    * on `size(path)`), a missing parent starts its own path (orphan
    * tolerance, `dlt_fetch_timecamp.py:534`), and nodes whose ancestor
    * chain enters a cycle still hold a non-NULL `up` when the round cap
    * fires and are emitted with NULL path/breadcrumb.
    */
  def breadcrumbsDoubling(
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
    // clamp to the walker's boundary: completed paths deeper than
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

  /** Root-to-self breadcrumb paths for a parent-pointer forest.
    *
    * Returns the input columns plus:
    *  - `path`: ArrayType(String) of names, root first, self last
    *  - `breadcrumb`: `" / "`-joined path (`dlt_fetch_timecamp.py:559-561`)
    *
    * Missing-parent tolerance matches the reference: a node whose parent id
    * does not exist in the table starts its own path (the walker stops at
    * the missing ancestor, `dlt_fetch_timecamp.py:534`). Depth is capped.
    */
  def breadcrumbs(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      nameCol: String,
      maxDepth: Int = 32): DataFrame = {
    val base = nodes
      .select(col(idCol).as("_b_id"), col(parentCol).as("_b_parent"),
        col(nameCol).as("_b_name"))
      .transform(Materialize.checkpoint)

    val ids = base.select(col("_b_id"))
    // Roots: parent NULL, or parent not present in the table (orphans).
    val roots = base
      .join(ids.withColumnRenamed("_b_id", "_p_id"),
        base("_b_parent") === col("_p_id"), "left_anti")
      .select(col("_b_id"), array(col("_b_name")).as("path"))

    // Each level is checkpointed once (the next level's join re-reads it),
    // but the ACCUMULATED result is unioned lazily at the end — re-
    // checkpointing `done` per level re-materializes O(depth × n) rows
    // for nothing (~25% of the operator at sf1/200k nodes). The final
    // union's lineage is `depth` flat union nodes over already-
    // materialized frames.
    // counted checkpoints: the level count doubles as the loop
    // guard and the append condition (one job per frontier; the retired
    // checkpoint-then-isEmpty shape was two)
    val (roots0, nRoots) = Materialize.checkpointCounted(roots)
    val levels = scala.collection.mutable.ArrayBuffer(roots0)
    var level = roots0
    var levelEmpty = nRoots == 0L
    var depth = 1
    while (depth < maxDepth && !levelEmpty) {
      val (next, n) = Materialize.checkpointCounted(
        base
          .join(level.withColumnRenamed("_b_id", "_l_id"),
            base("_b_parent") === col("_l_id"))
          .select(base("_b_id"),
            concat(col("path"), array(col("_b_name"))).as("path")))
      level = next
      levelEmpty = n == 0L
      if (!levelEmpty) levels += next
      depth += 1
    }
    val done = levels.reduce(_ unionByName _)
    nodes.join(
      done.select(col("_b_id").as(idCol), col("path"),
        concat_ws(" / ", col("path")).as("breadcrumb")),
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
