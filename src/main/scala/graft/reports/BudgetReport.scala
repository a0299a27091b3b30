package graft.reports

import graft.Materialize
import graft.ops.{Closure, Joins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's flagship analytics query: recursive budget-vs-tracked
  * rollup (`SAMPLE-REPORTS.md:20-112`).
  *
  * Logical chain (identical to the published DuckDB report):
  * tasks → transitive closure → entries ⋈ closure → SUM per ancestor →
  * tasks ⟕ rollup → budget filter → presentation projection → sort.
  *
  * Scale notes: the fact side is pre-aggregated per task BEFORE the
  * closure join (eager aggregation, Yan & Larson VLDB'95 — SUM is
  * decomposable, so SUM-per-ancestor = SUM over SUM-per-task): the
  * 100 TB side is scanned exactly once, collapses to ≤|tasks| partial
  * rows via map-side combine, and the closure join touches only those
  * partials — never the raw fact rows. The closure side broadcasts only
  * while it is actually broadcast-sized ([[graft.ops.Joins.broadcastIfSmall]]);
  * two decades up a 15M-pair closure falls to a shuffle join of two
  * dimension-sized frames instead of a ~1 GB forced broadcast.
  */
object BudgetReport {

  /** @param tasks   (task_id: String, parent_id: String nullable,
    *                 name: String, budgeted: Long seconds)
    * @param entries (task_id: String, duration: Long seconds)
    */
  def apply(tasks: DataFrame, entries: DataFrame): DataFrame = {
    // The pairs of the published report's recursive CTE
    // (SAMPLE-REPORTS.md:59-75), from the doubling walk: ⌈log₂ depth⌉
    // rounds, each pair once, and a parent cycle raises instead of
    // inflating tracked_seconds. The dimension-sized pair set
    // (|tasks| × depth) is materialized once before the broadcast, by a
    // counted checkpoint: the count IS the forcing job, and it feeds the
    // broadcastIfSmall dispatch below (the retired eager-checkpoint +
    // uncounted broadcastIfSmall shape paid a separate count job)
    val (closure, nClosure) = Materialize.checkpointCounted(
      Closure.transitiveClosure(tasks, "task_id", "parent_id"))
    // Eager aggregation below the join: 60M fact rows → ≤|tasks| partials
    // (the shuffle carries map-side-combined partial sums, not raw rows).
    val perTask = entries
      .groupBy(col("task_id").as("descendant_id"))
      .agg(sum("duration").as("_partial"))
    val tracked = perTask
      .join(Joins.broadcastIfSmall(closure, Some(nClosure)), Seq("descendant_id"))
      .groupBy(col("ancestor_id").as("task_id"))
      .agg(sum("_partial").as("tracked_seconds"))
    tasks
      .join(tracked, Seq("task_id"), "left")
      .where(col("budgeted") > 0)
      .select(
        col("task_id"), col("name"),
        col("budgeted").as("budgeted_seconds"),
        coalesce(col("tracked_seconds"), lit(0L)).as("tracked_seconds"),
        (col("budgeted") - coalesce(col("tracked_seconds"), lit(0L)))
          .as("remaining_seconds"),
        format_string("%.4f",
          coalesce(col("tracked_seconds"), lit(0L)).cast("double") / 3600.0)
          .as("tracked_hours"))
      .orderBy(col("tracked_seconds").desc, col("task_id"))
  }
}
