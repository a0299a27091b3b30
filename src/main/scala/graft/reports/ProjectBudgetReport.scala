package graft.reports

import graft.Materialize
import graft.ops.{Closure, Joins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's second published report: per-project budget vs
  * cumulative tracked time (`SAMPLE-PROJECT-BUDGET-REPORT.md:20-119`).
  * A "project" is a root task; every entry rolls up to its root; budget is
  * the SUM of budgets in the project subtree.
  *
  * Same scale shape as BudgetReport: dimension-side recursion, fact side
  * pre-aggregated per task below the member join (eager aggregation —
  * SUM decomposes), and the member table broadcast only while it is
  * actually broadcast-sized ([[graft.ops.Joins.broadcastIfSmall]]).
  */
object ProjectBudgetReport {

  def apply(tasks: DataFrame, entries: DataFrame): DataFrame = {
    // The walk checkpoints its own rounds; the pair explode over it has
    // exactly ONE consumer (the memberOf derivation, itself materialized
    // below), so it needs no checkpoint of its own. (The retired eager
    // checkpoint here was one extra action per report.)
    val closure = Closure.transitiveClosure(tasks, "task_id", "parent_id")
    val roots = tasks.where(col("parent_id").isNull)
      .select(col("task_id").as("project_id"), col("name").as("project_name"))
    // descendant → its root ancestor; materialized once — it feeds two
    // joins (budget + tracked), which would otherwise re-run the explode
    // and the root join per consumer. Dimension-sized, so the checkpoint is
    // cheap; COUNTED, because the count IS the forcing job and feeds the
    // broadcast dispatch (eager checkpoint + a count job was two).
    val (memberOf, nMember) = Materialize.checkpointCounted(closure
      .join(roots, closure("ancestor_id") === roots("project_id"))
      .select(col("descendant_id"), col("project_id"), col("project_name")))
    val member = Joins.broadcastIfSmall(memberOf, Some(nMember))
    val budget = tasks
      .join(member, tasks("task_id") === col("descendant_id"))
      .groupBy("project_id")
      .agg(sum("budgeted").as("budget_seconds"))
    // Eager aggregation below the join: fact rows collapse to ≤|tasks|
    // map-side-combined partials before they ever meet the member table.
    val perTask = entries
      .groupBy(col("task_id").as("descendant_id"))
      .agg(sum("duration").as("_partial"))
    val tracked = perTask
      .join(member, Seq("descendant_id"))
      .groupBy(col("project_id"), col("project_name"))
      .agg(sum("_partial").as("cumulative_seconds"))
    roots
      .join(tracked.drop("project_name"), Seq("project_id"), "left")
      .join(budget, Seq("project_id"), "left")
      .select(
        col("project_id"), col("project_name"),
        coalesce(col("budget_seconds"), lit(0L)).as("budget_seconds"),
        coalesce(col("cumulative_seconds"), lit(0L)).as("cumulative_seconds"),
        format_string("%.4f",
          coalesce(col("cumulative_seconds"), lit(0L)).cast("double") / 3600.0)
          .as("cumulative_hours"),
        when(coalesce(col("budget_seconds"), lit(0L)) > 0 &&
          coalesce(col("cumulative_seconds"), lit(0L)) >
            coalesce(col("budget_seconds"), lit(0L)), lit("OVER"))
          .otherwise(lit("OK")).as("status"))
      .orderBy(col("cumulative_seconds").desc, col("project_id"))
  }
}
