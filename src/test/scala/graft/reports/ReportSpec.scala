package graft.reports

import graft.SparkSpec

/** Golden-row test for the flagship report over a hand-computed fixture —
  * the shape of `SAMPLE-REPORTS.md:128-137`.
  */
class ReportSpec extends SparkSpec {
  import spark.implicits._

  // project(10) -> task(11), task(12); separate root 20 with no entries
  private val tasks = Seq(
    ("10", null, "Project A", 7200L),
    ("11", "10", "Design", 3600L),
    ("12", "10", "Build", 0L),
    ("20", null, "Project B", 1800L)
  ).toDF("task_id", "parent_id", "name", "budgeted")

  private val entries = Seq(
    ("11", 600L), ("11", 600L), // 1200s on Design
    ("12", 3000L)               // 3000s on Build (no budget of its own)
  ).toDF("task_id", "duration")

  test("BudgetReport: recursive rollup, budget filter, formatting, order") {
    val rows = BudgetReport(tasks, entries).collect()
    // budgeted=0 (task 12) excluded; order by tracked desc
    assert(rows.map(_.getString(0)).toSeq == Seq("10", "11", "20"))
    val proj = rows(0)
    assert(proj.getAs[Long]("tracked_seconds") == 4200) // 1200 + 3000 rolled up
    assert(proj.getAs[Long]("remaining_seconds") == 3000)
    assert(proj.getAs[String]("tracked_hours") == "1.1667")
    val idle = rows(2)
    assert(idle.getAs[Long]("tracked_seconds") == 0)
  }

  test("ProjectBudgetReport: per-root rollup with OVER flag") {
    val rows = ProjectBudgetReport(tasks, entries).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("10", "20"))
    val a = rows(0)
    assert(a.getAs[Long]("budget_seconds") == 10800) // 7200+3600+0 subtree sum
    assert(a.getAs[Long]("cumulative_seconds") == 4200)
    assert(a.getAs[String]("status") == "OK")
    val b = rows(1)
    assert(b.getAs[Long]("cumulative_seconds") == 0)
  }

  test("both reports fail loudly on a 2-cycle task table") {
    // 31 <-> 32: a closure over the cycle would repeat each of its pairs
    // once per winding and inflate tracked_seconds on both members
    val cyclic = tasks.union(Seq(("31", "32", "Loop A", 600L),
      ("32", "31", "Loop B", 600L)).toDF("task_id", "parent_id", "name", "budgeted"))
    val logged = entries.union(Seq(("31", 60L)).toDF("task_id", "duration"))
    Seq[(String, () => Unit)](
      "BudgetReport" -> (() => BudgetReport(cyclic, logged).collect()),
      "ProjectBudgetReport" -> (() => ProjectBudgetReport(cyclic, logged).collect())
    ).foreach { case (report, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("task_id 31, 32 "), s"$report: ${e.getMessage}")
    }
  }

  test("ProjectBudgetReport flags OVER when tracked exceeds budget") {
    val over = ProjectBudgetReport(
      Seq(("1", null, "P", 100L)).toDF("task_id", "parent_id", "name", "budgeted"),
      Seq(("1", 200L)).toDF("task_id", "duration")).collect()
    assert(over.head.getAs[String]("status") == "OVER")
  }
}
