package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.reports.{BudgetReport, ProjectBudgetReport}

/** The seeded task forest and entries fact table of `budget_reports`.
  * Task `i`'s parent has a smaller index, so a reverse index sweep rolls
  * every subtree up without recursion.
  */
final class BudgetModel(seed: Long) extends Serializable {
  val nTasks = 3000
  val nRoots = 30
  val maxDepth = 12
  val entryBlocks = 4
  val entriesPerBlock = 250000

  val parent: Array[Int] = new Array[Int](nTasks)
  val depth: Array[Int] = new Array[Int](nTasks)
  val budget: Array[Long] = new Array[Long](nTasks)
  val name: Array[String] = new Array[String](nTasks)

  {
    val r = new SplittableRandom(seed * 0x5851F42D4C957F2DL + 11)
    for (i <- 0 until nTasks) {
      name(i) = s"Task $i"
      budget(i) = if (r.nextInt(2) == 0) 0L else 3600L * r.nextInt(1, 400)
      if (i < nRoots) { parent(i) = -1; depth(i) = 1 }
      else {
        // the first tasks after the roots chain under root 0 down to
        // maxDepth; later ones attach under a recent task
        var p =
          if (i == nRoots) 0
          else if (i < nRoots + maxDepth - 1) i - 1
          else i - 1 - r.nextInt(200)
        if (p < nRoots && i >= nRoots + maxDepth - 1) p = r.nextInt(nRoots)
        while (depth(p) >= maxDepth) p = parent(p)
        parent(i) = p; depth(i) = depth(p) + 1
      }
    }
  }

  def taskId(i: Int): String = s"task-$i"

  /** Entry rows of one block: (task index, duration seconds). */
  def block(b: Int): Iterator[(Int, Long)] = {
    val r = new SplittableRandom(seed * 1000003L + b)
    Iterator.fill(entriesPerBlock) {
      // a skewed task choice: low indices (roots' early subtrees) are hot
      val u = r.nextDouble()
      ((u * u * nTasks).toInt, 60L * r.nextInt(1, 240))
    }
  }

  /** Per-task own duration, then subtree totals. */
  lazy val (own, subtree): (Array[Long], Array[Long]) = {
    val own = new Array[Long](nTasks)
    (0 until entryBlocks).foreach(b => block(b).foreach { case (t, d) => own(t) += d })
    val sub = own.clone()
    for (i <- nTasks - 1 to nRoots by -1) sub(parent(i)) += sub(i)
    (own, sub)
  }
  lazy val subtreeBudget: Array[Long] = {
    val sub = budget.clone()
    for (i <- nTasks - 1 to nRoots by -1) sub(parent(i)) += sub(i)
    sub
  }
}

/** `budget_reports`: `BudgetReport` then `ProjectBudgetReport` over the
  * seeded parquet inputs, both collected.
  */
final class BudgetReports(seed: Long, root: Path) extends Workload {
  private val dir = root.resolve(s"inputs/budget_reports-v2-seed$seed")
  private val model = new BudgetModel(seed)
  private var tasks: DataFrame = _
  private var entries: DataFrame = _

  def prepare(spark: SparkSession): Unit = {
    if (Files.exists(dir.resolve("_DONE"))) return
    val m = model
    val taskRows = (0 until m.nTasks).map(i => Row(m.taskId(i),
      if (m.parent(i) < 0) null else m.taskId(m.parent(i)), m.name(i), m.budget(i)))
    spark.createDataFrame(java.util.Arrays.asList(taskRows: _*), StructType(Seq(
      StructField("task_id", StringType), StructField("parent_id", StringType),
      StructField("name", StringType), StructField("budgeted", LongType))))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("tasks").toString)
    val rows = spark.sparkContext.parallelize(0 until m.entryBlocks, m.entryBlocks)
      .flatMap(b => m.block(b).map { case (t, d) => Row(m.taskId(t), d) })
    spark.createDataFrame(rows, StructType(Seq(
      StructField("task_id", StringType), StructField("duration", LongType))))
      .write.mode("overwrite").parquet(dir.resolve("entries").toString)
    Files.createFile(dir.resolve("_DONE"))
  }

  def register(spark: SparkSession): Unit = {
    tasks = spark.read.parquet(dir.resolve("tasks").toString)
    entries = spark.read.parquet(dir.resolve("entries").toString)
  }

  def iteration(spark: SparkSession, tracer: Option[Tracer]): AnyRef = {
    def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val budget = span("reports.budget")(BudgetReport(tasks, entries).collect())
    val project = span("reports.project")(ProjectBudgetReport(tasks, entries).collect())
    (budget.toSeq, project.toSeq)
  }

  def check(spark: SparkSession, out: AnyRef, observed: Seq[(String, Long)],
      iterStartMs: Long): Seq[String] = {
    val m = model
    val (budget, project) = out.asInstanceOf[(Seq[Row], Seq[Row])]
    val errors = mutable.ArrayBuffer.empty[String]
    def hours(s: Long) = String.format(java.util.Locale.US, "%.4f", Double.box(s / 3600.0))

    // BudgetReport: every budgeted task, tracked = its subtree's entries
    val wantBudget = (0 until m.nTasks).filter(m.budget(_) > 0)
      .sortBy(i => (-m.subtree(i), m.taskId(i)))
      .map(i => Seq(m.taskId(i), m.name(i), m.budget(i), m.subtree(i),
        m.budget(i) - m.subtree(i), hours(m.subtree(i))))
    val gotBudget = budget.map(r => Seq(r.getAs[String]("task_id"),
      r.getAs[String]("name"), r.getAs[Long]("budgeted_seconds"),
      r.getAs[Long]("tracked_seconds"), r.getAs[Long]("remaining_seconds"),
      r.getAs[String]("tracked_hours")))
    if (gotBudget.size != wantBudget.size)
      errors += s"budget report: ${gotBudget.size} rows, want ${wantBudget.size}"
    gotBudget.zip(wantBudget).zipWithIndex.find { case ((g, w), _) => g != w }
      .foreach { case ((g, w), i) => errors += s"budget report row $i: $g, want $w" }

    // ProjectBudgetReport: one row per root, subtree budget and time
    val wantProject = (0 until m.nRoots)
      .sortBy(i => (-m.subtree(i), m.taskId(i)))
      .map { i =>
        val (b, c) = (m.subtreeBudget(i), m.subtree(i))
        Seq(m.taskId(i), m.name(i), b, c, hours(c), if (b > 0 && c > b) "OVER" else "OK")
      }
    val gotProject = project.map(r => Seq(r.getAs[String]("project_id"),
      r.getAs[String]("project_name"), r.getAs[Long]("budget_seconds"),
      r.getAs[Long]("cumulative_seconds"), r.getAs[String]("cumulative_hours"),
      r.getAs[String]("status")))
    if (gotProject.size != wantProject.size)
      errors += s"project report: ${gotProject.size} rows, want ${wantProject.size}"
    gotProject.zip(wantProject).zipWithIndex.find { case ((g, w), _) => g != w }
      .foreach { case ((g, w), i) => errors += s"project report row $i: $g, want $w" }
    val cumulative = project.map(_.getAs[Long]("cumulative_seconds")).sum
    if (cumulative != m.own.sum)
      errors += s"project report: sum(cumulative_seconds) $cumulative, want ${m.own.sum}"
    errors.toSeq
  }
}
