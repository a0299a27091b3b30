package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Fixture trees per FIXTURES.md §2: ≥3 levels, a cycle pair, an orphan,
  * deep chains — semantics from the reference walkers
  * (`dlt_fetch_timecamp.py:313-346`, `:527-547`). Expected values come
  * from the in-memory references `ClosureProps.refAncestors` and
  * `ClosureProps.refBreadcrumbs`.
  */
class ClosureSpec extends SparkSpec {
  import spark.implicits._

  private val treeRows = Seq[(String, String, String)](
    // (task_id, parent_id, name)
    ("1", null, "root"),
    ("2", "1", "child"),
    ("3", "2", "grandchild"),
    ("4", null, "root2"),
    ("9", "404", "orphan"),      // parent missing from table
    ("7", "8", "cycA"),          // 7 <-> 8 cycle
    ("8", "7", "cycB"))

  private def tree = treeRows.toDF("task_id", "parent_id", "name")

  private def forestRows = treeRows.filterNot(r => Set("7", "8")(r._1))

  private def forest = forestRows.toDF("task_id", "parent_id", "name")

  private def chainRows(depth: Int) = (1 to depth).map(i =>
    (i.toString, if (i == 1) null else (i - 1).toString, s"n$i"))

  private def chain(depth: Int) =
    chainRows(depth).toDF("task_id", "parent_id", "name")

  private def parents(rows: Seq[(String, String, String)]) =
    rows.map(r => r._1 -> Option(r._2)).toMap

  private def closureSet(rows: Seq[(String, String, String)], maxDepth: Int) =
    Closure.transitiveClosure(rows.toDF("task_id", "parent_id", "name"),
      "task_id", "parent_id", maxDepth).as[(String, String)].collect()

  /** `task_id -> breadcrumb` from the operator and from the reference. */
  private def crumbs(rows: Seq[(String, String, String)], maxDepth: Int) = {
    val got = Closure.breadcrumbs(rows.toDF("task_id", "parent_id", "name"),
      "task_id", "parent_id", "name", maxDepth)
      .select("task_id", "breadcrumb").as[(String, String)].collect()
    val want = ClosureProps.refBreadcrumbs(
      rows.map(r => r._1 -> (Option(r._2), r._3)).toMap, maxDepth)
      .map { case (id, p) => id -> p.map(_.mkString(" / ")).orNull }
    (got.toMap, want, got.length)
  }

  test("transitive closure contains all self-pairs (base case)") {
    val c = Closure.transitiveClosure(forest, "task_id", "parent_id")
    val selfPairs = c.where($"descendant_id" === $"ancestor_id").count()
    assert(selfPairs == 5)
  }

  test("transitive closure reaches all ancestors") {
    val c = Closure.transitiveClosure(forest, "task_id", "parent_id")
      .where($"descendant_id" === "3").orderBy("ancestor_id")
      .select("ancestor_id").as[String].collect().toSet
    assert(c == Set("1", "2", "3"))
  }

  test("closure on the 7<->8 cycle fails loudly, naming 7 and 8") {
    // a closure over a cycle has no finite pair multiset: summing over
    // one repeated each cycle pair per winding, so the call refuses
    val e = intercept[IllegalArgumentException](closureSet(treeRows, maxDepth = 50))
    assert(e.getMessage.contains("Closure.transitiveClosure"), e.getMessage)
    assert(e.getMessage.contains("task_id 7, 8 "), e.getMessage)
  }

  test("breadcrumbs: root-to-self path joined by ' / '") {
    val b = Closure.breadcrumbs(tree, "task_id", "parent_id", "name")
    val bc = b.where($"task_id" === "3").select("breadcrumb").as[String].head()
    assert(bc == "root / child / grandchild")
  }

  test("breadcrumbs: orphan starts its own path (missing-parent tolerance)") {
    val b = Closure.breadcrumbs(tree, "task_id", "parent_id", "name")
    val bc = b.where($"task_id" === "9").select("breadcrumb").as[String].head()
    assert(bc == "orphan")
  }

  test("breadcrumbs: cycle nodes get no path rather than an infinite loop") {
    val b = Closure.breadcrumbs(tree, "task_id", "parent_id", "name", maxDepth = 6)
    val cyc = b.where($"task_id".isin("7", "8")).select("breadcrumb")
      .collect().map(_.isNullAt(0))
    assert(cyc.forall(identity))
  }

  test("level columns fan out with empty-string fill beyond depth") {
    val b = Closure.withLevelColumns(
      Closure.breadcrumbs(tree, "task_id", "parent_id", "name"), "task", 8)
    val r = b.where($"task_id" === "3")
      .select("task_level_1", "task_level_2", "task_level_3", "task_level_4")
      .head()
    assert(r.getString(0) == "root" && r.getString(1) == "child" &&
      r.getString(2) == "grandchild" && r.getString(3) == "")
  }

  test("closure of a 10-deep chain reaches the root (depth > default levels)") {
    val c = Closure.transitiveClosure(chain(10), "task_id", "parent_id")
    val anc10 = c.where($"descendant_id" === "10").count()
    assert(anc10 == 10) // self + 9 ancestors
  }

  test("the doubling-walk closure matches the parent-pointer fixpoint on a forest") {
    // the in-memory reference walks parent pointers to their fixpoint
    val c = closureSet(forestRows, maxDepth = 32)
    assert(c.length == c.toSet.size) // a forest derives each pair once
    assert(c.toSet == ClosureProps.refAncestors(parents(forestRows)))
  }

  test("the closure leaves the CTE recursion confs as it found them") {
    val keys = Seq("spark.sql.cteRecursionRowLimit",
      "spark.sql.cteRecursionLevelLimit")
    val before = keys.map(spark.conf.getOption)
    try {
      // the engine defaults, and a cap above the level limit
      spark.conf.set(keys(0), 1000000)
      spark.conf.set(keys(1), 100)
      Closure.transitiveClosure(chain(10), "task_id", "parent_id",
        maxDepth = 200).count()
      assert(keys.map(spark.conf.get) == Seq("1000000", "100"))
    } finally keys.zip(before).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("closure of the 10-deep chain: 55 rows, each pair exactly once, " +
    "equal to the reference ancestor set") {
    val c = closureSet(chainRows(10), maxDepth = 32)
    assert(c.length === 55) // sum 1..10
    assert(c.toSet === ClosureProps.refAncestors(parents(chainRows(10))))
  }

  test("doubling breadcrumbs: orphan + cycle semantics match iterative, deep chain composes") {
    val (got, want, n) = crumbs(treeRows, maxDepth = 32)
    assert(n == treeRows.length)
    assert(got == want) // NULL for 7<->8; orphan 9 starts its own path
    assert(got("7") == null && got("9") == "orphan")
    // depth 11: crosses spans 1,2,4,8 with a non-power-of-two remainder,
    // so the final compose glues a full-path prefix onto a 2^k segment
    val (deep, deepWant, _) = crumbs(chainRows(11), maxDepth = 32)
    assert(deep == deepWant)
    assert(deep("11") === (1 to 11).map(i => s"n$i").mkString(" / "))
  }

  test("depth-cap boundary: the closure equals the reference ancestor set " +
    "at exactly maxDepth and maxDepth+1") {
    for (cap <- Seq(4, 5)) {
      val c = closureSet(chainRows(8), cap)
      assert(c.length == c.toSet.size, s"duplicate pairs at cap $cap")
      assert(c.toSet == ClosureProps.refAncestors(parents(chainRows(8)), cap),
        s"closure vs reference at cap $cap")
      // distance ≤ cap exactly: node 8 sees itself + cap ancestors
      assert(c.count(_._1 == "8") == cap + 1)
    }
  }

  test("depth-cap boundary: breadcrumbs equal the reference walker at " +
    "exactly maxDepth and maxDepth+1") {
    for (cap <- Seq(4, 5)) {
      val (got, want, _) = crumbs(chainRows(8), cap)
      assert(got == want, s"breadcrumbs vs reference at cap $cap")
      // levels ≤ cap have paths; deeper nodes NULL
      assert(got.values.count(_ != null) == cap)
    }
  }

  /** The listener actions `body` runs, in order. Every Materialize mode
    * marks through Dataset.localCheckpoint / checkpoint, eager or lazy,
    * and each mark is one listener action; a forcing job over the
    * physical plan (`queryExecution.toRdd`) is none.
    */
  private def actionsDuring(body: => Unit): Seq[String] = {
    val funcs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = spark.range(1).toDF()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        funcs.add(if (qe eq sentinel.queryExecution) "sentinel" else f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async but FIFO: every operator action
      // arrives before the sentinel's
      sentinel.collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!funcs.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(funcs.contains("sentinel"), "listener saw no sentinel — harness broken")
      funcs.toArray(Array.empty[String]).toSeq.takeWhile(_ != "sentinel")
    } finally spark.listenerManager.unregister(listener)
  }

  private def isMark(f: String) = f == "localCheckpoint" || f == "checkpoint"

  test("breadcrumbs over a 12-deep chain make at most ceil(log2 12) + 2 = 6 " +
    "Materialize checkpoints (a level-per-round walker makes 14)") {
    val marks = actionsDuring {
      Closure.breadcrumbs(chain(12), "task_id", "parent_id", "name")
    }.count(isMark)
    assert(marks > 0, "listener saw no checkpoint — harness broken")
    assert(marks <= 6, s"breadcrumbs made $marks checkpoints on a 12-deep chain")
  }

  test("closure over a 12-deep chain makes at most 6 checkpoints") {
    // ceil(log2 12) + 2: the base projection, round 0, then 4 doubling
    // rounds (a level-per-round walker makes 14)
    val marks = actionsDuring {
      Closure.transitiveClosure(chain(12), "task_id", "parent_id")
    }.count(isMark)
    assert(marks > 0, "listener saw no checkpoint — harness broken")
    assert(marks <= 6, s"the closure made $marks checkpoints on a 12-deep chain")
  }

  test("on a forest the closure runs no action beyond checkpoints") {
    // every path completes, so the cycle check's collect never runs
    val onForest = actionsDuring {
      Closure.transitiveClosure(chain(12), "task_id", "parent_id")
    }
    assert(onForest.nonEmpty && onForest.forall(isMark), onForest.toString)
    // control: a chain deeper than the cap stops with pending rows, so
    // the check runs — one action that is not a checkpoint
    val capped = actionsDuring {
      Closure.transitiveClosure(chain(12), "task_id", "parent_id", maxDepth = 3)
    }
    assert(capped.count(f => !isMark(f)) == 1, capped.toString)
  }
}
