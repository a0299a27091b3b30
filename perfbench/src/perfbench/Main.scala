package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main --workload <name> --seed <n> --root <dir>
  * --trace <0|1>`. Prints one line `PERFBENCH_RESULT {json}` on stdout;
  * `run.py` turns it into the final result line.
  *
  * Shape of a run (the same on every commit, whatever the machine speed):
  *  1. cold set-up: JVM start until the session exists and the inputs are
  *     registered (input generation, cached per seed, is excluded);
  *  2. `ReSetups` warm set-ups: stop the session, build a new one,
  *     register the inputs again — `setup_s` is the median of all
  *     set-ups, so a warm set-up: the cold one varies by seconds from one
  *     JVM to the next on the same code;
  *  3. `Warmup` untimed iterations, then `Timed` timed iterations. Every
  *     iteration's output is checked outside the timed region.
  *
  * Iteration counts are fixed, the same for every workload, not derived
  * from a time box: per-iteration CPU keeps falling for about ten
  * iterations while the JIT warms up, so a time-boxed run would let
  * faster code measure further down that curve. The first iteration is
  * the cold one (about three times a warm one) and is warm-up; a run has
  * time for two more, which are timed. They are still on the JIT curve
  * (the later one is about 15% faster), but always at the same place on
  * it.
  *
  * `Cores` is 2 on a 4-core host: the driver thread and the JIT compiler
  * threads then find a free core instead of competing with the tasks.
  */
object Main {

  val ReSetups = 4
  val Warmup = 1
  val Timed = 2
  val Cores = 2

  final case class Args(workload: String, seed: Long, root: Path,
      trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      Paths.get(need("--root")).toAbsolutePath, need("--trace") == "1")
  }

  def session(root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("tmp/spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      // Spark's status store keeps jobs, stages, tasks and SQL executions
      // (plans included) even with the UI off, and trims them on its own
      // thread once past these limits (defaults 1000 / 1000 / 100000 /
      // 1000). Small limits keep it trimmed all through the run, so
      // heap_mb does not depend on whether a trim ran before the reading.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val clockTick: Double = 1.0 / 100 // USER_HZ on Linux

  /** CPU seconds (user + system) of one thread's or the process's
    * `/proc` stat line: fields 14 and 15, counted after the `(comm)`.
    */
  private def statCpu(stat: Path): Double = {
    val s = new String(Files.readAllBytes(stat))
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) * clockTick
  }

  /** CPU seconds by thread kind (`jit`, `gc`, `main`, `tasks`, `other`)
    * of the threads alive now, plus `process`, the whole process's CPU
    * (exited threads included).
    */
  private def cpuByKind(): Map[String, Double] = {
    val self = Paths.get("/proc/self")
    val byKind = Files.list(self.resolve("task")).iterator().asScala.toSeq.flatMap { t =>
      try {
        val comm = new String(Files.readAllBytes(t.resolve("comm"))).trim
        val kind =
          if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) "jit"
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc"
          else if (comm == "java") "main"
          else if (comm.startsWith("Executor task")) "tasks"
          else "other"
        Some(kind -> statCpu(t.resolve("stat")))
      } catch { case _: java.io.IOException => None } // thread exited
    }.groupMapReduce(_._1)(_._2)(_ + _)
    byKind + ("process" -> statCpu(self.resolve("stat")))
  }

  /** Process CPU seconds minus those of the JIT compiler threads. What
    * the JIT compiles in a given iteration depends on when its queue
    * drains, not on the program, and it is most of the process CPU for
    * dozens of iterations (a budget_reports run of 7 iterations spent
    * 97 s in the compilers against about 160 s in all). `run.py` keeps
    * the compiler threads alive for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so their CPU is never
    * lost from the sum subtracted here.
    */
  private def programCpu(c: Map[String, Double]): Double =
    c("process") - c.getOrElse("jit", 0.0)

  /** Live heap: the lowest of forced full collections 200 ms apart,
    * stopping after two in a row that do not lower it by more than 1%.
    * Spark's ContextCleaner frees the blocks of collected broadcasts and
    * RDDs on its own thread after a GC, so one collection can still count
    * them.
    */
  private def heapUsedAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1e6
    }
    var low = collect()
    var still = 0
    var rounds = 1
    while (rounds < 8 && still < 2) {
      val cur = collect(); rounds += 1
      if (cur < 0.99 * low) still = 0 else still += 1
      low = math.min(low, cur)
    }
    low
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2fs $msg")
    val a = parse(argv)
    Files.createDirectories(a.root.resolve("tmp/spark-local"))
    val wl: Workload = a.workload match {
      case "elt_sync" => new EltSync(a.seed, a.root)
      case "budget_reports" => new BudgetReports(a.seed, a.root)
      case "curation" => new CurationWorkload(a.seed, a.root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // -- cold set-up (generation excluded) -----------------------------
    var spark = session(a.root)
    val sessionReadyMs = System.currentTimeMillis()
    log("session ready")
    wl.prepare(spark)
    log("inputs ready")
    val r0 = System.nanoTime()
    wl.register(spark)
    val setups = scala.collection.mutable.ArrayBuffer(
      (sessionReadyMs - jvmStartMs) / 1e3 + (System.nanoTime() - r0) / 1e9)
    // -- warm set-ups ----------------------------------------------------
    for (_ <- 1 to ReSetups) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t = System.nanoTime()
      spark = session(a.root)
      wl.register(spark)
      setups += (System.nanoTime() - t) / 1e9
    }

    log(f"set-ups ${setups.map(x => f"$x%.3f").mkString(" ")}")
    val tracer = if (a.trace) Some(new Tracer(spark, Cores)) else None
    val checker = if (wl.observes) Some(new Checker(spark)) else None
    var attempted = 0
    var failed = 0
    var correct = true
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    for (i <- 0 until Warmup + Timed) {
      val timed = i >= Warmup
      attempted += 1
      checker.foreach(_.reset())
      tracer.foreach(_.begin(i))
      val iterStartMs = System.currentTimeMillis()
      val k0 = cpuByKind(); val w0 = System.nanoTime()
      val out = try Right(wl.iteration(spark, tracer)) catch {
        case e: Exception => Left(e)
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val k1 = cpuByKind()
      val cpu = programCpu(k1) - programCpu(k0)
      out match {
        case Left(e) =>
          failed += 1
          System.err.println(s"[perfbench] iteration $i threw: $e")
          e.printStackTrace()
        case Right(o) =>
          checker.foreach(_.drain())
          val errors = try wl.check(spark, o,
            checker.map(_.observedRows).getOrElse(Nil), iterStartMs)
          catch { case e: Exception => Seq(s"check threw $e") }
          if (errors.nonEmpty) {
            failed += 1; correct = false
            errors.take(20).foreach(m =>
              System.err.println(s"[perfbench] iteration $i check failed: $m"))
          }
      }
      tracer.foreach { t =>
        val m = t.end(wall)
        if (timed) layers += m
      }
      if (timed) { walls += wall; cpus += cpu }
      log(f"${a.workload} iteration $i%d " +
        f"${if (timed) "timed" else "warm-up"} wall=$wall%.3fs cpu=$cpu%.3fs " +
        Seq("main", "tasks", "gc", "other", "jit").map(k =>
          f"$k=${k1.getOrElse(k, 0.0) - k0.getOrElse(k, 0.0)}%.2f").mkString(" "))
    }
    val heapMb = heapUsedAfterGc()
    log(f"heap $heapMb%.1f MB")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("wall_s", median(walls.toSeq), "s"),
        ("cpu_s", median(cpus.toSeq), "s"),
        ("heap_mb", heapMb, "MB"))
      case Some(t) =>
        val out = Tracer.PerLayer.map { case (name, unit) =>
          (name, median(layers.toSeq.map(_.getOrElse(name, 0.0))), unit)
        }
        t.writeJson(a.root.resolve(s"trace/${a.workload}-seed${a.seed}.json"),
          a.workload, a.seed, out, median(walls.toSeq), median(cpus.toSeq))
        out
    }
    spark.stop()
    log("stopped")
    val metricsJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $metricsJson}""")
  }
}

/** A workload: fixed inputs from a seed, one iteration = the public calls
  * a user of that part of the system makes, and the independent checks of
  * their outputs.
  */
trait Workload {
  /** Generate (or reuse the per-seed cache of) the inputs. Untimed. */
  def prepare(spark: SparkSession): Unit
  /** Make the inputs visible to a fresh session. Part of `setup_s`. */
  def register(spark: SparkSession): Unit
  def iteration(spark: SparkSession, tracer: Option[Tracer]): AnyRef
  /** Whether `check` reads the `Dataset.observe` counts of the iteration. */
  def observes: Boolean = false
  /** Check one iteration's output (`observed`: the observe counts, when
    * `observes`); returns the failed checks.
    */
  def check(spark: SparkSession, out: AnyRef, observed: Seq[(String, Long)],
      iterStartMs: Long): Seq[String]
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
}
