package graft

/** Dev tool: run ONE SparkEntry query in a loop with an in-JVM stack
  * sampler aggregating what every thread is doing — the level below
  * [[ProfileOne]]'s per-job table. ProfileOne showed several rows whose
  * wall time is dominated by the "driver gap" (wall − job-sum); this
  * tool attributes that gap to actual frames (analysis, optimization,
  * codegen/janino, broadcast build, task scheduling) instead of leaving
  * it a number. Sampling is wall-clock over ALL threads, bucketed by the
  * first recognizable frame, split executor ("Executor task launch"
  * threads) vs driver-side.
  *
  * Usage: sbt "runMain graft.ProfileStacks <query> [sfDir] [runs]"
  */
object ProfileStacks {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileStacks <query> [sfDir] [runs]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(t => Tables(spark, sfDir, t).count())
    SparkEntry.prepare(spark, sfDir, Set(name))

    val fn = SparkEntry.queries(name)
    // one untimed warmup run so codegen/JIT of the steady-state plans is
    // not what the samples show
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    val buckets = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = false
    def classify(tname: String, frames: Array[StackTraceElement]): Option[String] = {
      if (frames.isEmpty) return None
      val fs = frames.map(_.toString)
      // skip idle threads (park/wait at the top)
      val top = fs.head
      if (top.contains("Unsafe.park") || top.contains("Object.wait") ||
          top.contains("epollWait") || top.contains("socketAccept") ||
          top.contains("PlatformEvent") || top.contains("waitForReference"))
        return None
      val executor = tname.startsWith("Executor task launch")
      val side = if (executor) "exec" else "drv "
      def first(p: String => Boolean): Option[String] = fs.find(p)
      val tag =
        first(f => f.contains("janino") || f.contains("JavaCode") ||
            f.contains("CodeGenerator") || f.contains("codehaus"))
          .map(_ => "codegen-compile")
          .orElse(first(_.contains("catalyst.analysis")).map { f =>
            val rule = fs.find(_.contains("catalyst.analysis"))
              .map(_.split('(').head).getOrElse(f)
            "analysis: " + rule.substring(rule.indexOf("analysis.") + 9).take(48)
          })
          .orElse(first(_.contains("catalyst.optimizer")).map { f =>
            val rule = fs.find(_.contains("catalyst.optimizer"))
              .map(_.split('(').head).getOrElse(f)
            "optimizer: " + rule.substring(rule.indexOf("optimizer.") + 10).take(48)
          })
          .orElse(first(f => f.contains("QueryPlanner") ||
            f.contains("SparkStrateg")).map(_ => "physical-planning"))
          .orElse(first(_.contains("BroadcastExchange")).map(_ => "broadcast-build"))
          .orElse(first(f => f.contains("DAGScheduler") ||
            f.contains("TaskSchedulerImpl") || f.contains("TaskSetManager"))
            .map(_ => "scheduling"))
          .orElse(first(_.contains("parquet")).map(_ => "parquet"))
          .orElse(first(f => f.contains("UnsafeShuffle") || f.contains("ShuffleBlock") ||
            f.contains("shuffle")).map { f =>
            val m = f.split('(').head.split('.').takeRight(2).mkString(".")
            s"shuffle: $m"
          })
          .orElse(first(_.contains("graft.functions")).map(f =>
            "graft-fn:" + f.substring(f.indexOf("graft.functions.") + 16).takeWhile(_ != '.')))
          .orElse(first(f => f.contains("expressions.HigherOrderFunction") ||
            f.contains("ArrayTransform") || f.contains("ArrayAggregate") ||
            f.contains("ZipWith")).map(_ => "hof-interpreted"))
          .orElse(first(_.contains("InterpretedUnsafeProjection")).map(_ => "interpreted-proj"))
          .orElse(first(_.contains("catalyst.expressions")).map { f =>
            // method-level detail: which expression method is hot, plus
            // the nearest caller outside catalyst.expressions (who calls)
            val m = f.substring(f.indexOf("expressions.") + 12)
              .split('(').head
            val caller = fs.find(c => !c.contains("catalyst.expressions") &&
              !c.contains("java.") && !c.contains("scala.collection"))
              .map(_.split('(').head.split('.').takeRight(2).mkString("."))
              .getOrElse("?")
            s"expr:$m <- $caller"
          })
          .orElse(first(_.contains("executeCollect")).map(_ => "collect"))
          .orElse(first(_.contains("org.apache.spark.sql")).map { f =>
            "sql:" + f.take(90)
          })
          .orElse(Some("other:" + fs.head.take(80)))
      tag.map(side + _)
    }
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, frames) =>
            if (t.getName != "graft-sampler")
              classify(t.getName, frames).foreach { tag =>
                buckets.computeIfAbsent(tag,
                  _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
              }
          }
        }
        Thread.sleep(10)
      }
    }, "graft-sampler")
    sampler.setDaemon(true)
    sampler.start()

    val t0 = System.nanoTime()
    sampling = true
    (1 to runs).foreach { _ =>
      val pre = spark.sparkContext.getPersistentRDDs.keySet
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pre.contains(id)) rdd.unpersist(blocking = true)
      }
    }
    sampling = false
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"\n===== $name x$runs: $wall%.2f s wall, samples every 10ms =====")
    import scala.jdk.CollectionConverters._
    val rows = buckets.asScala.toSeq.map { case (k, v) => (k, v.get) }
      .sortBy(-_._2)
    val total = rows.map(_._2).sum.max(1L)
    rows.take(40).foreach { case (k, v) =>
      println(f"  $v%6d (${v * 100.0 / total}%5.1f%%)  $k")
    }
    spark.stop()
  }
}
