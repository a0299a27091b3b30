package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: run ONE SparkEntry query through the noop sink (after the
  * Bench warmup + fixture prepare) and print every Spark job it ran —
  * description, wall seconds, task count — plus per-stage shuffle bytes.
  * The per-job breakdown is the missing level between Bench's one number
  * per query and the full event log: it shows whether a composite's cost
  * is a few heavy shuffles or many small scheduler-bound jobs.
  *
  * Usage: sbt "runMain graft.ProfileOne <query> [sfDir] [runs]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileOne <query> [sfDir] [runs]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // the Bench warmup, abbreviated: touch tables + shared JIT paths
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(t => Tables(spark, sfDir, t).count())
    SparkEntry.prepare(spark, sfDir, Set(name))

    final case class JobRow(id: Int, desc: String, sec: Double, tasks: Int,
      shuffleReadMB: Double, shuffleWriteMB: Double)
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRow]
    val starts = new scala.collection.mutable.HashMap[Int, (Long, String, Int)]
    val jobShufRead = new scala.collection.mutable.HashMap[Int, Double]
    val jobShufWrite = new scala.collection.mutable.HashMap[Int, Double]
    val stageToJob = new scala.collection.mutable.HashMap[Int, Int]
    var listening = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (listening) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts(js.jobId) = (System.nanoTime(), desc, js.stageIds.size)
        js.stageIds.foreach(s => stageToJob(s) = js.jobId)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (listening) stageToJob.get(sc.stageInfo.stageId).foreach { j =>
          val m = sc.stageInfo.taskMetrics
          jobShufRead(j) = jobShufRead.getOrElse(j, 0.0) +
            m.shuffleReadMetrics.totalBytesRead / 1048576.0
          jobShufWrite(j) = jobShufWrite.getOrElse(j, 0.0) +
            m.shuffleWriteMetrics.bytesWritten / 1048576.0
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (listening) {
        starts.get(je.jobId).foreach { case (t0, desc, nStages) =>
          jobs += JobRow(je.jobId, desc, (System.nanoTime() - t0) / 1e9, nStages,
            jobShufRead.getOrElse(je.jobId, 0.0),
            jobShufWrite.getOrElse(je.jobId, 0.0))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      jobs.clear(); starts.clear(); jobShufRead.clear(); jobShufWrite.clear()
      val pre = spark.sparkContext.getPersistentRDDs.keySet
      listening = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val total = (System.nanoTime() - t0) / 1e9
      listening = false
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pre.contains(id)) rdd.unpersist(blocking = true)
      }
      Thread.sleep(200) // let late listener events drain
      println(f"\n===== $name run $r: $total%.3f s, ${jobs.size} jobs =====")
      jobs.sortBy(_.id).foreach { j =>
        println(f"  job ${j.id}%4d ${j.sec}%7.3f s  stages=${j.tasks}%2d " +
          f"shufR=${j.shuffleReadMB}%8.2f MB shufW=${j.shuffleWriteMB}%8.2f MB  ${j.desc.take(90)}")
      }
      val jsum = jobs.map(_.sec).sum
      println(f"  job-sum ${jsum}%.3f s vs wall $total%.3f s (gap = driver/planning " +
        f"${total - jsum}%.3f s)")
    }
    spark.stop()
  }
}
