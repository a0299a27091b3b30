package graft

import org.apache.spark.sql.execution.LogicalRDD

/** The cluster-durability seam: every materialization in graft's
  * operators routes through [[Materialize]], and the conf must select the
  * strategy at runtime (local mode keeps localCheckpoint; clusters switch
  * to reliable checkpoint without touching operator code).
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def frame() = (1 to 100).map(i => (i.toLong, s"row $i")).toDF("id", "s")

  private def withMode[A](mode: Option[String])(body: => A): A = {
    mode.foreach(spark.conf.set(Materialize.ModeKey, _))
    try body
    finally {
      spark.conf.unset(Materialize.ModeKey)
      spark.conf.unset(Materialize.DirKey)
    }
  }

  test("default mode is local: lineage truncated, rows preserved") {
    withMode(None) {
      val out = Materialize.checkpoint(frame())
      // localCheckpoint replaces the plan with a LogicalRDD scan
      assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(out.count() === 100)
      assert(out.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) === 5050)
    }
  }

  test("checkpointCounted: ONE job in local mode, right count in both modes") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        body
        // flush the async bus: poll until the count is stable for 500 ms
        var last = -1
        var stableSince = System.nanoTime()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (System.nanoTime() < deadline &&
            (jobs.get() != last ||
              System.nanoTime() - stableSince < 500L * 1000 * 1000)) {
          if (jobs.get() != last) { last = jobs.get(); stableSince = System.nanoTime() }
          Thread.sleep(50)
        }
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // local (default): lazy localCheckpoint forced by the count — 1 job,
    // where the eager checkpoint + a separate dispatch count() paid 2
    withMode(None) {
      var out: (org.apache.spark.sql.DataFrame, Long) = null
      val n = jobsOf { out = Materialize.checkpointCounted(frame()) }
      assert(n === 1, s"checkpointCounted(local) launched $n jobs, want 1")
      assert(out._2 === 100)
      assert(out._1.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(out._1.count() === 100)
    }
    // reliable: checkpoint files land in the dir; count correct (the DFS
    // write recomputes the frame inside the SAME job — Spark's standard
    // reliable-checkpoint double-pass, identical to the eager form)
    withMode(Some("reliable")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cnt").toString
      spark.conf.set(Materialize.DirKey, dir)
      val (df, cnt) = Materialize.checkpointCounted(frame())
      assert(cnt === 100)
      assert(df.count() === 100)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"expected checkpoint files under $dir")
    }
  }

  test("reliable mode requires a dir, then writes checkpoint files to it") {
    withMode(Some("reliable")) {
      // no SparkContext checkpoint dir and no conf fallback → explicit error,
      // never a silent downgrade to unreplicated local blocks
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalStateException](Materialize.checkpoint(frame()))
        assert(e.getMessage.contains(Materialize.DirKey))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.conf.set(Materialize.DirKey, dir)
      val out = Materialize.checkpoint(frame())
      assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(out.count() === 100)
      // the fault-tolerant artifact exists where configured
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"expected checkpoint files under $dir")
    }
  }

  test("unknown mode fails fast") {
    // a stale config naming the removed `persist` mode must fail by
    // name, never fall back to some other strategy
    for (mode <- Seq("banana", "persist")) withMode(Some(mode)) {
      val e = intercept[IllegalArgumentException](Materialize.checkpoint(frame()))
      assert(e.getMessage.contains(s"'$mode'"))
      assert(e.getMessage.contains("local|reliable"))
    }
  }

  test("checkpoint dirs are scoped per session conf: two sessions with " +
    "distinct dirs each get their own reliable artifacts") {
    val sessA = spark.newSession()
    val sessB = spark.newSession()
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-b").toString
    for ((sess, dir) <- Seq((sessA, dirA), (sessB, dirB))) {
      sess.conf.set(Materialize.ModeKey, "reliable")
      sess.conf.set(Materialize.DirKey, dir)
      import sess.implicits._
      val df = (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      val out = Materialize.checkpoint(df)
      assert(out.count() === 50)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"expected checkpoint files under $dir")
    }
  }

  test("a caller's direct setCheckpointDir wins over a later DirKey change") {
    val sc = spark.sparkContext
    withMode(Some("reliable")) {
      val dirSeam = java.nio.file.Files.createTempDirectory("graft-ckpt-s1").toString
      spark.conf.set(Materialize.DirKey, dirSeam)
      assert(Materialize.checkpoint(frame()).count() === 100) // seam pushes
      assert(sc.getCheckpointDir.exists(_.contains("graft-ckpt-s1")))
      // caller takes over directly; then DirKey changes — the seam must
      // NOT re-push over the caller's explicit choice
      val dirUser = java.nio.file.Files.createTempDirectory("graft-ckpt-user").toString
      sc.setCheckpointDir(dirUser)
      val dirSeam2 = java.nio.file.Files.createTempDirectory("graft-ckpt-s2").toString
      spark.conf.set(Materialize.DirKey, dirSeam2)
      assert(Materialize.checkpoint(frame()).count() === 100)
      // getCheckpointDir returns a file: URI with a UUID subdir appended
      assert(sc.getCheckpointDir.exists(_.contains("graft-ckpt-user")),
        s"seam overrode a direct setCheckpointDir: ${sc.getCheckpointDir}")
      val userFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dirUser))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      val seam2Files = java.nio.file.Files.walk(java.nio.file.Paths.get(dirSeam2))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(userFiles > 0, "checkpoint did not land in the caller's dir")
      assert(seam2Files === 0, "checkpoint leaked into the overridden DirKey dir")
      // hand dir ownership back to the seam — per-context state is shared
      // by every suite in this JVM, and later DirKey-driven tests must
      // keep working
      Materialize.adoptCurrentDirForTest(sc)
    }
  }

  test("an operator built on the seam honors the configured mode end-to-end") {
    // connectedComponents materializes through the seam; under reliable
    // mode its checkpoints land in the configured dir and results are
    // unchanged vs local mode.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val local = graft.ops.Dedup.connectedComponents(pairs).collect().toSet
    withMode(Some("reliable")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cc").toString
      spark.conf.set(Materialize.DirKey, dir)
      val reliable = graft.ops.Dedup.connectedComponents(pairs).collect().toSet
      assert(reliable === local)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"expected operator checkpoints under $dir")
    }
  }
}
