package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{BigQuerySink, TimeCampClient}

class PipelineMainSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs of a stub `run` of all five datasets: the writes and the
    * hierarchy walks' jobs, with no collect beside them.
    */
  private val LabelledJobs = 28

  private def cfg(out: String, datasets: Seq[String], format: String = "jsonl") =
    PipelineMain.Config(from = "2024-01-01", to = "2024-01-03",
      output = out, format = format, datasets = datasets)

  test("CLI defaults mirror the reference") {
    val c = PipelineMain.parseArgs(Array.empty)
    assert(c.from === "yesterday" && c.to === "yesterday")
    assert(c.format === "csv" && c.datasets === Seq("entries"))
    assert(c.output === "./timecamp_data")
  }

  test("invalid dataset is rejected with the available list") {
    val out = Files.createTempDirectory("pipe").toString
    val e = intercept[IllegalArgumentException] {
      PipelineMain.run(spark, cfg(out, Seq("entries", "nope")))
    }
    assert(e.getMessage.contains("Invalid datasets: nope"))
    assert(e.getMessage.contains("entries, tasks, computer_activities"))
  }

  test("full pipeline run: all five datasets land with reference transforms") {
    val out = Files.createTempDirectory("pipe").toString
    val counts = PipelineMain.run(spark, cfg(out,
      PipelineMain.AvailableDatasets))
    assert(counts("entries") === 5)
    assert(counts("tasks") === 3)
    assert(counts("users") === 2)
    // 1 ENABLED user × 3 dates: the activity fan-out follows the users
    // endpoint's is_enabled flags (reference :440-445) — stub user 2 is
    // disabled, so its activities are not fetched
    assert(counts("computer_activities") === 3)

    val entries = graft.sources.FileSink.read(spark, out, "entries", "jsonl")
    // tags: JSON string or absent-when-empty (reference yields NULL)
    val tagged = entries.where(col("id") === 100).select("tags").as[String].head
    assert(tagged === """["tag0","x"]""")

    val tasks = graft.sources.FileSink.read(spark, out, "tasks", "jsonl")
    assert(tasks.columns.toSet.intersect(Set("users", "perms")).isEmpty)
    val crumb = tasks.where(col("task_id") === "t2")
      .select("breadcrumb").as[String].head
    assert(crumb === "Root A / Child B")
    assert(tasks.where(col("task_id") === "t2")
      .select("task_level_2").as[String].head === "Child B")

    val users = graft.sources.FileSink.read(spark, out, "users", "jsonl")
    val u2 = users.where(col("user_id") === "2").head
    assert(u2.getAs[Boolean]("is_enabled") === false) // '1' → disabled
    val u1 = users.where(col("user_id") === "1").head
    assert(u1.getAs[Boolean]("is_enabled") === true) // missing → enabled
    assert(u1.getAs[String]("group_breadcrumb") === "Org / Eng")

    val apps = graft.sources.FileSink.read(spark, out, "application_names", "jsonl")
    // id 1000 has blank full_name → falls back to aditional_info
    assert(apps.where(col("application_id") === "1000")
      .select("name").as[String].head === "Info 1000")
    assert(apps.count() === counts("application_names"))
    // category decode uses the reference's verbatim id→name table
    // (dlt_fetch_timecamp.py:111-133): "0"→No category, "1"→Office, ...
    val cats = apps.select("application_id", "category_name").as[(String, String)]
      .collect().toMap
    assert(cats("1000") === "No category")
    assert(cats("1001") === "Office")
    assert(cats("1002") === "Developer Tools")
  }

  /** Actions (function name, logical plan) of `body`'s queries on this
    * session. Listener delivery is asynchronous but in order, so a
    * sentinel query before and after `body` frames exactly its actions.
    */
  private def actionsOf[T](body: => T): (T, Seq[(String, String)]) = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(f -> qe.logical.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(s"failed:$f" -> qe.logical.toString)
    }
    def sentinel(tag: String): Unit = {
      spark.range(1).select(lit(tag)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._2.contains(tag)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(_._2.contains(tag)), s"no $tag event")
    }
    spark.listenerManager.register(listener)
    try {
      sentinel("actions_begin")
      val out = body
      sentinel("actions_end")
      (out, seen.asScala.toSeq.dropWhile(!_._2.contains("actions_begin"))
        .drop(1).takeWhile(!_._2.contains("actions_end")))
    } finally spark.listenerManager.unregister(listener)
  }

  test("each dataset's chain runs once: no count action, exactly one " +
    "write command per dataset, counts observed on the writes") {
    val out = Files.createTempDirectory("pipe").toString
    val (counts, actions) = actionsOf(PipelineMain.run(spark,
      cfg(out, PipelineMain.AvailableDatasets)))
    val funcs = actions.map(_._1)
    assert(!funcs.contains("count"), funcs)
    // the fan-out ids are read off the parsed rows: besides the writes,
    // only the hierarchy walks' checkpoints run, and nothing is collected
    assert(funcs.toSet.subsetOf(Set("command", "localCheckpoint")), funcs)
    assert(!funcs.exists(_.startsWith("failed:")), funcs)
    val writes = actions.filter(_._1 == "command")
    assert(writes.size === PipelineMain.AvailableDatasets.size, funcs)
    PipelineMain.AvailableDatasets.foreach { ds =>
      // FileSink writes each table to its own `_tmp_{table}` directory
      assert(writes.count(_._2.contains(s"_tmp_$ds")) === 1, ds)
    }
    // the counts of "full pipeline run", now read from the observed writes
    val apps = graft.sources.FileSink.read(spark, out, "application_names", "jsonl")
    assert(counts === Map("entries" -> 5L, "tasks" -> 3L, "users" -> 2L,
      "computer_activities" -> 3L, "application_names" -> apps.count()))
  }

  test("every job run starts is labelled pipeline/<dataset>") {
    val out = Files.createTempDirectory("pipe").toString
    val labels = jobDescriptionsDuring(PipelineMain.run(spark,
      cfg(out, PipelineMain.AvailableDatasets)))
    assert(labels.forall(l => l != null && l.startsWith("pipeline/")), labels)
    assert(labels.map(_.stripPrefix("pipeline/")).toSet ===
      PipelineMain.AvailableDatasets.toSet, labels)
    // the labels are properties of the jobs, not jobs of their own
    assert(labels.size === LabelledJobs, labels)
  }

  test("a /users row without user_id stays in the users table and is " +
    "skipped by the activity fan-out") {
    val requested = new ConcurrentLinkedQueue[String]()
    PipelineMain.registerTransport("stub-null-user", (url, params) => url match {
      case "/users" => TimeCampClient.Response(200,
        """[{"user_id": "1", "email": "a@example.com", "display_name": "Ann"},
          |{"user_id": null, "email": "x@example.com", "display_name": "Xan"}]"""
          .stripMargin)
      case "/computer_activities" =>
        requested.add(params("user_id"))
        PipelineMain.stubTransport(url, params)
      case _ => PipelineMain.stubTransport(url, params)
    })
    val out = Files.createTempDirectory("pipe").toString
    val counts = PipelineMain.run(spark, cfg(out,
      Seq("users", "computer_activities")).copy(transportKey = "stub-null-user"))
    assert(counts === Map("users" -> 2L, "computer_activities" -> 3L))
    assert(requested.asScala.toSeq === Seq("1"))
    val users = graft.sources.FileSink.read(spark, out, "users", "jsonl")
    assert(users.where(col("user_id").isNull).select("email").as[String]
      .collect().toSeq === Seq("x@example.com"))
  }

  test("the fan-outs follow the reference's rules: activities for the " +
    "users table's enabled ids, names for the distinct real application " +
    "ids, at most 100 per request") {
    val activityUsers = new ConcurrentLinkedQueue[String]()
    val appRequests = new ConcurrentLinkedQueue[Seq[String]]()
    // user 1 is disabled ("1"), 2 carries "0", 3 has no setting, 4 is
    // listed twice
    val usersBody = Seq("1", "2", "3", "4", "4").map(id =>
      s"""{"user_id": "$id", "email": "u$id@example.com"}""")
      .mkString("[", ",", "]")
    def settingsBody(ids: Set[String]) =
      Seq("1" -> "1", "2" -> "0").collect { case (id, v) if ids(id) =>
        s"""{"userId": $id, "name": "disabled_user", "value": "$v"}"""
      }.mkString("[", ",", "]")
    // per user: application "0", a null id, a shared id twice, and 60 ids
    // of its own, so the names lookup spans two batches
    def activityBody(user: String, date: String) = {
      val apps = Seq("0", null, "7", "7") ++ (0 until 60).map(i => s"$user-$i")
      def json(v: String) = if (v == null) "null" else "\"" + v + "\""
      apps.map(a => s"""{"user_id": "$user", "date": "$date",
        | "application_id": ${json(a)}, "duration": 60}""".stripMargin)
    }
    PipelineMain.registerTransport("stub-fan-out", (url, params) => url match {
      case "/users" => TimeCampClient.Response(200, usersBody)
      case u if u.startsWith("/user/") && u.endsWith("/setting") =>
        TimeCampClient.Response(200, settingsBody(
          u.stripPrefix("/user/").stripSuffix("/setting").split(",").toSet))
      case "/computer_activities" =>
        val user = params("user_id")
        activityUsers.add(user)
        val dates = params.collect { case (k, v) if k.startsWith("dates[") => v }
        TimeCampClient.Response(200,
          dates.toSeq.flatMap(activityBody(user, _)).mkString("[", ",", "]"))
      case "/application" =>
        appRequests.add(params("application_ids").split(",").toSeq)
        PipelineMain.stubTransport(url, params)
      case _ => PipelineMain.stubTransport(url, params)
    })
    val out = Files.createTempDirectory("pipe").toString
    val counts = PipelineMain.run(spark, cfg(out, Seq("users",
      "computer_activities", "application_names"))
      .copy(transportKey = "stub-fan-out"))
    val users = graft.sources.FileSink.read(spark, out, "users", "jsonl")
    val enabled = users.where(col("is_enabled")).select("user_id")
      .as[String].collect().toSeq
    assert(enabled.sorted === Seq("2", "3", "4"))
    // one request per enabled user and date chunk (3 dates: one chunk)
    assert(activityUsers.asScala.toSeq.sorted === enabled.sorted)
    val activities = graft.sources.FileSink.read(spark, out,
      "computer_activities", "jsonl")
    val appIds = activities.where(col("application_id").isNotNull &&
      col("application_id") =!= "0").select("application_id").distinct()
      .as[String].collect().toSeq
    assert(appIds.size === 1 + 3 * 60)
    val requested = appRequests.asScala.toSeq
    assert(requested.forall(_.size <= 100), requested.map(_.size))
    assert(requested.flatten.sorted === appIds.sorted)
    assert(counts === Map("users" -> 4L,
      "computer_activities" -> 3L * 3 * 64, "application_names" -> 181L))
  }

  test("a dataset with no rows counts 0 from its observed write") {
    PipelineMain.registerTransport("stub-no-activities", (url, params) =>
      if (url == "/computer_activities") TimeCampClient.Response(200, "[]")
      else PipelineMain.stubTransport(url, params))
    val out = Files.createTempDirectory("pipe").toString
    val counts = PipelineMain.run(spark, cfg(out,
      Seq("computer_activities", "application_names", "users"))
      .copy(transportKey = "stub-no-activities"))
    assert(counts === Map("computer_activities" -> 0L,
      "application_names" -> 0L, "users" -> 2L))
  }

  test("a sink that returns without executing its frame fails run within " +
    "seconds, naming the table") {
    val idle = BigQuerySink(saver = (_, _, _) => ())
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      PipelineMain.run(spark, cfg("proj.analytics", Seq("tasks"))
        .copy(sink = "bigquery"), sinkOverride = Some(idle))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("without writing table 'tasks'"), e.getMessage)
    assert(seconds < 30, s"took $seconds s")
  }

  test("a failing chain fails run with its own error, unwrapped, and no " +
    "pipeline thread outlives run") {
    PipelineMain.registerTransport("stub-404-tasks", (url, params) =>
      if (url == "/tasks") TimeCampClient.Response(404, "not found")
      else PipelineMain.stubTransport(url, params))
    val out = Files.createTempDirectory("pipe").toString
    val e = intercept[RuntimeException] {
      PipelineMain.run(spark, cfg(out, PipelineMain.AvailableDatasets)
        .copy(transportKey = "stub-404-tasks"))
    }
    assert(e.getClass === classOf[RuntimeException])
    assert(e.getMessage === "HTTP 404 after retries: /tasks")
    // run awaits the pool's termination; a worker that has finished its
    // last task still takes a moment to exit
    def alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(PipelineMain.PoolThreadPrefix))
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (alive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(alive.isEmpty, alive.map(_.getName))
  }

  test("a failing users endpoint is fetched once although two chains " +
    "read the users") {
    val requests = new java.util.concurrent.atomic.AtomicInteger()
    PipelineMain.registerTransport("stub-404-users", (url, params) =>
      if (url == "/users") {
        requests.incrementAndGet()
        TimeCampClient.Response(404, "not found")
      } else PipelineMain.stubTransport(url, params))
    val out = Files.createTempDirectory("pipe").toString
    val e = intercept[RuntimeException] {
      PipelineMain.run(spark, cfg(out, Seq("users", "computer_activities"))
        .copy(transportKey = "stub-404-users"))
    }
    assert(e.getMessage === "HTTP 404 after retries: /users")
    assert(requests.get === 1)
  }

  test("TimeCampConfig.fromEnv: reference defaults and env precedence") {
    import graft.sources.TimeCampConfig
    val missing = java.nio.file.Paths.get("/nonexistent/.env")
    // no env, no .env → the reference's defaults (common/utils.py:19-26)
    val d = TimeCampConfig.fromEnv(Map.empty, missing)
    assert(d === TimeCampConfig("", "app.timecamp.com", 0))
    assert(d.baseUrl === "https://app.timecamp.com/third_party/api")
    // process env supplies the values
    val fromProc = TimeCampConfig.fromEnv(Map(
      "TIMECAMP_API_KEY" -> "k1", "TIMECAMP_ROOT_GROUP_ID" -> "42"), missing)
    assert(fromProc.apiKey === "k1" && fromProc.rootGroupId === 42)
    assert(fromProc.headers("Authorization") === "Bearer k1")
    // .env file OVERRIDES the process env (load_dotenv(override=True))
    val dir = Files.createTempDirectory("dotenv")
    val dotenv = dir.resolve(".env")
    java.nio.file.Files.writeString(dotenv,
      """# comment line
        |export TIMECAMP_API_KEY="k2"
        |TIMECAMP_DOMAIN='eu.timecamp.com'
        |TIMECAMP_ROOT_GROUP_ID=7
        |""".stripMargin)
    val c = TimeCampConfig.fromEnv(Map(
      "TIMECAMP_API_KEY" -> "k1", "TIMECAMP_ROOT_GROUP_ID" -> "42"), dotenv)
    assert(c === TimeCampConfig("k2", "eu.timecamp.com", 7))
  }

  test("--sink bigquery routes every dataset through the BigQuery sink") {
    // the datasets are written concurrently: the saver may run on two
    // threads at once
    val written = new ConcurrentLinkedQueue[(String, Long)]()
    val bq = BigQuerySink(saver = (df, opts, mode) => {
      assert(mode === "overwrite")
      written.add(opts("table") -> df.count())
    })
    val counts = PipelineMain.run(spark,
      cfg("proj.analytics", Seq("entries", "tasks")).copy(sink = "bigquery"),
      sinkOverride = Some(bq))
    assert(written.asScala.toMap === Map(
      "proj.analytics.entries" -> 5L, "proj.analytics.tasks" -> 3L))
    assert(counts === Map("entries" -> 5L, "tasks" -> 3L))
    // unknown sink is rejected with the available list
    val e = intercept[IllegalArgumentException] {
      PipelineMain.run(spark, cfg("x", Seq("entries")).copy(sink = "kafka"))
    }
    assert(e.getMessage.contains("unknown sink"))
  }

  test("--sink bucketed writes each dataset bucketed on its distribution key") {
    val out = java.nio.file.Files.createTempDirectory("tc_bucketed").toString
    val sink = graft.sources.BucketedSink(8, Seq("id"), tablePrefix = "tc")
    val entriesCat = sink.catalogName(out, "entries")
    val tasksCat = sink.catalogName(out, "tasks")
    try {
      val counts = PipelineMain.run(spark,
        cfg(out, Seq("entries", "tasks")).copy(sink = "bucketed"))
      assert(counts === Map("entries" -> 5L, "tasks" -> 3L))
      // catalog keeps the bucket spec; data round-trips
      assert(spark.table(entriesCat).count() === 5L)
      val ddl = spark.sql(s"SHOW CREATE TABLE $entriesCat").head().getString(0)
      assert(ddl.contains("CLUSTERED BY (id)") && ddl.contains("8 BUCKETS"), ddl)
      val ddlTasks = spark.sql(s"SHOW CREATE TABLE $tasksCat").head().getString(0)
      assert(ddlTasks.contains("CLUSTERED BY (task_id)"), ddlTasks)
    } finally Seq(entriesCat, tasksCat).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("user settings parser handles both reference wire shapes") {
    // LIST format (common/api.py:218-222): flat entries with camelCase
    // userId — numeric or string — matched per requested id
    val list =
      """[{"userId": 2, "name": "disabled_user", "value": "1"},
        | {"userId": 3, "name": "other_setting", "value": "x"}]""".stripMargin
    assert(PipelineMain.parseUserSettings(list, Seq("1", "2", "3"),
      "disabled_user") === Seq("1" -> null, "2" -> "1", "3" -> null))
    // DICT format (common/api.py:203-216): object keyed by user_id,
    // values are lists of {name, value}
    val dict =
      """{"2": [{"name": "disabled_user", "value": "1"},
        |       {"name": "other_setting", "value": "y"}],
        | "3": [{"name": "other_setting", "value": "z"}]}""".stripMargin
    assert(PipelineMain.parseUserSettings(dict, Seq("1", "2", "3"),
      "disabled_user") === Seq("1" -> null, "2" -> "1", "3" -> null))
    // degenerate bodies read as all-enabled, never throw
    assert(PipelineMain.parseUserSettings("null", Seq("1"), "disabled_user")
      === Seq("1" -> null))
    assert(PipelineMain.parseUserSettings("{}", Seq("1"), "disabled_user")
      === Seq("1" -> null))
    assert(PipelineMain.parseUserSettings("[]", Seq("1"), "disabled_user")
      === Seq("1" -> null))
  }

  test("--compact-stores maintenance CLI: ingest 3 batches, compact via " +
    "the CLI, fold batch 4 — outputs identical to the never-compacted " +
    "sequence") {
    import spark.implicits._
    def doc(i: Int): String =
      s"the alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i " +
        s"hotel$i india$i juliet$i"
    val bench = Seq((1L, "benchmark sentence for the winnow store fixture"))
      .toDF("doc_id", "text")
    val ws = graft.ops.Text.winnowStore(bench, "doc_id", "text")
    val batches = Seq(
      Seq((100L, doc(0), "s1"), (101L, doc(1), "s1")),
      Seq((200L, doc(0), "s2"), (201L, doc(2), "s2")), // 200 dups 100
      Seq((300L, doc(3), "s1"), (301L, doc(4), "s3")),
      Seq((400L, doc(1), "s3"), (401L, doc(5), "s2"))) // 400 dups 101
    val rootA = Files.createTempDirectory("cstore_cli").toString
    val rootB = Files.createTempDirectory("cstore_plain").toString
    def fold(root: String, b: Seq[(Long, String, String)]): Unit =
      graft.streaming.EventStream.curateFoldBatch(
        b.toDF("doc_id", "text", "source"), ws, root, "doc_id", "text",
        "source", pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2)
    batches.take(3).foreach { b => fold(rootA, b); fold(rootB, b) }

    // the CLI path end to end: parseArgs -> maintenance mode
    val c = PipelineMain.parseArgs(Array("--compact-stores", rootA))
    assert(c.compactStores === Some(rootA) && c.compactIvfPq === None)
    PipelineMain.runMaintenance(spark, c)
    val fs = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$rootA/digests/b=*")).length === 1, "append dirs folded into one")

    fold(rootA, batches(3)); fold(rootB, batches(3))
    def outOf(root: String) = spark.read.parquet(s"$root/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outOf(rootA) === outOf(rootB),
      "fold-after-compact must equal the uncompacted sequence")
    assert(!outOf(rootA).contains(400L), "cross-batch dup blocked " +
      "through the compacted store")
    assert(spark.read.parquet(s"$rootA/digests").count() ===
      spark.read.parquet(s"$rootB/digests").count())
  }

  test("--compact-ivfpq maintenance CLI: parse, validate, and rewrite " +
    "the artifact to a new table with identical probe results") {
    import spark.implicits._
    import graft.ops.Similarity
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5) / 5.0f))
    }.toDF("vec_id", "embedding")
    val wh = Files.createTempDirectory("ivfpq_cli").toString
    val model = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = 2, ks = 4, iters = 1)
    val cents = Similarity.ivfPqBuild(vecs, "vec_id", "embedding", 2,
      model, 4, wh, "st")
    def probe(table: String) = Similarity.ivfPqProbe(vecs.limit(3),
      Similarity.ivfAssigned(spark, wh, table, "ivfpq"),
      "vec_id", "embedding", 3, cents, model)
      .collect().map(_.toString).sorted.toSeq
    val before = probe("st")

    val c = PipelineMain.parseArgs(
      Array("--compact-ivfpq", s"$wh:st:st_c:4"))
    PipelineMain.runMaintenance(spark, c)
    val after = probe("st_c")
    assert(after === before, "compacted table must probe identically")

    // malformed specs fail loudly, from==to enforced by the library
    intercept[IllegalArgumentException](PipelineMain.runMaintenance(spark,
      PipelineMain.parseArgs(Array("--compact-ivfpq", "a:b:c"))))
    intercept[IllegalArgumentException](PipelineMain.runMaintenance(spark,
      PipelineMain.parseArgs(Array("--compact-ivfpq", "a:b:c:x"))))
    intercept[IllegalArgumentException](PipelineMain.runMaintenance(spark,
      PipelineMain.parseArgs(Array("--compact-ivfpq", s"$wh:st:st:4"))))
  }
}
