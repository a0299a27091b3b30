package graft

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Closure, Enrich, Transforms}
import graft.sources.{BigQuerySink, FileSink, Sink, TimeCampClient, TimeCampConfig}

/** The reference's CLI entry point, Spark-native
  * (`dlt_fetch_timecamp.py:49-99`, `:656-748`):
  *
  * {{{
  * runMain graft.PipelineMain --from 2024-01-01 --to 2024-01-31 \
  *   --datasets entries,tasks --format parquet --output /tmp/out
  * }}}
  *
  * Defaults mirror the reference exactly: yesterday→yesterday, dataset
  * `entries`, format `csv`, output `./timecamp_data`; invalid dataset names
  * exit 1 with the available list (`:89-99`, `:722-726`).
  *
  * The transport is injectable (`--transport <registry key>` for tests;
  * default is an offline deterministic stub clearly marked below — a
  * production deployment registers an HTTP transport with the same retry
  * semantics and changes nothing else). Each dataset runs the reference's
  * transform chain: entries get tags→JSON-string + dedup-by-id; tasks get
  * breadcrumbs + level columns + users/perms drop; users get settings
  * enrichment + primary-group breadcrumbs; activities fan out per
  * (user, ≤20-date chunk) with skip-and-continue; application_names get
  * the name-fallback chain + category decode. Each dataset is written on
  * its own thread, its transform chain once: the row counts `run`
  * returns are observed on the writes, not counted afterwards. The
  * activity fan-out's user ids and the application ids are read off the
  * rows the driver parsed from the API, so `run` collects nothing and
  * caches nothing.
  */
object PipelineMain {

  val AvailableDatasets: Seq[String] =
    Seq("entries", "tasks", "computer_activities", "users", "application_names")

  /** Name prefix of the threads `run` writes the datasets on. */
  private[graft] val PoolThreadPrefix = "graft-pipeline-"

  /** How long `run` waits after a write for its observed row count. */
  private val ObservedRowsWait = 10.seconds

  /** Bucket-distribution key per dataset: `--sink bucketed` buckets each
    * table on its key so later joins/dedups on it are shuffle-free. For
    * entries/tasks/users/application_names this is the reference's
    * `primary_key=` declaration (`dlt_fetch_timecamp.py:458,511,586,606`);
    * computer_activities declares NO primary key in the reference and
    * `user_id` is not unique per activity row — it is a join-distribution
    * key only, never a dedup key.
    */
  val BucketKeys: Map[String, String] = Map(
    "entries" -> "id", "tasks" -> "task_id", "users" -> "user_id",
    "computer_activities" -> "user_id", "application_names" -> "application_id")

  /** The reference's application category id→name table, verbatim
    * (`dlt_fetch_timecamp.py:111-133`); unknown ids decode to
    * "No category" (`:633`).
    */
  val CategoryMapping: Seq[(String, String)] = Seq(
    "0" -> "No category", "1" -> "Office", "2" -> "Developer Tools",
    "3" -> "Chat, VoIP & Email", "4" -> "Graphic & Design", "5" -> "Home",
    "6" -> "Productivity", "7" -> "Utilities & Tools", "8" -> "Audio & Video",
    "9" -> "Games", "10" -> "Education", "11" -> "Fun", "12" -> "News & Blogs",
    "13" -> "Reference & Search", "14" -> "Shopping",
    "15" -> "Social Networking", "16" -> "Travel & Outdoors",
    "17" -> "Business", "18" -> "Hobby")

  case class Config(
      from: String = "yesterday", to: String = "yesterday",
      output: String = "./timecamp_data", format: String = "csv",
      datasets: Seq[String] = Seq("entries"), transportKey: String = "stub",
      sink: String = "file", formatSet: Boolean = false,
      compactStores: Option[String] = None,
      compactIvfPq: Option[String] = None,
      debug: Boolean = false)

  def parseArgs(args: Array[String]): Config = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--from" :: v :: t => loop(t, c.copy(from = v))
      case "--to" :: v :: t => loop(t, c.copy(to = v))
      case "--output" :: v :: t => loop(t, c.copy(output = v))
      case "--format" :: v :: t => loop(t, c.copy(format = v, formatSet = true))
      case "--datasets" :: v :: t =>
        loop(t, c.copy(datasets = v.split(",").map(_.trim.toLowerCase)
          .filter(_.nonEmpty).toSeq))
      case "--transport" :: v :: t => loop(t, c.copy(transportKey = v))
      case "--sink" :: v :: t => loop(t, c.copy(sink = v))
      case "--compact-stores" :: v :: t =>
        loop(t, c.copy(compactStores = Some(v)))
      case "--compact-ivfpq" :: v :: t =>
        loop(t, c.copy(compactIvfPq = Some(v)))
      case "--debug" :: t => loop(t, c.copy(debug = true))
      case Nil => c
      case x :: _ => throw new IllegalArgumentException(s"unknown argument: $x")
    }
    loop(args.toList, Config())
  }

  // ------------------------------------------------------------ transport

  /** OFFLINE STUB transport — deterministic synthetic responses per
    * endpoint so the full pipeline wiring runs without a network. A real
    * deployment registers an HTTP-backed Transport under another key.
    */
  val stubTransport: TimeCampClient.Transport = (url, params) => url match {
    case "/entries" =>
      val from = java.time.LocalDate.parse(params("from"))
      val rows = (0 until 5).map { i =>
        val d = from.plusDays(i)
        s"""{"id": ${100 + i}, "user_id": "${i % 2 + 1}", "task_id": "t${i % 3 + 1}",
           | "date": "$d", "duration": ${600 * (i + 1)},
           | "tags": ${if (i % 2 == 0) s"""["tag$i","x"]""" else "[]"}}""".stripMargin
      }
      TimeCampClient.Response(200, rows.mkString("[", ",", "]"))
    case "/tasks" =>
      TimeCampClient.Response(200,
        """{"t1": {"task_id": "t1", "parent_id": "0", "name": "Root A", "users": {"u1": 1}, "perms": {"a": 1}},
          |"t2": {"task_id": "t2", "parent_id": "t1", "name": "Child B", "users": {}, "perms": {}},
          |"t3": {"task_id": "t3", "parent_id": "t1", "name": "Child C", "users": {}, "perms": {}}}""".stripMargin)
    case "/users" =>
      TimeCampClient.Response(200,
        """[{"user_id": "1", "email": "a@example.com", "display_name": "Ann"},
          |{"user_id": "2", "email": "b@example.com", "display_name": "Bob"}]""".stripMargin)
    case u if u.startsWith("/user/") && u.endsWith("/setting") =>
      // reference wire shape: GET user/{id,...}/setting?name[]=...
      // returns the LIST format — entries with camelCase `userId` plus
      // `name`/`value` (common/api.py:218-222); only user 2 carries the
      // disabled flag. (The dict format — object keyed by user_id —
      // is exercised directly in PipelineMainSpec.)
      val ids = u.stripPrefix("/user/").stripSuffix("/setting")
        .split(",").toSet
      val rows =
        if (ids.contains("2"))
          Seq("""{"userId": 2, "name": "disabled_user", "value": "1"}""")
        else Seq.empty
      TimeCampClient.Response(200, rows.mkString("[", ",", "]"))
    case "/people_picker" =>
      TimeCampClient.Response(200,
        """{"groups": {"g1": {"group_id": "g1", "parent_id": "0", "name": "Org"},
          |"g2": {"group_id": "g2", "parent_id": "g1", "name": "Eng"}},
          |"users": {"u1": {"user_id": "1", "group_id": "g2"}, "u2": {"user_id": "2", "group_id": "g1"}}}""".stripMargin)
    case "/computer_activities" =>
      val user = params("user_id")
      val dates = params.collect { case (k, v) if k.startsWith("dates[") => v }.toSeq.sorted
      val rows = dates.zipWithIndex.map { case (d, i) =>
        s"""{"user_id": "$user", "date": "$d", "application_id": "${1000 + i % 3}", "duration": ${120 * (i + 1)}}"""
      }
      TimeCampClient.Response(200, rows.mkString("[", ",", "]"))
    case "/application" =>
      val ids = params("application_ids").split(",").toSeq
      val rows = ids.map { id =>
        s"""{"application_id": "$id", "full_name": ${if (id.endsWith("0")) "\"\"" else s"\"App $id\""},
           | "aditional_info": "Info $id", "app_name": "bin$id", "category_id": ${id.takeRight(1)}}""".stripMargin
      }
      TimeCampClient.Response(200, rows.mkString("[", ",", "]"))
    case other => TimeCampClient.Response(404, s"unknown endpoint $other")
  }

  private val transports =
    new java.util.concurrent.ConcurrentHashMap[String, TimeCampClient.Transport]()
  transports.put("stub", stubTransport)
  // The PRODUCTION transport: JDK HttpClient against the live
  // `envConfig` (base URL + bearer headers are read per call, so a
  // `.env` loaded in main() — or a test overriding envConfig — takes
  // effect without re-registration). The instance is tiny; the
  // underlying pooled HttpClient is the shared lazy singleton.
  transports.put("http", (url, params) =>
    graft.sources.HttpTransport.fromConfig(envConfig).get(url, params))

  def registerTransport(key: String, t: TimeCampClient.Transport): Unit =
    transports.put(key, t)

  /** Environment config loaded at startup (`TimeCampConfig.fromEnv`);
    * the handle an HTTP transport uses for base URL + auth headers.
    */
  @volatile var envConfig: TimeCampConfig = TimeCampConfig("", rootGroupId = 0)

  // ------------------------------------------------------------- parsing

  private val mapper = new ObjectMapper()

  private def jsonArray(body: String): Seq[JsonNode] =
    mapper.readTree(body).elements().asScala.toSeq

  private def jsonObjectValues(body: String): Seq[JsonNode] = {
    val root = mapper.readTree(body)
    root.properties().asScala.map(_.getValue).toSeq
  }

  private def textOf(n: JsonNode, k: String): String =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText()).orNull

  private def longOf(n: JsonNode, k: String): java.lang.Long =
    Option(n.get(k)).filterNot(_.isNull).map(v => java.lang.Long.valueOf(v.asLong())).orNull

  /** Parse one `user/{ids}/setting` response into `(user_id, value)`
    * pairs for `settingName`, handling BOTH reference wire shapes
    * (common/api.py:200-222): the dict format — an object keyed by
    * user_id whose values are lists of `{name, value}` entries — and
    * the list format — a flat array of `{userId, name, value}` entries
    * (note the camelCase `userId` key in the list shape). A user with
    * no matching entry maps to null (reads as enabled downstream).
    */
  private[graft] def parseUserSettings(
      body: String, batch: Seq[String],
      settingName: String): Seq[(String, String)] = {
    val root = mapper.readTree(body)
    def valueIn(entries: Seq[JsonNode]): String =
      entries.collectFirst {
        case e if textOf(e, "name") == settingName => textOf(e, "value")
      }.orNull
    if (root == null) batch.map(_ -> null)
    else if (root.isObject)
      batch.map { uid =>
        val entries = Option(root.get(uid)).filter(_.isArray)
          .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
        uid -> valueIn(entries)
      }
    else {
      val all =
        if (root.isArray) root.elements().asScala.toSeq else Seq.empty
      batch.map { uid =>
        uid -> valueIn(all.filter(e => textOf(e, "userId") == uid))
      }
    }
  }

  // ------------------------------------------------------------ datasets

  def buildEntries(spark: SparkSession, transport: TimeCampClient.Transport,
      from: String, to: String): DataFrame = {
    val get = TimeCampClient.get(transport) _
    // ≤6-calendar-month windows per request (the reference's batching)
    val rows = TimeCampClient.periodBatches(
      java.time.LocalDate.parse(from), java.time.LocalDate.parse(to))
      .flatMap { case (f, t) =>
        jsonArray(get("/entries", Map("from" -> f, "to" -> t,
          "format" -> "json")).body)
      }
      .map { n =>
        val tags = Option(n.get("tags")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
        Row(longOf(n, "id"), textOf(n, "user_id"), textOf(n, "task_id"),
          textOf(n, "date"), longOf(n, "duration"), tags)
      }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("user_id", StringType),
      StructField("task_id", StringType), StructField("date", StringType),
      StructField("duration", LongType),
      StructField("tags", ArrayType(StringType))))
    val df = spark.createDataFrame(rows.asJava, schema)
      .withColumn("tags", Transforms.arrayToJsonOrNull(col("tags")))
    // rows WITHOUT an id bypass the PK dedup: groupBy treats NULL as one
    // key, so two distinct id-less entries would collapse to a single
    // survivor — silent data loss for a malformed-but-real API row
    Transforms.dedupByPk(df.where(col("id").isNotNull),
        Seq("id"), Seq(col("date")))
      .unionByName(df.where(col("id").isNull))
  }

  def buildTasks(spark: SparkSession,
      transport: TimeCampClient.Transport): DataFrame = {
    val get = TimeCampClient.get(transport) _
    val rows = jsonObjectValues(get("/tasks", Map("status" -> "all")).body)
      .map { n =>
        Row(textOf(n, "task_id"), textOf(n, "parent_id"), textOf(n, "name"))
      }
    val schema = StructType(Seq(
      StructField("task_id", StringType), StructField("parent_id", StringType),
      StructField("name", StringType)))
    // users/perms dropped before emit (reference pops them); parent
    // NULL/''/'0' normalized; breadcrumbs + 8 level columns
    val df = spark.createDataFrame(rows.asJava, schema)
      .withColumn("parent_id", Transforms.normalizeParent(col("parent_id")))
    val withPaths = Closure.breadcrumbs(df, "task_id", "parent_id", "name")
    Transforms.dedupByPk(
      Closure.withLevelColumns(withPaths, "task", 8).drop("path"),
      Seq("task_id"), Seq(col("name")))
  }

  /** The `/users` rows and their `disabled_user` settings, parsed on the
    * driver, and the ids the activity fan-out requests.
    *
    * @param enabledIds the distinct non-null `user_id`s whose setting is
    *                   not exactly "1", sorted: the users table's
    *                   `is_enabled` rule, `!(disabled_user <=> "1")`, read
    *                   off the parsed rows (reference `:439-445`)
    */
  final case class UsersFetched(users: Seq[Row],
      settings: Seq[Row], enabledIds: Seq[String])

  def fetchUsers(transport: TimeCampClient.Transport): UsersFetched = {
    val get = TimeCampClient.get(transport) _
    val users = jsonArray(get("/users", Map.empty).body)
      .map(n => Row(textOf(n, "user_id"), textOf(n, "email"),
        textOf(n, "display_name")))
    // bulk settings lookup — the reference's GET user/{id,...}/setting
    // (common/api.py:193-198), 50 ids per request; '1' → disabled;
    // missing → enabled
    val userIds = users.map(_.getString(0)).filter(_ != null)
    val settings = TimeCampClient.batched(userIds, 50).flatMap { chunk =>
      parseUserSettings(
        get(s"/user/${chunk.mkString(",")}/setting",
          Map("name[]" -> "disabled_user")).body,
        chunk, "disabled_user")
    }.collect { case (uid, v) if v != null => Row(uid, v) }
    val disabled = settings.collect { case Row(uid: String, "1") => uid }.toSet
    UsersFetched(users, settings,
      userIds.filterNot(disabled).distinct.sorted)
  }

  def buildUsers(spark: SparkSession, transport: TimeCampClient.Transport,
      fetched: UsersFetched): DataFrame = {
    val get = TimeCampClient.get(transport) _
    val usersDf = spark.createDataFrame(fetched.users.asJava, StructType(Seq(
      StructField("user_id", StringType), StructField("email", StringType),
      StructField("display_name", StringType))))
    val settingsDf = spark.createDataFrame(fetched.settings.asJava,
      StructType(Seq(StructField("user_id", StringType),
        StructField("disabled_user", StringType))))
    val enabled = usersDf.join(broadcast(settingsDf), Seq("user_id"), "left")
      .withColumn("is_enabled", !(col("disabled_user") <=> "1"))
      .drop("disabled_user")
    // people_picker → group tree + membership; primary group enrichment
    val pp = mapper.readTree(get("/people_picker",
      Map("context" -> "admin")).body)
    // a body without "groups"/"users" (account with none, or an
    // error-shaped-but-parseable response) must read as empty, not NPE
    def objValues(node: com.fasterxml.jackson.databind.JsonNode) =
      Option(node).map(_.properties().asScala.map(_.getValue).toSeq)
        .getOrElse(Seq.empty)
    val groups = objValues(pp.get("groups")).map(n =>
      Row(textOf(n, "group_id"), textOf(n, "parent_id"), textOf(n, "name")))
    val groupsDf = spark.createDataFrame(groups.asJava, StructType(Seq(
      StructField("group_id", StringType), StructField("parent_id", StringType),
      StructField("group_nm", StringType))))
      .withColumn("parent_id", Transforms.normalizeParent(col("parent_id")))
    val membership = objValues(pp.get("users")).map(n =>
      Row(Transforms.stripIdPrefixStr(textOf(n, "user_id")),
        textOf(n, "group_id")))
    val memberDf = spark.createDataFrame(membership.asJava, StructType(Seq(
      StructField("user_id", StringType), StructField("_gk", StringType))))
    val withGroup = enabled.join(broadcast(memberDf), Seq("user_id"), "left")
    Transforms.dedupByPk(
      Enrich.withGroup(withGroup, "_gk", groupsDf,
        "group_id", "parent_id", "group_nm", levels = 5).drop("_gk"),
      Seq("user_id"), Seq(col("email")))
  }

  private val ActivitySchema: StructType = StructType(Seq(
    StructField("user_id", StringType), StructField("date", StringType),
    StructField("application_id", StringType),
    StructField("duration", LongType)))

  /** `/computer_activities` per (user, ≤20-date chunk), failed batches
    * skipped, parsed into [[ActivitySchema]] rows on the driver.
    */
  def fetchActivities(transport: TimeCampClient.Transport,
      from: String, to: String, userIds: Seq[String]): Seq[Row] = {
    val get = TimeCampClient.get(transport) _
    val dates = Iterator.iterate(java.time.LocalDate.parse(from))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse(to))).map(_.toString).toSeq
    val batches = TimeCampClient.activityBatches(userIds, dates)
    TimeCampClient.fetchSkippingFailures(batches) { case (u, chunk) =>
      jsonArray(get("/computer_activities",
        Map("user_id" -> u) ++ chunk.zipWithIndex.map { case (d, i) =>
          s"dates[$i]" -> d
        }).body)
        .map(n => Row(textOf(n, "user_id"), textOf(n, "date"),
          textOf(n, "application_id"), longOf(n, "duration")))
    }.flatten
  }

  /** The application ids the names lookup requests: the distinct ids of
    * the fetched activity rows that are neither null nor "0", sorted
    * (reference `:447-454`).
    */
  private def applicationIds(activities: Seq[Row]): Seq[String] = {
    val i = ActivitySchema.fieldIndex("application_id")
    activities.map(_.getString(i)).filter(id => id != null && id != "0")
      .distinct.sorted
  }

  def buildApplicationNames(spark: SparkSession,
      transport: TimeCampClient.Transport, ids: Seq[String]): DataFrame = {
    val get = TimeCampClient.get(transport) _
    val rows = TimeCampClient.batched(ids, 100).flatMap { chunk =>
      jsonArray(get("/application",
        Map("application_ids" -> chunk.mkString(","))).body)
    }.map { n =>
      Row(textOf(n, "application_id"), textOf(n, "full_name"),
        textOf(n, "aditional_info"), textOf(n, "app_name"),
        textOf(n, "category_id"))
    }
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("application_id", StringType),
      StructField("full_name", StringType),
      StructField("aditional_info", StringType),
      StructField("app_name", StringType),
      StructField("category_id", StringType))))
      .withColumn("name", Transforms.firstNonBlank(lit(""),
        col("full_name"), col("aditional_info"), col("app_name")))
    val decoded = Transforms.decodeMap(df, "category_id",
      CategoryMapping, "category_name", "No category")
    Transforms.dedupByPk(
      decoded.select("application_id", "name", "category_name"),
      Seq("application_id"), Seq(col("name")))
  }

  // ----------------------------------------------------------------- run

  def run(spark: SparkSession, c: Config,
      sinkOverride: Option[Sink] = None): Map[String, Long] = {
    val invalid = c.datasets.filterNot(AvailableDatasets.contains)
    if (invalid.nonEmpty)
      throw new IllegalArgumentException(
        s"Invalid datasets: ${invalid.mkString(", ")}. " +
          s"Available: ${AvailableDatasets.mkString(", ")}")
    // Sink seam: the default file sink mirrors the reference's filesystem/S3
    // destination; `--sink bigquery` selects the BigQuery-shaped sink
    // (target = project.dataset, format fixed to the connector's).
    val (sink: Sink, sinkFormat: String) = c.sink match {
      case "file" =>
        require(FileSink.Formats.contains(c.format),
          s"unsupported format: ${c.format}")
        (FileSink, c.format)
      case BigQuerySink.Format =>
        require(!c.formatSet,
          s"--format does not apply to --sink ${BigQuerySink.Format} " +
            "(the connector fixes its own format)")
        (sinkOverride.getOrElse(BigQuerySink()), BigQuerySink.Format)
      case "bucketed" =>
        // bucketed warehouse layout: each table hash-bucketed on its
        // distribution key at write time, so every downstream join (and,
        // where the key is a true PK, dedup) on the key reads shuffle-free
        // (PlanSpec proves the zero-Exchange join)
        val perTable = new Sink {
          override def write(df: org.apache.spark.sql.DataFrame,
              target: String, table: String, format: String): Unit = {
            val key = BucketKeys.getOrElse(table,
              throw new IllegalArgumentException(s"no bucket key for $table"))
            graft.sources.BucketedSink(8, Seq(key), Seq(key), tablePrefix = "tc")
              .write(df, target, table, format)
          }
        }
        require(!c.formatSet,
          "--format does not apply to --sink bucketed (parquet is the " +
            "bucketed layout's format)")
        (perTable, "parquet")
      case other =>
        throw new IllegalArgumentException(
          s"unknown sink: $other (available: file, ${BigQuerySink.Format}, bucketed)")
    }
    val transport = Option(transports.get(c.transportKey)).getOrElse(
      throw new IllegalStateException(s"no transport '${c.transportKey}'"))
    val from = TimeCampClient.parseDateFlexible(c.from).toString
    val to = TimeCampClient.parseDateFlexible(c.to).toString

    // The activity fan-out is the ENABLED user list derived from the
    // users endpoint (`:440-445`) — a hardcoded id list would silently
    // drop every other user's activities on a real transport — and the
    // application names are looked up from the fetched activities (the
    // reference preloads them once, `:447-454`). Both id lists are read
    // off the rows the driver has already parsed, so no Spark job stands
    // between a fetch and the next, and no frame is cached for reuse.
    // Each fetch is memoized with its failure: two chains wait on it, and
    // a failed lazy val would be re-run by the second, fetching the
    // rate-limited API again.
    val datasets = c.datasets.distinct
    lazy val usersFetched = Try(fetchUsers(transport))
    lazy val activities = Try(fetchActivities(transport, from, to,
      usersFetched.get.enabledIds))

    // one write per dataset; its row count is observed on that write, so
    // the transform chain runs once and no count action follows it
    def write(ds: String): Long = {
      val df = ds match {
        case "entries" => buildEntries(spark, transport, from, to)
        case "tasks" => buildTasks(spark, transport)
        case "users" => buildUsers(spark, transport, usersFetched.get)
        case "computer_activities" =>
          spark.createDataFrame(activities.get.asJava, ActivitySchema)
        case "application_names" =>
          buildApplicationNames(spark, transport, applicationIds(activities.get))
      }
      val rows = Observation()
      sink.write(df.observe(rows, count(lit(1)).as("rows")), c.output, ds,
        sinkFormat)
      // observed metrics arrive through the listener bus after the write's
      // query ends; a sink that never executed the frame delivers none
      try Await.result(rows.future, ObservedRowsWait).getLong(0) catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"sink returned without writing table '$ds': no row count " +
            s"observed within $ObservedRowsWait (Sink.write must execute " +
            "the frame it is given)")
      }
    }

    // Every dataset is written on its own thread, its jobs labelled
    // `pipeline/<dataset>` (the description is thread-local). The two
    // activity datasets wait on the memoized rows through the lazy vals
    // above, so the names fetch overlaps the activities write.
    val threadIds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(datasets.size, (r: Runnable) => {
      val t = new Thread(r, PoolThreadPrefix + threadIds.incrementAndGet())
      t.setDaemon(true)
      t
    })
    try {
      val pending = datasets.map(ds => ds -> pool.submit[Try[Long]] { () =>
        val sc = spark.sparkContext
        sc.setJobDescription(s"pipeline/$ds")
        try Success(write(ds)) catch { case e: Throwable => Failure(e) }
        finally sc.setJobDescription(null)
      })
      // every chain finishes before the first failure, in dataset order,
      // is rethrown as it was thrown
      val results = pending.map { case (ds, r) => ds -> r.get() }
      results.collectFirst { case (_, Failure(e)) => e }.foreach(e => throw e)
      results.map { case (ds, r) => ds -> r.get }.toMap
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  def main(args: Array[String]): Unit = {
    val c = try parseArgs(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(1)
    }
    // Reference setup path (`dlt_fetch_timecamp.py:102-108`): load `.env`
    // (overriding the process env) and build the API config from
    // TIMECAMP_* variables. An HTTP transport registered under
    // `--transport` reads `envConfig.baseUrl` / `.headers`; the offline
    // stub ignores it.
    envConfig = TimeCampConfig.fromEnv()
    // reference logging setup (common/logger.py:5-46 via common/api.py:18):
    // rotating logs/sync.log at INFO + console at DEBUG/INFO per --debug
    graft.sources.PipelineLogger.active =
      new graft.sources.PipelineLogger(debug = c.debug)
    val spark = GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4)
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (c.compactStores.nonEmpty || c.compactIvfPq.nonEmpty) {
        try runMaintenance(spark, c) catch {
          case e: IllegalArgumentException =>
            System.err.println(e.getMessage); sys.exit(1)
        }
      } else {
        val counts = try run(spark, c) catch {
          case e: IllegalArgumentException =>
            System.err.println(e.getMessage); sys.exit(1)
        }
        counts.foreach { case (ds, n) => println(s"[pipeline] $ds: $n rows") }
      }
    } finally spark.stop()
  }

  /** Store-maintenance mode — the vacuum entry point a long-running
    * deployment schedules instead of a dataset run. Wires the two
    * library compactions behind one CLI, preserving their own
    * crash-safety disciplines (versioned two-phase swap for the
    * curation stores, new-table-then-flip for the IVFADC artifact):
    *
    *  - `--compact-stores <root>` — fold the [[graft.streaming.EventStream.curateStream]]
    *    append stores' per-batch `b=*` subdirs into one
    *    ([[graft.streaming.EventStream.compactCurationStores]]): the
    *    per-fold partition-LISTING cost and DFS small-file count grow
    *    linearly with batch count even though the data read does not.
    *  - `--compact-ivfpq <warehouse>:<fromTable>:<toTable>:<numBuckets>[:<prefix>]`
    *    — rewrite a streamed IVFADC codes artifact into dense buckets
    *    ([[graft.ops.Similarity.ivfPqCompact]]); the CLI enforces the
    *    library's from≠to contract, the operator flips probes to the
    *    new table afterwards.
    *
    * Both flags may be combined; either alone is a valid maintenance
    * run. Dataset/date flags are ignored in this mode.
    */
  def runMaintenance(spark: SparkSession, c: Config): Unit = {
    c.compactStores.foreach { root =>
      graft.streaming.EventStream.compactCurationStores(spark, root)
      println(s"[maintenance] compacted curation stores at $root")
    }
    c.compactIvfPq.foreach { sp =>
      val parts = sp.split(":", -1)
      require(parts.length == 4 || parts.length == 5,
        "--compact-ivfpq expects <warehouse>:<fromTable>:<toTable>:" +
          s"<numBuckets>[:<tablePrefix>], got '$sp'")
      val buckets = try parts(3).toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"--compact-ivfpq numBuckets must be an integer, got '${parts(3)}'")
      }
      require(buckets >= 1, s"--compact-ivfpq numBuckets must be >= 1, got $buckets")
      val prefix = if (parts.length == 5) parts(4) else "ivfpq"
      graft.ops.Similarity.ivfPqCompact(
        spark, parts(0), parts(1), parts(2), buckets, prefix)
      println(s"[maintenance] compacted IVFADC ${parts(1)} -> ${parts(2)} " +
        s"(${buckets} buckets) in ${parts(0)}")
    }
  }
}
