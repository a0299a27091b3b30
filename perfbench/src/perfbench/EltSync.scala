package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.PipelineMain
import graft.sources.TimeCampClient.{Response, Transport}

/** The seeded TimeCamp account the synthetic API serves. Everything the
  * checks expect is derived here, from the seed, without the program.
  */
final class EltModel(seed: Long) {
  val from: LocalDate = LocalDate.of(2024, 1, 1)
  // 201 days: two 6-month entry batches, 11 activity date chunks
  val to: LocalDate = LocalDate.of(2024, 7, 19)
  val dates: IndexedSeq[String] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
      .map(_.toString).toIndexedSeq

  private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
  private def word(r: SplittableRandom): String =
    (0 until r.nextInt(3, 9)).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  final case class Node(id: String, parent: String, name: String)

  /** Parent-before-child node list: `roots` roots, then nodes under a
    * recent earlier node whose depth is below `maxDepth`.
    */
  private def forest(n: Int, roots: Int, maxDepth: Int, prefix: String,
      r: SplittableRandom): IndexedSeq[(Node, Int)] = {
    val out = mutable.ArrayBuffer.empty[(Node, Int)]
    for (i <- 0 until n) {
      val name = s"${prefix.toUpperCase} $i ${word(r)}"
      if (i < roots) out += ((Node(s"$prefix$i", "0", name), 1))
      else {
        var p = i - 1 - r.nextInt(math.min(i, 60))
        while (out(p)._2 >= maxDepth) p = out(p)._1.parent match {
          case "0" => p
          case pid => pid.stripPrefix(prefix).toInt
        }
        out += ((Node(s"$prefix$i", out(p)._1.id, name), out(p)._2 + 1))
      }
    }
    out.toIndexedSeq
  }

  // task forest: 1,000 tasks, paths at most 6 levels (within Closure's
  // default 32-level breadcrumb cap, which truncates deeper paths)
  val tasks: IndexedSeq[Node] = forest(1000, 12, 6, "t", rng).map(_._1)
  // group tree: 20 groups, at most 3 levels (the users table has 5 level
  // columns)
  val groups: IndexedSeq[Node] = forest(20, 3, 3, "g", rng).map(_._1)

  final case class User(id: String, email: String, display: String,
      disabled: Boolean, setting: Option[String], group: Option[String])
  val users: IndexedSeq[User] = (1 to 150).map { i =>
    val disabled = rng.nextInt(10) == 0
    val setting =
      if (disabled) Some("1") else if (rng.nextInt(4) == 0) Some("0") else None
    val group =
      if (rng.nextInt(20) == 0) None else Some(groups(rng.nextInt(groups.size)).id)
    User(i.toString, s"user$i@example.com", s"User ${word(rng)}", disabled,
      setting, group)
  }

  final case class Entry(id: Long, user: String, task: String, date: String,
      duration: Long, tags: Seq[String])
  val entries: IndexedSeq[Entry] = (0 until 10000).map { i =>
    val tags = (0 until rng.nextInt(3)).map(_ => word(rng))
    Entry(100000L + i * 7L, users(rng.nextInt(users.size)).id,
      tasks(rng.nextInt(tasks.size)).id, dates(rng.nextInt(dates.size)),
      60L * rng.nextInt(1, 480), tags)
  }
  /** Entries served twice in a row (an API page overlap); dedup by id. */
  val duplicated: Set[Long] =
    entries.indices.filter(_ => rng.nextInt(100) == 0).map(entries(_).id).toSet

  final case class App(id: String, fullName: String, info: String,
      binary: String, category: Int)
  val apps: IndexedSeq[App] = (0 until 160).map { i =>
    val full = rng.nextInt(6) match {
      case 0 => ""
      case 1 => "   "
      case _ => s"App ${word(rng)}"
    }
    val info = if (rng.nextInt(3) == 0) "" else s"Info ${word(rng)}"
    App((1001 + i).toString, full, info, s"bin${word(rng)}", rng.nextInt(21))
  }

  /** (user, date) → activity rows (application id, duration); application
    * "0" is the API's no-application marker.
    */
  val activities: Map[(String, String), Seq[(String, Long)]] = (for {
    u <- users
    d <- dates
    if rng.nextInt(10) < 3
  } yield (u.id, d) -> (0 until rng.nextInt(1, 3)).map { _ =>
    val app = if (rng.nextInt(40) == 0) "0" else apps(rng.nextInt(apps.size)).id
    (app, 30L * rng.nextInt(1, 200))
  }).toMap

  /** The one (user, date chunk) activity batch that answers 503 on every
    * attempt: the 8th enabled user (string order), 4th 20-date chunk.
    */
  val enabledIds: Seq[String] = users.filterNot(_.disabled).map(_.id).sorted
  val failUser: String = enabledIds(7)
  val failChunk: Seq[String] = dates.slice(60, 80)

  val expectedActivities: Seq[(String, String, String, Long)] = (for {
    u <- enabledIds
    d <- dates
    if !(u == failUser && failChunk.contains(d))
    (app, dur) <- activities.getOrElse((u, d), Nil)
  } yield (u, d, app, dur))

  val categories: Map[String, String] = PipelineMain.CategoryMapping.toMap
}

/** The synthetic TimeCamp API over an [[EltModel]]. One request in ten
  * (by a seeded hash of URL and parameters) answers 429 with
  * `Retry-After: 0` on its first attempt; the failing batch answers 503 on
  * every attempt. `reset` restarts the attempt counts, so every iteration
  * sees the same answers.
  */
final class SyntheticApi(m: EltModel, seed: Long) extends Transport {
  private val attempts = mutable.HashMap.empty[String, Int]
  def reset(): Unit = synchronized(attempts.clear())

  private def q(s: String) = Json.str(s)
  private def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
  private def obj(xs: Iterable[(String, String)]) =
    xs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  def apply(url: String, params: Map[String, String]): Response = {
    val key = url + params.toSeq.sorted.mkString("?", "&", "")
    val n = synchronized {
      val k = attempts.getOrElse(key, 0) + 1; attempts(key) = k; k
    }
    if (url == "/computer_activities" && params("user_id") == m.failUser &&
        params.get("dates[0]").contains(m.failChunk.head))
      Response(503, """{"error": "unavailable"}""", Some(0L))
    else if (n == 1 && Math.floorMod((key.hashCode ^ seed.toInt) * 31 + 7, 10) == 0)
      Response(429, """{"error": "rate limited"}""", Some(0L))
    else Response(200, body(url, params))
  }

  private def body(url: String, params: Map[String, String]): String = url match {
    case "/entries" =>
      val (f, t) = (params("from"), params("to"))
      arr(m.entries.filter(e => e.date >= f && e.date <= t).flatMap { e =>
        val row = obj(Seq("id" -> e.id.toString, "user_id" -> q(e.user),
          "task_id" -> q(e.task), "date" -> q(e.date),
          "duration" -> e.duration.toString, "tags" -> arr(e.tags.map(q))))
        if (m.duplicated(e.id)) Seq(row, row) else Seq(row)
      })
    case "/tasks" =>
      obj(m.tasks.map(t => t.id -> obj(Seq("task_id" -> q(t.id),
        "parent_id" -> q(t.parent), "name" -> q(t.name),
        "users" -> "{}", "perms" -> "{}"))))
    case "/users" =>
      arr(m.users.map(u => obj(Seq("user_id" -> q(u.id), "email" -> q(u.email),
        "display_name" -> q(u.display)))))
    case u if u.startsWith("/user/") && u.endsWith("/setting") =>
      val ids = u.stripPrefix("/user/").stripSuffix("/setting").split(",").toSet
      arr(m.users.filter(x => ids(x.id)).flatMap(x => x.setting.map(v =>
        obj(Seq("userId" -> x.id, "name" -> q("disabled_user"), "value" -> q(v))))))
    case "/people_picker" =>
      obj(Seq(
        "groups" -> obj(m.groups.map(g => g.id -> obj(Seq("group_id" -> q(g.id),
          "parent_id" -> q(g.parent), "name" -> q(g.name))))),
        "users" -> obj(m.users.flatMap(x => x.group.map(g =>
          s"u${x.id}" -> obj(Seq("user_id" -> q(x.id), "group_id" -> q(g))))))))
    case "/computer_activities" =>
      val u = params("user_id")
      val ds = params.collect { case (k, v) if k.startsWith("dates[") => v }.toSeq.sorted
      arr(ds.flatMap(d => m.activities.getOrElse((u, d), Nil).map { case (a, dur) =>
        obj(Seq("user_id" -> q(u), "date" -> q(d), "application_id" -> q(a),
          "duration" -> dur.toString))
      }))
    case "/application" =>
      val ids = params("application_ids").split(",").toSet
      arr(m.apps.filter(a => ids(a.id)).map(a => obj(Seq(
        "application_id" -> q(a.id), "full_name" -> q(a.fullName),
        "aditional_info" -> q(a.info), "app_name" -> q(a.binary),
        "category_id" -> a.category.toString))))
    case other => throw new IllegalStateException(s"unexpected endpoint $other")
  }
}

/** `elt_sync`: the daily sync, `PipelineMain.run` over all five datasets
  * to parquet, against the synthetic API, into one output directory that
  * every iteration overwrites.
  */
final class EltSync(seed: Long, root: Path) extends Workload {
  private val key = "perfbench"
  private val out = root.resolve("out/elt_sync")
  private var model: EltModel = _
  private var api: SyntheticApi = _

  def prepare(spark: SparkSession): Unit = {
    model = new EltModel(seed)
    api = new SyntheticApi(model, seed)
    if (Files.exists(out))
      Files.walk(out).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    Files.createDirectories(out)
  }

  def register(spark: SparkSession): Unit =
    PipelineMain.registerTransport(key, api)

  def iteration(spark: SparkSession, tracer: Option[Tracer]): AnyRef = {
    api.reset()
    PipelineMain.registerTransport(key, tracer.fold[Transport](api)(_.wrap(api)))
    val config = PipelineMain.Config(from = model.from.toString,
      to = model.to.toString, output = out.toString, format = "parquet",
      formatSet = true, datasets = PipelineMain.AvailableDatasets,
      transportKey = key)
    val counts = tracer.fold(PipelineMain.run(spark, config))(
      _.span("pipeline.run")(PipelineMain.run(spark, config)))
    tracer.foreach { t =>
      val files = tableFiles.values.flatten.toSeq
      t.sinkFiles = (files.size.toDouble, files.map(Files.size(_).toDouble).sum)
    }
    counts
  }

  /** `{table}.{id}.parquet` files per dataset, as the file sink names them. */
  private def tableFiles: Map[String, Seq[Path]] = {
    val all = Files.list(out).iterator().asScala.toSeq
    PipelineMain.AvailableDatasets.map { t =>
      val re = (java.util.regex.Pattern.quote(t) + "\\.\\d+\\.parquet").r
      t -> all.filter(p => re.matches(p.getFileName.toString)).sortBy(_.toString)
    }.toMap
  }

  def check(spark: SparkSession, result: AnyRef, observed: Seq[(String, Long)],
      iterStartMs: Long): Seq[String] = {
    val m = model
    val errors = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) errors += msg
    val files = tableFiles
    // no file of an earlier iteration may survive this one's write
    files.values.flatten.foreach { p =>
      expect(Files.getLastModifiedTime(p).toMillis >= iterStartMs - 50,
        s"stale file $p")
    }
    def read(t: String): Seq[Row] =
      if (files(t).isEmpty) Nil
      else spark.read.parquet(files(t).map(_.toString): _*).collect().toSeq

    // entries: every served id exactly once, durations summed once
    val entries = read("entries")
    val ids = entries.map(_.getAs[Long]("id"))
    expect(ids.size == m.entries.size, s"entries: ${ids.size} rows, want ${m.entries.size}")
    expect(ids.distinct.size == ids.size, "entries: an id appears twice")
    expect(ids.toSet == m.entries.map(_.id).toSet, "entries: id set differs")
    val dur = entries.map(_.getAs[Long]("duration")).sum
    val wantDur = m.entries.map(_.duration).sum
    expect(dur == wantDur, s"entries: sum(duration) $dur, want $wantDur")

    // tasks: breadcrumb and level columns are the root-to-self path
    val byId = m.tasks.map(t => t.id -> t).toMap
    def path(id: String): List[String] = {
      val t = byId(id)
      if (t.parent == "0") List(t.name) else path(t.parent) :+ t.name
    }
    val tasks = read("tasks")
    expect(tasks.size == m.tasks.size, s"tasks: ${tasks.size} rows, want ${m.tasks.size}")
    tasks.foreach { r =>
      val id = r.getAs[String]("task_id")
      if (!byId.contains(id)) errors += s"tasks: unknown task $id"
      else {
        val p = path(id)
        expect(r.getAs[String]("breadcrumb") == p.mkString(" / "),
          s"tasks: breadcrumb of $id")
        (1 to 8).foreach { i =>
          expect(r.getAs[String](s"task_level_$i") == p.lift(i - 1).getOrElse(""),
            s"tasks: task_level_$i of $id")
        }
        val parent = byId(id).parent
        expect(r.getAs[String]("parent_id") == (if (parent == "0") null else parent),
          s"tasks: parent_id of $id")
      }
    }

    // users: enabled flag and primary-group breadcrumb
    val gById = m.groups.map(g => g.id -> g).toMap
    def gPath(id: String): List[String] = {
      val g = gById(id)
      if (g.parent == "0") List(g.name) else gPath(g.parent) :+ g.name
    }
    val users = read("users")
    val uById = m.users.map(u => u.id -> u).toMap
    expect(users.size == m.users.size, s"users: ${users.size} rows, want ${m.users.size}")
    users.foreach { r =>
      val u = uById.get(r.getAs[String]("user_id"))
      if (u.isEmpty) errors += s"users: unknown user ${r.getAs[String]("user_id")}"
      u.foreach { u =>
        expect(r.getAs[Boolean]("is_enabled") == !u.disabled, s"users: is_enabled of ${u.id}")
        expect(r.getAs[String]("group_breadcrumb") ==
          u.group.map(gPath(_).mkString(" / ")).getOrElse(""),
          s"users: group_breadcrumb of ${u.id}")
      }
    }

    // activities: every enabled user's rows except the failing batch's
    val acts = read("computer_activities").map(r => (r.getAs[String]("user_id"),
      r.getAs[String]("date"), r.getAs[String]("application_id"),
      r.getAs[Long]("duration")))
    def counted[A](xs: Seq[A]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    expect(acts.size == m.expectedActivities.size,
      s"computer_activities: ${acts.size} rows, want ${m.expectedActivities.size}")
    expect(counted(acts) == counted(m.expectedActivities),
      "computer_activities: row multiset differs")

    // application_names: lookups of the observed ids, with the name
    // fallback chain and category decode
    val appIds = m.expectedActivities.map(_._3).filter(_ != "0").toSet
    val want = m.apps.filter(a => appIds(a.id)).map { a =>
      val name = Seq(a.fullName, a.info, a.binary).map(_.trim).find(_.nonEmpty).getOrElse("")
      a.id -> (name, m.categories.getOrElse(a.category.toString, "No category"))
    }.toMap
    val got = read("application_names").map(r => r.getAs[String]("application_id") ->
      (r.getAs[String]("name"), r.getAs[String]("category_name")))
    expect(got.size == want.size, s"application_names: ${got.size} rows, want ${want.size}")
    expect(got.toMap == want, "application_names: names or categories differ")

    // the counts run() reports agree with what was written
    val counts = result.asInstanceOf[Map[String, Long]]
    expect(counts == Map("entries" -> ids.size.toLong, "tasks" -> tasks.size.toLong,
      "users" -> users.size.toLong, "computer_activities" -> acts.size.toLong,
      "application_names" -> got.size.toLong), s"run() counts $counts")

    // plant a stale file per table, dated before this iteration, under a
    // file id no write of these inputs reaches: the next iteration's sink
    // must remove it, or the stale-file check above fails
    files.foreach { case (t, ps) =>
      ps.headOption.foreach { p =>
        val stale = out.resolve(s"$t.99999.parquet")
        Files.copy(p, stale, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(stale, FileTime.fromMillis(iterStartMs - 60000))
      }
    }
    errors.toSeq
  }
}
