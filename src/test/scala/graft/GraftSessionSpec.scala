package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one owner of graft's session config: its
  * session carries the shared confs and the native functions, and no
  * other main source builds a session of its own.
  */
class GraftSessionSpec extends SparkSpec {

  test("the factory's session carries the shared confs and graft functions") {
    val s = GraftSession("local[4]", 4)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val conf = s.sparkContext.getConf
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") ===
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"))
    // resolves only through GraftExtensions: analysis fails with
    // UNRESOLVED_ROUTINE on a session built without it
    val hashed = s.sql("SELECT rolling_hash('abcdefgh', 4) AS h")
    assert(hashed.collect().length === 1)
  }

  /** `src` with comments and the contents of string and char literals
    * removed, so a `SparkSession.builder()` named in scaladoc, a `//`
    * note or a message string does not count as a call. Handles nested
    * block comments (legal in Scala) and triple-quoted strings.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    // index just past the literal opening at i, or -1 when the quote at i
    // does not open one ('x', '\n', '\u0041', "...", """...""")
    def literalEnd: Int =
      if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        if (end < 0) src.length else end + 3
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        math.min(j + 1, src.length)
      } else if (at("'")) {
        val escaped = at("'\\")
        val close = src.indexOf('\'', if (escaped) i + 3 else i + 2)
        if (close == i + 2 || (escaped && close > 0 && close - i <= 7))
          close + 1
        else -1
      } else -1
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
      } else {
        val end = literalEnd
        if (end > 0) { out ++= "\"\""; i = end }
        else { out += src(i); i += 1 }
      }
    }
    out.toString
  }

  private val BuilderCall = """SparkSession\s*\.\s*builder\b""".r

  private def buildsSession(src: String): Boolean =
    BuilderCall.findFirstIn(code(src)).nonEmpty

  test("the guard bites: a builder call in code counts, one in a comment " +
    "or a string does not") {
    assert(buildsSession("val s = SparkSession.builder().getOrCreate()"))
    assert(buildsSession("val s = SparkSession\n  .builder()\n  .getOrCreate()"))
    assert(!buildsSession("/** SparkSession.builder() ... */ val x = 1"))
    assert(!buildsSession("/* a /* nested */ SparkSession.builder() */"))
    assert(!buildsSession("val x = 1 // SparkSession.builder()"))
    assert(!buildsSession("val u = \"http://x\"; val n = 2"))
    assert(buildsSession("val u = \"http://x\"; SparkSession.builder()"))
    assert(!buildsSession("sys.error(\"no SparkSession.builder() here\")"))
    assert(buildsSession("val q = '\"'; SparkSession.builder()"))
    assert(buildsSession("val q = '\\''; SparkSession.builder()"))
  }

  test("no main source outside GraftSession.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath} not found")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = sources
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter((p: Path) => buildsSession(Files.readString(p)))
    assert(offenders.isEmpty,
      "build sessions through graft.GraftSession, not SparkSession.builder(): " +
        offenders.mkString(", "))
  }
}
