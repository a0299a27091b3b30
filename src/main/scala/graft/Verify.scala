package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session()
    // Deployment knobs for at-scale evidence runs: verify the whole
    // surface under the cluster-durability materialization mode
    // (SPARK_GRAFT_MATERIALIZE_MODE=reliable with ..._DIR pointing at a
    // real checkpoint directory) without touching operator code.
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MODE")
      .foreach(spark.conf.set(Materialize.ModeKey, _))
    sys.env.get("SPARK_GRAFT_MATERIALIZE_DIR")
      .foreach(spark.conf.set(Materialize.DirKey, _))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b — iterate on a subset without paying the
    // full 150+-query surface; the driver never sets it, so round
    // evidence always covers everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ns) => SparkEntry.queries.filter(kv => ns(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}

/** Dump ONE query's parquet (for twin iteration — the sbt console
  * classloader cannot load session extensions, so the native functions
  * only resolve under runMain). Usage:
  * runMain graft.DumpOne <name> <sfDir> <outDir>
  */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = Verify.session()
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    spark.stop()
  }
}

/** Dump SparkEntry.oracleSql as oracle_sql.json WITHOUT running the
  * queries (no SparkSession) — input for `tools/time_oracle.py`'s
  * DuckDB-baseline refresh. Usage: runMain graft.DumpOracle <outFile>
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get(args(0)), Verify.oracleJson)
    ()
  }
}
