package graft

/** Dev tool: print the formatted physical plan (and optionally a sample) for
  * one or all SparkEntry queries — the feedback loop for shuffle/pushdown/
  * codegen review. Usage: runMain graft.Explain <sfDir> [queryName|ALL|READ <table>]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val what = if (args.length > 1) args(1) else "ALL"
    val spark = GraftSession("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    what match {
      case "READ" =>
        val df = Tables(spark, sfDir, args(2))
        df.printSchema()
        df.show(5, false)
      case "ALL" =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          println(s"\n========== $name ==========")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        }
      case name =>
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
