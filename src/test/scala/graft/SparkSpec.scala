package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** The number of Spark jobs `body` starts, on any thread. Spark 4 job
    * properties carry no callsite, so `body`'s jobs are framed by two
    * group-tagged sentinel jobs: listener delivery is async but FIFO,
    * and suites run one at a time in the test JVM, so exactly the jobs
    * between the sentinels are `body`'s.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    def sentinel(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobs_during_start")
      body
      sentinel("jobs_during_end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.toArray.contains("jobs_during_end") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      val seen = groups.toArray.toSeq
      assert(seen.contains("jobs_during_start") &&
        seen.contains("jobs_during_end"), s"sentinel jobs not seen: $seen")
      seen.dropWhile(_ != "jobs_during_start")
        .dropWhile(_ == "jobs_during_start")
        .takeWhile(_ != "jobs_during_end").length
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
