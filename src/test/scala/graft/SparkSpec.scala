package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** The number of Spark jobs `body` starts, on any thread. */
  def jobsDuring(body: => Unit): Int = jobDescriptionsDuring(body).length

  /** The description (`setJobDescription`; null when unset) of each Spark
    * job `body` starts, on any thread, in start order. Spark 4 job
    * properties carry no callsite, so `body`'s jobs are framed by two
    * group-tagged sentinel jobs: listener delivery is async but FIFO,
    * and suites run one at a time in the test JVM, so exactly the jobs
    * between the sentinels are `body`'s.
    */
  def jobDescriptionsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        jobs.add(props.map(_.getProperty("spark.jobGroup.id", "")).getOrElse("") ->
          props.map(_.getProperty("spark.job.description")).orNull)
      }
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
      def groups = jobs.asScala.toSeq.map(_._1)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("jobs_during_end") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(groups.contains("jobs_during_start") &&
        groups.contains("jobs_during_end"), s"sentinel jobs not seen: $groups")
      jobs.asScala.toSeq.dropWhile(_._1 != "jobs_during_start")
        .dropWhile(_._1 == "jobs_during_start")
        .takeWhile(_._1 != "jobs_during_end").map(_._2)
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
