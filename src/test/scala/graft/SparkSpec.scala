package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM-wide — Spark session
  * startup dominates test wall-clock otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.functions.GraftExtensions.builder("local[4]", "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf0001: String = TestSpark.Sf0001
  def sf001: String = TestSpark.Sf001

  private val JobTag = "graft.test.jobsDuring"

  /** Spark jobs started by this thread while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(JobTag) == token))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(JobTag, token)
    try { body; GraftTestShim.drainListeners(sc) }
    finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
