package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites are
  * lazy so the first toucher pays startup). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Logs.quietBoundedWindowWarn()
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.Sf

  /** `body` run with the session's broadcast joins switched off
    * (`spark.sql.autoBroadcastJoinThreshold` = -1), the setting restored
    * after. */
  def withBroadcastJoinsOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Spark jobs `body` starts, counted once the listener bus has drained. */
  def jobsOf(body: => Unit): Int = startsOf(body)._1

  /** Spark tasks `body` starts, counted like [[jobsOf]]. */
  def tasksOf(body: => Unit): Int = startsOf(body)._2

  private def startsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val (jobs, tasks) = (new AtomicInteger(0), new AtomicInteger(0))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain.drain(sc); (jobs.get(), tasks.get()) }
    finally sc.removeSparkListener(listener)
  }
}
