package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (fork=true → one JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val Sf = "/root/testdata/sf0.001"

  /** Run `f` with session confs overridden, ALWAYS restored — the
    * session is shared across every suite, so a leaked conf would
    * silently poison later tests. */
  def withConfs[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `f` with janino fallback disabled: a whole-stage-codegen
    * compile error THROWS instead of silently dropping to interpreted
    * execution (the plan string still shows the starred span on
    * fallback, so only this catches a broken doConsume). */
  def withStrictCodegen[T](f: => T): T =
    withConfs("spark.sql.codegen.fallback" -> "false")(f)

  /** Jobs `f` launches from this thread, counted by job group. */
  def jobsOf(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try f
    finally {
      sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
