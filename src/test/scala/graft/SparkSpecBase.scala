package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide SparkSession, UTC, AQE on. */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The bench-scale sibling, for specs that pin behavior at sf0.1. */
  val sf01: String = "/root/testdata/sf0.1"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpecBase.spark
  def sf: String = SparkSpecBase.sf
  def sf01: String = SparkSpecBase.sf01

  /** The number of Spark jobs `body` submits from this thread, counted by
    * a SparkListener on a private job group. */
  def jobsSubmitted(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-spec-jobs-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          n.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.SpecBus.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }
}
