package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, scalatest runs suites
  * sequentially in the forked test JVM). Small shuffle parallelism keeps
  * tiny-data tests fast while still exercising multi-partition plans.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Runs `f` and counts the Spark jobs it started (a SparkListener over
    * the drained listener bus).
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestShim.drainListenerBus(sc)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.GraftTestShim.drainListenerBus(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  def tsOf(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** allclose contract from the reference's consistency tests
    * (test_offline_online_store_consistency.py:257): abs diff < 1e-6,
    * null == null.
    */
  def allclose(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) < 1e-6
    case _ => false
  }
}
