package graft

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate reuses it). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `f` with `listener` attached and returns once the listener has
    * seen every event `f` caused (listener delivery is asynchronous).
    */
  def listening[A](listener: SparkListener)(f: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.GraftTestBridge.waitListenerBus(sc)
      out
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
