package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (getOrCreate dedups). */
trait SparkSpec { this: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started by `op`: the job-id distance between two marker
    * jobs run before and after it (listener events arrive in order, so
    * once the second marker is seen every job of `op` has been too).
    */
  def jobsDuring(op: => Unit): Int = {
    val ids = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("jobs-marker-")).foreach(d => ids.put(d, e.jobId))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-marker-a")
      op
      marker("jobs-marker-b")
      val deadline = System.currentTimeMillis() + 30000
      while (!ids.containsKey("jobs-marker-b") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      ids.get("jobs-marker-b") - ids.get("jobs-marker-a") - 1
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // NANOS-annotated events files need this at scan planning; the
      // loader asserts it (Tables.load) rather than setting it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
