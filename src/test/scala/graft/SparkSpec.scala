package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), UTC, small
  * shuffle partitioning for local cores.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // mirror Sessions.local: keep bucket PRUNING for filter-only
    // plans (the auto-disable rule only considers join/agg needs)
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // fresh per-JVM warehouse: saveAsTable locations must not leak
    // across test runs (in-memory catalog forgets, directories don't)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    // mirror Sessions.local: fixture timestamp typing at the scan
    // (Tables.load no longer sets these as a side effect)
    .config(new org.apache.spark.SparkConf().setAll(graft.core.Tables.readerConfs))
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `action` runs (the listener bus is
    * asynchronous: drained by a short wait).
    */
  def countJobs(action: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try { action; Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}
