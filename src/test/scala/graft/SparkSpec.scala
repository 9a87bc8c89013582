package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the idiomatic deployment path for the native graft_* expressions —
      // ExpressionsSpec proves they resolve with NO in-session registration
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // let the context cleaner reclaim checkpoint files of GC'd frames
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // keep catalog-touching suites (JDBC dialects) from dropping a
      // spark-warehouse/ dir at the repo root (r26 verdict task 8)
      .config("spark.sql.warehouse.dir", tempDir("graft-test-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.checkpointScratch(s)
    s
  }

  /** A fresh temp dir that is deleted at JVM exit: every suite makes its
    * scratch dirs here, so a test run leaves nothing behind in the temp
    * root. Touching it does not start the session.
    */
  def tempDir(prefix: String): java.nio.file.Path = GraftSession.scratchDir(prefix)

  /** Spark jobs started on this thread while `body` runs, read by job group
    * after the listener bus drains, so a late job-start event is not missed.
    */
  def jobsOf(tag: String)(body: => Unit): Int = {
    val sc = session.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftTestHooks.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(tag).length
  }
}
