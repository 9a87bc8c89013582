package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict to named queries (dev iteration only;
    // the driver always runs the full surface)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // dev-only master override (driver never sets it): the multi-JVM
    // invariance pass runs the SAME surface under local-cluster[2,16,m]
    // so shuffle blocks, broadcasts, and TypedImperativeAggregate partial
    // states cross a real process/serialization boundary (local[n] keeps
    // everything in one JVM and never exercises those paths)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // derived AQE partition knobs — ONE shared code path with Bench (and
    // any embedder), so the correctness surface always runs the identical
    // plan regime the bench measures (rationale: [[GraftSession]])
    val spark = GraftSession.configure(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus),
      cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceBoundedWindowWarnings()
    // dev-only speculative-attempt counter (driver never sets it): the
    // speculation-determinism pass must prove duplicate attempts actually
    // RACED (a run where zero tasks were speculated proves nothing), and
    // the WARN log level above hides the scheduler's INFO marking lines —
    // so count launched speculative attempts from the listener bus and
    // print the total as the artifact's evidence channel.
    val specCount = new java.util.concurrent.atomic.AtomicLong
    if (sys.env.get("SPARK_GRAFT_COUNT_SPECULATIVE").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskStart(
              e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
            if (e.taskInfo.speculative) { specCount.incrementAndGet(); () }
        })
    GraftSession.checkpointScratch(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // drop per-query persisted intermediates: the SQL cache AND any
        // RDD-level localCheckpoint blocks (clearCache can't reach the latter)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (sys.env.get("SPARK_GRAFT_COUNT_SPECULATIVE").contains("1"))
      System.err.println(s"[verify] speculative_attempts=${specCount.get}")
    spark.stop()
  }
}
