package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import scala.jdk.CollectionConverters._

/** Table access for the engine's query surface.
  *
  * Each query receives `(SparkSession, sfDir)` and must read only from that
  * directory (driver contract, SparkEntry). A table is ONE parquet file,
  * `<sfDir>/<name>.parquet`; a directory at that path is an error naming
  * the path. Scans are plain parquet reads so Catalyst's pushdown/pruning
  * applies.
  *
  * The schema comes from the file's footer, read on the driver and
  * converted by Spark's own `ParquetFileFormat.readSchemaFromFooter` with a
  * converter built from the session's SQL conf (so `nanosAsLong`,
  * `inferTimestampNTZ`, `binaryAsString` and `int96AsTimestamp` apply
  * exactly as in Spark's inference), then handed to the reader. Spark's
  * own inference runs that same routine inside a one-task job; reading the
  * footer here takes that job off every table read. Nothing is kept
  * between calls: a local footer read costs about a millisecond, and a
  * cache would have to track file changes for no measurable gain.
  */
object Tables {
  /** A query function as declared in SparkEntry.queries. */
  type Q = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path reads through here, so this is the one place that
    // guarantees the native graft_* function registry (idempotent, a few
    // map inserts) — h60 and the near-dup kernels resolve inside any
    // query, including within higher-order-function lambda bodies
    graft.expressions.GraftFunctions.register(spark)
    if (name == "events") {
      // events.parquet has shipped with ts as either parquet TIMESTAMP(NANOS)
      // (which Spark's reader rejects outright — readable only via
      // spark.sql.legacy.parquet.nanosAsLong=true as a LONG of epoch-nanos)
      // or plain TIMESTAMP(MICROS) (directly readable). Branch on the
      // MATERIALIZED type: when nanos-as-long, rebuild a microsecond
      // TimestampType column with integer division (`div` keeps full
      // precision — `/` would route through double and corrupt epoch-nanos,
      // ~1.7e18 > 2^53); when already a timestamp, pass through untouched.
      // All entry points still set nanosAsLong=true at session build so the
      // nanos variant can't throw at construction; setting it here as a
      // side effect would leak session-global state and make query
      // construction order load-bearing.
      val raw = read(spark, s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // normalize to TimestampType (LTZ): every session here pins UTC,
          // so the cast is value-identical to DuckDB's naive reading, and
          // downstream query code sees ONE timestamp type either way
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw // already TimestampType
      }
    } else read(spark, s"$sfDir/$name.parquet")
  }

  /** Row count of table `name`, summed over its footer's row groups: a
    * driver-side read that launches no job.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val file = new Path(s"$sfDir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    ParquetFileReader.readFooter(conf, file.getFileSystem(conf).getFileStatus(file), NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum
  }

  /** One parquet file read with its footer schema, resolved on the driver. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val file = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val status = file.getFileSystem(conf).getFileStatus(file)
    require(status.isFile, s"table $path is a directory; a table is one parquet file")
    val footer = ParquetFileReader.readFooter(conf, status, SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** A pack couples each Spark query with its DuckDB oracle SQL so the two
    * stay reviewable side by side (oracle parity is the correctness gate).
    */
  trait Pack {
    def queries: Map[String, Q]
    def oracles: Map[String, String]
  }
}
