package graft.ingest

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JDBC twin of [[Sink]] — the one connector class whose production shape
  * actually matches the reference's sink: the reference appends rows over
  * a row-batched RPC (`/root/reference/main.py:448-468`, batches of 5000
  * through an insert API), and Spark's built-in JDBC writer is the public
  * equivalent (executor-side `PreparedStatement.addBatch` slices governed
  * by the `batchsize` option — a real wire-batched append, unlike the
  * all-or-nothing file committer).
  *
  * Three surfaces, mirroring the parquet twin one-for-one:
  *   - [[tableExists]] / [[init]]: the C2 precondition — the reference
  *     refuses to auto-create the destination (`main.py:416-430`), so
  *     existence is a metadata probe and creation is an explicit step.
  *   - [[appendBatched]]: the C3 partial-success loop — slicing, batch
  *     isolation and accounting are [[Sink.appendBatched]]'s (shared code,
  *     not a copy), through its caller-supplied writer: one JDBC append
  *     per slice, since a slice's transaction cannot be staged and renamed
  *     the way the parquet default publishes its slices. A batch that
  *     violates a table constraint records its error and the loop
  *     continues; the file is a success iff ≥1 row landed.
  *   - [[writeBatchIdempotent]]: the exactly-once upsert for REPLAYED
  *     micro-batches. A transactional sink admits a stronger recipe than
  *     the parquet twin's directory overwrite: DELETE the batch's prior
  *     rows by `batch_id`, then re-append — a crash anywhere in the
  *     window re-runs both steps and converges, because Structured
  *     Streaming guarantees a batchId always carries the same rows.
  *
  * Scale: the writer is executor-parallel (one connection per partition,
  * `batchsize`-row wire batches); nothing but batch ids crosses the
  * driver. Embedded Derby backs the spec (`SinkJdbcSpec`) because it is
  * the one JDBC engine on the offline classpath; the code path is the
  * generic `format("jdbc")` one every production RDBMS sink uses.
  */
object SinkJdbc {

  /** C2: does `table` exist behind `url`? Pure JDBC metadata probe. */
  def tableExists(url: String, table: String): Boolean = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
      try rs.next() finally rs.close()
    } finally conn.close()
  }

  /** Explicit sink creation — DDL is engine-specific, so the caller
    * supplies the column clause (e.g. `"v INT NOT NULL, s VARCHAR(64)"`).
    */
  def init(url: String, table: String, columnsSql: String): Unit =
    exec(url, s"CREATE TABLE $table ($columnsSql)")

  /** One driver-side statement (DDL / DELETE); connection-per-call keeps
    * this a control-plane helper, never a row path.
    */
  def exec(url: String, sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try { val st = conn.createStatement(); try st.executeUpdate(sql): Unit finally st.close() }
    finally conn.close()
  }

  /** C3 over JDBC: [[Sink.appendBatched]]'s slicing + accounting with the
    * per-batch writer swapped for Spark's wire-batched JDBC append.
    */
  def appendBatched(
      clean: DataFrame,
      url: String,
      table: String,
      batchSize: Int,
      jdbcBatchSize: Int = 1000): Sink.BatchedWriteResult =
    Sink.appendBatched(clean, path = table, batchSize, Some { (df, _) =>
      df.write.mode("append").format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("batchsize", jdbcBatchSize.toString).save()
    })

  /** Exactly-once micro-batch upsert: delete-then-append keyed by
    * `batch_id`. Safe under replay (both steps re-run, same end state);
    * the appended frame carries `batch_id` as a column so the delete key
    * and the data live in the same table.
    */
  def writeBatchIdempotent(df: DataFrame, url: String, table: String, batchId: Long,
      jdbcBatchSize: Int = 1000): Unit = {
    exec(url, s"DELETE FROM $table WHERE batch_id = $batchId")
    df.withColumn("batch_id", lit(batchId))
      .write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", jdbcBatchSize.toString).save()
  }
}
