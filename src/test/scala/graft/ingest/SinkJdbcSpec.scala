package graft.ingest


import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** JDBC sink twin against embedded Derby (the one JDBC engine on the
  * offline classpath): C2 existence probe, C3 partial-success append with
  * a REAL constraint-violating batch (not an injected lambda failure),
  * and the delete-then-append exactly-once replay recipe.
  */
class SinkJdbcSpec extends AnyFunSuite with SparkSpec {

  private def freshDb(name: String): String = {
    val dir = SparkSpec.tempDir(name).resolve("db")
    s"jdbc:derby:$dir;create=true"
  }

  private def countRows(url: String, table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  test("C2: tableExists false before init, true after") {
    val url = freshDb("jdbc_c2")
    assert(!SinkJdbc.tableExists(url, "dest"))
    SinkJdbc.init(url, "dest", "v INT NOT NULL, s VARCHAR(64)")
    assert(SinkJdbc.tableExists(url, "dest"))
  }

  test("C3: appendBatched lands all rows through the wire-batched writer") {
    import spark.implicits._
    val url = freshDb("jdbc_c3")
    SinkJdbc.init(url, "dest", "v INT NOT NULL")
    val res = SinkJdbc.appendBatched((1 to 10).toDF("v"), url, "dest", batchSize = 3)
    assert(res.insertedRows == 10)
    assert(res.attemptedBatches == 4) // ceil(10/3)
    assert(res.batchErrors.isEmpty)
    assert(countRows(url, "dest") == 10)
    // and Spark can read its own sink back
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "dest").load()
    assert(back.count() == 10)
  }

  test("C3: a constraint-violating batch fails alone; the rest lands (partial success)") {
    import spark.implicits._
    val url = freshDb("jdbc_part")
    SinkJdbc.init(url, "dest", "v INT NOT NULL CHECK (v < 100)")
    // one partition so monotonic ids slice deterministically: batches
    // [1,2,3] [4,5,999] [7,8] — the middle batch violates the CHECK
    val df = Seq(1, 2, 3, 4, 5, 999, 7, 8).toDF("v").coalesce(1)
    val res = SinkJdbc.appendBatched(df, url, "dest", batchSize = 3)
    assert(res.attemptedBatches == 3)
    assert(res.batchErrors.size == 1)
    assert(res.batchErrors.head.contains("Batch 2"))
    // the reference's rule: the file succeeds iff >= 1 row landed
    assert(res.insertedRows == 5)
    assert(countRows(url, "dest") == 5)
  }

  test("chaos restart into Derby: crash in the at-least-once window loses nothing, dups nothing") {
    // StreamingPrepSpec's chaos recipe pointed at the TRANSACTIONAL sink:
    // DocGen micro-batch source (restart-safe offsets) -> foreachBatch ->
    // SinkJdbc.writeBatchIdempotent (delete-then-append by batch_id). The
    // injected failure fires AFTER batch 1's rows landed in Derby but
    // BEFORE the engine committed the offset — restart replays batch 1
    // with the same id and data, the delete absorbs the prior copy, and
    // the final table equals the batch-mode truth.
    import graft.sources.DocGenSource
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.functions._
    val url = freshDb("jdbc_chaos")
    SinkJdbc.init(url, "sink", "doc_id BIGINT NOT NULL, batch_id BIGINT NOT NULL")
    val ckpt = SparkSpec.tempDir("jdbc-chaos-ckpt").toString
    val want = spark.read.format(classOf[DocGenSource].getName)
      .option("rows", "300").option("partitions", "2").load()
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def runQuery(): Unit = {
      val sinkFn: (Dataset[Row], Long) => Unit = { (df, id) =>
        SinkJdbc.writeBatchIdempotent(df.toDF(), url, "sink", id)
        if (id == 1 && crashArmed.getAndSet(false))
          throw new RuntimeException("chaos: crash after sink write, before commit")
      }
      val q = spark.readStream.format(classOf[DocGenSource].getName)
        .option("rows", "300").option("partitions", "2")
        .option("rowsPerBatch", "120").load()
        .select("doc_id")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(sinkFn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException](runQuery())
    assert(boom.getMessage.contains("chaos"), boom.getMessage)
    val conn0 = java.sql.DriverManager.getConnection(url)
    val orphan = try {
      val rs = conn0.createStatement()
        .executeQuery("SELECT count(*) FROM sink WHERE batch_id = 1")
      rs.next(); rs.getLong(1)
    } finally conn0.close()
    assert(orphan > 0, "premise: Derby DID receive the batch the checkpoint never committed")

    runQuery() // restart from the same checkpoint; crash disarmed
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "sink").load()
      .select("doc_id").collect().map(_.getLong(0))
    assert(back.length == back.distinct.length,
      "replayed batch must DELETE its prior rows, not append a second copy")
    assert(back.toSet == want, "post-restart table must equal the batch-mode truth")
  }

  test("idempotent replay: delete-then-append converges under batch re-delivery") {
    import spark.implicits._
    val url = freshDb("jdbc_idem")
    SinkJdbc.init(url, "sink", "v INT NOT NULL, batch_id BIGINT NOT NULL")
    SinkJdbc.writeBatchIdempotent(Seq(1, 2, 3).toDF("v"), url, "sink", batchId = 7)
    // crash-and-replay of batch 7 (same rows, per the streaming contract)
    SinkJdbc.writeBatchIdempotent(Seq(1, 2, 3).toDF("v"), url, "sink", batchId = 7)
    // a different batch appends alongside
    SinkJdbc.writeBatchIdempotent(Seq(9).toDF("v"), url, "sink", batchId = 8)
    assert(countRows(url, "sink") == 4)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT count(*) FROM sink WHERE batch_id = 7")
      rs.next(); assert(rs.getLong(1) == 3)
    } finally conn.close()
  }
}
