package graft.config

/** Typed engine configuration (SURVEY §2-A E3).
  *
  * The reference loads 12 dotenv vars, two with defaults
  * (reference main.py:20-41). Cloud-connector credentials are out of engine
  * scope (SURVEY E2 — connector config, not dataflow); the remaining knobs
  * map onto engine concepts:
  *
  *   GMAIL_QUERY                -> sourceGlob (pushdown predicate on the source listing)
  *   GCS_UNPROCESSED_PATH       -> inputDir (the polled "mailbox" directory)
  *   BIGQUERY_DATASET/TABLE     -> sinkDir (destination table path)
  *   BIGQUERY_BATCH_SIZE (500)  -> batchSize (default mirrored, main.py:40)
  *
  * NOTIFICATION_RECIPIENTS and HTTP_REQUEST_TIMEOUT (900, main.py:39) have
  * no engine counterpart: the engine makes no HTTP calls, and a notifier
  * takes its recipients when it is built (`LogNotifier(recipients)`).
  */
final case class GraftConfig(
    inputDir: String,
    sinkDir: String,
    errorsDir: String,
    checkpointDir: String,
    archiveDir: String,
    sourceGlob: String = "*",
    batchSize: Int = 500)

object GraftConfig {

  /** Build from an env-style map. Required keys fail fast naming the key —
    * the reference crashes on a missing required var the same way
    * (`os.getenv(...)` returning None explodes at first use).
    */
  def fromEnv(env: Map[String, String]): GraftConfig = {
    def req(k: String): String =
      env.getOrElse(k, throw new IllegalArgumentException(s"Missing required config: $k"))
    // numeric knobs fail fast naming the offending key: GRAFT_BATCH_SIZE=0
    // would otherwise surface as a null batch id (integer div by zero) deep
    // inside appendBatched instead of a clear config error
    def posInt(k: String, default: Int): Int = {
      val raw = env.getOrElse(k, default.toString)
      val v = try raw.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"Config $k must be an integer, got '$raw'")
      }
      if (v < 1) throw new IllegalArgumentException(s"Config $k must be >= 1, got $v")
      v
    }
    GraftConfig(
      inputDir = req("GRAFT_INPUT_DIR"),
      sinkDir = req("GRAFT_SINK_DIR"),
      errorsDir = req("GRAFT_ERRORS_DIR"),
      checkpointDir = req("GRAFT_CHECKPOINT_DIR"),
      archiveDir = req("GRAFT_ARCHIVE_DIR"),
      sourceGlob = env.getOrElse("GRAFT_SOURCE_GLOB", "*"),
      batchSize = posInt("GRAFT_BATCH_SIZE", 500))
  }
}
