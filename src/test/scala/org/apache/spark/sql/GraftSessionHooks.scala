package org.apache.spark.sql

/** Test-only shim into `private[sql]` surface (see
  * [[org.apache.spark.GraftTestHooks]] for the trick): the options a
  * session's builder set. A session built beside the shared test session
  * inherits that session's SparkContext conf, so its runtime conf cannot
  * tell what the builder itself set; these options can.
  */
object GraftSessionHooks {
  def builderOptions(s: SparkSession): Map[String, String] =
    s.asInstanceOf[classic.SparkSession].initialSessionOptions
}
