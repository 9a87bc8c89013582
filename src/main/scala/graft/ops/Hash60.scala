package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** The engine's 60-bit content hash: the top 60 bits of a string's MD5 as
  * a BIGINT. [[apply]] is the native one-pass kernel `graft_h60`
  * (registered by [[Tables.t]] and by the library entry points); [[sql]]
  * is the same hash in the DuckDB oracle SQL.
  */
object Hash60 {
  def apply(c: Column): Column = call_function("graft_h60", c)

  /** DuckDB twin of [[apply]] over the SQL expression `e`. */
  def sql(e: String): String = s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** DuckDB twin of `shiftright(apply(c), 16)`: the hash's top 44 bits. */
  def sql44(e: String): String = s"('0x' || substr(md5($e), 1, 11))::BIGINT"
}
