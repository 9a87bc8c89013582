package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one or more declared
  * queries, e.g. `sbt "runMain graft.Explain /root/testdata/sf0.01 filter_pred"`.
  * Used to audit pushdown (PushedFilters), broadcast choices and
  * WholeStageCodegen spans after each operator change.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.configure(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4"),
        4, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
