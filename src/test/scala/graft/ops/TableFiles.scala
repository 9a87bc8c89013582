package graft.ops

import graft.SparkSpec
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame

/** Writes a test table in the layout [[Tables.t]] reads: ONE parquet file
  * `<sfDir>/<name>.parquet`. Spark's writer makes a directory of part
  * files, so the frame is written as one part into a staging directory and
  * that part is moved into place. `options` go to the parquet writer
  * (e.g. `parquet.block.size` for a file of many row groups).
  */
object TableFiles {
  implicit class TableWriter(private val df: DataFrame) extends AnyVal {
    def writeTable(sfDir: String, name: String,
        options: Map[String, String] = Map.empty): Unit = {
      val stage = SparkSpec.tempDir("graft-table")
      val out = stage.resolve("out")
      df.coalesce(1).write.options(options).parquet(out.toString)
      val parts = out.toFile.listFiles().filter { f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")
      }
      require(parts.length == 1, s"expected one part file in $out, got ${parts.length}")
      val target = Paths.get(sfDir, s"$name.parquet")
      Files.createDirectories(target.getParent)
      Files.move(parts.head.toPath, target, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }
}
