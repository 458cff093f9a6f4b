package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** S8 — one output file per row. Not a native DataFrame write mode, so it is
  * a `foreachPartition` sink (executor-side IO, outside the planner —
  * SURVEY.md §2.1 S8/S10/S12/S14). Paths must be visible to every executor
  * (local FS in local mode; a shared mount/DFS on a cluster).
  */
object DocSink {

  /** Write `textCol` of each row to `dir/<filenameCol>` (UTF-8). */
  def writeTextFiles(df: DataFrame, dir: String,
                     filenameCol: String = "filename",
                     textCol: String = "text"): Unit =
    writeFiles(df, dir, Seq(filenameCol -> textCol))

  /** Write every `(name column, content column)` pair of each row to
    * `dir/<name>` in one `foreachPartition` pass (one job). Binary content
    * is written as is, string content as UTF-8; a pair with a null name or
    * null content writes nothing. */
  def writeFiles(df: DataFrame, dir: String,
                 files: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val n = files.size
    df.select(files.flatMap { case (name, c) => Seq(col(name), col(c)) }: _*)
      .foreachPartition { rows: Iterator[Row] =>
        rows.foreach { r =>
          for (i <- 0 until n) {
            val bytes = r.get(2 * i + 1) match {
              case b: Array[Byte] => b
              case s: String => s.getBytes(UTF_8)
              case null => null
            }
            val name = r.getString(2 * i)
            if (name != null && bytes != null)
              Files.write(Paths.get(dir, name), bytes)
          }
        }
      }
  }
}
