package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round aid: writes `.explain("formatted")` for every
  * `SparkEntry.queries` entry to `<outDir>/<name>_<suffix>.txt` so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: `sbt "runMain graft.PlanDump plans/r16 before [q84,q19]"`
  * (third arg = optional prefix filter, same semantics as
  * SPARK_GRAFT_ONLY in [[Bench]]). Reads SPARK_GRAFT_SF_DIR and
  * builds its session like the bench, so plans match what it times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r16"
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder("graft-plandump", Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    for ((name, fn) <- selected) {
      val qSession = spark.newSession()
      try {
        val df = fn(qSession, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(
          s"[plandump] $name FAILED: ${e.getMessage.take(200)}")
      }
      qSession.catalog.clearCache()
    }
    spark.stop()
  }
}
