package graft

import org.apache.spark.sql.SparkSession

/** The one place sessions are built and configured. Every main (and the
  * spec session) starts from [[builder]], so a setting the whole program
  * needs is written here once. No operator sets conf on a running session:
  * a query that needs a different setting runs in a [[child]]. */
object Session {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else the host's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder on `local[cpus]` with as many shuffle partitions, UTC
    * session time and no UI; callers chain their own settings on it. */
  def builder(appName: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A new session over `spark`'s context (shared cache) with
    * `settings` applied. Only this fresh session's conf is written, so
    * queries running in `spark` never see the settings. */
  def child(spark: SparkSession, settings: (String, String)*): SparkSession = {
    val s = spark.newSession()
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
