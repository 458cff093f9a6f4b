package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

/** Schema-adaptive event-time normalization: every consumer in this repo
  * works on `ts` as an exact epoch-nanos LONG (double arithmetic at 1e18
  * scale loses sub-256ns precision past 2^53), but the testdata has shipped
  * `events.ts` both as parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS) NTZ.
  * This reader accepts all shapes and always yields the long.
  *
  * Conversion rules (all exact, all session-timezone-independent):
  *  - LONG (TIMESTAMP(NANOS), inferred under `nanosAsLong=true`): already
  *    nanos.
  *  - TIMESTAMP_NTZ (MICROS, `isAdjustedToUTC=0` — the current testdata):
  *    `timestampdiff(MICROSECOND, ntz-epoch, ts) * 1000`. NTZ−NTZ
  *    subtraction is pure wall-clock arithmetic, so no timezone enters;
  *    the wall clock is thereby pinned to mean UTC, matching DuckDB's
  *    naive-TIMESTAMP reading of the same file.
  *  - TIMESTAMP (UTC-adjusted): `unix_micros(ts) * 1000` — the instant is
  *    absolute, also tz-free.
  * Micros×1000 stays within 2^63 with ~292 years of headroom.
  */
object EventTime {

  /** Normalize an already-loaded frame's `tsCol` to epoch-nanos long. */
  def tsToNanos(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn(tsCol,
          expr(s"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', `$tsCol`)") * 1000L)
      case TimestampType =>
        df.withColumn(tsCol, unix_micros(col(tsCol)) * 1000L)
      case StringType =>
        // a regeneration could ship ISO wall-clock STRINGS; cast to NTZ
        // (tz-independent) and take the same exact micros path. ANSI mode
        // (on by default in Spark 4) makes an unparseable value THROW at
        // scan time — drift to a garbage format degrades loudly, never to
        // silent nulls
        df.withColumn(tsCol,
          expr(s"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', " +
            s"cast(`$tsCol` AS timestamp_ntz))") * 1000L)
      case dt =>
        throw new IllegalStateException(
          s"$tsCol has unsupported type $dt; expected long epoch-nanos, " +
            "a timestamp, or an ISO wall-clock string")
    }

  /** Read `$dir/events.parquet` with `ts` as epoch-nanos long, whatever the
    * file's physical encoding. `nanosAsLong` (a no-op for MICROS files,
    * required for NANOS ones) matters only at schema inference: the schema
    * is inferred in a child session that holds the flag, and the frame is
    * read with that schema on the caller's own session, whose conf is
    * never written. */
  def readNanos(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = graft.Session.child(spark,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true").read.parquet(path).schema
    tsToNanos(spark.read.schema(schema).parquet(path))
  }
}
