package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The small regime of the iterative operators: a frame under a row bound
  * is pulled to the driver once, worked on there, and handed back to the
  * plan as a LocalRelation — plan-local data with exact stats, which
  * downstream operators read with no executor job. */
private[graft] object DriverLocal {

  /** The BIGINT columns of `df`, column by column, when it has at most
    * `bound` rows and no null cell; None when it has more rows or a null
    * (the caller keeps its distributed path for both).
    *
    * One job counts rows and nulls per partition — on a lazily
    * checkpointed frame that job is also the checkpoint's
    * materialization, so the probe costs no job of its own. Only under
    * the bound does a second job ship the values, packed into primitive
    * arrays per partition; no `Row` object is built. */
  def longColumns(df: DataFrame, bound: Long): Option[Array[Array[Long]]] = {
    require(df.schema.forall(_.dataType == LongType),
      s"longColumns needs BIGINT columns, got ${df.schema.simpleString}")
    val k = df.schema.length
    val rows = df.queryExecution.toRdd
    val counts = rows.mapPartitions { it =>
      var n = 0L
      var nulls = false
      it.foreach { r =>
        n += 1
        var j = 0
        while (j < k) { nulls ||= r.isNullAt(j); j += 1 }
      }
      Iterator((n, nulls))
    }.collect()
    val total = counts.map(_._1).sum
    if (counts.exists(_._2) || total > bound || total >= Int.MaxValue) None
    else {
      val parts = rows.mapPartitions { it =>
        val cols = Array.fill(k)(new scala.collection.mutable.ArrayBuilder.ofLong)
        it.foreach { r =>
          var j = 0
          while (j < k) { cols(j) += r.getLong(j); j += 1 }
        }
        Iterator(cols.map(_.result()))
      }.collect()
      Some(Array.tabulate(k)(j => Array.concat(parts.map(_(j)).toSeq: _*)))
    }
  }

  /** `rows` with `schema` as a LocalRelation frame. */
  private def localFrame(sess: SparkSession, schema: StructType,
                         rows: Seq[Row]): DataFrame =
    sess.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A bounded frame collected into a LocalRelation. Caller guarantees
    * the bound (a charset, a label set — never a corpus). */
  def localFrame(df: DataFrame): DataFrame =
    localFrame(df.sparkSession, df.schema, df.collect().toSeq)

  /** Equal-length primitive columns as a non-null BIGINT LocalRelation. */
  def longFrame(sess: SparkSession, names: Seq[String],
                cols: Array[Long]*): DataFrame = {
    val schema = StructType(names.map(StructField(_, LongType, nullable = false)))
    localFrame(sess, schema,
      cols.head.indices.map(i => Row.fromSeq(cols.map(_(i)))))
  }

  /** Ascending distinct values of `xs` (sorts `xs` in place) — the dense
    * node index of a driver-local graph. */
  def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var m = 0
    var i = 0
    while (i < xs.length) {
      if (m == 0 || xs(i) != xs(m - 1)) { xs(m) = xs(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, m)
  }
}
