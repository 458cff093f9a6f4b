package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The small regime of the iterative operators: a frame under a row bound
  * is pulled to the driver once, worked on there, and handed back to the
  * plan as a LocalRelation — plan-local data with exact stats, which
  * downstream operators read with no executor job. */
private[graft] object DriverLocal {

  /** The shared row bound of the driver regime: pageRank's and
    * dupClusters' edge rows and each input of the retroactive sweep. */
  final val MaxRows: Long = 2000000L

  /** The BIGINT columns of each of `frames`, column by column, when every
    * frame has at most `bound` rows and no null cell; None when one has
    * more rows or a null (the caller keeps its distributed path for both).
    *
    * One job counts rows and nulls per partition over the union of the
    * frames' RDDs — on a lazily checkpointed frame that job is also the
    * checkpoint's materialization, so the probe costs no job of its own.
    * Only when every frame is under the bound does a second job ship the
    * values, packed into primitive arrays per partition; no `Row` object
    * is built. */
  def longColumns(frames: Seq[DataFrame],
                  bound: Long): Option[Seq[Array[Array[Long]]]] = {
    frames.foreach(df => require(df.schema.forall(_.dataType == LongType),
      s"longColumns needs BIGINT columns, got ${df.schema.simpleString}"))
    val sc = frames.head.sparkSession.sparkContext
    val widths = frames.map(_.schema.length)
    val rdds = frames.map(_.queryExecution.toRdd).zipWithIndex
    val counts = sc.union(rdds.map { case (rows, f) =>
      val k = widths(f)
      rows.mapPartitions { it =>
        var n = 0L
        var nulls = false
        it.foreach { r =>
          n += 1
          var j = 0
          while (j < k) { nulls ||= r.isNullAt(j); j += 1 }
        }
        Iterator((f, n, nulls))
      }
    }).collect()
    val totals = frames.indices.map(f => counts.filter(_._1 == f).map(_._2).sum)
    if (counts.exists(_._3) ||
      totals.exists(t => t > bound || t >= Int.MaxValue)) None
    else {
      val parts = sc.union(rdds.map { case (rows, f) =>
        val k = widths(f)
        rows.mapPartitions { it =>
          val cols = Array.fill(k)(new scala.collection.mutable.ArrayBuilder.ofLong)
          it.foreach { r =>
            var j = 0
            while (j < k) { cols(j) += r.getLong(j); j += 1 }
          }
          Iterator((f, cols.map(_.result())))
        }
      }).collect()
      Some(frames.indices.map { f =>
        val mine = parts.filter(_._1 == f).map(_._2)
        Array.tabulate(widths(f))(j => Array.concat(mine.map(_(j)).toSeq: _*))
      })
    }
  }

  /** `rows` with `schema` as a LocalRelation frame. */
  def localFrame(sess: SparkSession, schema: StructType,
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
    * index of a driver-local key set. */
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
