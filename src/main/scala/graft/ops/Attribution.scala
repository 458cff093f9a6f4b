package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch marketing attribution over an event stream: for every
  * conversion, find the same user's touch events inside a lookback window
  * and split the conversion's revenue across them under the three standard
  * credit models (first-touch, last-touch, linear), rolled up per channel.
  *
  * Reference scope: the reference engine's event queries stop at windowed
  * counts (its attribution-window join is the q43 shape); credit
  * allocation is a north-star extension in the SURVEY §8 sense.
  *
  * Scale shape (the design constraint, not an afterthought):
  *  - ONE shuffle joins conversions to touches on the user key; the range
  *    predicate (`touch.ts ∈ [conv.ts − lookback, conv.ts)`) rides the
  *    hash equi-join as a post-join filter, never a nested loop.
  *  - The three credit windows all partition by the conversion id, so
  *    they share ONE further shuffle (Spark plans a single Exchange +
  *    Sort for all of them).
  *  - The pair fan-out is bounded by (touches per user per lookback) ×
  *    (conversions per user) — a product of per-user densities, not
  *    corpus size. Heavy users are the skew risk; the join key is
  *    user_id, so AQE skew-join splitting applies directly.
  *  - All money flows as exact integers (cents / floor-divided
  *    micro-cents), so the rollup is engine-portable bit-for-bit: no
  *    float summation order can flip the oracle hash.
  *
  * Credit semantics (deterministic, oracle-mirrored):
  *  - touches strictly BEFORE the conversion (`ts < conv_ts`) and within
  *    `lookback` of it; conversions with zero touches earn no rows.
  *  - first/last pick the min/max (ts, event_id) touch — the id tie-break
  *    makes same-timestamp touches deterministic.
  *  - linear gives each touch `floor(cents·10⁴ / k)` micro-cents (k =
  *    touches for that conversion); floor division is identical in both
  *    engines, so the deterministic sub-micro-cent remainder loss is too.
  */
object Attribution {

  /** Per-channel attribution rollup.
    *
    * @param events   event stream with `idCol`, `userCol`, `tsCol` (epoch-
    *                 nanos long), `typeCol`, `valueCol` (money, double)
    * @param convType event type that counts as a conversion
    * @param touchTypes event types that may earn credit
    * @param lookbackNanos attribution window size
    * @return (channel, n_touches, first_touch_cents, last_touch_cents,
    *         linear_microcents) sorted by channel
    */
  def byChannel(events: DataFrame, idCol: String, userCol: String,
                tsCol: String, typeCol: String, valueCol: String,
                convType: String, touchTypes: Seq[String],
                lookbackNanos: Long): DataFrame = {
    val conv = events.filter(col(typeCol) === convType)
      .select(col(idCol).as("conv_id"), col(userCol).as("u"),
        col(tsCol).as("conv_ts"),
        // exact money: Σ floor(x·100) as BIGINT cents (same rule as the
        // repo-wide cents() helper and the oracle's CAST(floor(v*100)))
        floor(col(valueCol) * 100).cast("long").as("cents"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("u"), col(typeCol).as("channel"),
        col(tsCol).as("touch_ts"), col(idCol).as("touch_id"))
    val joined = conv.join(touch, Seq("u"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - lookbackNanos)
    creditRollup(joined)
  }

  /** Credit math over materialized (conversion, touch) pairs, kept apart
    * from the interval join above so all three credit models read one
    * set of pairs. `pairs` needs conv_id, cents, channel, touch_ts (any
    * ordered type), touch_id. */
  private def creditRollup(pairs: DataFrame): DataFrame = {
    // one partitioning serves all three models — and ONE window SORT
    // (r16): the former descending `last` window re-sorted every
    // conversion's touches a second time, but last-touch is just
    // rf == k under the (touch_ts, touch_id) order. The rewrite is
    // exactly the row the descending window picked BECAUSE touch_id is
    // the event id and unique, which makes (touch_ts, touch_id) a TOTAL
    // order — that uniqueness is the contract here. (At a hypothetical
    // exact (ts, id) duplicate, tied rows could carry different channels
    // and either order is an arbitrary pick — same arbitrariness as the
    // old desc window and the oracle's row_number, not an invariance.)
    val byConv = Window.partitionBy("conv_id")
    val first = Window.partitionBy("conv_id")
      .orderBy(col("touch_ts"), col("touch_id"))
    pairs
      .withColumn("k", count(lit(1)).over(byConv))
      .withColumn("rf", row_number().over(first))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_touches"),
        sum(when(col("rf") === 1, col("cents")).otherwise(0L))
          .as("first_touch_cents"),
        sum(when(col("rf") === col("k"), col("cents")).otherwise(0L))
          .as("last_touch_cents"),
        sum(expr("cents * 10000 div k")).as("linear_microcents"))
      .orderBy("channel")
  }
}
