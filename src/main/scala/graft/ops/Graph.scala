package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the iterative-join workload class (label
  * propagation's spectral sibling; [[Dedup.dupClusters]] covers the
  * other one).
  *
  * Two regimes, one gate (`smallGraphMaxRows`, [[DriverLocal.MaxRows]] by
  * default):
  *   - at most that many edge rows and nodes: the rounds run on the
  *     driver over primitive arrays and the ranks re-enter the plan as a
  *     LocalRelation, with no per-round job;
  *   - past it: the distributed loop, one join of the rank frame against
  *     the edge list plus one aggregate on the destination key per round,
  *     `localCheckpoint` truncating the lineage so the plan never grows
  *     with the iteration count. The same bound, applied to the node
  *     count, decides whether the rank side carries a BROADCAST hint;
  *     without it the join shuffles both sides each round. AQE plans
  *     every round as the session has it set.
  * Either regime reads the edge pipeline once: a lazy checkpoint that the
  * size probe's job materializes.
  *
  * Fixed-point arithmetic (the oracle contract): ranks live as integer
  * "picorank" units (initial mass = 10¹² DIV n per node) and every
  * division is a floor DIV — identical in Spark, on the driver and in
  * DuckDB, so after any number of iterations the values match
  * bit-for-bit. A float PageRank accumulates summation-order error that a
  * 10-round iteration amplifies past any fixed rounding; deterministic
  * mass leak is the price of an exact cross-engine gate. Two leak sources,
  * both deterministic: floor division drops ≤ deg units per node per
  * round, and — this is the PageRank-WITHOUT-dangling-redistribution
  * variant — a sink node (deg = 0) simply drops its whole rank mass each
  * round rather than redistributing it uniformly. The oracle twin
  * implements the identical semantics, so results stay exact either way;
  * callers needing the mass-conserving textbook variant should add the
  * dangling term on both sides (or symmetrize the graph, as q84 does, so
  * sinks cannot exist).
  *
  * Update rule per round, damping d = `dampingPct`/100:
  *   contrib(v) = Σ_{u→v} rank(u) DIV deg(u)
  *   rank'(v)   = ((100−d)·(10¹² DIV n)) DIV 100 + (d·contrib(v)) DIV 100
  */
object Graph {

  val Unit: Long = 1000000000000L // 10^12 picorank = total initial mass

  /** Rounds between eager rank checkpoints in the distributed regime: each
    * one is a full materialization job, while a few-round linear plan is
    * still cheap to optimize. The last round always checkpoints. */
  private val CheckpointEvery = 5

  /** PageRank over directed `edges` (src, dst). Nodes = every endpoint.
    * Returns (node, rank) with rank in picorank units, in node order.
    * The driver regime needs the node count under the gate too (nodes can
    * reach twice the edge rows); an edge with a null endpoint keeps the
    * input on the distributed path. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               dampingPct: Int = 85,
               smallGraphMaxRows: Long = DriverLocal.MaxRows): DataFrame = {
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(eager = false)
    val small = DriverLocal.longColumns(Seq(e0), smallGraphMaxRows).flatMap {
      case Seq(Array(src, dst)) =>
        val nodes = DriverLocal.sortedDistinct(Array.concat(src, dst))
        if (nodes.length <= smallGraphMaxRows) Some((nodes, src, dst))
        else None
    }
    small match {
      case Some((nodes, src, dst)) =>
        dropCheckpoint(e0)
        localPageRank(edges.sparkSession, nodes, src, dst, iterations,
          dampingPct)
      case None =>
        distributedPageRank(e0, iterations, dampingPct, smallGraphMaxRows)
    }
  }

  /** The driver regime: the distributed update rule over dense indices
    * into the ascending `nodes`, with the overflow checks ANSI Spark
    * applies to the same Long expressions. */
  private def localPageRank(sess: SparkSession, nodes: Array[Long],
                            src: Array[Long], dst: Array[Long],
                            iterations: Int, dampingPct: Int): DataFrame = {
    val n = nodes.length
    require(n > 0, "pageRank needs a non-empty graph")
    val s = src.map(java.util.Arrays.binarySearch(nodes, _))
    val t = dst.map(java.util.Arrays.binarySearch(nodes, _))
    val deg = new Array[Long](n)
    s.foreach(u => deg(u) += 1)
    val init = Unit / n
    val base = ((100L - dampingPct) * init) / 100L
    val rank = Array.fill(n)(init)
    val c = new Array[Long](n)
    val contrib = new Array[Long](n)
    for (_ <- 1 to iterations) {
      var u = 0
      while (u < n) { c(u) = if (deg(u) > 0) rank(u) / deg(u) else 0L; u += 1 }
      java.util.Arrays.fill(contrib, 0L)
      var i = 0
      while (i < s.length) {
        contrib(t(i)) = Math.addExact(contrib(t(i)), c(s(i)))
        i += 1
      }
      var v = 0
      while (v < n) {
        rank(v) = Math.addExact(base,
          Math.multiplyExact(dampingPct.toLong, contrib(v)) / 100L)
        v += 1
      }
    }
    DriverLocal.longFrame(sess, Seq("node", "rank"), nodes, rank)
  }

  /** The distributed regime over the edge frame `e` (long `src`, `dst`;
    * [[pageRank]] passes its edge checkpoint, which the size probe has
    * materialized). `checkpoint = false` keeps the whole lineage, for the
    * plan specs. */
  private[ops] def distributedPageRank(e: DataFrame, iterations: Int,
                                       dampingPct: Int,
                                       broadcastMaxNodes: Long,
                                       checkpoint: Boolean = true): DataFrame = {
    // nodes + out-degrees in ONE shuffle: explode each edge into its two
    // endpoints with a source marker and sum the markers per node; the
    // checkpoint keeps the rounds from re-running it
    val nodesDeg = e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("d")),
        struct(col("dst").as("node"), lit(0L).as("d")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.d")).as("deg"))
      .localCheckpoint()
    val n = nodesDeg.count()
    require(n > 0, "pageRank needs a non-empty graph")
    // the measured node count decides the BROADCAST hint on the rank side
    // (24 B packed per row: ≤ ~48 MB at the 2M default)
    val hintBroadcastRanks = n <= broadcastMaxNodes
    val init = Unit / n
    val base = ((100L - dampingPct) * init) / 100L
    var ranks = nodesDeg.withColumn("rank", lit(init))
    for (i <- 1 to iterations) {
      // per-node contribution rank DIV deg on the ≤ n-row rank side, not
      // per joined edge row
      val rankSide = {
        val live = ranks.filter(col("deg") > 0)
          .select(col("node"), expr("rank div deg").as("c"))
        if (hintBroadcastRanks) live.hint("BROADCAST") else live
      }
      // ONE join + ONE aggregate per round: the per-edge contributions
      // union a zero row per node carrying that node's degree, and a
      // single groupBy(node) yields (Σ contrib, deg) together
      val edgeContrib = rankSide
        .join(e, rankSide("node") === e("src"))
        .select(col("dst").as("node"), col("c"),
          lit(null).cast("long").as("d"))
      val zeroRows = nodesDeg.select(col("node"), lit(0L).as("c"),
        col("deg").as("d"))
      ranks = edgeContrib.unionByName(zeroRows)
        .groupBy("node")
        .agg(sum("c").as("contrib"), max("d").as("deg"))
        .select(col("node"), col("deg"),
          expr(s"${base}L + (${dampingPct}L * contrib) div 100").as("rank"))
      // eager checkpoints truncate the lineage, so the plan never grows
      // with the iteration count
      if (checkpoint && (i % CheckpointEvery == 0 || i == iterations))
        ranks = ranks.localCheckpoint()
    }
    ranks.select("node", "rank").orderBy("node")
  }

  /** Frees the executor blocks behind the checkpoint frame `df` once
    * nothing reads it any more (the driver holds its rows, or a later
    * checkpoint copied it), instead of waiting for the RDD to be
    * garbage-collected. */
  private[ops] def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** The DuckDB twin: same fixed-point update, iterations unrolled as
    * chained CTEs (recursive CTEs restrict aggregation over the recursive
    * relation; unrolling sidesteps engine-specific recursion rules while
    * keeping every arithmetic step identical). `edgesSql` must yield
    * (src BIGINT, dst BIGINT). */
  def pageRankOracleSql(edgesSql: String, iterations: Int = 10,
                        dampingPct: Int = 85): String = {
    val d = dampingPct.toLong
    val head =
      s"""WITH e AS ($edgesSql),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |nd AS (SELECT n.node, coalesce(d.deg, 0) AS deg
         |       FROM nodes n LEFT JOIN deg d USING (node)),
         |consts AS (SELECT ${Unit} // count(*) AS init,
         |                  ((100 - $d) * (${Unit} // count(*))) // 100 AS base
         |           FROM nd),
         |r0 AS (SELECT node, deg, (SELECT init FROM consts) AS rank FROM nd)
         |""".stripMargin
    val iters = (1 to iterations).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT nd.node, nd.deg,
         |         (SELECT base FROM consts)
         |           + ($d * coalesce(c.contrib, 0)) // 100 AS rank
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.rank // p.deg) AS BIGINT) AS contrib
         |    FROM $prev p JOIN e ON p.node = e.src
         |    WHERE p.deg > 0 GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    head + "," + iters +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations ORDER BY node"
  }
}
