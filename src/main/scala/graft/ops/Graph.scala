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
  *     LocalRelation — no per-round job, no session conf touched;
  *   - past it: the distributed loop, one join of the rank frame against
  *     the edge list plus one aggregate on the destination key per round,
  *     `localCheckpoint` truncating the lineage so the plan never grows
  *     with the iteration count. The same bound, applied to the node
  *     count, decides whether the rank side carries a BROADCAST hint.
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

  /** Session shuffle-partition bound under which the broadcast-pinned
    * distributed loop runs with AQE scoped off — above it, AQE's
    * coalescing of the per-round aggregate exchange outweighs its
    * re-planning cost (see the scope note in [[pageRank]]). */
  val AqeOffMaxLoopPartitions: Int = 16

  /** PageRank over directed `edges` (src, dst). Nodes = every endpoint.
    * Returns (node, rank) with rank in picorank units, in node order.
    * Every parameter after `dampingPct` shapes the distributed regime
    * only. The driver regime needs the node count under the gate too
    * (nodes can reach twice the edge rows); an edge with a null endpoint
    * keeps the input on the distributed path. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               dampingPct: Int = 85, checkpoint: Boolean = true,
               checkpointEvery: Int = 5, copartition: Boolean = true,
               smallGraphMaxRows: Long = DriverLocal.MaxRows,
               adaptiveWhilePinned: Boolean = false,
               dstPartitionLoop: Boolean = false): DataFrame = {
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
        distributedPageRank(e0, iterations, dampingPct, checkpoint,
          checkpointEvery, copartition, smallGraphMaxRows,
          adaptiveWhilePinned, dstPartitionLoop)
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

  /** The distributed regime over the materialized edge checkpoint `e0`. */
  private def distributedPageRank(e0: DataFrame, iterations: Int,
                                  dampingPct: Int, checkpoint: Boolean,
                                  checkpointEvery: Int, copartition: Boolean,
                                  broadcastMaxNodes: Long,
                                  adaptiveWhilePinned: Boolean,
                                  dstPartitionLoop: Boolean): DataFrame = {
    val sess = e0.sparkSession
    val parts = sess.sessionState.conf.numShufflePartitions
    // pin BOTH static frames to one hash partitioning up front — edges on
    // src, nodes on node — and every later checkpoint preserves it
    // (LogicalRDD carries outputPartitioning). Each iteration's rank⋈edges
    // join (node = src) is then co-partitioned, so where AQE can't just
    // broadcast the rank frame EnsureRequirements re-shuffles NEITHER
    // side per round — the only per-round exchange is the contrib
    // aggregate's, genuinely required (contributions regroup by
    // destination). Under AQE a plain localCheckpoint captures
    // UnknownPartitioning, so the keyed copies materialize through
    // [[checkpointKeepingPartitioning]]. dstPartitionLoop callers key the
    // edges by dst instead (the zero-exchange loop below); if the
    // broadcast gate then fails, a dst-keyed e costs the loop exactly
    // what the unkeyed copartition = false e does.
    val e =
      if (dstPartitionLoop)
        checkpointKeepingPartitioning(e0.repartition(parts, col("dst")))
      else if (copartition)
        checkpointKeepingPartitioning(e0.repartition(parts, col("src")))
      else e0
    if (e ne e0) dropCheckpoint(e0)
    // nodes + out-degrees in ONE shuffle: explode each edge into its two
    // endpoints with a source marker and sum the markers per node
    val nd0 = e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("d")),
        struct(col("dst").as("node"), lit(0L).as("d")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.d")).as("deg"))
    val nodesDeg =
      if (copartition || dstPartitionLoop)
        checkpointKeepingPartitioning(nd0.repartition(parts, col("node")))
      else nd0.localCheckpoint()
    val n = nodesDeg.count()
    require(n > 0, "pageRank needs a non-empty graph")
    // n is MEASURED before the loop, so the broadcast decision is
    // scale-true: a rank frame of ≤ `broadcastMaxNodes` rows (24 B packed
    // each — ≤ ~48 MB at the 2M default) gets an explicit BROADCAST hint
    // on the join's rank side, pinning the plan AQE would discover per
    // round anyway; past the bound the hint is withheld and the
    // co-partitioned exchange path serves.
    val hintBroadcastRanks = n <= broadcastMaxNodes
    // with the rank side BROADCAST, the per-round contrib aggregate is
    // the loop's only exchange, and it exists because the broadcast
    // join's output inherits the STREAMED side's partitioning — edges.
    // Keying the edge checkpoint by dst (the aggregate's key, alias-
    // tracked through `dst AS node`) makes the aggregate exchange-free,
    // and the rank' reattach becomes a co-partitioned SHUFFLE_HASH left
    // join against the by-node nodesDeg checkpoint: zero exchanges
    // between checkpoints. Broadcast regime only: past the node gate the
    // join needs e keyed by src, so the flag is ignored there.
    val dstLoop = dstPartitionLoop && hintBroadcastRanks
    // With the broadcast hint pinned AND a small shuffle-partition count,
    // AQE has nothing left to do per round — the join is pre-decided and
    // there are no partitions worth coalescing — so its per-stage re-plan
    // loop is pure driver overhead. The loop's materializations then run
    // with AQE DISABLED, scoped to this call and RESTORED after (the
    // returned frame and the caller's session see the original setting;
    // the loop's `i == iterations` checkpoint clause makes EVERY round
    // materialize inside the scope at any checkpointEvery). Past either
    // gate AQE keeps its duties (skew splits, coalescing) — never touched.
    // dstLoop widens the scope past the partition gate: its loop has no
    // exchange between checkpoints, so there is nothing to coalesce.
    val aqeKey = "spark.sql.adaptive.enabled"
    val scopeAqeOff = hintBroadcastRanks && !adaptiveWhilePinned &&
      (parts <= AqeOffMaxLoopPartitions || dstLoop) && checkpoint
    // The scope mutates a SESSION-GLOBAL conf: concurrent queries on the
    // same session lose AQE while the loop runs, and without
    // serialization two concurrent pageRank calls could interleave their
    // save/restore and leave AQE off permanently — the lock closes that
    // race. Past the gates nothing is touched and nothing locks.
    def runLoop(): DataFrame = {
    val init = Unit / n
    val base = ((100L - dampingPct) * init) / 100L
    var ranks = nodesDeg.withColumn("rank", lit(init))
    for (i <- 1 to iterations) {
      // per-node contribution rank DIV deg computed on the ≤n-row rank
      // side, not per joined edge row
      val rankSide = {
        val live = ranks.filter(col("deg") > 0)
          .select(col("node"), expr("rank div deg").as("c"))
        if (hintBroadcastRanks) live.hint("BROADCAST") else live
      }
      if (dstLoop) {
        // zero-exchange round: the contrib aggregate rides e's dst
        // partitioning through the broadcast join, and the reattach is a
        // co-partitioned hash join against the by-node degree checkpoint
        // — LEFT join + coalesce is the oracle's own formulation
        val contrib = rankSide
          .join(e, rankSide("node") === e("src"))
          .select(col("dst").as("node"), col("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        ranks = nodesDeg.join(contrib.hint("SHUFFLE_HASH"), Seq("node"), "left")
          .select(col("node"), col("deg"),
            expr(s"${base}L + (${dampingPct}L * coalesce(contrib, 0L)) div 100")
              .as("rank"))
      } else {
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
      }
      // truncate lineage every `checkpointEvery` rounds — each eager
      // localCheckpoint is a full materialization job, while a few-round
      // linear plan is still cheap to optimize. `checkpoint = false`
      // keeps the whole lineage for plan-audit specs.
      if (checkpoint && (i % checkpointEvery == 0 || i == iterations))
        ranks = ranks.localCheckpoint()
    }
    ranks.select("node", "rank").orderBy("node")
    }
    if (!scopeAqeOff) runLoop()
    else AqeScopeLock.synchronized {
      val aqeBefore = sess.conf.get(aqeKey)
      sess.conf.set(aqeKey, "false")
      try runLoop() finally sess.conf.set(aqeKey, aqeBefore)
    }
  }

  /** Serializes the AQE-off scope of concurrent [[pageRank]] calls (the
    * conf is session-global; see the scope note there). */
  private object AqeScopeLock

  /** Eager localCheckpoint that PRESERVES the frame's hash partitioning
    * in the resulting LogicalRDD. `Dataset.localCheckpoint` records
    * `executedPlan.outputPartitioning`, but under AQE the executed plan
    * is an AdaptiveSparkPlanExec — a leaf wrapper that never overrides
    * outputPartitioning, so the capture reads UnknownPartitioning and
    * every downstream co-partitioning claim silently dies (Spark 4.1).
    * Scoping AQE OFF around just this materialization makes
    * the capture see the real exchange. Same session-global-conf trade
    * as the loop scope — serialized on the same lock. */
  private[ops] def checkpointKeepingPartitioning(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    AqeScopeLock.synchronized {
      val key = "spark.sql.adaptive.enabled"
      val before = sess.conf.get(key)
      sess.conf.set(key, "false")
      try df.localCheckpoint() finally sess.conf.set(key, before)
    }
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
