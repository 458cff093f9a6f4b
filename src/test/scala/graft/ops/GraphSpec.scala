package graft.ops

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: symmetric star — hub outranks leaves, leaves tie") {
    // star: 0 — {1,2,3,4}, symmetrized
    val edges = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L)))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 10)
      .as[(Long, Long)].collect().toMap
    assert(ranks.keySet === Set(0L, 1L, 2L, 3L, 4L))
    val leaves = (1L to 4L).map(ranks)
    assert(leaves.distinct.size === 1, "leaves must tie exactly")
    assert(ranks(0L) > leaves.head * 2,
      s"hub ${ranks(0L)} should clearly outrank a leaf ${leaves.head}")
  }

  test("pageRank: regular graph is the uniform fixed point (exact)") {
    // 4-cycle, symmetrized: every node deg 2 — rank stays at init
    // forever because contrib(v) = 2 * (init DIV 2) = init, so
    // rank' = 15%·init + 85%·init = init (modulo exact floor arithmetic)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 5)
      .as[(Long, Long)].collect().toMap
    val init = Graph.Unit / 4
    assert(ranks.values.toSet === Set(init))
  }

  test("pageRank: mass is conserved up to deterministic floor leak") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (3L, 0L),
      (0L, 3L)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 10)
      .as[(Long, Long)].collect()
    val total = ranks.map(_._2).sum
    // each round each node can leak < deg units to DIV plus < 1 to the
    // two /100 steps; 10 rounds x 4 nodes x small degs ≪ 1000 units
    assert(total <= Graph.Unit && total > Graph.Unit - 1000,
      s"total mass $total drifted")
  }

  test("pageRank plan: iteration is join + hash aggregate, no window, " +
    "no cartesian") {
    // the distributed round, whole lineage kept: unhinted (2 nodes past
    // gate 0) and hinted (the symmetrized triangle's 3 nodes at gate 3)
    val pair = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val triangle = Seq((0L, 1L), (1L, 2L), (2L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    Seq(pair -> 0L, triangle -> 3L).foreach { case (edges, gate) =>
      val plan = Graph.distributedPageRank(edges, iterations = 1,
          dampingPct = 85, broadcastMaxNodes = gate, checkpoint = false)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("Window"))
      assert(plan.contains("HashAggregate"),
        s"contrib rollup should be a hash aggregate:\n$plan")
    }
  }

  test("pageRank: n-gated broadcast hint — in-gate graphs pin the " +
    "broadcast join up front, past-the-gate graphs withhold it, ranks " +
    "identical") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    def initialPlan(gate: Long): String =
      Graph.distributedPageRank(edges, iterations = 1, dampingPct = 85,
          broadcastMaxNodes = gate, checkpoint = false)
        .queryExecution.executedPlan.toString
    // gate 3: the 3 nodes are within it (hint fires), so the INITIAL plan
    // (pre-AQE) of the distributed round already
    // carries the broadcast join with the RANK side as the build
    // (BuildLeft — rankSide is the join's left). The negative side can't
    // assert "no broadcast" on spec-sized frames: the planner
    // auto-broadcasts ANY side under autoBroadcastJoinThreshold — but
    // unhinted it picks by size estimate (the edges LocalRelation,
    // BuildRight here), so the build side is the observable hint effect.
    val hintedPlan = initialPlan(3L)
    assert(hintedPlan.contains("BroadcastHashJoin") &&
      hintedPlan.contains("BuildLeft"), s"rank side not pinned:\n$hintedPlan")
    // scope the negative gate to the rank-side join NODE (the hash-join
    // line keyed on src), not the whole plan string — an unrelated future
    // BuildLeft join elsewhere in the plan must not flip this (r11 ADVICE)
    val unhintedJoins = initialPlan(0L).linesIterator
      .filter(l => l.contains("HashJoin") && l.contains("src")).toSeq
    assert(unhintedJoins.nonEmpty &&
      unhintedJoins.forall(!_.contains("BuildLeft")),
      s"past-the-gate rank join should not build left:\n$unhintedJoins")
    // public entry: the 6 edges pass gate 3, so both calls run distributed
    val hinted = Graph.pageRank(edges, iterations = 5, smallGraphMaxRows = 3L)
      .as[(Long, Long)].collect().toSeq.sorted
    val unhinted = Graph.pageRank(edges, iterations = 5,
        smallGraphMaxRows = 0L)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(hinted === unhinted)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  test("distributed pageRank and dupClusters leave the session conf " +
    "alone: no conf change, no job run with AQE switched off") {
    val triangle = Seq((0L, 1L), (1L, 2L), (2L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 1L))
      .toDF("id_a", "id_b")
    // pageRank: 6 edges past gates 3 and 0, the 3 nodes hinted at gate 3
    // only; dupClusters: 8 symmetrized edges past gates 6 and 0, the 6
    // nodes hinted at gate 6 only
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank, hinted" -> (() =>
        Graph.pageRank(triangle, iterations = 4, smallGraphMaxRows = 3L)),
      "pageRank, unhinted" -> (() =>
        Graph.pageRank(triangle, iterations = 4, smallGraphMaxRows = 0L)),
      "dupClusters, hinted" -> (() =>
        Dedup.dupClusters(pairs, smallGraphMaxRows = 6L)),
      "dupClusters, unhinted" -> (() =>
        Dedup.dupClusters(pairs, smallGraphMaxRows = 0L)))
    calls.foreach { case (name, call) =>
      val before = spark.conf.getAll
      val (df, starts) = jobStartsOf {
        val df = call()
        df.collect()
        df
      }
      assert(!isLocal(df), name)
      assert(spark.conf.getAll === before, name)
      val aqeOff = starts.count(s => Option(s.properties)
        .exists(_.getProperty("spark.sql.adaptive.enabled") == "false"))
      assert(starts.nonEmpty, name)
      assert(aqeOff === 0,
        s"$name: $aqeOff of ${starts.size} jobs ran with AQE off")
    }
  }

  test("pageRank: the driver-local regime equals the distributed regime " +
    "bit for bit") {
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val rnd = new scala.util.Random(84)
    // duplicate edges, self-loops, sink nodes, negative and wide ids
    val multigraph = Seq.fill(300)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq((5L, 5L), (5L, 5L), (7L, 9L), (7L, 9L), (-3L, 1L << 40))
    val graphs = Seq(
      "star" -> sym((1L to 4L).map(i => (0L, i))),
      "4-cycle" -> sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))),
      "mass-leak" -> Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (3L, 0L),
        (0L, 3L)),
      "random multigraph" -> multigraph)
    val shapes = graphs.map { case (g, es) => (g, es, 10, 85) } ++
      Seq(("random multigraph", multigraph, 3, 50),
        ("random multigraph", multigraph, 0, 85))
    shapes.foreach { case (g, es, iterations, damping) =>
      val edges = es.toDF("src", "dst")
      val local = Graph.pageRank(edges, iterations, damping)
      val distributed = Graph.pageRank(edges, iterations, damping,
        smallGraphMaxRows = 0L)
      assert(isLocal(local) && !isLocal(distributed), g)
      // both regimes return the rows in node order
      assert(local.as[(Long, Long)].collect().toSeq ===
        distributed.as[(Long, Long)].collect().toSeq,
        s"$g, $iterations rounds, d=$damping")
    }
  }

  test("pageRank: more nodes than the gate keeps the distributed path " +
    "even when the edges fit") {
    // 2 edges, 4 nodes: gate 3 admits the edges but not the nodes
    val edges = Seq((0L, 1L), (2L, 3L)).toDF("src", "dst")
    val gated = Graph.pageRank(edges, iterations = 3, smallGraphMaxRows = 3L)
    val local = Graph.pageRank(edges, iterations = 3)
    assert(!isLocal(gated) && isLocal(local))
    assert(gated.as[(Long, Long)].collect().toSeq ===
      local.as[(Long, Long)].collect().toSeq)
  }

  test("pageRank: an edge with a null endpoint keeps the distributed " +
    "answer") {
    val edges = Seq[(java.lang.Long, java.lang.Long)]((0L, 1L), (1L, 0L),
      (1L, 2L), (2L, 1L), (2L, null), (null, 0L)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 4)
    assert(!isLocal(ranks))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), r.getLong(1))).toSeq
    assert(rows(ranks) === rows(
      Graph.pageRank(edges, iterations = 4, smallGraphMaxRows = 0L)))
    assert(rows(ranks) === NullEndpointRanks)
  }

  /** The distributed answer for the null-endpoint spec's graph, as the
    * default loop shape gives it: the null endpoint is a node, edges into
    * it carry rank, edges out of it none. */
  private val NullEndpointRanks = Seq[(Option[Any], Long)](
    (None, 93316113281L), (Some(0L), 155801074218L),
    (Some(1L), 204948339843L), (Some(2L), 155801074218L))
}

