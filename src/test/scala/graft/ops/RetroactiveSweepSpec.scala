package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The retroactive-coverage sweep — the incremental span-dedup lane's
  * other lambda half: accumulated increments can push BASE shingles over
  * the threshold, and the cadenced sweep must recompute exactly the
  * affected base docs' spans from the persisted positions index (never
  * re-shingling base text), such that
  * kept-prior ∪ sweep ∪ incremental == full batch recompute. Both
  * regimes are pinned: the driver-local one the public forms take on
  * these inputs, and the distributed one behind the row gate. */
class RetroactiveSweepSpec extends SparkSpec {
  import spark.implicits._

  /** A pair-form sweep: (positions, prevOcc, curOcc, n) → spans. */
  private type Sweep = (DataFrame, DataFrame, DataFrame, Int) => DataFrame
  private val regimes: Seq[(String, Sweep)] = Seq(
    "driver-local" ->
      ((p, a, b, n) => Dedup.retroactiveSpanSweep(p, a, b, n = n)),
    "distributed" ->
      ((p, a, b, n) => Dedup.sweepDistributed(p, a, b, n = n)))

  private val P = "p1 p2 p3 p4 p5" // covered ALREADY in base (3 docs)
  private val Q = "q1 q2 q3 q4 q5" // crosses via increment doc 11
  private val S = "s1 s2 s3 s4 s5" // crosses via increment doc 12
  private def base = Seq(
    (1L, s"a1 a2 $P a3"),
    (2L, s"b1 $P b2 b3"),
    (3L, s"c1 c2 $Q c3"),
    (4L, "d1 d2 d3 d4 d5 d6"),
    (5L, s"$S $P") // S crossing merges islands with the existing P span
  ).toDF("doc_id", "text")
  private def inc = Seq(
    (11L, s"z1 $Q z2"),
    (12L, s"y1 y2 $S")
  ).toDF("doc_id", "text")

  private def spanRows(df: DataFrame) =
    df.select("id", "span_id", "span_start", "span_end", "n_shingles")
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSeq

  private def sweepComposition(baseDf: DataFrame, incDf: DataFrame, n: Int,
                               sweepOf: Sweep) = {
    val prevOcc = Dedup.shingleOccurrenceTable(baseDf, "text", n = n)
    val curOcc = Dedup.mergeOccurrenceTables(prevOcc,
      Dedup.shingleOccurrenceTable(incDf, "text", n = n))
    val positions = Dedup.shinglePositionsTable(baseDf, "doc_id", "text",
      n = n)
    val sweep = sweepOf(positions, prevOcc, curOcc, n)
    val prior = Dedup.repeatedSpans(baseDf, "doc_id", "text", n = n)
    prior.join(sweep.select("id").distinct(), Seq("id"), "left_anti")
      .unionByName(sweep)
  }

  test("hand corpus: sweep recomputes exactly the affected base docs — " +
    "crossing fires, islands merge, already-covered docs untouched") {
    val full = Dedup.repeatedSpans(base.unionByName(inc), "doc_id", "text",
      n = 5)
    regimes.foreach { case (regime, sweepOf) =>
      val composed = sweepComposition(base, inc, n = 5, sweepOf)
      assert(spanRows(composed) ===
        spanRows(full.filter(col("id") <= 5L)), regime)
      // the engineered shapes: docs 1/2 keep their prior P spans verbatim;
      // doc 3 gains its Q span via the crossing; doc 4 stays clean; doc 5's
      // new S coverage MERGES with the existing P island into one [0,10)
      // span of two shingle windows
      assert(spanRows(composed) === Seq(
        (1L, 1L, 2, 7, 1L),
        (2L, 1L, 1, 6, 1L),
        (3L, 1L, 2, 7, 1L),
        (5L, 1L, 0, 10, 2L)), regime)
      // and the sweep itself emitted ONLY the affected docs
      val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
      val curOcc = Dedup.mergeOccurrenceTables(prevOcc,
        Dedup.shingleOccurrenceTable(inc, "text", n = 5))
      val sweep = sweepOf(
        Dedup.shinglePositionsTable(base, "doc_id", "text", n = 5),
        prevOcc, curOcc, 5)
      assert(sweep.select("id").distinct().as[Long].collect().toSet ===
        Set(3L, 5L), regime)
    }
  }

  test("sliced affected recompute (sliceAffected, r12 verdict item 6) " +
    "== single-slice, row-identical — pair AND delta forms; slice count " +
    "follows the cap") {
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val deltaOcc = Dedup.shingleOccurrenceTable(inc, "text", n = 5)
    val curOcc = Dedup.mergeOccurrenceTables(prevOcc, deltaOcc)
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = 5)
    // slicing shapes the distributed regime only
    val whole = Dedup.sweepDistributed(positions, prevOcc, curOcc, n = 5)
    // 2 affected docs (3 and 5) — sliceAffected = 1 forces 2 slices,
    // each materialized and released before the next (the bounded
    // working set path)
    val sliced = Dedup.sweepDistributed(positions, prevOcc, curOcc,
      n = 5, sliceAffected = 1)
    assert(spanRows(sliced) === spanRows(whole))
    val slicedDelta = Dedup.sweepDeltaDistributed(positions, prevOcc,
      deltaOcc, n = 5, sliceAffected = 1)
    assert(spanRows(slicedDelta) === spanRows(whole))
    // sliceAffected <= 0 disables slicing (the escape hatch)
    assert(spanRows(Dedup.sweepDistributed(positions, prevOcc,
      curOcc, n = 5, sliceAffected = 0)) === spanRows(whole))
  }

  test("sweep ∪ kept-prior ∪ incremental == full batch recompute " +
    "(the complete lambda split)") {
    val baseOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val incremental = Dedup.incrementalRepeatedSpans(inc, "doc_id", "text",
      baseOcc, n = 5)
    val full = Dedup.repeatedSpans(base.unionByName(inc), "doc_id", "text",
      n = 5)
    regimes.foreach { case (regime, sweepOf) =>
      val composed = sweepComposition(base, inc, n = 5, sweepOf)
        .unionByName(incremental)
      assert(spanRows(composed) === spanRows(full), regime)
    }
  }

  test("multi-row occurrence inputs (OccStateStore.read contract): " +
    "base + uncompacted deltas pass straight in, same spans") {
    val n = 5
    val prevParts = Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") <= 2L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") > 2L), "text", n = n))
    val curParts = prevParts.unionByName(
      Dedup.shingleOccurrenceTable(inc, "text", n = n))
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = n)
    regimes.foreach { case (regime, sweepOf) =>
      val viaParts = sweepOf(positions, prevParts, curParts, n)
      val viaMerged = sweepOf(positions,
        Dedup.aggregateOccurrences(prevParts),
        Dedup.aggregateOccurrences(curParts), n)
      assert(spanRows(viaParts) === spanRows(viaMerged), regime)
      assert(spanRows(viaParts).nonEmpty, regime)
    }
  }

  test("delta form == pair form, row-exact (hand + real corpus + " +
    "multi-row delta segments); slim-first crossed == two-aggregate crossed") {
    // the distributed regime's two crossed-key shapes; the driver-local
    // regime's forms are pinned against these below
    val n = 5
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = n)
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = n)
    val deltaOcc = Dedup.shingleOccurrenceTable(inc, "text", n = n)
    val pair = Dedup.sweepDistributed(positions, prevOcc,
      Dedup.mergeOccurrenceTables(prevOcc, deltaOcc), n = n)
    val delta = Dedup.sweepDeltaDistributed(positions, prevOcc,
      deltaOcc, n = n)
    assert(spanRows(delta) === spanRows(pair))
    // multi-row inputs on BOTH args (the store's base + per-batch delta
    // segments shape): prev split in two, delta split in two
    val prevParts = Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") <= 2L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") > 2L), "text", n = n))
    val deltaParts = Dedup.shingleOccurrenceTable(
        inc.filter(col("doc_id") === 11L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        inc.filter(col("doc_id") === 12L), "text", n = n))
    assert(spanRows(Dedup.sweepDeltaDistributed(positions, prevParts,
      deltaParts, n = n)) === spanRows(pair))
    // real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseDf = docs.filter(col("doc_id") % 2 === 0)
    val incDf = docs.filter(col("doc_id") % 2 === 1)
    val rPos = Dedup.shinglePositionsTable(baseDf, "doc_id", "text", n = 10)
    val rPrev = Dedup.shingleOccurrenceTable(baseDf, "text", n = 10)
    val rDelta = Dedup.shingleOccurrenceTable(incDf, "text", n = 10)
    val rPair = Dedup.sweepDistributed(rPos, rPrev,
      Dedup.mergeOccurrenceTables(rPrev, rDelta), n = 10)
    val rDeltaForm = Dedup.sweepDeltaDistributed(rPos, rPrev, rDelta,
      n = 10)
    assert(spanRows(rDeltaForm) === spanRows(rPair))
    assert(spanRows(rDeltaForm).nonEmpty)
  }

  test("sweepFromCrossed: a crossed-key-pruned positionsForCrossed frame " +
    "(the ZoneIndex file-pruning contract) gives row-identical sweeps") {
    val n = 5
    val positions = Dedup.shinglePositionsTable(base, "doc_id", "text",
      n = n)
    val prevOcc = Dedup.shingleOccurrenceTable(base, "text", n = n)
    val deltaOcc = Dedup.shingleOccurrenceTable(inc, "text", n = n)
    val plain = Dedup.sweepDeltaDistributed(positions, prevOcc,
      deltaOcc, n = n)
    val crossed = Dedup.crossedKeysDelta(prevOcc, deltaOcc)
    // the crossed-key gate: BOTH branches — the bulk tagged-union kernel
    // and the small-delta slim-first shape — produce the same crossed
    // key set (each is pinned explicitly; crossedKeysDelta picks one by
    // delta plan-stats size)
    val dAgg = Dedup.aggregateOccurrences(deltaOcc)
      .select(col("shingle"), col("occ").as("d_occ")).localCheckpoint()
    val slimFirst = Dedup.crossedFromDeltaAgg(prevOcc, dAgg)
      .collect().map(_.getLong(0)).toSet
    val tagged = Dedup.taggedCrossed(prevOcc, deltaOcc, 2)
      .collect().map(_.getLong(0)).toSet
    assert(slimFirst === tagged)
    assert(slimFirst === crossed.collect().map(_.getLong(0)).toSet)
    assert(slimFirst.nonEmpty)
    // the pruning contract: positionsForCrossed must keep every row whose
    // shingle ∈ crossed — a row-filtered superset models what file-level
    // zone pruning produces (plus arbitrary extra rows, here half of one
    // unaffected doc, proving extras are harmless)
    val prunedFor = positions.join(
        crossed.withColumnRenamed("shingle", "s"),
        col("shingle") === col("s"), "left_semi")
      .unionByName(positions.filter(col("id") === 3L && col("pos") < 2))
    val viaPruned = Dedup.sweepFromCrossed(prunedFor, positions, crossed,
      Dedup.mergeOccurrenceTables(prevOcc, deltaOcc), n = n)
    assert(spanRows(viaPruned) === spanRows(plain))
    assert(spanRows(viaPruned).nonEmpty)
  }

  test("real corpus: even/odd split — sweep composition == batch " +
    "recompute restricted to base ids") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseDf = docs.filter(col("doc_id") % 2 === 0)
    val incDf = docs.filter(col("doc_id") % 2 === 1)
    val full = Dedup.repeatedSpans(docs, "doc_id", "text", n = 10)
      .filter(col("id") % 2 === 0)
    regimes.foreach { case (regime, sweepOf) =>
      val composed = sweepComposition(baseDf, incDf, n = 10, sweepOf)
      assert(spanRows(composed) === spanRows(full), regime)
      assert(spanRows(composed).nonEmpty, "fixture must exercise base spans")
    }
    val (pos, prev, delta, cur) = splitInputs(baseDf, incDf, 10)
    assert(assertRegimesAgree(pos, prev, delta, cur, 10, "real").nonEmpty)
  }

  test("property: random corpora with seeded shared phrases — " +
    "composition == full recompute under arbitrary splits") {
    val rng = new scala.util.Random(31)
    val phrases = Seq(
      "lorem ipsum dolor sit amet consectetur",
      "the quick brown fox jumps over",
      "pack my box with five dozen")
    def doc(id: Long): (Long, String) = {
      val parts = Seq.fill(rng.nextInt(4) + 1) {
        if (rng.nextBoolean()) phrases(rng.nextInt(phrases.length))
        else Seq.fill(rng.nextInt(8) + 3)(s"w${rng.nextInt(200)}")
          .mkString(" ")
      }
      (id, parts.mkString(" "))
    }
    for (trial <- 1 to 3) {
      val docs = (1L to 24L).map(doc)
      val cut = rng.nextInt(20) + 2
      val baseDf = docs.filter(_._1 <= cut).toDF("doc_id", "text")
      val incDf = docs.filter(_._1 > cut).toDF("doc_id", "text")
      val full = Dedup.repeatedSpans(
          baseDf.unionByName(incDf), "doc_id", "text", n = 4)
        .filter(col("id") <= cut)
      regimes.foreach { case (regime, sweepOf) =>
        val composed = sweepComposition(baseDf, incDf, n = 4, sweepOf)
        assert(spanRows(composed) === spanRows(full),
          s"$regime trial $trial cut $cut")
      }
    }
  }

  test("guards: malformed positions frame fails loudly") {
    val occ = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val e = intercept[IllegalArgumentException] {
      Dedup.retroactiveSpanSweep(Seq((1L, 2L)).toDF("a", "b"), occ, occ)
    }
    assert(e.getMessage.contains("shinglePositionsTable"))
  }

  /** Both forms through both regimes: the driver-local regime is taken,
    * and gives the distributed rows and schema exactly. Returns the
    * delta form's rows. */
  private def assertRegimesAgree(positions: DataFrame, prevOcc: DataFrame,
                                 deltaOcc: DataFrame, curOcc: DataFrame,
                                 n: Int, clue: String) = {
    val forms = Seq(
      ("delta", true, deltaOcc,
        Dedup.sweepDeltaDistributed(positions, prevOcc, deltaOcc, n = n)),
      ("pair", false, curOcc,
        Dedup.sweepDistributed(positions, prevOcc, curOcc, n = n)))
    forms.map { case (form, deltaForm, occ, distributed) =>
      val local = Dedup.sweepLocal(positions, prevOcc, occ, deltaForm, n, 2)
      assert(local.isDefined, s"$clue $form: driver-local regime not taken")
      assert(local.get.schema === distributed.schema, s"$clue $form")
      assert(spanRows(local.get) === spanRows(distributed), s"$clue $form")
      spanRows(local.get)
    }.head
  }

  private def splitInputs(baseDf: DataFrame, incDf: DataFrame, n: Int) = {
    val prevOcc = Dedup.shingleOccurrenceTable(baseDf, "text", n = n)
    val deltaOcc = Dedup.shingleOccurrenceTable(incDf, "text", n = n)
    (Dedup.shinglePositionsTable(baseDf, "doc_id", "text", n = n), prevOcc,
      deltaOcc, Dedup.mergeOccurrenceTables(prevOcc, deltaOcc))
  }

  test("driver-local regime == distributed, row for row, both forms: " +
    "hand and seeded random corpora") {
    // the real-corpus split is pinned in "real corpus: even/odd split"
    val (pos, prev, delta, cur) = splitInputs(base, inc, 5)
    assert(assertRegimesAgree(pos, prev, delta, cur, 5, "hand").nonEmpty)
    val rng = new scala.util.Random(47)
    val phrases = Seq("alpha beta gamma delta epsilon",
      "one two three four five six")
    for (trial <- 1 to 3) {
      val all = (1L to 20L).map { id =>
        (id, Seq.fill(rng.nextInt(3) + 1) {
          if (rng.nextBoolean()) phrases(rng.nextInt(phrases.length))
          else Seq.fill(rng.nextInt(6) + 2)(s"w${rng.nextInt(50)}")
            .mkString(" ")
        }.mkString(" "))
      }
      val cut = rng.nextInt(16) + 2
      val (p, a, d, c) = splitInputs(
        all.filter(_._1 <= cut).toDF("doc_id", "text"),
        all.filter(_._1 > cut).toDF("doc_id", "text"), 3)
      assertRegimesAgree(p, a, d, c, 3, s"trial $trial cut $cut")
    }
  }

  test("driver-local regime == distributed: multi-row occurrence and " +
    "delta segments, duplicate (id, pos) rows, empty delta, no crossing") {
    val n = 5
    val (pos, prev, delta, cur) = splitInputs(base, inc, n)
    // OccStateStore.read shape: several rows per shingle on every input
    val prevParts = Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") <= 2L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        base.filter(col("doc_id") > 2L), "text", n = n))
    val deltaParts = Dedup.shingleOccurrenceTable(
        inc.filter(col("doc_id") === 11L), "text", n = n)
      .unionByName(Dedup.shingleOccurrenceTable(
        inc.filter(col("doc_id") === 12L), "text", n = n))
    val multi = assertRegimesAgree(pos, prevParts, deltaParts,
      prevParts.unionByName(deltaParts), n, "multi-row")
    assert(multi === assertRegimesAgree(pos, prev, delta, cur, n, "merged"))
    // duplicate (id, pos) rows count toward n_shingles in both regimes
    val dupPos = pos.unionByName(pos.filter(col("id") === 5L))
    val dup = assertRegimesAgree(dupPos, prev, delta, cur, n, "duplicates")
    assert(dup.contains((5L, 1L, 0, 10, 4L)))
    // empty delta: nothing crosses
    val empty = delta.limit(0)
    assert(assertRegimesAgree(pos, prev, empty, prev, n, "empty delta")
      .isEmpty)
    // a delta that crosses nothing: an increment of unrelated tokens
    val unrelated = Dedup.shingleOccurrenceTable(
      Seq((21L, "u1 u2 u3 u4 u5 u6")).toDF("doc_id", "text"), "text", n = n)
    assert(assertRegimesAgree(pos, prev, unrelated,
      Dedup.mergeOccurrenceTables(prev, unrelated), n, "no crossing").isEmpty)
  }

  test("driver-local regime: a null cell keeps the distributed answer") {
    val n = 5
    val (pos, prev, delta, cur) = splitInputs(base, inc, n)
    // a null positions cell: the distributed semi-joins drop the row
    val nullPos = pos.unionByName(
      Seq((3L, 9, Option.empty[Long])).toDF("id", "pos", "shingle"))
    assert(Dedup.sweepLocal(nullPos, prev, delta, deltaForm = true, n, 2)
      .isEmpty)
    assert(Dedup.sweepLocal(nullPos, prev, cur, deltaForm = false, n, 2)
      .isEmpty)
    assert(spanRows(Dedup.retroactiveSpanSweepDelta(nullPos, prev, delta,
      n = n)) === spanRows(Dedup.sweepDeltaDistributed(nullPos, prev, delta,
      n = n)))
    assert(spanRows(Dedup.retroactiveSpanSweep(nullPos, prev, cur, n = n)) ===
      spanRows(Dedup.sweepDistributed(nullPos, prev, cur, n = n)))
    // a null occurrence key: the distributed regime's answer is its loud
    // failure, and the public forms give that same failure
    val nullOcc = delta.unionByName(
      Seq((Option.empty[Long], 1L)).toDF("shingle", "occ"))
    val nullCur = cur.unionByName(nullOcc)
    assert(Dedup.sweepLocal(pos, prev, nullOcc, deltaForm = true, n, 2)
      .isEmpty)
    assert(Dedup.sweepLocal(pos, prev, nullCur, deltaForm = false, n, 2)
      .isEmpty)
    def failure(sweep: => DataFrame) =
      intercept[Exception](spanRows(sweep)) match {
        case e: org.apache.spark.SparkThrowable => e.getCondition
        case e => fail(s"not a Spark error condition: $e")
      }
    assert(failure(Dedup.retroactiveSpanSweepDelta(pos, prev, nullOcc,
      n = n)) === failure(Dedup.sweepDeltaDistributed(pos, prev, nullOcc,
      n = n)))
    assert(failure(Dedup.retroactiveSpanSweep(pos, prev, nullCur, n = n)) ===
      failure(Dedup.sweepDistributed(pos, prev, nullCur, n = n)))
  }

  test("driver-local regime: probe + collect jobs under the bound, one " +
    "probe job and no collect past it; no session conf touched") {
    val n = 5
    // materialized inputs, so every counted job is the regime's own
    val (pos, prev, delta, _) = splitInputs(base, inc, n)
    val Seq(p, a, d) = Seq(pos, prev, delta).map(_.localCheckpoint())
    val conf = spark.conf.getAll
    val (under, underJobs) = jobsOf(
      Dedup.sweepLocal(p, a, d, deltaForm = true, n, 2))
    assert(under.isDefined)
    assert(underJobs === 2)
    // the spans are plan-local: collecting them runs no job
    assert(jobsOf(under.get.collect())._2 === 0)
    assert(spark.conf.getAll === conf)
    // positions has more rows than 3: the probe decides, nothing ships
    val (past, pastJobs) = jobsOf(
      Dedup.sweepLocal(p, a, d, deltaForm = true, n, 2, maxRows = 3L))
    assert(past.isEmpty)
    assert(pastJobs === 1)
  }

  private def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  /** composeSweep's two regimes on one input: the local one is taken and
    * gives the Spark form's schema, rows and order; returns the rows. */
  private def assertComposeAgrees(prior: DataFrame, sweep: DataFrame,
                                  clue: String) = {
    val distributed = Dedup.composeSweepDistributed(prior, sweep)
    val local = Dedup.composeLocal(prior, sweep, distributed.schema)
    assert(local.isDefined, s"$clue: driver-local regime not taken")
    assert(local.get.schema === distributed.schema, clue)
    assert(rowsOf(local.get) === rowsOf(distributed), clue)
    assert(rowsOf(Dedup.composeSweep(prior, sweep)) === rowsOf(distributed),
      clue)
    rowsOf(local.get)
  }

  test("composeSweep: driver-local composition == the Spark form, rows, " +
    "schema and order — hand and seeded random corpora, empty sweep") {
    val (pos, prev, delta, cur) = splitInputs(base, inc, 5)
    val prior = Dedup.repeatedSpans(base, "doc_id", "text", n = 5)
    regimes.foreach { case (regime, sweepOf) =>
      val sweep = sweepOf(pos, prev, cur, 5)
      assert(assertComposeAgrees(prior, sweep, regime) === Seq(
        Seq(1L, 1L, 2, 7, 1L), Seq(2L, 1L, 1, 6, 1L), Seq(3L, 1L, 2, 7, 1L),
        Seq(5L, 1L, 0, 10, 2L)), regime)
      assert(assertComposeAgrees(prior, sweep.limit(0), s"$regime empty") ===
        rowsOf(prior.orderBy("id", "span_start")), regime)
    }
    assert(assertComposeAgrees(prior,
      Dedup.retroactiveSpanSweepDelta(pos, prev, delta, n = 5), "delta")
      .nonEmpty)
    val rng = new scala.util.Random(53)
    val phrases = Seq("alpha beta gamma delta epsilon",
      "one two three four five six")
    for (trial <- 1 to 3) {
      val all = (1L to 20L).map { id =>
        (id, Seq.fill(rng.nextInt(3) + 1) {
          if (rng.nextBoolean()) phrases(rng.nextInt(phrases.length))
          else Seq.fill(rng.nextInt(6) + 2)(s"w${rng.nextInt(50)}")
            .mkString(" ")
        }.mkString(" "))
      }
      val cut = rng.nextInt(16) + 2
      val baseDf = all.filter(_._1 <= cut).toDF("doc_id", "text")
      val (p, a, d, _) = splitInputs(baseDf,
        all.filter(_._1 > cut).toDF("doc_id", "text"), 3)
      assertComposeAgrees(Dedup.repeatedSpans(baseDf, "doc_id", "text", n = 3),
        Dedup.retroactiveSpanSweepDelta(p, a, d, n = 3),
        s"trial $trial cut $cut")
    }
  }

  test("composeSweep: a null cell or two spans sharing (id, span_start) " +
    "keep the Spark form; probe + collect jobs under the bound, one " +
    "probe job past it") {
    val (pos, prev, delta, _) = splitInputs(base, inc, 5)
    val prior = Dedup.repeatedSpans(base, "doc_id", "text", n = 5)
    val sweep = Dedup.retroactiveSpanSweepDelta(pos, prev, delta, n = 5)
    def spanSchema(df: DataFrame) =
      Dedup.composeSweepDistributed(df, sweep).schema
    val nullPrior = prior.unionByName(
      Seq((9L, 1L, Option.empty[Int], 5, 1L))
        .toDF("id", "span_id", "span_start", "span_end", "n_shingles"))
    val dupPrior = prior.unionByName(prior.filter(col("id") === 1L))
    Seq("null cell" -> nullPrior, "shared start" -> dupPrior).foreach {
      case (clue, p) =>
        assert(Dedup.composeLocal(p, sweep, spanSchema(p)).isEmpty, clue)
        assert(rowsOf(Dedup.composeSweep(p, sweep)) ===
          rowsOf(Dedup.composeSweepDistributed(p, sweep)), clue)
    }
    val Seq(pr, sw) = Seq(prior, sweep).map(_.localCheckpoint())
    val (under, underJobs) = jobsOf(
      Dedup.composeLocal(pr, sw, spanSchema(pr)))
    assert(under.isDefined)
    assert(underJobs === 2)
    // renaming columns keeps it plan-local: collecting runs no job
    assert(jobsOf(under.get.select(col("id").as("doc_id")).collect())._2 ===
      0)
    // prior has more rows than 2: the probe decides, nothing ships
    val (past, pastJobs) = jobsOf(
      Dedup.composeLocal(pr, sw, spanSchema(pr), maxRows = 2L))
    assert(past.isEmpty)
    assert(pastJobs === 1)
  }
}
