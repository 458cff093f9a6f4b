package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The incremental substring-dedup lane: a persisted per-shingle
  * occurrence table + batch-vs-table probing must reproduce EXACTLY what
  * the batch form computes over the union corpus, restricted to the
  * batch's docs — on hand corpora (threshold crossings engineered), on a
  * real corpus split, and across chained increments. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  // cross-corpus repeat: `common` occurs ONCE in base doc 1 and ONCE in
  // batch doc 11 — covered only when base+batch counts combine
  private val common = "alpha bravo charlie delta echo foxtrot"
  // within-batch repeat: one 5-token window repeated twice inside doc 12
  private val rep = "papa quebec romeo sierra tango"
  private def base = Seq(
    (1L, s"one two $common three"),
    (2L, "golf hotel india juliet kilo")
  ).toDF("doc_id", "text")
  private def batch = Seq(
    (11L, s"x1 x2 x3 $common"),
    (12L, s"$rep zulu $rep"),
    (13L, "mike november oscar whiskey xray yankee")
  ).toDF("doc_id", "text")

  private def spanRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSeq

  test("incrementalRepeatedSpans == repeatedSpans(union) restricted to " +
    "the batch — cross-corpus threshold crossing included") {
    val baseOcc = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val inc = spanRows(Dedup.incrementalRepeatedSpans(
      batch, "doc_id", "text", baseOcc, n = 5))
    val union = spanRows(Dedup.repeatedSpans(
        base.unionByName(batch), "doc_id", "text", n = 5)
      .filter(col("id") >= 11L))
    assert(inc === union)
    // the engineered cases actually fire: doc 11's span exists ONLY
    // because base doc 1 contributes (occ 1 + 1 ≥ 2) — common occupies
    // tokens [3, 9) of doc 11 (two 5-token windows); doc 12's
    // within-batch repeat covers [0,5) and [6,11); doc 13 clean
    assert(inc === Seq(
      (11L, 1L, 3, 9, 2L),
      (12L, 1L, 0, 5, 1L),
      (12L, 2L, 6, 11, 1L)))
    // and the batch form over the union ALSO emits base doc 1's span
    // (pushed over the threshold by the batch) — the incremental lane's
    // documented immutable-history contract is what excludes it
    val unionAll = spanRows(Dedup.repeatedSpans(
      base.unionByName(batch), "doc_id", "text", n = 5))
    assert(unionAll.exists(_._1 == 1L))
    assert(!inc.exists(_._1 == 1L))
  }

  test("real corpus: parity split — incremental == union-form batch " +
    "restriction, row-exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseOcc = Dedup.shingleOccurrenceTable(
      docs.filter(col("doc_id") % 2 === 0), "text", n = 10)
    val inc = spanRows(Dedup.incrementalRepeatedSpans(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", baseOcc,
      n = 10))
    val union = spanRows(Dedup.repeatedSpans(docs, "doc_id", "text", n = 10)
      .filter(col("id") % 2 === 1))
    assert(inc === union)
    assert(inc.nonEmpty, "fixture must exercise covered spans")
  }

  test("shingleOccurrenceTable: KeyedSum kernel == groupBy count twin; " +
    "counts are position-multiplicity") {
    // real corpus drives the kernel past its initial 4096 capacity
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (df <- Seq(base.unionByName(batch), docs)) {
      val kernel = Dedup.shingleOccurrenceTable(df, "text", n = 5, parts = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val twin = df.select(explode(
          udf(Dedup.posShingleHashes _).apply(col("text"), lit(5)))
          .as("shingle"))
        .groupBy("shingle").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(kernel === twin)
    }
    // doc 12's repeated window counts BOTH positions
    val t12 = Dedup.shingleOccurrenceTable(
      batch.filter(col("doc_id") === 12L), "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val repHash = Dedup.posShingleHashes(rep, 5).head
    assert(t12(repHash) === 2L)
  }

  test("mergeOccurrenceTables(table(a), table(b)) == table(a union b)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val merged = Dedup.mergeOccurrenceTables(
        Dedup.shingleOccurrenceTable(even, "text", n = 10),
        Dedup.shingleOccurrenceTable(odd, "text", n = 10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = Dedup.shingleOccurrenceTable(docs, "text", n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged === direct)
  }

  test("chained increments are history-ordered: batch k sees base + " +
    "batches 1..k exactly") {
    val b2 = Seq(
      // crosses the threshold only through BATCH 1's contribution
      (21L, s"y1 y2 $rep y3")
    ).toDF("doc_id", "text")
    val occ0 = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    val occ1 = Dedup.mergeOccurrenceTables(occ0,
      Dedup.shingleOccurrenceTable(batch, "text", n = 5))
    val inc2 = spanRows(Dedup.incrementalRepeatedSpans(
      b2, "doc_id", "text", occ1, n = 5))
    val union2 = spanRows(Dedup.repeatedSpans(
        base.unionByName(batch).unionByName(b2), "doc_id", "text", n = 5)
      .filter(col("id") >= 21L))
    assert(inc2 === union2)
    // rep occurs twice in batch 1 → doc 21's single window is covered
    assert(inc2 === Seq((21L, 1L, 2, 7, 1L)))
  }

  test("property: random corpora with seeded shared phrases — incremental " +
    "== union-form restriction under arbitrary base/batch splits") {
    val rng = new scala.util.Random(29)
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
      val cut = rng.nextInt(20) + 2 // both sides non-empty
      val base = docs.filter(_._1 <= cut).toDF("doc_id", "text")
      val batch = docs.filter(_._1 > cut).toDF("doc_id", "text")
      val inc = spanRows(Dedup.incrementalRepeatedSpans(
        batch, "doc_id", "text",
        Dedup.shingleOccurrenceTable(base, "text", n = 4), n = 4))
      val union = spanRows(Dedup.repeatedSpans(
          base.unionByName(batch), "doc_id", "text", n = 4)
        .filter(col("id") > cut))
      assert(inc === union, s"trial $trial cut $cut")
    }
  }

  test("micro-batch broadcast gate: spans identical to the shuffle path; " +
    "in-gate plan broadcasts the batch keys into the state slim") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val occ = Dedup.shingleOccurrenceTable(
      docs.filter(col("doc_id") % 2 === 0), "text", n = 10)
    val incDf = docs.filter(col("doc_id") % 2 === 1)
    // the sf0.001 odd half is well under the 16 MB gate → micro path by
    // default; microBatchMaxBytes = -1 forces the shuffle path
    val micro = Dedup.incrementalRepeatedSpans(incDf, "doc_id", "text",
      occ, n = 10)
    val shuffled = Dedup.incrementalRepeatedSpans(incDf, "doc_id", "text",
      occ, n = 10, microBatchMaxBytes = -1)
    assert(spanRows(micro) === spanRows(shuffled))
    assert(spanRows(micro).nonEmpty)
    // gate sides in the PLAN: the micro path slims the state through a
    // broadcast LEFT-SEMI (state never exchanges on the slim); the
    // forced path keeps the SHUFFLE_HASH semi
    val microPlan = micro.queryExecution.executedPlan.toString
    assert(microPlan.contains("BroadcastHashJoin") &&
      microPlan.contains("LeftSemi"), s"micro plan:\n$microPlan")
    val shuffledPlan = shuffled.queryExecution.executedPlan.toString
    assert(shuffledPlan.contains("ShuffledHashJoin"),
      s"forced plan:\n$shuffledPlan")
    // hand corpus through the micro path (threshold crossings intact)
    val baseOcc5 = Dedup.shingleOccurrenceTable(base, "text", n = 5)
    assert(spanRows(Dedup.incrementalRepeatedSpans(batch, "doc_id",
        "text", baseOcc5, n = 5)) ===
      spanRows(Dedup.incrementalRepeatedSpans(batch, "doc_id", "text",
        baseOcc5, n = 5, microBatchMaxBytes = -1)))
    // the STREAMING shape (r11 review): an RDD-backed frame — what a
    // foreachBatch hands over — estimates sizeInBytes huge, so the bare
    // frame must take the shuffle path; once persisted AND materialized
    // (StreamingSpanDedup.processBatch's count) plan stats report the
    // real cached bytes and the gate fires
    val rddBacked = spark.createDataFrame(
      batch.rdd, batch.schema)
    val bare = Dedup.incrementalRepeatedSpans(rddBacked, "doc_id", "text",
        baseOcc5, n = 5)
      .queryExecution.executedPlan.toString
    assert(bare.contains("ShuffledHashJoin"), s"bare rdd plan:\n$bare")
    // a FRESH frame for the cached leg: reusing `rddBacked` would keep
    // its already-forced (pre-persist) optimizedPlan memoized and the
    // cache substitution would never reach the gate's stats — the
    // production path (processBatch) persists before anything forces
    // the plan, which this mirrors
    val cached = spark.createDataFrame(batch.rdd, batch.schema).persist()
    cached.count()
    try {
      val cachedPlan = Dedup.incrementalRepeatedSpans(cached, "doc_id",
          "text", baseOcc5, n = 5)
        .queryExecution.executedPlan.toString
      assert(cachedPlan.contains("BroadcastHashJoin") &&
        cachedPlan.contains("LeftSemi"),
        s"materialized micro-batch plan:\n$cachedPlan")
    } finally cached.unpersist()
  }

  test("occurrence-exchange width gate (OccWideMinBytes, r11 verdict " +
    "item 6): small known inputs keep the session default, unknown stats " +
    "take the wide scale-safe side, forced widths win; rows identical") {
    val session = spark.sessionState.conf.numShufflePartitions
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // parquet-backed tiny corpus: REAL small stats → session default
    val narrow = Dedup.shingleOccurrenceTable(docs, "text", n = 10)
    assert(narrow.rdd.getNumPartitions === session)
    // forced width always wins
    assert(Dedup.shingleOccurrenceTable(docs, "text", n = 10, parts = 7)
      .rdd.getNumPartitions === 7)
    // aggregateOccurrences over a small LOCAL frame: session default;
    // over an RDD-backed frame (stats estimate huge — the unknown case):
    // the wide side, never the silently-small one
    val local = Seq((1L, 2L), (1L, 3L), (5L, 1L)).toDF("shingle", "occ")
    assert(Dedup.aggregateOccurrences(local).rdd.getNumPartitions
      === session)
    val rddBacked = spark.createDataFrame(local.rdd, local.schema)
    assert(Dedup.aggregateOccurrences(rddBacked).rdd.getNumPartitions
      === session * 8)
    // both gate sides agree on content
    assert(Dedup.aggregateOccurrences(local).collect().toSet ===
      Dedup.aggregateOccurrences(rddBacked).collect().toSet)
  }

  test("guards: malformed baseOcc and bad parameters fail loudly") {
    val notATable = Seq((1L, 2L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalRepeatedSpans(batch, "doc_id", "text", notATable)
    }
    assert(e.getMessage.contains("shingleOccurrenceTable"))
    intercept[IllegalArgumentException] {
      Dedup.incrementalRepeatedSpans(batch, "doc_id", "text",
        Seq((1L, 1L)).toDF("shingle", "occ"), minOcc = 1)
    }
  }
}
