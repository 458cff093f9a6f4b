package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: pins the scale-critical plan properties (pushdown,
  * broadcasts, shuffle counts, exchange reuse) as regression tests, so a
  * future refactor that silently de-optimizes a plan fails CI instead of
  * only showing up at cluster scale.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOccurrences(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  test("parquet scan: filter and projection reach the scan") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_totalprice")
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderpriority), " +
      "EqualTo(o_orderpriority,1-URGENT)]"), s"no pushed filter in:\n$plan")
    // pruned read schema: only the referenced columns, not all 9
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint," +
      "o_totalprice:double,o_orderpriority:string>"),
      s"projection not pruned in:\n$plan")
  }

  test("star join: every dimension side is broadcast, fact never shuffles") {
    val q06 = SparkEntry.queries("q06_star_join")(spark, sf)
    val plan = physical(q06)
    assert(countOccurrences(plan, "BroadcastHashJoin") == 3,
      s"expected 3 broadcast joins in:\n$plan")
    // the only exchanges are the 3 dim broadcasts + the final agg/sort —
    // no shuffle-hash or sort-merge join of the fact table
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fact table shuffled for a join in:\n$plan")
  }

  test("exact dedup: exactly one shuffle, keyed on the 16-byte hash") {
    val plan = physical(graft.ops.Dedup.exactGroups(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text"))
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 shuffle in:\n$plan")
    assert(plan.contains("hashpartitioning(content_hash"),
      s"shuffle not keyed on content_hash in:\n$plan")
    // partial aggregation runs before the exchange (map-side combine)
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"no map-side partial aggregation in:\n$plan")
  }

  test("bucket cap: fused into the collapse aggregate — one band " +
    "exchange, no pre-cap window or sort") {
    // the cap is a size filter on the collected per-band array, so the
    // band pipeline must plan ONE exchange and NO window/sort on the band
    // key (the former count-over-window pre-cap sorted the whole keyed
    // stream — the sort-page OOM class the 504k scale run exposed)
    val cand = graft.ops.Dedup.minhashCandidates(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      n = 3, bands = 4, rows = 2, maxBucket = 1000)
    val plan = physical(cand)
    val bandExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(band"))
      .size
    assert(bandExchanges == 1,
      s"expected exactly 1 band exchange, got $bandExchanges in:\n$plan")
    assert(!plan.contains("Window"),
      s"pre-cap window resurfaced in the band pipeline:\n$plan")
    assert(!plan.linesIterator.exists(l =>
        l.matches(""".*\bSort \[band.*""")),
      s"band-keyed sort resurfaced in:\n$plan")
  }

  test("tfidf: df via count aggregate + hash join, never a term window") {
    val plan = physical(graft.ops.TextAnalysis.tfidfTopTerms(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", k = 3))
    // TWO text scans by design (the df aggregate branch re-tokenizes,
    // column-pruned to text-only — SCALE.md finding 9: on corpus-
    // repeating term keys the aggregate's map-side combine beats the
    // window's full-stream sort, which OOM'd the boilerplate sibling at
    // 504k docs); N stays broadcast
    assert(plan.linesIterator.count(l =>
        l.contains("ReadSchema:") && l.contains("text:string")) == 2,
      s"expected the df-branch rescan + probe scan in:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"N not broadcast in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"df must attach via shuffled-hash join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ re-sorts the stream:\n$plan")
    // no window may partition on the term key (the id-keyed top-k rank
    // window is the only one)
    assert(!plan.linesIterator.exists(l =>
        l.contains("windowspecdefinition(term")),
      s"term-keyed window resurfaced in:\n$plan")
  }

  test("dedup pair generators: corpus scan counts stay minimal") {
    def scans(plan: String) =
      plan.linesIterator.count(_.contains("FileScan parquet"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // minhash: the band/signature side materializes once into the pair
    // checkpoint (its scan runs at checkpoint time, outside this plan),
    // so the served plan scans the corpus ONCE — the shingle re-attach —
    // and that scan is semi-gated by the broadcast candidate-id set
    // BEFORE its exchange (finding 14: verify cost scales with
    // candidates, not corpus)
    val q18 = graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text", 0.4)
      .queryExecution.executedPlan.toString
    assert(scans(q18) == 1, s"minhash scans=${scans(q18)}:\n$q18")
    assert(q18.contains("LeftSemi"),
      s"verify scan not candidate-gated in:\n$q18")
    // verification must stay longs-only hash aggregation: an array-typed
    // buffer (the old per-pair shingle-set attach) plans a SortAggregate
    // that sorts every candidate with multi-KB payloads — the exact sort
    // that filled the 500k-doc scale run's scratch disk
    assert(!q18.contains("SortAggregate"),
      s"array-buffer SortAggregate in the verification path:\n$q18")
    // n-gram jaccard (r9 fused shape): the df cap lives INSIDE the
    // collapse aggregate (BoundedCollect — no capBuckets count pass, no
    // anti join) and per-doc sizes re-attach to the PAIR frame by joins
    // instead of riding a count-over-Window through the inverted index
    // (that window sorted the full keyed stream: the 504k-run OOM class).
    // The static plan shows one scan per branch; at runtime AQE collapses
    // them onto ONE evaluation via ReusedExchange of the shingle-collapse
    // exchange — assert on the POST-EXECUTION adaptive plan.
    val q19df = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    q19df.queryExecution.toRdd.count()
    val q19 = q19df.queryExecution.executedPlan.toString
    assert(q19.contains("ReusedExchange"),
      s"shingle collapse not reused across size/pair branches:\n$q19")
    assert(!q19.contains("Window"),
      s"per-doc sizes regressed to a full-stream window sort:\n$q19")
  }

  test("bm25: one corpus scan — the stats branch reuses the tf exchange, " +
    "and the no-reuse fallback stays row-identical") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // this Spark build must support the reuse trick (the probe gates the
    // serving path onto it) …
    assert(graft.ops.TextAnalysis.reuseExchangeFires(spark),
      "ReuseExchange probe came back false on this Spark build — the " +
        "keepAlive single-scan shape no longer fires; bm25 now runs the " +
        "checkpoint fallback, re-measure before accepting")
    val q = graft.ops.TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("data", "join", "stream"))
    // ReuseExchange is adaptive: materialize, then read the final plan
    q.queryExecution.toRdd.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"stats branch re-tokenizes the corpus (no exchange reuse) in:\n$plan")
    // … and the degraded shape (a Spark upgrade flipping the probe) must
    // produce the identical result through the checkpointed perDoc
    val reuse = q.collect().map(_.toSeq).toSeq
    val fallback = graft.ops.TextAnalysis.bm25TopKImpl(docs, "doc_id",
        "text", Seq("data", "join", "stream"), k1 = 1.2, b = 0.75, k = 50,
        reusePlan = false)
      .collect().map(_.toSeq).toSeq
    assert(reuse == fallback,
      "checkpoint fallback diverged from the reuse-plan result")
  }

  test("as-of join: single shuffle on the union, no nested-loop join") {
    val q37 = SparkEntry.queries("q37_asof_join")(spark, sf)
    val plan = physical(q37)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"as-of join degenerated to a product join in:\n$plan")
  }

  test("interval join: hash equi-join on (key, bucket), never a nested loop") {
    val ev = graft.ops.EventTime.readNanos(spark, sf)
    val plan = physical(graft.ops.IntervalJoin.countPreceding(
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click").select("user_id", "ts"),
      "user_id", "ts", "ts", window = 30L * 60 * 1000000000L))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join degenerated to a product join in:\n$plan")
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"),
      s"no join found in:\n$plan")
  }

  test("brute-force cosine: no join operator at all (per-row kernel)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = physical(graft.ops.Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") % 25 === 0), k = 5))
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    // the only exchange is the rank window's query_id shuffle
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 shuffle in:\n$plan")
  }

  test("IVF ANN: corpus assignment is shuffle-free, probe side broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = physical(graft.ops.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") % 25 === 0), k = 3,
      centroidStride = 50, nProbe = 2))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe side not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus shuffled for the cell join in:\n$plan")
  }

  test("surprisal: term totals via sum aggregate + hash join, never a " +
    "term window") {
    val plan = physical(graft.ops.TextAnalysis.unigramSurprisal(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text"))
    // the T branch must be a partial-count (map-side) aggregate folded in
    // as a broadcast, not a third shuffle; the per-term totals attach via
    // shuffled-hash join (finding 9: repeating keys → aggregate + join,
    // never a full-stream term sort)
    assert(plan.contains("BroadcastExchange"), s"T not broadcast in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"term totals must attach via shuffled-hash join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ re-sorts the stream:\n$plan")
    assert(!plan.contains("Window"), s"term window resurfaced in:\n$plan")
  }

  test("chunking and PQ scans are narrow: no exchange except the top-k window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val chunkPlan = physical(graft.ops.TextAnalysis.chunkTokens(
      docs, "doc_id", "text", 64, 48))
    assert(!chunkPlan.contains("Exchange"),
      s"chunking must be a pure map stage:\n$chunkPlan")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val encPlan = physical(graft.ops.Similarity.pqEncode(emb))
    assert(!encPlan.contains("Exchange"),
      s"PQ encode must be a pure map stage (codebook in closure):\n$encPlan")
    val adcPlan = physical(graft.ops.Similarity.pqTopK(
      emb, emb.filter(col("vec_id") % 25 === 0), k = 3))
    // one aggregation shuffle on query_id with MAP-SIDE partial top-k (the
    // bounded-state aggregator, never a rank window that would land the
    // whole scored frame on |queries| tasks); never a join (LUTs ride the
    // closure)
    assert(countOccurrences(adcPlan, "Exchange hashpartitioning") == 1 &&
      !adcPlan.contains("Join") && !adcPlan.contains("Window") &&
      adcPlan.contains("partial_topkaggregator"),
      s"ADC search must be kernel + one partial-agg shuffle:\n$adcPlan")
  }

  test("temperature mix: quota side broadcast, one window shuffle on domain") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = physical(graft.ops.Curation.sqrtQuotaMix(
      docs, "doc_id", "lang", 10.0))
    assert(plan.contains("BroadcastHashJoin"),
      s"quota table not broadcast in:\n$plan")
    assert(countOccurrences(plan, "Exchange hashpartitioning") <= 2,
      s"expected the window shuffle (+quota agg) only in:\n$plan")
  }

  test("bloom-prune join: the filter sits in the fact scan stage, below the join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val plan = physical(graft.ops.RuntimeFilter.bloomPruneJoin(
      li, orders, "l_orderkey", "o_orderkey", 1000, 0.01))
    val joinAt = plan.indexOf("Join")
    val filterAt = plan.indexOf("Filter")
    assert(joinAt >= 0 && filterAt > joinAt, // child plans print BELOW parents
      s"bloom filter not beneath the join in:\n$plan")
  }

  test("funnel: every stage window and the user aggregate share ONE shuffle") {
    val ev = graft.ops.EventTime.readNanos(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val plan = physical(graft.ops.Sessions.funnelUserTimes(
      ev, "user_id", "event_type", "ts", "event_id",
      Seq("view", "click", "purchase")))
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"cascading stage windows must reuse the user partitioning:\n$plan")
  }

  test("validator DAG: dim joins broadcast, no driver collect in plan") {
    val cfg = graft.pipeline.PipelineConfig.scaled(perSit = 2)
    val corpus = graft.pipeline.ContentGen.corpus(
      graft.pipeline.MetaGen.docs(spark, cfg))
    val mapping = graft.pipeline.ContentGen.mappingFromCorpus(corpus)
    // the one-pass verdict frame `Validator.run` folds
    val verdicts = graft.pipeline.Validator.verdicts(
      graft.pipeline.Validator.explodeAssignments(mapping),
      corpus.select("filename", "text"), cfg.sitDim(spark).toDF())
    val plan = physical(verdicts)
    assert(plan.contains("BroadcastHashJoin"),
      s"sit dim not broadcast in:\n$plan")
  }

  test("DLP plans stay small: one native expression per document and " +
    "stage, a corpus scan ships under 100 KB") {
    import graft.pipeline._
    // expression nodes over every node of the analyzed plan; the
    // Column-DSL render held 848 (docs), 1,620 (corpus) and 1,951
    // (derived), and a corpus scan serialized to 289 KB
    def nodes(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case p => p.expressions.map(_.collect { case e => e }.size).sum
    }.sum
    val cfg = PipelineConfig.scaled(perSit = 10)
    val docs = MetaGen.docs(spark, cfg)
    val corpus = ContentGen.corpus(docs)
    val derived = PostProcess.derive(corpus)
    assert(nodes(docs) <= 120, s"docs: ${nodes(docs)} expression nodes")
    assert(nodes(corpus) <= 200, s"corpus: ${nodes(corpus)} expression nodes")
    assert(nodes(derived) <= 350, s"derived: ${nodes(derived)} expression nodes")
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      .serialize(corpus.queryExecution.toRdd).limit()
    assert(bytes <= 100 * 1024, s"corpus scan RDD serializes to $bytes bytes")
  }

  test("final DLP mapping: one narrow projection of the corpus, no join, " +
    "no exchange") {
    import graft.pipeline._
    val cfg = PipelineConfig.scaled(perSit = 2)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg))
    val finalMapping = PostProcess.updateMapping(
      ContentGen.mappingFromCorpus(corpus), PostProcess.derive(corpus))
    val plan = physical(finalMapping)
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }

  test("decontamination: broadcast semi gate, no Expand, shingle text never shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val plan = physical(graft.ops.Curation.decontaminationFlags(
      docs, bench, "doc_id", "text", n = 3, minHits = 2))
    // the gating count must be a broadcast LEFT SEMI against the distinct
    // bench-shingle set — the inner-join-then-countDistinct formulation
    // multiplied every corpus row by the shingle's bench df and its Expand
    // sort-spilled the scratch disk dry on the 500k-doc scale run
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"no broadcast semi-join gate in:\n$plan")
    assert(!plan.contains("Expand"),
      s"multi-countDistinct Expand resurfaced in:\n$plan")
    // shingles travel as 8-byte xxhash64 keys; no exchange may carry text
    assert(!plan.contains("hashpartitioning(shingle"),
      s"raw shingle strings entered a shuffle in:\n$plan")
    // finding 17: under the 4M-flagged-id bound the doc-pair leg's semi
    // filter must be a BROADCAST join fused map-side into the scan stage —
    // a bare semi-join planned as SortMergeJoin, whose Sort externally
    // sorted the corpus inverted index (47.9 GB of spill at 1M docs, ALL
    // of the curation phase's 2× spill). The final flagged⋈pair-count
    // join runs on two flag-rate-bounded frames, so NO SortMergeJoin may
    // appear anywhere in the decontamination plan
    assert(!plan.contains("SortMergeJoin"),
      s"a corpus-sized sort-merge join resurfaced in:\n$plan")
  }

  test("exact global ntile: corpus-side window is bucket-partitioned") {
    val priced = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("pc"))
    val plan = physical(
      graft.ops.Sketches.exactGlobalNtile(priced, "pc", "o_orderkey", 10))
    // the ranking window must hash-partition on the range bucket — a bare
    // global ntile would show a single-partition window over the corpus
    assert(plan.contains("hashpartitioning(_gq_bucket"),
      s"ranking window not bucket-partitioned in:\n$plan")
    // the offsets prefix-sum is the ONLY single-partition exchange, and it
    // sits above an aggregated (≤ nBuckets rows) frame
    assert(countOccurrences(plan, "SinglePartition") == 1,
      s"expected exactly one tiny-frame SinglePartition exchange in:\n$plan")
    // the offsets side reaches the row-level join as a broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets frame not broadcast in:\n$plan")
  }

  test("semantic dedup: vectors cross ONE cell-keyed exchange, pairs are " +
    "scored in-cell — no join, no pair-frame payload shuffle") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = physical(graft.ops.Similarity.semanticDedup(
      emb, threshold = 0.4, centroidStride = 50))
    // finding 15: the r8 shape re-attached vectors to the candidate pairs
    // through two SHUFFLE_HASH joins, shipping each vector once per pair
    // membership (16.5 of the featurize phase's 20.4 GB shuffle at 504k
    // docs); the kernel computes the cosine where the vectors already are
    assert(!plan.contains("Join"),
      s"pair path regressed to a vector re-attach join in:\n$plan")
    val keyed = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // the ONLY vector-carrying exchange is the bucket repartition; the
    // dropDuplicates and drop_id aggregates ride survivor-sized frames
    assert(keyed.exists(_.contains("hashpartitioning(bucket")),
      s"bucket repartition missing in:\n$plan")
    assert(keyed.size == 3,
      s"expected bucket + pair-dedup + drop_id exchanges only, got " +
        s"${keyed.size} in:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("ObjectHashAggregate"),
      s"payload-buffering operator in the pair path:\n$plan")
  }

  test("substring span dedup: shingles shuffle as xxhash64 longs, two " +
    "keyed exchanges total, occurrence filter truly sort-free") {
    val plan = physical(graft.ops.Dedup.repeatedSpans(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", n = 10))
    // exactly TWO keyed exchanges: the occurrence-filter repartition on
    // the 8-byte shingle hash, and the per-doc islands windows on id (the
    // final groupBy(id, span_id) rides the id partitioning — hash(id)
    // satisfies ClusteredDistribution(id, span_id), no third exchange).
    // The hash-count shape (coveredPositionsHash) replaced r6's
    // count-over-window winner: same single exchange, but the binary
    // per-partition sort (62 GB spill at 504k docs) is gone — per-task
    // state is a primitive count map + ≤ minOcc−1 parked rows per key
    // (early emit at the threshold — hot-key safe, r8)
    val keyed = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(keyed.size == 2, s"expected 2 keyed exchanges, got:\n$plan")
    assert(keyed.exists(_.contains("hashpartitioning(shingle")),
      s"occurrence filter not partitioned on the shingle hash in:\n$plan")
    assert(keyed.exists(_.contains("hashpartitioning(id")),
      s"island windows not partitioned per doc in:\n$plan")
    // shingle TEXT never crosses a shuffle: both exchange rows carry only
    // long-typed columns (id/pos/shingle), not sh_text
    assert(!keyed.exists(_.contains("sh_text")),
      s"shingle text shuffled in:\n$plan")
    // linear pipeline: no join, no pair blowup, no object-buffer
    // aggregate anywhere
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"object-buffer aggregate in the span pipeline:\n$plan")
    // the occurrence side must not sort: the ONLY sorts in the plan are
    // the id-keyed islands windows
    val sorts = plan.linesIterator.filter(_.trim.startsWith("Sort ")).toSeq
    assert(!sorts.exists(_.contains("shingle")),
      s"occurrence filter sorts the shingle stream in:\n$plan")
  }

  test("incremental span dedup (finding 20): every join is hash, the " +
    "corpus-sized table is slimmed by a LEFT-SEMI before the value join") {
    // broadcast disabled so spec-sized frames expose the at-scale join
    // shapes the hints pin (with auto-broadcast on, tiny sides hide them)
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val baseOcc = graft.ops.Dedup.shingleOccurrenceTable(
      docs.filter(col("doc_id") % 2 === 0), "text", n = 10)
    // microBatchMaxBytes = -1: this audit pins the AT-SCALE (shuffle)
    // path — the r11 micro-batch gate would otherwise fire on the
    // spec-sized batch and broadcast the slim (its own shape is pinned
    // in IncrementalDedupSpec)
    val plan = physical(graft.ops.Dedup.incrementalRepeatedSpans(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", baseOcc,
      n = 10, microBatchMaxBytes = -1))
    // finding 20's regression class: a SortMergeJoin here sorted the
    // 623M-row table side at 504k docs (39.1 GB of spill)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-table join went sort-merge (finding 20 regression):\n$plan")
    // exactly three hash joins: the table-slim LEFT-SEMI (build = batch
    // counts), the batch-sized value join, the covered-positions LEFT-SEMI
    assert(countOccurrences(plan, "ShuffledHashJoin") == 3,
      s"expected 3 shuffled hash joins in:\n$plan")
    assert(countOccurrences(plan, "LeftSemi") == 2,
      s"expected the 2 left-semi legs in:\n$plan")
    // the table's one inherent exchange and every other keyed exchange
    // ride 8-byte keys — shingle text never shuffles
    assert(plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .forall(!_.contains("sh_text")),
      s"shingle text crossed an exchange in:\n$plan")
    // no sort on the shingle-keyed stream (islands windows sort on id)
    assert(!plan.linesIterator.filter(_.trim.startsWith("Sort "))
      .exists(_.contains("shingle")),
      s"a sort reached the shingle stream in:\n$plan")
  }

  test("kernel-above-sort family (r16 §1): the per-row kernel projects " +
    "ABOVE the final sort with no exchange between them, and the kernel " +
    "evaluates exactly once — row order is load-bearing (r16 verdict " +
    "item 3: an optimizer change that re-sinks the kernel or re-inserts " +
    "an exchange above the Sort would silently reorder/slow the family)") {
    // q81 (no trailing orderBy at all — EliminateSorts would re-sink a
    // kernel placed under a redundant sort) and q29 (representative of
    // the orderBy members) pin the whole family's shape
    for (q <- Seq("q81_bpe_encode", "q29_iban_mod97")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf))
      val lines = plan.linesIterator.toIndexedSeq
      val udfIdx = lines.indexWhere(l => l.contains("Project") &&
        l.contains("UDF("))
      val sortIdx = lines.indexWhere(_.contains("Sort ["))
      assert(udfIdx >= 0 && sortIdx >= 0,
        s"$q: expected a UDF project and a sort in:\n$plan")
      assert(udfIdx < sortIdx,
        s"$q: kernel project must sit ABOVE the final sort:\n$plan")
      assert(!lines.slice(udfIdx + 1, sortIdx).exists(_.contains("Exchange")),
        s"$q: an exchange crept between the kernel and the sort " +
          s"(breaks row-order carry-through):\n$plan")
      assert(countOccurrences(plan, "UDF(") == 1,
        s"$q: kernel must evaluate exactly once (no filter/sampling " +
          s"double-eval):\n$plan")
    }
  }
}
