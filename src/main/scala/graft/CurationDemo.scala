package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, Similarity, TextAnalysis}

/** End-to-end training-data curation over a document corpus — the composed
  * form of the ops suite (what a data-curation user actually runs):
  *
  *   exact dedup → near-dup clustering (MinHash LSH + connected
  *   components, keep one doc per cluster) → benchmark decontamination →
  *   quality gate → PII redaction → language/quality profile →
  *   deterministic split → partitioned parquet by split.
  *
  * Usage: runMain graft.CurationDemo [sfDir] [outDir]
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1)
    val spark = Session.builder("graft-curation", Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, spark.read.parquet(s"$sfDir/documents.parquet"), outDir))
    spark.stop()
  }

  /** The full curation DAG on any (doc_id, text) frame — callable from
    * [[ScaleRun]] so the scale-proof harness drives the *same* pipeline the
    * CLI runs, not a reimplementation. Returns the one-line summary.
    *
    * The thresholds are corpus-tuning knobs, defaulted to the CLI demo's
    * values: `nearDupThreshold` is the MinHash Jaccard cut, `contamN`/
    * `contamMinHits` the decontamination n-gram size and distinct-overlap
    * cut. A heavily templated corpus (like the engine's own generator
    * output, where every doc shares skeleton n-grams) needs a larger
    * `contamN`/`contamMinHits` or the benchmark slice transitively drops
    * everything — same tuning a real web corpus needs for boilerplate.
    *
    * `lshRows`/`lshMaxBucket` tune the near-dup candidate generator the
    * same way: at 500k templated docs the default 2-hash band key admits
    * skeleton-similar pairs (P = s²) into every bucket and the candidate
    * verification — though longs-only — goes quadratic-in-cap; a 4-hash
    * key (P = s⁴: 6% at s=0.5, 41% at s=0.8 → ~88% recall over 4 bands at
    * the 0.8 cut) with a tighter cap keeps candidates proportional to the
    * real near-dup rate. */
  def run(spark: SparkSession, docsIn: DataFrame, outDir: Option[String],
          nearDupThreshold: Double = 0.5, contamN: Int = 3,
          contamMinHits: Int = 5, benchEvery: Int = 20,
          lshRows: Int = 2, lshMaxBucket: Int = 1000): String = {
    val t0 = System.nanoTime()
    // stage marks go to stdout so a killed run is attributable to a stage;
    // each mark carries the spill/shuffle-write DELTA since the previous
    // one (r9: the 2× headroom probe booked 48 GB of curation spill with
    // no way to tell WHICH stage — per-stage deltas make regressions and
    // probe findings attributable without re-instrumenting).
    // BEST-EFFORT attribution: stage-completed events arrive on the async
    // listener bus, so a stage finishing right at a mark can have its bytes
    // booked under the NEXT mark's delta. Fine for this diagnostic stdout —
    // the phase TOTALS (what SCALE_REPORT records) are unaffected.
    val spillB = new java.util.concurrent.atomic.AtomicLong
    val shufB = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          shufB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener must not outlive this run even when a stage throws —
    // leaked onto the shared SparkContext it would keep accumulating into
    // every later query in the session (ADVICE r9); hence try/finally
    try {
    var lastSpill = 0L
    var lastShuf = 0L
    def mark(stage: String): Unit = {
      val sp = spillB.get; val sh = shufB.get
      println(f"[curation] +${(System.nanoTime() - t0) / 1e9}%.0fs $stage " +
        f"(stage spill ${(sp - lastSpill) >> 20} MB, " +
        f"shuffle ${(sh - lastShuf) >> 20} MB)")
      lastSpill = sp; lastShuf = sh
    }

    val docs = docsIn.cache()
    val n0 = docs.count()

    // Stages 1-4 run inside a block so their intermediate frames go OUT OF
    // SCOPE once the (small, eagerly localCheckpoint-ed — lineage
    // truncated) drop list exists: unpersist alone frees cached blocks,
    // but the dedup/decontamination SHUFFLE files — the dominant
    // scratch-disk cost at corpus scale, tens of GB in the 500k-doc scale
    // run — are deleted only when the referencing RDD objects are
    // garbage-collected, which requires unreachable references plus a GC.
    val (allDrops, nExact, nNear, nContam) = {
      // 1. exact dedup: drop all but the first doc of each identical text
      val exactDrops = Dedup.exactDropIds(docs, "doc_id", "text")
        .select(col("id")).cache()
      val nExact = exactDrops.count()
      mark(s"exact dedup done ($nExact drops)")

      // 2. near-dup dedup: MinHash-LSH pairs at Jaccard >= threshold,
      //    clustered into connected components — duplicate CHAINS (a≈b≈c
      //    with a!≈c) collapse to one kept doc (the min id), which
      //    per-pair dropping cannot guarantee
      val nearPairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = nearDupThreshold, rows = lshRows,
        maxBucket = lshMaxBucket).select("id_a", "id_b")
      val nearDrops = Dedup.dupClusters(nearPairs)
        .filter(col("id") =!= col("cluster")).select(col("id")).cache()
      val nNear = nearDrops.count()
      mark(s"near-dup clustering done ($nNear drops)")

      // 3. benchmark decontamination: drop corpus docs overlapping a
      //    held-out benchmark slice (demo benchmark: every `benchEvery`-th
      //    doc) on ≥ minHits distinct word n-grams — AND the benchmark
      //    docs themselves, which must never reach training output.
      //    The slice must stay BROADCAST-SIZED: its exploded n-gram
      //    inverted index becomes an executor hash relation (real
      //    benchmark suites are thousands of docs, so the scale run uses
      //    benchEvery=200 ≈ 2.5k docs — every-20th at 500k docs built a
      //    60M-row relation whose GC pause killed the local executor)
      val benchDocs = docs.filter(col("doc_id") % benchEvery === 0)
      val contamDrops = Curation.decontaminationFlags(
        docs.filter(col("doc_id") % benchEvery =!= 0), benchDocs,
        "doc_id", "text", n = contamN, minHits = contamMinHits).select(col("id"))
        .unionByName(benchDocs.select(col("doc_id").as("id")))
        .cache()
      val nContam = contamDrops.count()
      mark(s"decontamination done ($nContam drops)")

      // 4. merged drop list (the lists can overlap)
      val merged = exactDrops.unionByName(nearDrops)
        .unionByName(contamDrops).distinct().localCheckpoint()
      Seq(exactDrops, nearDrops, contamDrops).foreach(_.unpersist(false))
      (merged, nExact, nNear, nContam)
    }
    val nDrops = allDrops.count()
    mark(s"drop list merged ($nDrops)")
    System.gc() // nudge ContextCleaner to reap the out-of-scope shuffles
    val curated = Curation.qualityFilter(docs, "text", minScore = 0.3,
      dropIds = allDrops)

    // 4b. boilerplate profile: corpus-frequent 3-gram share per doc —
    //     report the distribution, drop only fully-templated docs
    //     (boiler_pm = 1000: every shingle is corpus-frequent).
    //     Same scoping discipline: only the (tiny) stats row and the
    //     checkpointed fully-templated id list escape the block, so the
    //     ~1B-row shingle-df shuffle is GC-able before redaction runs.
    val (boilerStats, fullBoiler) = {
      val boiler = Curation.boilerplateProfile(docs, "doc_id", "text",
        n = 3, minDf = 20).cache()
      val stats = boiler.agg(
        avg(col("boiler_pm")).as("mean_pm"),
        sum(when(col("boiler_pm") === 1000, 1L).otherwise(0L)).as("n_full"))
        .collect()(0)
      val full = boiler.filter(col("boiler_pm") === 1000).select(col("id"))
        .localCheckpoint()
      boiler.unpersist(false)
      (stats, full)
    }
    System.gc()
    mark("boilerplate profile done")
    // 5. redact + normalize + profile + split (normalized text feeds the
    //    fingerprint so case/punctuation variants share one sketch key —
    //    served by the native normalize_text expression)
    val finalDf = Curation
      .redactSits(curated.join(fullBoiler.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left_anti"), "text", graft.pipeline.DefaultSits.all)
      .withColumn("norm_text", Curation.normalizeTextCol(col("redacted_text")))
      .withColumn("lang_pred", TextAnalysis.langIdCol(col("text")))
      // counting kernel, not size(tokensCol(...)): the HOF array form is
      // CodegenFallback — interpreted per token — and this column sits in
      // the corpus-wide profile projection (see the scale-run narrative)
      .withColumn("n_tokens", TextAnalysis.tokenCountCol(col("text")))
      .withColumn("fingerprint", TextAnalysis.fingerprintCol(col("norm_text")))
      .withColumn("split", Curation.splitCol(col("doc_id")))
      .select("doc_id", "split", "lang_pred", "quality_score", "n_tokens",
        "n_redactions", "fingerprint", "redacted_text")
      .cache()
    val perSplit = finalDf.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    mark(s"quality/redact/profile/split done (${perSplit.values.sum} kept)")

    // 5b. temperature mixing on the train split: sqrt-quota per predicted
    //     language rebalances the head language before packing
    val train = Curation.sqrtQuotaMix(
      finalDf.filter(col("split") === "train"), "doc_id", "lang_pred",
      scale = 10.0).cache()
    val nTrainMixed = train.count()
    mark(s"train mix done ($nTrainMixed train)")

    // 6. sequence packing over the mixed train split (concat-and-chunk,
    //    per shard — the dataloader-facing layout)
    val packed = TextAnalysis.packSequences(
        train.select(col("doc_id"), col("redacted_text").as("text")),
        "doc_id", "text", maxTokens = 512, docsPerShard = 100)
      .cache()
    val nSeqs = packed.select("shard", "seq_in_shard").distinct().count()
    mark(s"packing done ($nSeqs seqs)")

    outDir.foreach { dir =>
      finalDf.write.mode("overwrite").partitionBy("split").parquet(dir)
      // 7. WebDataset tar shards for the train split: {id}.txt + {id}.json
      //    per sample, one byte-deterministic tar per packing shard
      val samples = train
        .join(packed.select(col("doc_id"), col("shard"),
          col("seq_in_shard"), col("seq_offset")), "doc_id")
        .select(col("shard"),
          explode(array(
            struct(format_string("%08d.txt", col("doc_id")).as("name"),
              encode(col("redacted_text"), "UTF-8").as("bytes")),
            struct(format_string("%08d.json", col("doc_id")).as("name"),
              encode(to_json(struct(col("doc_id"), col("lang_pred"),
                col("n_tokens"), col("seq_in_shard"), col("seq_offset"))),
                "UTF-8").as("bytes")))).as("e"))
        .select(col("shard"), col("e.name").as("name"), col("e.bytes").as("bytes"))
      graft.sink.TarShards.writeShards(samples, s"$dir/train_wds",
        "shard", "name", "bytes")
      mark("parquet + tar shards written")
    }

    val kept = finalDf.count()
    val secs = (System.nanoTime() - t0) / 1e9
    f"[curation] $n0 docs -> removed $nDrops docs " +
      f"($nExact exact-dup, $nNear near-dup-clustered, $nContam contaminated; " +
      f"lists overlap), " +
      f"${n0 - nDrops - kept} low-quality-or-templated; " +
      f"kept $kept (${perSplit.getOrElse("train", 0L)} train / " +
      f"${perSplit.getOrElse("val", 0L)} val / ${perSplit.getOrElse("test", 0L)} test); " +
      f"boilerplate mean ${boilerStats.getDouble(0)}%.0f permille " +
      f"(${boilerStats.getLong(1)} fully-templated); " +
      f"train mixed to $nTrainMixed docs, packed into $nSeqs 512-token sequences " +
      f"in $secs%.1f s"
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
