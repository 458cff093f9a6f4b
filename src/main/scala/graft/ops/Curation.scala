package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data preparation: PII redaction
  * (the inverse of the pipeline's detection stage — same SIT dimension),
  * deterministic dataset splitting, and quality filtering. All narrow
  * per-row expressions; the split is pure key arithmetic so it is
  * reproducible across engines, runs and partitionings (never `rand()`).
  */
object Curation {

  /** Flagged-id broadcast bound for [[decontaminationFlags]]'s pass-2
    * semi gate (4M ids ≈ 32 MB as a broadcast hash relation) — same
    * bound and rationale as the near-dup verify gate, SCALE.md
    * finding 14/17. Package-visible: [[Dedup.retroactiveSpanSweep]]'s
    * affected-id restriction is the same corpus-vs-bounded-set shape. */
  private[graft] final val MaxFlaggedIdBroadcast = 4L << 20

  /** Redact every match of `patterns` (name → regex) with `[NAME]` tokens —
    * a fold of `regexp_replace` over the pattern table (plan constants,
    * compiled once per task). Patterns in the `\b(?=.*\d)TOKEN\b` family
    * route to the linear digit-gated kernel ([[graft.expr.DigitGated]] —
    * same match set, O(n) instead of quadratic on long-line documents).
    * Returns (text', n_redactions) columns. */
  def redactCol(text: Column, patterns: Seq[(String, String)]): Column =
    patterns.foldLeft(text) { case (t, (name, regex)) =>
      graft.expr.DigitGated.split(regex) match {
        case Some(residual) =>
          graft.expr.DigitGatedExprs.replaceCol(t, residual, s"[$name]")
        case None => regexp_replace(t, regex, s"[$name]")
      }
    }

  /** Number of redactions `redactCol` would make (sum of match counts). */
  def redactionCountCol(text: Column, patterns: Seq[(String, String)]): Column =
    patterns.map { case (_, regex) =>
      graft.expr.DigitGated.split(regex) match {
        case Some(residual) => graft.expr.DigitGatedExprs.countCol(text, residual)
        case None => size(regexp_extract_all(text, lit(regex), lit(0)))
      }
    }.reduce(_ + _).cast("long")

  /** Redact the regex-bearing SITs of a dimension over `textCol`.
    *
    * Scale note (found by the 500k-doc scale run): patterns with
    * unbounded lookaheads — the dimension's `(?=.*\d)` family — cost
    * O(line length) at EVERY word boundary in a backtracking engine, so
    * one multi-kilobyte single-line document makes this fold quadratic
    * (32 cores spent ~0.6 s/doc on 24 KB one-line filler; normal
    * line-structured text is milliseconds). The generator now emits
    * line-structured filler; corpora ingested from elsewhere should be
    * normalized to bounded line lengths before redaction, or hostile
    * single-line documents length-capped upstream. */
  def redactSits(df: DataFrame, textCol: String,
                 sitDim: Seq[graft.pipeline.SitDef]): DataFrame = {
    val pats = sitDim.filter(_.regex.nonEmpty).map(s => s.id -> s.regex)
    // fused native kernel (SCALE.md finding 13): one conversion per doc,
    // every pattern scan gated by RegexFacts-proven facts (digit windows /
    // required literals / the DigitGated lookahead path), copy only on an
    // actual match — vs the [[redactCol]]/[[redactionCountCol]] Column
    // chains, which pay ~3 full-document copies per pattern even at zero
    // matches and run every regex over all of every doc. The chains remain
    // the proof twin (RedactKernelSpec pins bit equality on real corpora
    // and adversarial boundary docs).
    df.withColumn("n_redactions",
        graft.expr.RedactExprs.countAllCol(col(textCol), pats))
      .withColumn("redacted_text",
        graft.expr.RedactExprs.redactAllCol(col(textCol), pats))
  }

  /** Deterministic train/val/test assignment from key arithmetic:
    * bucket = (key·2654435761) mod 1000; thresholds are per-mille weights.
    * Engine-portable (plain integer arithmetic, no hash function). */
  def splitCol(key: Column, trainPerMille: Int = 800,
               valPerMille: Int = 100): Column = {
    val b = pmod(key * 2654435761L, lit(1000L))
    when(b < trainPerMille, "train")
      .when(b < trainPerMille + valPerMille, "val")
      .otherwise("test")
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥ `minHits`
    * word `n`-grams with any benchmark document — the standard guard
    * against evaluation-set leakage into training data.
    *
    * Scale shape — two passes so the corpus-sized pass never multiplies:
    *
    *  1. The gating count joins corpus (id, shingle) rows — per-doc
    *     distinct, carried as 8-byte xxhash64 keys, never shingle text —
    *     LEFT SEMI against the distinct benchmark-shingle SET. At most one
    *     output row per (doc, distinct shingle) regardless of the
    *     shingle's benchmark document frequency, so `n_contaminated` is a
    *     plain map-side-combinable count(*). The obvious formulation
    *     (inner-join the raw bench inverted index, then countDistinct)
    *     multiplies every corpus row by the shingle's bench df before
    *     aggregating: on a 500k-doc templated corpus a skeleton 8-gram
    *     shared by ~2.5k benchmark docs blew the join up to billions of
    *     rows whose countDistinct Expand sort-spilled the scratch disk
    *     dry. Hashing cannot skew the counts — each row is already one
    *     distinct-in-doc shingle, so a collision can only add a spurious
    *     membership hit (64-bit: negligible), never merge counted rows.
    *  2. `n_bench_docs` (distinct benchmark docs a flagged doc overlaps)
    *     is intrinsically a pair count, so it is computed only for docs
    *     that pass `minHits`: their shingles join the broadcast bench
    *     inverted index, collapse to distinct (id, bench_id) pairs (the
    *     fan-out dedupes map-side inside the same narrow stage), and are
    *     counted. Cost scales with the flag rate, not the corpus — with
    *     tuned thresholds the flagged set is a sliver; if every doc flags,
    *     the thresholds are wrong for the corpus (see [[CurationDemo]]).
    *
    * "Only for docs that pass minHits" needs the finding-14 gate to be
    * true in the PLAN, not just the row counts: the flagged frame is
    * materialized once (localCheckpoint — it is consumed three times
    * below, and each un-checkpointed consumption re-ran the corpus-wide
    * explode), and under the id-broadcast bound the pass-2 inverted index
    * is LEFT-SEMI filtered MAP-SIDE inside the scan stage. Left as a
    * bare semi-join, Catalyst planned a SortMergeJoin whose Sort
    * externally sorted the full corpus inverted index — the 2× headroom
    * probe booked 47.9 GB of spill (ALL of the curation phase's spill)
    * in exactly that sort (SCALE.md finding 17). Oversized flag sets
    * (> 4M ids ≈ 32 MB) keep the shuffle plan — a semi-join is a pure
    * filter, so the row set is identical either way.
    *
    * The benchmark side (eval suites — small by definition) is broadcast
    * in both passes; the corpus-side shuffles key on 8-byte ids/hashes
    * only. Output: (id, n_contaminated, n_bench_docs) per flagged doc. */
  def decontaminationFlags(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String, n: Int = 3,
                           minHits: Int = 1): DataFrame = {
    // the fused byte-level kernel is bit-identical to the previous
    // explode(array_distinct(shinglesCol)) + xxhash64 chain (OpsSpec's
    // real-corpus identity pin) and skips the per-window String build.
    // NOT widened under Dedup.widenNarrowScan (r17 negative result):
    // corpusInv is consumed twice (flag pass + gated re-attach), so the
    // widening exchange would run twice while this kernel (one xxhash64
    // pass, no minhash permutations) is the family's cheapest — the
    // same-window A/B measured q40 2.72 → 3.35 s WITH the widen; the
    // serial one-split kernel stage is cheaper than two extra exchanges.
    val corpusInv = corpus.select(col(idCol).cast("long").as("id"),
      explode(Dedup.hashedShinglesCol(col(textCol), n)).as("h"))
    val benchInv = benchmark.select(
      col(idCol).cast("long").as("bench_id"),
      explode(Dedup.hashedShinglesCol(col(textCol), n)).as("h"))

    val flagged = corpusInv
      .join(broadcast(benchInv.select(col("h")).distinct()), Seq("h"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_contaminated"))
      .filter(col("n_contaminated") >= minHits)
      .localCheckpoint()
    val nFlagged = flagged.count()

    val gated =
      if (nFlagged <= MaxFlaggedIdBroadcast)
        corpusInv.join(broadcast(flagged.select(col("id"))), Seq("id"), "left_semi")
      else corpusInv.join(flagged.select(col("id")), Seq("id"), "left_semi")
    val benchDocCounts = gated
      .join(broadcast(benchInv.distinct()), Seq("h"))
      .select(col("id"), col("bench_id")).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("n_bench_docs"))

    // the verdict re-attach is flag-rate-bounded on BOTH sides — under
    // the same gate, broadcast the checkpointed side so no sort appears
    // anywhere in the plan (PlanAuditSpec pins SortMergeJoin-free)
    val flaggedB =
      if (nFlagged <= MaxFlaggedIdBroadcast) broadcast(flagged) else flagged
    flaggedB.join(benchDocCounts, Seq("id"))
      .select(col("id"), col("n_contaminated"), col("n_bench_docs"))
  }

  /** The clean corpus: everything not flagged by [[decontaminationFlags]]. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 3,
                    minHits: Int = 1): DataFrame =
    corpus.join(
      decontaminationFlags(corpus, benchmark, idCol, textCol, n, minHits)
        .select(col("id").cast("long").as(idCol)),
      Seq(idCol), "left_anti")

  /** Deterministic stratified Bernoulli sampling: keep a row iff its
    * key's hash bucket falls under its stratum's per-mille rate —
    * down/up-weighting data sources or languages is the standard corpus
    * mixing step. Pure key arithmetic (portable, retry-safe, no rand());
    * the multiplier is offset from [[splitCol]]'s so sampling is
    * decorrelated from split assignment. */
  def stratifiedSampleCol(key: Column, stratum: Column,
                          ratesPerMille: Map[String, Int],
                          defaultPerMille: Int = 0): Column = {
    val bucket = pmod(key * 2654435761L + 40503L, lit(1000L))
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) {
      case (acc, (s, r)) => when(stratum === s, lit(r)).otherwise(acc)
    }
    bucket < rate
  }

  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       ratesPerMille: Map[String, Int],
                       defaultPerMille: Int = 0): DataFrame =
    df.filter(stratifiedSampleCol(col(keyCol), col(stratumCol),
      ratesPerMille, defaultPerMille))

  /** Frequent-shingle broadcast bound for [[boilerplateProfile]]: 8M
    * 8-byte hashes ≈ 64 MB broadcast (the open-addressing probe table
    * built from it is ≤ 2× that). Real corpora are head-of-zipf — the
    * ≥minDf set is a small fraction of the distinct-shingle universe
    * (504k-doc scale corpus: the whole universe's map-side partials are
    * 135 MB) — but the bound is a guard, not an assumption: past it the
    * join fallback below keeps the operator correct at any scale. */
  private final val MaxFrequentShingleBroadcast = 8 << 20

  /** Corpus-frequent n-gram ("boilerplate") profile: per document, how many
    * of its distinct word `n`-grams occur in ≥ `minDf` documents — the
    * standard template/boilerplate-text signal (C4 and friends drop or
    * down-weight docs dominated by corpus-frequent spans).
    *
    * Scale shape (SCALE.md finding 19): the ONLY corpus-sized exchange is
    * the per-shingle document-frequency COUNT aggregate, whose map-side
    * partials shuffle distinct shingles (135 MB at 504k docs), never the
    * ~0.5B-row (id, shingle) stream. The ≥minDf ("frequent") set is then
    * collected under [[MaxFrequentShingleBroadcast]] (single-job
    * limit-guarded fetch, same idiom as the ANN codebook guards) into a
    * driver-built open-addressing long set, broadcast, and each doc's
    * verdict counts are computed NARROW — one fused tokenize+hash+probe
    * kernel call per doc against the broadcast table, no join, no second
    * exchange. Before this shape the verdict re-attach was a
    * SHUFFLE_HASH join of the full (id, shingle) stream (a 4.6 GB
    * exchange + 4.7 GB read + one BytesToBytesMap probe per occurrence +
    * a corpus-wide groupBy(id)): same-host isolated A/B at 503,876 docs
    * (SCALE.md finding 19), bit-identical output, **70.6 → 26.6 s** with
    * shuffle r/w 9.3 GB → 270 MB. Past the broadcast bound the old join
    * shape runs unchanged as the fallback — correct at any scale, just
    * not exchange-free. That join shape itself deliberately replaced the
    * count-over-window form: the window's partition SORT over the keyed
    * stream is what OOM'd a 48 GB heap at 504k docs, and a collect_list
    * fusion was worse still (ObjectHashAggregate object-sorts past its
    * 128-key fallback; 242 GB spill measured on the substring sibling).
    *
    * Shingles enter as 8-byte xxhash64 longs via the fused
    * [[Dedup.hashedShingles]] kernel (tokenize → shingle → distinct →
    * hash in one pass — distinct on the shingle TEXT, exactly the
    * oracle's `list_distinct` semantics; shingle strings never become
    * rows or array cells). Bounded key size however long the n-gram —
    * exact-dedup discipline; a 64-bit collision merging two df counts is
    * ~1e-4 probability at 1e8 distinct shingles, harmless for a ≥minDf
    * threshold signal. The fraction is exact integer per-mille — no
    * double division whose rounding an engine could disagree on. */
  def boilerplateProfile(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, minDf: Int = 5): DataFrame = {
    val hashes = Dedup.shingleHashesCol(col(textCol), n)
    val freq = df.select(explode(hashes).as("shingle"))
      .groupBy("shingle")
      .agg((count(lit(1)) >= minDf).as("__b"))
    // single-job guarded fetch of the frequent set (bound + 1 rows max —
    // driver memory stays bounded on any corpus). Collected as a typed
    // Dataset[Long] so the driver materializes a primitive long[] directly:
    // a Row collect at the 2²³ bound would transiently box ~8M GenericRow +
    // java.lang.Long objects (~5-8× the packed 64 MB the sizing note
    // counts); the typed path's deserializer writes primitives.
    val frequent = freq.filter(col("__b")).select(col("shingle"))
      .limit(MaxFrequentShingleBroadcast + 1)
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    if (frequent.length <= MaxFrequentShingleBroadcast) {
      // open-addressing membership table, built once on the driver:
      // power-of-2 capacity ≥ 2×n (load ≤ 0.5), fmix64 probe hash,
      // 0 ⇔ empty slot with an explicit flag for a genuine 0L key
      var cap = 4
      while (cap < frequent.length * 2) cap <<= 1
      val mask = cap - 1
      val table = new Array[Long](cap)
      var hasZero = false
      frequent.foreach { k =>
        if (k == 0L) hasZero = true
        else {
          var h = k ^ (k >>> 33)
          h *= 0xff51afd7ed558ccdL
          h ^= h >>> 29
          var j = (h & mask).toInt
          while (table(j) != 0L && table(j) != k) j = (j + 1) & mask
          table(j) = k
        }
      }
      val bcTable = df.sparkSession.sparkContext.broadcast(table)
      val zeroIn = hasZero
      val nLocal = n
      // fused verdict kernel: ONE tokenize+hash pass per doc, membership
      // probes against the broadcast table, both counts in one struct
      val verdict = udf { (text: String) =>
        val hs = Dedup.shingleHashes(text, nLocal)
        val t = bcTable.value
        val m = t.length - 1
        var c = 0L
        var i = 0
        while (i < hs.length) {
          val k = hs(i)
          if (k == 0L) { if (zeroIn) c += 1L }
          else {
            var h = k ^ (k >>> 33)
            h *= 0xff51afd7ed558ccdL
            h ^= h >>> 29
            var j = (h & m).toInt
            while (t(j) != 0L && t(j) != k) j = (j + 1) & m
            if (t(j) == k) c += 1L
          }
          i += 1
        }
        (hs.length.toLong, c)
      }
      df.select(col(idCol).cast("long").as("id"),
          verdict(col(textCol)).as("__r"))
        .select(col("id"),
          col("__r._1").as("n_shingles"), col("__r._2").as("n_boiler"))
        .withColumn("boiler_pm",
          floor(lit(1000L) * col("n_boiler") / col("n_shingles")).cast("long"))
    } else {
      // fallback past the broadcast bound: the verdict re-attach join
      // (full inv exchange — linear, no sort, bounded build maps; costs
      // one extra freq-aggregate evaluation after the failed guard)
      val inv = df.select(col(idCol).cast("long").as("id"),
        explode(hashes).as("shingle"))
      inv.join(freq.hint("SHUFFLE_HASH"), Seq("shingle"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_pm",
          floor(lit(1000L) * col("n_boiler") / col("n_shingles")).cast("long"))
    }
  }

  /** Unicode text-normalization kernel — see [[graft.expr.TextNorm]] for
    * the algorithm and the DuckDB-parity contract. */
  def normalizeText(s: String): String = graft.expr.TextNorm.normalize(s)

  /** Normalized text, served by the NATIVE codegen expression
    * (`normalize_text`): the kernel is spliced into the codegen region as
    * a static call — no Row↔Scala conversion, no region break (same
    * pattern as `cosine_sim`). */
  def normalizeTextCol(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.NormalizeText(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Temperature-weighted domain rebalancing (α = 0.5 — the "square-root
    * sampling" mix multilingual-corpus work uses to up-weight tail
    * domains): domain d keeps `floor(scale · √n_d)` documents, chosen in
    * deterministic md5 order. √ is IEEE-correctly-rounded, so quotas are
    * engine-identical — unlike `pow(n, α)` for general α, whose libm
    * rounding can flip a floor at the boundary.
    *
    * Scale shape: the per-domain count is a tiny broadcast aggregate; the
    * selection is one row_number window partitioned by domain. With one
    * dominant domain, pre-thin it with [[stratifiedSampleCol]] before the
    * window (the window itself must see a domain on one partition). */
  def sqrtQuotaMix(df: DataFrame, idCol: String, domainCol: String,
                   scale: Double): DataFrame = {
    val counts = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__dom"),
        floor(lit(scale) * sqrt(col("__n"))).cast("long").as("__quota"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(counts), col(domainCol) === col("__dom"))
      .filter(col("__rn") <= col("__quota"))
      .drop("__dom", "__quota", "__rn")
  }

  /** Quality gate: keep docs with score ≥ threshold and near-dup-free
    * (callers pass drop ids from a Dedup variant). */
  def qualityFilter(df: DataFrame, textCol: String, minScore: Double,
                    dropIds: DataFrame = null, idCol: String = "doc_id"): DataFrame = {
    val scored = df.withColumn("quality_score",
      TextAnalysis.qualityScoreCol(col(textCol)))
      .filter(col("quality_score") >= minScore)
    if (dropIds == null) scored
    else scored.join(
      dropIds.select(col("id").cast("long").as(idCol)), Seq(idCol), "left_anti")
  }
}
