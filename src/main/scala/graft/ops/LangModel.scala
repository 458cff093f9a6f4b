package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained character-n-gram Naive Bayes language identifier — the
  * data-driven sibling of `TextAnalysis.langIdCol`'s marker-word argmax
  * (markers need a hand-seeded wordlist per language; this model learns
  * its evidence from any labeled corpus, e.g. a crawl's self-declared
  * lang tags, and generalizes to languages with no curated markers).
  *
  * Arithmetic follows the repo's integer micro-nat discipline (same as
  * the surprisal/BM25 lanes): every log-probability is
  * `round(10⁶·ln(x))` as a BIGINT, scores are integer sums, and the
  * argmax breaks ties on the smaller lang string — so training AND
  * inference are engine-exact and the whole train→classify chain sits
  * behind a DuckDB oracle (q98).
  *
  * Model (add-one smoothing over the corpus gram vocabulary V):
  *   w(L,g)     = round(10⁶·ln((c(L,g)+1)/(tot(L)+V)))
  *   default(L) = round(10⁶·ln(1/(tot(L)+V)))         — unseen gram
  *   prior(L)   = round(10⁶·ln(docs(L)/docs))
  *   score(d,L) = prior(L) + Σ_seen tf·w(L,g) + (n_d−tf_seen)·default(L)
  *
  * Scale shape: gram keys are at most |charset|ⁿ distinct (a few
  * thousand for bigrams) regardless of corpus size, so training is two
  * map-side-combining aggregates whose outputs are TINY; the weight
  * table broadcasts, classification is one broadcast join over per-doc
  * gram counts plus one (id, lang)-keyed aggregate — no corpus-sized
  * shuffle carries anything but 8-byte ids and short grams. The (docs ×
  * langs) spine is a broadcast of a ≤|langs|-row frame.
  * [[langIdTrained]] (train + self-classify, the q98 surface) tokenizes
  * the corpus ONCE: the per-doc gram arrays are materialized via
  * `localCheckpoint` and both the training counts and the inference tfs
  * derive from that one frame (r7 verdict #6 — previously the dominant
  * tokenize ran twice). */
object LangModel {

  /** Overlapping character n-grams of lower(text) over Unicode CODE
    * POINTS — positions 1..cps−n+1, matching DuckDB's code-point
    * `substr`/`len` semantics exactly (a UTF-16 code-unit walk would
    * split surrogate pairs on non-BMP text and disagree with the q98
    * oracle — r7 advice). Docs shorter than `n` code points have none. */
  def charNgrams(text: String, n: Int): Seq[String] = {
    if (text == null) return Seq.empty
    val t = text.toLowerCase(java.util.Locale.ROOT)
    val cps = t.codePoints().toArray
    if (cps.length < n) Seq.empty
    else (0 to cps.length - n).map(i => new String(cps, i, n))
  }

  private val charNgramsUdf = udf(charNgrams _)

  /** [[charNgrams]] with the per-doc term frequencies folded INTO the
    * kernel (r17, guide §2.2 "aggregate before you shuffle"): one pass
    * emits (distinct gram, tf) pairs plus the total gram count, so the
    * classify path needs NO corpus-wide groupBy(id, gram) exchange (the
    * per-doc aggregation is exactly what that exchange's map side
    * recomputed row by row) and the training counts aggregate reads
    * distinct-per-doc rows instead of every occurrence. Σ tf per
    * (lang, gram) == the occurrence count, so training arithmetic is
    * unchanged; LangModelSpec pins kernel == explode+count. */
  def charNgramTfs(text: String, n: Int): (Seq[(String, Long)], Long) = {
    if (text == null) return (Seq.empty, 0L)
    val t = text.toLowerCase(java.util.Locale.ROOT)
    val cps = t.codePoints().toArray
    if (cps.length < n) return (Seq.empty, 0L)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var i = 0
    while (i <= cps.length - n) {
      val g = new String(cps, i, n)
      m.update(g, m.getOrElse(g, 0L) + 1L)
      i += 1
    }
    (m.toSeq, (cps.length - n + 1).toLong)
  }

  private val charNgramTfsUdf = udf(charNgramTfs _)

  /** Trained model: `gramWeights` (lang, gram, w_micro) and `langStats`
    * (lang, prior_micro, default_micro) — both bounded by the charset,
    * not the corpus. */
  case class NaiveBayesModel(gramWeights: DataFrame, langStats: DataFrame)

  private def microLn(x: Column): Column =
    round(log(x) * 1000000).cast("long")

  /** Occurrence-row training entry ([[trainLangNB]]): `grams` = one
    * (lang, gram) row per gram occurrence; `docsPerLang` / `nDocs` count
    * the labeled docs (all docs, gram-less included). */
  private def trainFromGrams(grams: DataFrame, docsPerLang: DataFrame,
                             nDocs: DataFrame): NaiveBayesModel = {
    // counts is the ONLY aggregate that touches the full gram stream, and
    // it is charset-bounded tiny (≤ langs·|charset|ⁿ rows) — but it feeds
    // THREE separate subtrees (gramWeights, vocab, totals; langStats pulls
    // totals+vocab again), and Spark plans each DataFrame reuse as an
    // independent subtree, so without a cut the corpus-wide explode +
    // aggregate ran up to 4× per q98 call (r16 plan audit: the
    // HashAggregate+Exchange pair over the exploded grams appeared 4 times
    // in the before plan). r17 (verdict item 2): the cut is now a
    // collect + LOCAL RELATION, not a localCheckpoint — same 4×→1×
    // dedup of the corpus explode+aggregate, but the tiny frame lives on
    // the driver as plan-local data, so (a) there is no eager
    // persisted-block job whose executor-memory blocks a cold run pays
    // for, and (b) no lineage truncated into NON-REPLICATED executor
    // blocks — with localCheckpoint, ANY executor loss at 100 TB made
    // the lineage unrecoverable and failed the job; a collected local
    // relation has no executor dependency at all. The collect is bounded
    // by the charset (≤ langs·|charset|ⁿ rows, KB-sized at any corpus
    // scale), so driver memory is never corpus-proportional.
    trainFromCounts(
      DriverLocal.localFrame(grams.groupBy("lang", "gram").agg(count(lit(1)).as("c"))),
      docsPerLang, nDocs)
  }

  /** Model arithmetic over an already-aggregated `counts` (lang, gram,
    * c) frame — the shared tail; langIdTrained feeds it tf-sums (equal
    * to occurrence counts by the integer identity Σ_doc tf = c). */
  private def trainFromCounts(counts: DataFrame, docsPerLang: DataFrame,
                              nDocs: DataFrame): NaiveBayesModel = {
    // V = corpus-wide distinct gram vocabulary; tot(L) = gram occurrences
    // in L; both tiny aggregates over the charset-bounded key space
    val vocab = counts.select("gram").distinct()
      .agg(count(lit(1)).as("v"))
    val totals = counts.groupBy("lang").agg(sum("c").as("tot"))
    val gramWeights = counts
      .join(broadcast(totals), "lang").crossJoin(broadcast(vocab))
      .select(col("lang"), col("gram"),
        microLn((col("c") + lit(1.0)) / (col("tot") + col("v")))
          .as("w_micro"))
    val langStats = docsPerLang
      .join(broadcast(totals), "lang").crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nDocs))
      .select(col("lang"),
        microLn(col("n_docs").cast("double") / col("n_all")).as("prior_micro"),
        microLn(lit(1.0) / (col("tot") + col("v"))).as("default_micro"))
    NaiveBayesModel(gramWeights, langStats)
  }

  def trainLangNB(df: DataFrame, textCol: String, labelCol: String,
                  n: Int = 2): NaiveBayesModel =
    trainFromGrams(
      df.select(col(labelCol).as("lang"),
        explode(charNgramsUdf(col(textCol), lit(n))).as("gram")),
      df.groupBy(col(labelCol).as("lang")).agg(count(lit(1)).as("n_docs")),
      df.agg(count(lit(1)).as("n_all")))

  /** Classification tail: `docGrams` = (id, gram, tf); `nGrams` =
    * (id, n_grams) — n_grams MUST count the same grams `docGrams` was
    * built from (the unseen-gram term is n_grams − tf_seen), which both
    * public entry points guarantee by deriving the two from one gram
    * array per doc. */
  private def classifyFromGrams(model: NaiveBayesModel, docGrams: DataFrame,
                                nGrams: DataFrame): DataFrame = {
    val seen = docGrams.join(broadcast(model.gramWeights), "gram")
      .groupBy("id", "lang")
      .agg(sum(col("tf") * col("w_micro")).as("sum_seen"),
        sum("tf").as("tf_seen"))
    // SHUFFLE_HASH (r16): both sides are (docs × langs)-class frames
    // keyed (id, lang); the default sort-merge join SORTED each — the
    // hash join's per-partition build is rows/partitions, the same
    // bound stripRepeatedSpans' hinted join documents.
    // The per-doc argmax is a min_by over (−score, lang): the struct
    // ordering is exactly `score DESC, lang ASC` (scores are micro-nat
    // longs ≤ ~10¹³, negation is overflow-safe), and langStats carries
    // one row per lang so the ordering key is total per (id, lang) —
    // identical rows to the former rank-1 window, but as a map-side-
    // combinable HashAggregate instead of a per-id sort (r16: the
    // window's exchange carried docs×langs rows; the aggregate's
    // partials collapse to ≤ one row per id per task before the wire).
    nGrams.crossJoin(broadcast(model.langStats))
      .join(seen.hint("SHUFFLE_HASH"), Seq("id", "lang"), "left")
      .select(col("id"), col("lang"),
        (col("prior_micro")
          + coalesce(col("sum_seen"), lit(0L))
          + (col("n_grams") - coalesce(col("tf_seen"), lit(0L)))
            * col("default_micro")).as("score_micro"))
      .groupBy("id")
      .agg(min_by(
        struct(col("lang"), col("score_micro")),
        struct((-col("score_micro")).as("ns"), col("lang"))).as("best"))
      .select(col("id"), col("best.lang").as("pred_lang"),
        col("best.score_micro").as("score_micro"))
  }

  /** Classify every doc: (id, pred_lang, score_micro) — argmax language
    * by integer micro-nat score, ties to the smaller lang string. Docs
    * with zero grams (shorter than `n` code points) score prior-only.
    * n_grams derives from the SAME gram array as the tfs (one
    * `size(grams)` per doc), so the unseen-gram term is exact on any
    * Unicode content (r7 advice: a `length()`-based count disagreed on
    * non-BMP text). */
  def classifyLangNB(model: NaiveBayesModel, df: DataFrame, idCol: String,
                     textCol: String, n: Int = 2): DataFrame = {
    // tf kernel (r17): the per-doc gram frequencies come out of ONE
    // compiled pass, so no corpus-wide (id, gram) aggregate exchange —
    // see charNgramTfs. n_grams derives from the SAME kernel output.
    val base = df.select(col(idCol).cast("long").as("id"),
      charNgramTfsUdf(col(textCol), lit(n)).as("g"))
    classifyFromGrams(model,
      base.select(col("id"), explode(col("g._1")).as("t"))
        .select(col("id"), col("t._1").as("gram"), col("t._2").as("tf")),
      base.select(col("id"), col("g._2").as("n_grams")))
  }

  /** Train on the labeled corpus, classify the same corpus — the
    * self-prediction surface the q98 oracle gates end-to-end. The
    * per-doc gram arrays materialize ONCE (`localCheckpoint`, the same
    * idiom as bm25TopK's fallback): training counts, per-doc tfs, and
    * the n_grams totals all read the checkpoint instead of re-running
    * the tokenize UDF over the corpus — at scale the tokenize is the
    * dominant compute and the checkpoint is ~2× the text bytes.
    * FAILURE MODE at 100 TB (r16 advice): localCheckpoint blocks are
    * NON-replicated executor state — losing any executor after the
    * checkpoint makes this lineage unrecoverable and fails the job
    * instead of recomputing. A cluster run that cannot afford that
    * should `checkpoint()` to reliable storage (or persist+count with a
    * replicated level) at the price of writing ~2× the text bytes; the
    * charset-bounded model frames themselves no longer depend on any
    * checkpoint (they collect to a driver-local relation). */
  def langIdTrained(df: DataFrame, idCol: String, textCol: String,
                    labelCol: String, n: Int = 2): DataFrame = {
    // ONE kernel pass per doc emits (distinct gram, tf) + the gram total
    // (charNgramTfs): the checkpoint holds per-doc PRE-AGGREGATED rows,
    // so (a) the classify tfs explode straight out of it with NO
    // (id, gram) aggregate exchange, and (b) the training counts
    // aggregate sums tf over distinct-per-doc rows instead of counting
    // every occurrence — Σ_doc tf(L,g) == c(L,g) exactly (integer
    // identity), so the model is unchanged.
    // NOT widened under Dedup.widenNarrowScan (r17 negative result):
    // the same-window A/B read 6.55–7.91 s vs 3.79 base with a widen
    // before the kernel-into-checkpoint — the checkpoint then holds 32
    // partitions of KB-sized blocks, and every downstream job (counts
    // collect, lang collect, classify, plus their broadcast builds)
    // pays 32 task dispatches + closure deserializations where the
    // 1-split checkpoint paid one (the q19 jstack put exactly that
    // task-deser cost at the top). Widening wins only when the kernel
    // outweighs the extra per-task fixed cost of every LATER stage.
    val base = df
      .select(col(idCol).cast("long").as("id"),
        col(labelCol).as("lang"),
        charNgramTfsUdf(col(textCol), lit(n)).as("g"))
      .select(col("id"), col("lang"), col("g._1").as("tfs"),
        col("g._2").as("n_grams"))
      .localCheckpoint()
    val docTfs = base.select(col("id"), col("lang"),
        explode(col("tfs")).as("t"))
      .select(col("id"), col("lang"), col("t._1").as("gram"),
        col("t._2").as("tf"))
    // docsPerLang is ≤|langs| rows — collect it once and derive n_all as
    // the driver-side sum (every doc carries exactly one lang), so the
    // model's langStats side is pure local-relation arithmetic: its
    // broadcast builds run zero executor jobs (r17).
    val dplAgg = base.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val dplRows = dplAgg.collect()
    val docsPerLang = dplAgg.sparkSession.createDataFrame(
      java.util.Arrays.asList(dplRows: _*), dplAgg.schema)
    val nAll = dplRows.map(_.getLong(1)).sum
    val nDocsAgg = base.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(nAll)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_all",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val model = trainFromCounts(
      DriverLocal.localFrame(docTfs.groupBy("lang", "gram").agg(sum("tf").as("c"))),
      docsPerLang, nDocsAgg)
    classifyFromGrams(model,
      docTfs.select("id", "gram", "tf"),
      base.select(col("id"), col("n_grams")))
  }
}
