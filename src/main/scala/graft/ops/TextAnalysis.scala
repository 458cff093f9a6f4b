package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID, quality
  * scoring, token counting, document fingerprinting. All pure Column
  * expressions (codegen'd, shuffle-free per row); md5-based fingerprints are
  * engine-portable for the oracle.
  */
object TextAnalysis {

  /** Lowercased word tokens — native regex-free scan ([[graft.expr
    * .TokenKernel]]; JDK regex is serial under multithreading on this
    * JVM — see Tokenize.scala). */
  def tokensCol(text: Column): Column =
    graft.expr.Tokenize.tokensNative(text)

  /** T7 — whitespace word count (Python `len(s.split())`); native scan. */
  def wordCountCol(text: Column): Column =
    graft.expr.Tokenize.wordCountNative(text)

  /** Counting kernels: the Column forms materialize every match/token
    * into an array only to take its size — these count in one compiled
    * scan (same java.util.regex semantics Spark's regexp functions use).
    * Column twins retained below; OpsSpec pins equality. */
  /** Regex twin of the [[graft.expr.TokenKernel.bpeishCount]] scan
    * (TokenizeSpec equality). */
  private[graft] def bpeishCountRegex(text: String): Long = {
    if (text == null) return 0L
    val m = java.util.regex.Pattern
      .compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").matcher(text)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  def bpeishCount(text: String): Long = graft.expr.TokenKernel.bpeishCount(text)

  def tokenCount(text: String): Long = graft.expr.TokenKernel.tokenCount(text)

  private val bpeishUdf = udf(bpeishCount _)

  /** BPE-ish token-count estimate: word-piece-style segments (letters
    * run / digits run / single symbol), the standard pre-tokenizer shape —
    * served by the regex-free counting kernel. */
  def bpeishCountCol(text: Column): Column = bpeishUdf(text)

  /** Count of [[tokensCol]] tokens without materializing the array —
    * native codegen expression, regex-free. */
  def tokenCountCol(text: Column): Column =
    graft.expr.Tokenize.tokenCountNative(text)

  /** Column twin of [[bpeishCountCol]] (array-materializing form). */
  private[ops] def bpeishCountColExpr(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Per-doc term-frequency kernel: one compiled tokenize+count pass —
    * the (doc, term, tf) frame is NARROW (no token-instance explode, no
    * groupBy(id, term) shuffle; at 100 TB that shuffle carried one row
    * per token instance where this carries one per distinct term). */
  private val termCountsUdf = udf { (text: String) =>
    if (text == null) Seq.empty[(String, Long)]
    else {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      graft.expr.TokenKernel.tokens(text).foreach { t =>
        m.update(t, m.getOrElse(t, 0L) + 1L)
      }
      m.toSeq
    }
  }

  /** (id, term, tf) rows — one per DISTINCT term per doc, shuffle-free. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(termCountsUdf(col(textCol))).as("tf0"))
      .select(col("id"), col("tf0._1").as("term"), col("tf0._2").as("tf"))

  /** Language marker words (tiny per-language stopword lists; n-gram
    * heuristic stand-in — the container has no langid model). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "for"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "por", "para"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zhe", "ni", "men"))

  /** Marker-hit count for one language. */
  def langScoreCol(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => markers.map(m => t === m).reduce(_ || _)))

  /** Fused language-ID kernel: tokenize ONCE, count marker hits per
    * language, argmax with first-language tie-break — one compiled call
    * per document. The Column twin ([[langIdColExpr]]) re-tokenizes and
    * runs an interpreted `filter` HOF per language (5× the work, per
    * element); measured 5.0s → sub-second at sf0.1. */
  private val markerSets: Seq[(String, Set[String])] =
    LangMarkers.map { case (l, ms) => (l, ms.toSet) }

  def langId(text: String): String = {
    if (text == null) return "und"
    val toks = graft.expr.TokenKernel.tokens(text)
    var best = "und"
    var bestScore = 0
    markerSets.foreach { case (lang, ms) =>
      var s = 0
      var i = 0
      while (i < toks.length) { if (ms(toks(i))) s += 1; i += 1 }
      if (s > bestScore) { best = lang; bestScore = s } // first lang wins ties
    }
    best
  }

  private val langIdUdf = udf(langId _)

  /** Predicted language, served by the fused kernel. */
  def langIdCol(text: Column): Column = langIdUdf(text)

  /** Interpreted-Column twin of [[langIdCol]] (OpsSpec asserts identical
    * predictions; not a serving path). */
  private[ops] def langIdColExpr(text: Column): Column = {
    val toks = tokensCol(text)
    // greatest over struct(score, nlang, lang): max score first; `nlang`
    // reverses the alphabet so ties resolve to the lexicographically first
    // language (struct comparison is field-order lexicographic).
    val inverted = LangMarkers.map { case (lang, ms) =>
      struct(langScoreCol(toks, ms).as("score"),
        lit(LangMarkers.size - LangMarkers.indexWhere(_._1 == lang)).as("nlang"),
        lit(lang).as("lang"))
    }
    val top = greatest(inverted: _*)
    when(top.getField("score") === 0, lit("und")).otherwise(top.getField("lang"))
  }

  /** Fused quality kernel: every metric AND the composite score from one
    * tokenize+scan per document (the Column twin re-tokenizes per metric
    * and folds token lengths through an interpreted `aggregate`).
    * Rounding is BigDecimal HALF_UP — identical to Spark's `round`. */
  private val allStopwords: Set[String] = LangMarkers.flatMap(_._2).toSet
  private def r6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def qualityMetrics(text: String): (Long, Long, Double, Double, Double, Double) = {
    val t = if (text == null) "" else text
    val nChars = t.codePointCount(0, t.length).toLong
    val toks = graft.expr.TokenKernel.tokens(t)
    val nWords = toks.length.toLong
    var punct = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?')
        punct += 1
      i += 1
    }
    var stops = 0; var lenSum = 0L
    toks.foreach { w => if (allStopwords(w)) stops += 1; lenSum += w.length }
    val punctRatio = r6(punct.toDouble / math.max(1L, nChars))
    val stopRatio = r6(stops.toDouble / math.max(1L, nWords))
    val meanLen = r6(if (nWords > 0) lenSum.toDouble / nWords else 0.0)
    val lenScore = math.min(nWords.toDouble / 100.0, 1.0)
    val punctScore = math.max(0.0, 1.0 - punctRatio * 5)
    val stopScore = math.min(stopRatio * 4, 1.0)
    val wordLenScore = if (meanLen >= 3.0 && meanLen <= 8.0) 1.0 else 0.5
    val score = r6((lenScore + punctScore + stopScore + wordLenScore) / 4)
    (nChars, nWords, punctRatio, stopRatio, meanLen, score)
  }

  private val qualityUdf = udf { (text: String) => qualityMetrics(text) }

  /** One shared kernel invocation; fields projected out (deterministic
    * UDF → physical-plan subexpression elimination keeps it ONE call even
    * when all six columns are selected). */
  private def qualityStruct(text: Column): Column = qualityUdf(text)

  /** Quality heuristics: length, punctuation ratio, stopword ratio, mean
    * word length — served from the fused kernel. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val q = qualityStruct(text)
    Seq(
      "n_chars" -> q.getField("_1"),
      "n_words" -> q.getField("_2"),
      "punct_ratio" -> q.getField("_3"),
      "stopword_ratio" -> q.getField("_4"),
      "mean_word_len" -> q.getField("_5"))
  }

  /** Composite quality score in [0,1] (fused kernel). */
  def qualityScoreCol(text: Column): Column =
    qualityStruct(text).getField("_6")

  /** Interpreted-Column twin of [[qualityColumns]] (OpsSpec equality). */
  private[ops] def qualityColumnsExpr(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val toks = tokensCol(text)
    val nWords = size(toks)
    val punct = length(regexp_replace(text, "[^.,;:!?]", ""))
    val stops = langScoreCol(toks, LangMarkers.flatMap(_._2).distinct)
    val meanLen = when(nWords > 0,
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
        nWords.cast("double")).otherwise(lit(0.0))
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_words" -> nWords.cast("long"),
      "punct_ratio" -> round(punct.cast("double") /
        greatest(lit(1), nChars).cast("double"), 6),
      "stopword_ratio" -> round(stops.cast("double") /
        greatest(lit(1), nWords).cast("double"), 6),
      "mean_word_len" -> round(meanLen, 6))
  }

  /** Interpreted-Column twin of [[qualityScoreCol]]. */
  private[ops] def qualityScoreColExpr(text: Column): Column = {
    val cols = qualityColumnsExpr(text).toMap
    val lenScore = least(cols("n_words").cast("double") / 100.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - cols("punct_ratio") * 5)
    val stopScore = least(cols("stopword_ratio") * 4, lit(1.0))
    val wordLenScore = when(cols("mean_word_len").between(3.0, 8.0), 1.0)
      .otherwise(0.5)
    round((lenScore + punctScore + stopScore + wordLenScore) / 4, 6)
  }

  /** Repetition / structure heuristics in the style of the published
    * Gopher (Rae et al. 2021, §A1.1) and C4 (Raffel et al. 2020) cleaning
    * rules — the standard pre-training corpus filters. All pure Column
    * expressions over the raw text (narrow, codegen'd, engine-portable):
    *   - dup_line_frac: 1 − distinct/total non-empty lines
    *   - ellipsis_line_frac: lines ending in "..." or "…"
    *   - symbol_word_ratio: #/… symbol count per word
    *   - mean_line_len: mean characters per non-empty line
    */
  def repetitionColumns(text: Column): Seq[(String, Column)] = {
    val q = repetitionStruct(text)
    Seq(
      "n_lines" -> q.getField("_1"),
      "dup_line_frac" -> q.getField("_2"),
      "ellipsis_line_frac" -> q.getField("_3"),
      "symbol_word_ratio" -> q.getField("_4"),
      "mean_line_len" -> q.getField("_5"))
  }

  /** Fused repetition kernel — one pass over lines and tokens per doc
    * (the Column twin folds lines through interpreted filter/aggregate
    * HOFs). Semantics identical to the twin field for field:
    * distinctness over the UNtrimmed kept lines, "..." counted
    * non-overlapping left-to-right, rounding HALF_UP. */
  def repetitionMetrics(text: String): (Long, Double, Double, Double, Double) = {
    val t = if (text == null) "" else text
    val lines = t.split("\n", -1).filter(_.trim.nonEmpty)
    val nLines = lines.length.toLong
    val dupFrac =
      if (nLines > 0) 1.0 - lines.distinct.length.toDouble / nLines else 0.0
    val nEll = lines.count { l =>
      val s = l.trim
      s.endsWith("...") || s.endsWith("…")
    }
    val ellFrac = if (nLines > 0) nEll.toDouble / nLines else 0.0
    var hashEll = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '#' || c == '…') hashEll += 1
      i += 1
    }
    var triples = 0
    var at = t.indexOf("...")
    while (at >= 0) { triples += 1; at = t.indexOf("...", at + 3) }
    val nWords = graft.expr.TokenKernel.tokenCount(t)
    val symbolRatio = (hashEll + triples.toDouble) / math.max(1, nWords)
    val meanLineLen =
      if (nLines > 0)
        lines.map(l => l.codePointCount(0, l.length).toLong).sum.toDouble / nLines
      else 0.0
    (nLines, r6(dupFrac), r6(ellFrac), r6(symbolRatio), r6(meanLineLen))
  }

  private val repetitionUdf = udf { (text: String) => repetitionMetrics(text) }
  private def repetitionStruct(text: Column): Column = repetitionUdf(text)

  /** Interpreted-Column twin of [[repetitionColumns]] (OpsSpec equality). */
  private[ops] def repetitionColumnsExpr(text: Column): Seq[(String, Column)] = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val nLines = size(lines)
    val nWords = size(tokensCol(text))
    val dupFrac = when(nLines > 0,
      lit(1.0) - size(array_distinct(lines)).cast("double") /
        nLines.cast("double")).otherwise(0.0)
    val ellipsisFrac = when(nLines > 0,
      size(filter(lines, l =>
        endswith(trim(l), lit("...")) || endswith(trim(l), lit("…"))))
        .cast("double") / nLines.cast("double")).otherwise(0.0)
    val symbols = length(regexp_replace(text, "[^#…]", "")) +
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = symbols.cast("double") /
      greatest(lit(1), nWords).cast("double")
    val meanLineLen = when(nLines > 0,
      aggregate(lines, lit(0L), (a, l) => a + length(l)).cast("double") /
        nLines.cast("double")).otherwise(0.0)
    Seq(
      "n_lines" -> nLines.cast("long"),
      "dup_line_frac" -> round(dupFrac, 6),
      "ellipsis_line_frac" -> round(ellipsisFrac, 6),
      "symbol_word_ratio" -> round(symbolRatio, 6),
      "mean_line_len" -> round(meanLineLen, 6))
  }

  /** Keep/drop verdict from the published thresholds (Gopher §A1.1:
    * drop if >30% duplicate lines, >30% ellipsis lines, or symbol ratio
    * >0.1). Returns true when the document passes. */
  def gopherKeepCol(text: Column): Column = {
    val q = repetitionStruct(text)
    q.getField("_2") <= 0.3 && q.getField("_3") <= 0.3 &&
      q.getField("_4") <= 0.1
  }

  /** Canonical document fingerprint: md5 of the normalized token stream
    * (tokens joined by single spaces — byte-identical to collapsing every
    * separator run to one space and trimming). Served by the regex-free
    * native tokenizer; the definitional regex form ([[fingerprintColExpr]])
    * is the TokenizeSpec equality twin. */
  def fingerprintCol(text: Column): Column =
    md5(array_join(tokensCol(text), " "))

  /** Array-materializing definitional twin of [[fingerprintCol]]
    * (OpsSpec pins equality). */
  private[ops] def fingerprintColExpr(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9']+", " ")))

  /** TF-IDF top-`k` terms per document, in ONE pass over the corpus:
    * token explode → (doc,term) counts → document frequency as a window
    * count over the tf frame itself → smoothed idf — no self-join, no
    * second scan, no collect, no driver-side count.
    * tf = term count in doc; idf = ln((N+1)/(df+1)); ties broken by term.
    *
    * Scale shape: tf rows are distinct per (doc,term), so df(term) is a
    * codegen COUNT aggregate over tf re-attached through one hash join.
    * Corpus TERM keys repeat corpus-wide ("the" is in every doc), which
    * is exactly the profile where SCALE.md finding 9 measured the
    * aggregate + join beating — and the count-over-window OOMing on —
    * a ~1.2B-row keyed stream: the window SORTS the full stream by term,
    * while the aggregate's map-side combine collapses it toward the
    * vocabulary before the wire and the probe streams unsorted. Cost:
    * the tokenize evaluates twice (Catalyst does not plan-share the
    * pruned aggregate branch) — linear CPU for a corpus-sized sort, the
    * same trade boilerplateProfile measured at 504k docs. N folds in as
    * a broadcast 1-row aggregate over a footer-only row-count scan. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    // NOT widened under Dedup.widenNarrowScan (r17 negative result):
    // the same-window A/B measured q33 1.91 → 2.64 s with a widen —
    // unlike the minhash family, this kernel is one cheap fused
    // tokenize and the added exchange (evaluated per branch) costs more
    // than the serial map stage it parallelizes (the q02/q40 negatives'
    // pattern: cheap kernel ⇒ widening loses).
    val tf = termFrequencies(df, idCol, textCol) // narrow, no tf shuffle
    val nDf = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val termDf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(termDf.hint("SHUFFLE_HASH"), Seq("term"))
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("id", "rank", "term", "tf", "df", "tfidf")
  }

  /** Okapi BM25 relevance of every document against a fixed query-term
    * set — the standard retrieval score (k1 = 1.2, b = 0.75 per
    * Robertson/Spärck Jones), with Lucene's non-negative idf form
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Determinism contract (oracle-hashable): each (doc, term) partial is
    * rounded to integer MICRO-units before the per-doc sum — double
    * summation order differs between engines, integer sums do not (same
    * discipline as q44 surprisal / q76 linear filter). Docs matching no
    * query term are excluded (score 0); ties at the top-k boundary break
    * by id on the rounded score.
    *
    * Scale shape: tokens are filtered to the query set BEFORE the
    * (doc,term) shuffle, so tf is ≤ |docs|·|query| rows; df is a window
    * count over tf ([[tfidfTopTerms]]'s single-scan trick); N and total
    * length fold in as a broadcast 1-row aggregate; the top-k is
    * TakeOrdered (no global sort materialization). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               k: Int = 50): DataFrame =
    bm25TopKImpl(df, idCol, textCol, queryTerms, k1, b, k,
      reusePlan = reuseExchangeFires(df.sparkSession))

  /** Once-per-Spark-build probe: does AQE collapse the two consumptions
    * of a pruned aggregate (the keepAlive trick below) into ONE exchange
    * via ReuseExchange? Probed on a 100-row range with the same plan
    * shape, cached by (Spark version, exchange-reuse conf, AQE conf) —
    * firing depends on the session conf too, so a session with reuse
    * disabled must not inherit a stale `true` probed under defaults (r7
    * advice). When reuse won't fire, [[bm25TopK]] degrades to a
    * checkpointed perDoc — correct, still one tokenize, one extra
    * materialization — instead of silently re-tokenizing the corpus (or
    * failing the PlanAuditSpec pin). */
  private val reuseProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] def reuseExchangeFires(
      spark: org.apache.spark.sql.SparkSession): Boolean = {
    val key = Seq(spark.version,
      spark.conf.get("spark.sql.exchange.reuse", "true"),
      spark.conf.get("spark.sql.adaptive.enabled", "true")).mkString("|")
    reuseProbeCache.computeIfAbsent(key, _ => {
      val agg = spark.range(100)
        .selectExpr("id % 10 AS id", "id AS v")
        .groupBy("id")
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
      val stats = agg.agg(sum("s").cast("double").as("ts"), sum("c").as("tc"))
      val keep = col("tc").isNull || col("tc") >= 0
      val out = agg.crossJoin(broadcast(stats.filter(keep).select("ts")))
      out.queryExecution.toRdd.count()
      Boolean.box(
        out.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    })
  }

  private[graft] def bm25TopKImpl(df: DataFrame, idCol: String, textCol: String,
                                queryTerms: Seq[String], k1: Double,
                                b: Double, k: Int,
                                reusePlan: Boolean): DataFrame = {
    // ONE tokenize of the corpus (the dominant compute at scale): explode
    // once, then a single groupBy(id) yields both the doc length (count of
    // non-null term rows — explode_outer keeps token-less docs, so N and
    // avgdl still cover the whole corpus) and the per-query-term tfs as
    // pivoted columns.
    val base = df.select(col(idCol).cast("long").as("id"),
      explode_outer(tokensCol(col(textCol))).as("term"))
    val tfAggs = queryTerms.map(q =>
      sum(when(col("term") === q, 1L).otherwise(0L)).as(s"tf_$q"))
    val perDoc0 = base.groupBy("id").agg(count(col("term")).as("len"), tfAggs: _*)
    // fallback when this Spark build's ReuseExchange won't fire for the
    // keepAlive shape: materialize perDoc once so the stats branch reads
    // the checkpoint instead of re-running the tokenize+shuffle lineage
    val perDoc = if (reusePlan) perDoc0 else perDoc0.localCheckpoint()
    // Corpus stats (N docs, total len) come from a second consumption of
    // perDoc — normally Catalyst prunes the two branches differently (the
    // stats branch doesn't need the tf columns), the partial aggregates
    // stop canonicalizing identically, and AQE's ReuseExchange can't fire,
    // so the corpus would tokenize twice. Referencing EVERY perDoc column
    // in the stats aggregate and keeping them alive behind an opaque
    // 1-row filter makes both exchange subtrees identical → the shuffle
    // (and the tokenize below it) materializes once. Pinned in
    // PlanAuditSpec ("bm25: one corpus scan").
    val statAggs = sum("len").cast("double").as("total") ::
      queryTerms.toList.map(q => sum(col(s"tf_$q")).as(s"mt_$q"))
    val statsAll = perDoc.agg(count(lit(1)).cast("double").as("n"), statAggs: _*)
    val keepAlive = queryTerms
      .map(q => col(s"mt_$q").isNull || col(s"mt_$q") >= 0).reduce(_ && _)
    val stats = broadcast(statsAll.filter(keepAlive).select("n", "total"))
    // un-pivot back to the (id, len, term, tf) rows the formula scores
    val stackExpr = s"stack(${queryTerms.size}, " +
      queryTerms.map(q => s"'$q', tf_$q").mkString(", ") + ") AS (term, tfl)"
    val tf = perDoc.select(col("id"), col("len"), expr(stackExpr))
      .filter(col("tfl") > 0)
      .withColumn("tf", col("tfl").cast("double"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    tf.withColumn("df", count(lit(1)).over(wTerm).cast("double"))
      .crossJoin(stats)
      .withColumn("micro",
        // scalar-first products are reordered column-first (IEEE * is
        // commutative bit-for-bit, so the DuckDB oracle tree still agrees)
        round(log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + (lit(1.0 - b) + (col("len") * b) /
            (col("total") / col("n"))) * k1) * 1e6).cast("long"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms"), sum("micro").as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("id").asc)
      .limit(k)
      .select("id", "n_terms", "bm25_micro")
  }

  /** Corpus-unigram-LM surprisal scoring — the classic cheap "perplexity"
    * quality signal: each token's surprisal is −ln p(token) under the
    * corpus's own unigram distribution; a document full of rare tokens
    * (gibberish, boilerplate IDs) scores high, natural prose scores low.
    *
    * Determinism contract (oracle-hashable): per-token surprisal is the
    * exact integer `round(ln T·1e6) − round(ln c·1e6)` (micro-nats), so
    * per-doc sums are integer arithmetic — no float-summation-order drift
    * between engines. Output: (id, n_tokens, avg_surprisal).
    *
    * Scale shape: explode → (doc,term) counts → corpus term count as a
    * codegen SUM aggregate over the compact tf frame re-attached through
    * one hash join (same repeating-key reasoning as [[tfidfTopTerms]] —
    * SCALE.md finding 9: the term window sorts the full stream, the
    * aggregate's map-side combine collapses it to the vocabulary; the
    * tokenize evaluates twice in trade) → doc-level aggregate. The total
    * token count T is one extra NARROW scan (map-side partial count, no
    * shuffle) folded in as a broadcast 1-row frame — re-deriving it from
    * the doc aggregate would re-execute the whole explode+shuffle
    * pipeline (Catalyst does not plan-share pruned aggregate branches). */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol) // narrow, no tf shuffle
    val termC = tf.groupBy("term").agg(sum("tf").as("c"))
    val doc = tf
      .join(termC.hint("SHUFFLE_HASH"), Seq("term"))
      .groupBy("id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * round(log(col("c")) * 1e6).cast("long")).as("partial"))
    // tot from termC, not tf (r16): Σ_corpus tf == Σ_vocab c exactly
    // (same longs, integer addition is order-free), but the tf form
    // re-ran the tokenize+explode pass a THIRD time — termC's exchange
    // is already materialized for the join, so this branch reuses it and
    // aggregates vocab-sized partials instead of re-scanning the corpus.
    val tot = termC.agg(
      round(log(sum(col("c"))) * 1e6).cast("long").as("rt"))
    doc.crossJoin(broadcast(tot))
      .select(col("id"), col("n_tokens"),
        round((col("n_tokens") * col("rt") - col("partial")) /
          col("n_tokens") / 1e6, 6).as("avg_surprisal"))
  }

  /** One compiled pass per document over the token array — measured ~4.7×
    * faster than the declarative `zip_with(slice, slice, struct)` form
    * (0.6s vs 2.9s warm, sf0.1): higher-order Catalyst functions are
    * CodegenFallback-interpreted per ELEMENT, while the UDF boundary is
    * paid once per DOCUMENT. */
  private val bigramsUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.length < 2) Seq.empty[(String, String)]
    else {
      val out = new Array[(String, String)](toks.length - 1)
      var i = 0
      while (i < toks.length - 1) { out(i) = (toks(i), toks(i + 1)); i += 1 }
      out.toSeq
    }
  }

  /** Bigram count table — the n-gram LM training-prep operator: counts of
    * consecutive lowercase token pairs across the corpus. Pairs are built
    * per row (no self-join, no window over token position); the only
    * shuffle is the final count, which map-side combines to the compact
    * distinct-pair set. */
  def bigramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(bigramsUdf(tokensCol(col(textCol)))).as("bg"))
      .select(col("bg._1").as("a"), col("bg._2").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("pair_n"))

  /** Top-`k` next tokens per leading token by bigram count (ties → token
    * order) — the greedy conditional-probability view of [[bigramCounts]]. */
  def bigramTopNext(df: DataFrame, textCol: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
      .orderBy(col("pair_n").desc, col("b").asc)
    bigramCounts(df, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("a", "b", "pair_n", "rank")
  }

  /** HTML → text extraction (the CommonCrawl-style boilerplate strip, the
    * first transform of every web-scale corpus): drop script/style blocks,
    * strip tags, decode the common entities, collapse whitespace. Pure
    * codegen'd regexp chain — narrow, shuffle-free, engine-portable (RE2
    * `(?is)` non-greedy block matches work identically in DuckDB). */
  def htmlToTextCol(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&" // amp LAST so &amp;lt; decodes once
    ).foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Sequence packing — the GPT-style concat-and-chunk shape: documents
    * are packed greedily in id order into fixed-`maxTokens` training
    * sequences, PER SHARD (a global packing order would be a single
    * sequential cumsum; per-shard packing is what production pipelines do
    * — embarrassingly parallel, one window shuffle on the shard key).
    * Output per doc: shard, seq_in_shard (which sequence the doc STARTS
    * in), seq_offset (token offset inside it). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    maxTokens: Long, docsPerShard: Long = 1000): DataFrame =
    packSequencesBy(df, idCol, size(tokensCol(col(textCol))).cast("long"),
      maxTokens, docsPerShard)

  /** [[packSequences]] with a caller-supplied token-count column — the
    * exact-budget form: pass [[Bpe.encode]]'s `n_bpe` (real subword
    * counts) and the packed sequences hit the training budget exactly
    * instead of approximating it with whitespace words. */
  def packSequencesBy(df: DataFrame, idCol: String, nTokens: Column,
                      maxTokens: Long, docsPerShard: Long = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("n_tokens", nTokens)
      .withColumn("shard", expr(s"CAST($idCol AS BIGINT) div ${docsPerShard}L"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div ${maxTokens}L").as("seq_in_shard"),
        ((col("cum") - col("n_tokens")) % maxTokens).as("seq_offset"))
  }

  /** Sliding-window token chunking with overlap — the long-document →
    * training-window split (chunk `chunkSize` tokens, step `stride`, the
    * tail chunk may be short). A chunk starts every `stride` tokens while
    * tokens remain, so every token is covered and consecutive chunks
    * overlap by `chunkSize - stride`.
    *
    * Narrow: tokenize + `sequence`/`explode` + `slice`, no shuffle — at
    * 100 TB this is a pure map stage whose output feeds chunk-level dedup
    * or packing. Chunk text is re-joined and md5-fingerprinted (the
    * engine-portable hash). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 64, stride: Int = 48): DataFrame =
    chunkTokensBy(df, idCol, tokensCol(col(textCol)), chunkSize, stride)

  /** [[chunkTokens]] over a caller-supplied token-array column — the
    * exact-budget form: pass [[Bpe.encode]]'s `bpe_tokens` and every
    * chunk holds at most `chunkSize` REAL subword tokens. */
  def chunkTokensBy(df: DataFrame, idCol: String, toks: Column,
                    chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    df.select(col(idCol).cast("long").as("id"), toks.as("toks"))
      .withColumn("ntok", size(col("toks")).cast("long"))
      .select(col("id"), col("toks"), col("ntok"),
        explode(when(col("ntok") > 0,
            sequence(lit(0L), col("ntok") - 1, lit(stride.toLong)))
          .otherwise(array().cast("array<long>"))).as("start_tok"))
      .select(col("id"),
        (col("start_tok") / stride).cast("long").as("chunk_idx"),
        col("start_tok"),
        least(lit(chunkSize.toLong), col("ntok") - col("start_tok")).as("n_tok"),
        md5(array_join(
          slice(col("toks"), (col("start_tok") + 1).cast("int"), lit(chunkSize)),
          " ")).as("chunk_md5"))
  }

  /** Hashed-bag-of-words linear classifier logit — the fasttext-shaped
    * model-based quality-filter stage (CCNet/FineWeb style) in a form any
    * engine reproduces exactly: each token hashes (md5) into a `dim`-bucket
    * weight table whose weights are themselves derived from the bucket's
    * md5 (a stand-in for trained weights — the INFERENCE shape is the
    * real thing: tokenize → hash → gather → dot product), and the logit
    * is Σ tf·w in EXACT integer micro-units, so thresholding can never
    * flip between engines. One compiled pass per doc, shuffle-free. */
  private val logitWeightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Bucket b's weight: md5 of the bucket id, centered into [-500, 499]
    * — built once per dim per executor, so a token costs ONE digest. */
  private def logitWeights(dim: Int): Array[Long] =
    logitWeightCache.computeIfAbsent(dim, d => Array.tabulate(d) { b =>
      val bd = java.security.MessageDigest.getInstance("MD5")
        .digest(b.toString.getBytes("UTF-8"))
      ((((bd(0) & 0xffL) << 8) | (bd(1) & 0xffL)) % 1000L) - 500L
    })

  private val TokenPattern = java.util.regex.Pattern.compile("[a-z0-9']+")

  def hashedLogit(text: String, dim: Int): Long = {
    require(dim > 0, s"dim must be positive, got $dim")
    if (text == null) return 0L
    val w = logitWeights(dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    var logit = 0L
    // precompiled token matcher, no split-array materialization — the
    // counting-kernel discipline (see BpeishPattern above)
    val m = TokenPattern.matcher(text.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) {
      md.reset()
      val d = md.digest(m.group().getBytes("UTF-8"))
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      logit += w((h1 % dim).toInt)
    }
    logit
  }

  private val hashedLogitUdf = udf(hashedLogit _)

  /** Per-doc logit + keep/drop label (logit > 0). */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        dim: Int = 1024): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        hashedLogitUdf(col(textCol), lit(dim)).as("logit_micro"))
      .withColumn("keep", col("logit_micro") > 0)

  /** Full per-document profile. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val withQ = qualityColumns(t).foldLeft(
      df.select(col(idCol), t.as("text"))) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }
    withQ
      .withColumn("bpeish_tokens", bpeishCountCol(t).cast("long"))
      .withColumn("lang_pred", langIdCol(t))
      .withColumn("quality_score", qualityScoreCol(t))
      .withColumn("fingerprint", fingerprintCol(t))
      .drop("text")
  }
}
