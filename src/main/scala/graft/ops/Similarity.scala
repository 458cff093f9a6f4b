package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`; the `embeddings` testdata table).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * compute similarity in a narrow projection, take per-query top-k with a
  * window. Scale path: random-hyperplane LSH — per-row bucket signature
  * (narrow), equi-join on bucket, top-k within bucket. Hyperplane
  * coefficients come from a deterministic integer formula so any engine
  * reproduces them (no `rand()`; SURVEY.md §7.5 oracle-determinism rule).
  *
  * Dot products are sequential `aggregate` folds over the array in element
  * order, computed in double — bit-reproducible across engines for the
  * oracle at small SF, and codegen'd (no UDF) at scale.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as an ordered double fold (Column form — used for the bucket
    * signatures where one side is a literal coefficient array). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)

  /** Pairwise-cosine kernel as a compiled UDF — kept as the PROOF TWIN of
    * the native expression below (same role RegexMatches plays for
    * RegexMatchesExpr): higher-order Catalyst folds are interpreted
    * (CodegenFallback) and a primitive while-loop is ~5× faster.
    *
    * Measured negative result (keep fused): precomputing per-side norms and
    * reducing the hot loop to dot-only was ~2.3× SLOWER at dim=64
    * (2.8s vs 1.2s warm, sf0.1 brute force) — the UDF boundary cost
    * (ArrayData→Seq conversion of both vectors) dominates, not flops, and
    * it is paid identically by a dot-only call. Fewer UDF invocations beat
    * fewer multiplications. */
  private[ops] val cosUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** UDF form of [[cosineCol]] (proof twin; NativeExpressionsSpec asserts
    * bit-identical results). */
  def cosineUdfCol(a: Column, b: Column): Column =
    cosUdf(a.cast("array<double>"), b.cast("array<double>"))

  /** Cosine via the NATIVE codegen expression (`expr/CosineSimExpr`): reads
    * ArrayData in place — no per-call Seq materialization, no codegen-region
    * break. Measured ~8× faster than the UDF twin on a 400k-pair scoring
    * frame (0.5s vs 4.1s warm, sf0.1), bit-identical output (same ordered
    * fold over the first min(len) elements). */
  def cosineCol(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.CosineSimExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Brute-force cosine top-k. `queries` must be small enough to broadcast
    * (it is collected once and shipped in the task closure — the same
    * smallness contract a broadcast join would need); output: (query_id,
    * neighbor_id, cosine_sim, rank). Ordering ties broken by neighbor id;
    * similarity is rounded to 6 decimals *before* ranking so rank order is
    * reproducible across engines (raw double ULP differences can never
    * flip a rounded comparison unless values truly tie — then the id
    * breaks it).
    *
    * Shape: ONE kernel call per corpus row scores every query (the corpus
    * vector converts across the UDF boundary once, its norm is computed
    * once) — measured ~3.6× faster than the broadcast-join + per-pair-UDF
    * form at sf0.1 (0.5s vs 1.8s warm; same lesson as the fused cosUdf:
    * boundary crossings dominate, not flops). Row-identical output —
    * dots accumulate in the same element order. */
  /** Hard ceiling on the query-side collect below: ~64k × 64-dim doubles
    * ≈ 33 MB in the closure — the same order a broadcast join would ship.
    * Misuse (a corpus-sized query frame) fails loudly on one cheap
    * count job instead of OOMing the driver; the ANN family (annTopK /
    * ivfTopK / pqTopK / ivfPqTopK) is the scale path past this. */
  val BruteForceMaxQueries: Long = 65536L

  /** Hard ceiling on every codebook/centroid collect (ivfTopK, pqCodebook,
    * ivfPqTopK coarse). A stride-derived codebook is CORPUS-PROPORTIONAL —
    * n/stride centroids — so a fixed stride on a grown corpus silently
    * turns the driver collect into a corpus-sized one (at 10¹⁰ docs with
    * stride=50 that is 2×10⁸ vectors into the driver). The guard counts
    * first (one cheap job) and fails loudly with the stride the caller
    * actually needs; the scale-true construction is a stride that grows
    * with n (or a capped deterministic sample), never a fixed one. */
  val MaxCentroids: Long = 65536L

  /** The scale-true way to pick `centroidStride` / `coarseStride` when the
    * corpus size is known: the smallest stride that keeps a stride-derived
    * codebook at or under `targetCentroids` rows, so the driver collect is
    * bounded BY CONSTRUCTION at any corpus size (the fixed-stride default
    * is only safe while the corpus stays ~stride·MaxCentroids). One cheap
    * count() + this = a corpus-size-proof ivfTopK call. */
  def strideFor(corpusSize: Long, targetCentroids: Long = 1024L): Long = {
    require(corpusSize > 0, "corpusSize must be positive")
    require(targetCentroids > 0 && targetCentroids <= MaxCentroids,
      s"targetCentroids must be in 1..$MaxCentroids")
    math.max(1L, (corpusSize + targetCentroids - 1) / targetCentroids)
  }

  /** Guarded centroid collect: ONE job that fetches at most
    * `MaxCentroids + 1` rows (driver memory bounded even on a
    * corpus-sized source) and fails loudly if the ceiling row arrived —
    * strictly cheaper than a count-then-collect pair, which pays a second
    * full job over the source. Row set is the full (bounded) result, so
    * callers sort/use it exactly as an unguarded collect. */
  private def collectCentroidsBounded(src: DataFrame, what: String,
                                      stride: Long): Array[org.apache.spark.sql.Row] = {
    val rows = src.limit(MaxCentroids.toInt + 1).collect()
    require(rows.length <= MaxCentroids,
      s"$what would collect more than $MaxCentroids centroid vectors " +
        s"into the driver; a stride of $stride is too small for this " +
        "corpus — centroid count is corpus_size/stride, so the stride must " +
        "scale with the corpus (use strideFor, or a capped deterministic " +
        "sample)")
    rows
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val scored = bruteForceScores(corpus, queries, idCol, vecCol)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** Aggregator-ranked twin of [[bruteForceTopK]] — identical output
    * (same rounded scores, same score-desc/id-asc tie rule, proven in
    * RecallSpec), different rank shape for the huge-pair regime: the
    * window form shuffles and SORTS every scored (query, neighbor) row —
    * |corpus|·|queries| rows, the dominant cost of an exact-recall ground
    * truth at scale (339 s of the 504k-doc run's ann phase) — while
    * [[TopK.grouped]]'s bounded typed aggregator keeps k entries per
    * query in map-side partial state, so the exchange carries at most
    * partitions·queries·k rows and nothing ever sorts. Pick per regime:
    * the window wins when pairs-per-query is small (see TopK's measured
    * crossover), this form wins when the pair product explodes. */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val scored = bruteForceScores(corpus, queries, idCol, vecCol)
    TopK.grouped(scored, "query_id", "neighbor_id", "cosine_sim", k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** Shared scoring kernel behind both rank shapes: (query_id,
    * neighbor_id, cosine_sim rounded to 6dp), one fused UDF call per
    * corpus row scoring every collected query. */
  private def bruteForceScores(corpus: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String): DataFrame = {
    // single-job guard: fetch at most ceiling+1 rows (driver memory stays
    // bounded even on a corpus-sized query frame), fail if the sentinel
    // row arrived — no separate count job
    val qCollected = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(BruteForceMaxQueries.toInt + 1).collect()
    require(qCollected.length <= BruteForceMaxQueries,
      s"bruteForceTopK would collect more than $BruteForceMaxQueries " +
        "query vectors into the task closure; use annTopK/ivfTopK/pqTopK " +
        "for large query sets")
    val qArr: Array[(Long, Array[Double])] = qCollected
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val scoreAll = udf { (id: Long, v: Seq[Double]) =>
      if (v == null) Seq.empty[(Long, Double)]
      else {
        val vv = v.toArray
        // corpus norm hoisted out of the query loop — valid whenever the
        // pair truncates to vv.length; recomputed over min(len) otherwise
        // so ragged lengths score exactly like cosUdf (both norms over
        // the first min(len) elements)
        var nvFull = 0.0
        var i = 0
        while (i < vv.length) { nvFull += vv(i) * vv(i); i += 1 }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)](qArr.length)
        var qi = 0
        while (qi < qArr.length) {
          val (qid, qv) = qArr(qi)
          if (qid != id) {
            var dot = 0.0; var nq = 0.0; var j = 0
            val n = math.min(vv.length, qv.length)
            while (j < n) { dot += vv(j) * qv(j); nq += qv(j) * qv(j); j += 1 }
            val nv = if (n == vv.length) nvFull else {
              var s = 0.0; var jj = 0
              while (jj < n) { s += vv(jj) * vv(jj); jj += 1 }
              s
            }
            out += ((qid, dot / (math.sqrt(nq) * math.sqrt(nv))))
          }
          qi += 1
        }
        out.toSeq
      }
    }
    corpus.select(col(idCol).cast("long").as("neighbor_id"),
        explode(scoreAll(col(idCol).cast("long"),
          col(vecCol).cast("array<double>"))).as("s"))
      .select(col("s._1").as("query_id"), col("neighbor_id"),
        round(col("s._2"), 6).as("cosine_sim"))
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    * label — the pairs that look alike but must embed apart, the highest-
    * value negatives a contrastive batch can contain.
    *
    * Exact leg (this method): the [[bruteForceTopK]] kernel with a label
    * gate — queries (id, label, vector) are collected once behind the
    * [[BruteForceMaxQueries]] guard and every corpus row scores all
    * queries whose label differs in ONE kernel call (same fused shape;
    * boundary crossings dominate, not flops). Ranking mirrors
    * bruteForceTopK: similarity rounded to 6 decimals BEFORE ranking,
    * ties → lowest neighbor id — engine-reproducible. [[hardNegativesIvf]]
    * is the scale path (guarded codebook, no corpus collect).
    *
    * CONTRACT: `labelCol` must be non-null on BOTH sides. A null label
    * cannot be "a label that differs" — silently treating it either way
    * would shrink or pollute the negative pool — so both legs fail loudly:
    * a null query label trips a named require at collect time, a null
    * corpus label raises from the scoring task. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val qCollected = queries
      .select(col(idCol).cast("long"), col(labelCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .limit(BruteForceMaxQueries.toInt + 1).collect()
    require(qCollected.length <= BruteForceMaxQueries,
      s"hardNegatives would collect more than $BruteForceMaxQueries " +
        "query vectors into the task closure; use hardNegativesIvf for " +
        "large query sets")
    qCollected.foreach(r => require(!r.isNullAt(1),
      s"hardNegatives: NULL $labelCol on query id " +
        s"${if (r.isNullAt(0)) "NULL" else r.getLong(0)} — labels must be " +
        "non-null on both sides (a null label can neither match nor differ)"))
    val qArr: Array[(Long, Long, Array[Double])] = qCollected
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    val scoreAll = udf { (id: Long, label: Long, v: Seq[Double]) =>
      if (v == null) Seq.empty[(Long, Double)]
      else {
        val vv = v.toArray
        var nvFull = 0.0
        var i = 0
        while (i < vv.length) { nvFull += vv(i) * vv(i); i += 1 }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)](qArr.length)
        var qi = 0
        while (qi < qArr.length) {
          val (qid, qLabel, qv) = qArr(qi)
          if (qid != id && qLabel != label) {
            var dot = 0.0; var nq = 0.0; var j = 0
            val n = math.min(vv.length, qv.length)
            while (j < n) { dot += vv(j) * qv(j); nq += qv(j) * qv(j); j += 1 }
            val nv = if (n == vv.length) nvFull else {
              var s = 0.0; var jj = 0
              while (jj < n) { s += vv(jj) * vv(jj); jj += 1 }
              s
            }
            out += ((qid, dot / (math.sqrt(nq) * math.sqrt(nv))))
          }
          qi += 1
        }
        out.toSeq
      }
    }
    val scored = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        explode(scoreAll(col(idCol).cast("long"),
          nonNullLabel(col(labelCol), "corpus", labelCol),
          col(vecCol).cast("array<double>"))).as("s"))
      .select(col("s._1").as("query_id"), col("neighbor_id"),
        round(col("s._2"), 6).as("cosine_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** Non-null label gate for the hard-negative legs: a null label would
    * otherwise null the primitive-arg scoring UDF (row silently dropped
    * from every candidate set) or null the IVF leg's label-inequality
    * filter — raise from the task with a named message instead. */
  private def nonNullLabel(c: Column, side: String,
                           labelCol: String): Column =
    when(c.isNull, raise_error(lit(
      s"hardNegatives: NULL $labelCol on the $side side — labels must be " +
        "non-null on both sides (a null label can neither match nor differ)"))
      .cast("long"))
      .otherwise(c.cast("long"))

  /** Scale path for [[hardNegatives]]: probe [[ivfTopK]] for
    * `k · oversample` unlabeled candidates (guarded codebook, disjoint
    * cells, no corpus-side collect), drop the same-label ones through ONE
    * broadcastable label join, re-rank what survives. Approximate on two
    * counts — IVF recall < 1, and a query whose k nearest OTHER-label
    * vectors hide behind > k·oversample same-label ones comes back short;
    * `oversample` trades candidate volume against that truncation. Scores
    * and tie rules are identical to the exact leg, so every returned pair
    * is also a correct [[hardNegatives]] pair (possibly at a later true
    * rank). Same non-null label contract as the exact leg — a null label
    * on either side raises from the join instead of silently dropping. */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame, k: Int,
                       oversample: Int = 4, centroidStride: Long = 50,
                       nProbe: Int = 2, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    require(oversample >= 1, "oversample must be at least 1")
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      nonNullLabel(col(labelCol), "corpus", labelCol).as("n_label"))
    val qLabels = queries.select(col(idCol).cast("long").as("query_id"),
      nonNullLabel(col(labelCol), "query", labelCol).as("q_label"))
    val cand = ivfTopK(corpus, queries, k * oversample, centroidStride,
      nProbe, idCol, vecCol)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    cand
      .join(labels, "neighbor_id")
      .join(broadcast(qLabels), "query_id")
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** Deterministic hyperplane coefficient for (table t, bit j, dim i): a
    * small centered integer — engine-portable, zero-mean-ish. */
  private def planeCoef(j: Int, i: Int, t: Int = 0): Int =
    ((i * 131 + j * 137 + t * 977 + 7) % 19) - 9

  /** `nBits`-bit random-hyperplane LSH bucket id for a vector (table `t`)
    * — served by a compiled kernel (SCALE.md finding 21: the Column form
    * ran `nBits` INTERPRETED `aggregate(zip_with(...))` passes per row,
    * materializing a dim-length product array per bit through
    * non-codegen HOF eval; it survives as [[lshBucketColExpr]], the
    * identity-spec twin). The kernel folds each dot in ascending-i order
    * with the same int→double promotion, so the FP result is
    * bit-identical to the twin's left-to-right aggregate, and edge
    * semantics match exactly: a null vector, a length ≠ `dim`, or any
    * null ELEMENT nulls every bit's dot in the twin (zip_with pads with
    * null, null propagates through ×/+ and `when` falls through) →
    * bucket 0, which the kernel returns for the same three cases. */
  def lshBucketCol(vec: Column, nBits: Int = 8, dim: Int = 64, t: Int = 0): Column =
    lshBucketUdf(vec.cast("array<double>"), lit(nBits), lit(dim), lit(t))

  private val lshBucketUdf = udf {
    (vecIn: Seq[java.lang.Double], nBits: Int, dim: Int, t: Int) =>
      if (vecIn == null || vecIn.length != dim || vecIn.contains(null)) 0L
      else {
        val v = new Array[Double](dim)
        var i = 0
        while (i < dim) { v(i) = vecIn(i).doubleValue; i += 1 }
        var bucket = 0L
        var j = 0
        while (j < nBits) {
          var s = 0.0
          i = 0
          while (i < dim) { s += v(i) * planeCoef(j, i, t); i += 1 }
          if (s > 0) bucket |= (1L << j)
          j += 1
        }
        bucket
      }
  }

  /** Interpreted Column twin of [[lshBucketCol]] (LshBucketSpec pins
    * bit-identity; not a serving path — see the kernel's scaladoc). */
  private[ops] def lshBucketColExpr(vec: Column, nBits: Int = 8,
                                    dim: Int = 64, t: Int = 0): Column =
    (0 until nBits).map { j =>
      val dot = aggregate(
        zip_with(vec, array((0 until dim).map(i => lit(planeCoef(j, i, t))): _*),
          (x, c) => x.cast("double") * c.cast("double")),
        lit(0.0), (s, v) => s + v)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All-table bucket keys ("t:bucket"), one row per table after explode. */
  private def bucketKeys(vec: Column, nBits: Int, dim: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      concat_ws(":", lit(t.toString), lshBucketCol(vec, nBits, dim, t))): _*)

  /** ANN top-k: bucket both sides with the same hyperplanes, join on bucket,
    * rank within. Single-table recall is the standard LSH trade
    * (P[collide] = (1 - θ/π)^nBits); `tables > 1` unions candidates from
    * independent hyperplane tables, recall 1-(1-p)^T at T× bucketing cost —
    * still never all-pairs. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 8, dim: Int = 64, tables: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("vec_c"),
      explode(bucketKeys(col(vecCol), nBits, dim, tables)).as("bucket"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("vec_q"),
      explode(bucketKeys(col(vecCol), nBits, dim, tables)).as("bucket"))
    val candidates = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "vec_q", "vec_c")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .withColumn("cosine_sim", round(cosineCol(col("vec_q"), col("vec_c")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** IVF (inverted-file) ANN — the codebook-quantizer scale path next to
    * the hyperplane-LSH one: every corpus vector is assigned to its
    * nearest coarse centroid (one cell each, cells are disjoint), queries
    * probe their `nProbe` nearest cells, and exact cosine re-ranks only
    * the vectors in the probed cells.
    *
    * The codebook here is deterministic — every `centroidStride`-th
    * vector — so any engine reproduces it (oracle rule: no rand()). A
    * production 100 TB run would train/sample the codebook instead; the
    * shape is identical: a codebook small enough to broadcast, collected
    * once on the driver. That smallness is NOT free with a stride-derived
    * codebook (centroid count = corpus_size/stride, i.e. corpus-
    * proportional for a fixed stride), so the collect sits behind the
    * [[MaxCentroids]] count-first gate and fails loudly when the stride
    * hasn't kept up with the corpus. Cell assignment is one narrow pass
    * over the corpus (no shuffle), then a hash equi-join on cell id
    * against the broadcast probe set. Assignment dots are rounded to 6
    * decimals before the argmax so ULP noise can never flip a cell choice
    * between engines (ties → lowest centroid id). */
  /** Deterministic stride codebook, collected through the bounded probe
    * and sorted by id (shared by ivfTopK / semanticDedup). */
  private[ops] def strideCodebook(df: DataFrame, what: String, stride: Long,
                                  idCol: String,
                                  vecCol: String): Array[(Long, Array[Double])] = {
    val src = df.filter(col(idCol) % stride === 0)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    val cents = collectCentroidsBounded(src, what, stride)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"no centroids: no $idCol divisible by $stride")
    cents
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[round6]] without the per-call BigDecimal — bit-identical result.
    * BigDecimal(d) rounds the SHORTEST-DECIMAL form of d (Double.toString
    * semantics) HALF_UP at 6 places; away from the x.5 boundary that
    * equals nearest-integer of d·10⁶, and the binary `d * 1e6` differs
    * from the true decimal-scaled value by ≲ |scaled|·2⁻⁵² — far inside
    * the 10⁻⁴ guard band. Boundary-band or huge/NaN inputs take the
    * exact BigDecimal path, so no input can round differently. The cell
    * assignments call this |corpus|·|codebook| times (2·10⁹ in the
    * 504k-doc featurize phase); the BigDecimal allocation there WAS the
    * phase's dominant CPU (SCALE.md finding 12). */
  private[ops] def round6Fast(d: Double): Double = {
    val scaled = d * 1e6
    // fast path only where the combined binary-multiply + shortest-decimal
    // error (≲ |scaled|·2⁻⁵² + |d|-ULP·10⁶ ≈ 10⁻⁷ at |scaled| = 10⁹) is
    // orders of magnitude inside the 10⁻⁴ boundary band; NaN, huge, or
    // near-boundary values take the exact decimal path
    if (!(math.abs(scaled) < 1e9)) return round6(d)
    val fl = math.floor(scaled)
    val frac = scaled - fl
    if (math.abs(frac - 0.5) <= 1e-4) round6(d)
    else if (frac > 0.5) (fl + 1) / 1e6
    else fl / 1e6
  }

  /** Nearest-cells kernel over a collected codebook: rounded dot against
    * every centroid, top-n by (dot desc, centroid id asc) — rounding
    * before the argmax means ULP noise can never flip a cell choice
    * between engines (same fused-UDF rationale as cosUdf). The inner
    * loop is allocation-free: primitive centroid matrix, [[round6Fast]]
    * rounding, and an insertion top-n over two small arrays instead of
    * materializing+sorting |codebook| tuples per row (which allocated
    * ~3 objects per centroid per row — the other half of finding 12). */
  private[graft] def nearestCellsFn(cents: Array[(Long, Array[Double])])
      : (Seq[Double], Int) => Seq[Long] = {
    val k = cents.length
    val ids: Array[Long] = cents.map(_._1)
    val mat: Array[Array[Double]] = cents.map(_._2)
    (v, n) => {
      val va = new Array[Double](v.length)
      var x = 0
      while (x < va.length) { va(x) = v(x); x += 1 }
      val m = math.min(n, k)
      val bd = new Array[Double](m) // best dots, desc
      val bc = new Array[Long](m)   // their cids (asc on dot ties)
      var filled = 0
      var c = 0
      while (c < k) {
        val ce = mat(c)
        var dot = 0.0; var i = 0
        val len = math.min(va.length, ce.length)
        while (i < len) { dot += va(i) * ce(i); i += 1 }
        val d = round6Fast(dot)
        val cid = ids(c)
        // better than current worst (or slots free)? (d desc, cid asc)
        if (filled < m || d > bd(m - 1) ||
          (d == bd(m - 1) && cid < bc(m - 1))) {
          var p = math.min(filled, m - 1)
          while (p > 0 && (bd(p - 1) < d ||
            (bd(p - 1) == d && bc(p - 1) > cid))) {
            bd(p) = bd(p - 1); bc(p) = bc(p - 1); p -= 1
          }
          bd(p) = d; bc(p) = cid
          if (filled < m) filled += 1
        }
        c += 1
      }
      val out = new Array[Long](filled)
      System.arraycopy(bc, 0, out, 0, filled)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** The null-safe cell-assignment Column for a collected codebook — THE
    * one place the degenerate-input convention lives (null/empty vectors
    * follow pqEncode's rule: treated as all-zero → dot 0 against every
    * centroid → lowest-id cell, so a null row lands in one deterministic
    * cell instead of NPEing the task). Build, append, train-per-call,
    * and SemDeDup paths all MUST route a null vector identically —
    * [[VectorIndex]]'s append==rebuild bit-identity pin depends on it —
    * so they all call this instead of keeping private copies (the r12
    * self-review found four). */
  private[graft] def cellAssignCol(cents: Array[(Long, Array[Double])],
                                   vecCol: Column): Column = {
    val nearestCells = nearestCellsFn(cents)
    val cellUdf = udf { (v: Seq[Double]) =>
      nearestCells(if (v == null) Seq.empty else v, 1).head
    }
    cellUdf(vecCol.cast("array<double>"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidStride: Long = 50, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = strideCodebook(corpus, "ivfTopK", centroidStride, idCol, vecCol)
    val cells = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("vec_c"),
      cellAssignCol(cents, col(vecCol)).as("cell"))
    ivfScoreCells(cells, queries, k, nProbe, nearestCellsFn(cents),
      idCol, vecCol)
  }

  /** The IVF probe/score/rank tail shared by [[ivfTopK]] (cells built
    * inline) and [[VectorIndex.ivfTopKIndexed]] (cells read back from the
    * persisted index): `cells` is (neighbor_id, vec_c, cell). */
  private[ops] def ivfScoreCells(cells: DataFrame, queries: DataFrame,
                                 k: Int, nProbe: Int,
                                 nearestCells: (Seq[Double], Int) => Seq[Long],
                                 idCol: String, vecCol: String): DataFrame = {
    val probesUdf = udf { (v: Seq[Double]) =>
      nearestCells(if (v == null) Seq.empty else v, nProbe)
    }
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("vec_q"),
      explode(probesUdf(col(vecCol).cast("array<double>"))).as("cell"))
    // cells are disjoint → a (query, neighbor) pair appears at most once
    val scored = cells.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(cosineCol(col("vec_q"), col("vec_c")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** Product-quantization (PQ) codes: split each vector into `m` equal
    * subvectors and assign each to its nearest of `k` codebook centroids
    * (squared L2; ties → lowest centroid index). Output: the m-digit code
    * plus total quantization distortion — the memory side of IVF-PQ, where
    * an m=8/k=256 code stores a 64-dim float vector in 8 bytes (32×) and
    * asymmetric-distance search scans codes, not vectors.
    *
    * The codebook is deterministic — the k vectors at ids 0, stride, …,
    * (k-1)·stride — so any engine reproduces it (oracle rule: no rand());
    * production would k-means per subspace, with the identical shape: a
    * codebook small enough to ship in the closure (k·dim values BY
    * CONSTRUCTION, never corpus-sized), then assignment as ONE narrow pass
    * over the corpus — no shuffle anywhere.
    *
    * Distances are EXACT integer arithmetic: components scale to
    * `floor(x·10⁶)` longs first (float→double cast and one multiply are
    * correctly rounded, hence engine-identical), so the argmin can never
    * depend on double summation order. */
  /** Integer squared-L2 quantization error between a vector and its
    * ASSIGNED IVF centroid, in [[toPqInts]]'s scaled-integer space —
    * deterministic (exact integer arithmetic, so replayed appends record
    * bit-identical drift figures; a floating mean would wobble with
    * partial-sum order). The drift metric behind
    * [[VectorIndex]]'s `rebuildAdvised` (r13 verdict item 4: the
    * count-based proxy misses distribution shift at low volume). Null
    * vectors follow [[cellAssignCol]]'s all-zero convention. */
  private[graft] def ivfQuantErrCol(cents: Array[(Long, Array[Double])],
                                    vecCol: Column,
                                    cellCol: Column): Column = {
    val intCents: Map[Long, Array[Long]] = cents.map { case (cid, v) =>
      cid -> toPqInts(scala.collection.immutable.ArraySeq.unsafeWrapArray(v))
    }.toMap
    val errUdf = udf { (v: Seq[Double], c: Long) =>
      val iv = toPqInts(if (v == null) Seq.empty else v)
      val ce = intCents(c)
      var d = 0L
      var i = 0
      val len = math.max(iv.length, ce.length)
      while (i < len) {
        val x = (if (i < iv.length) iv(i) else 0L) -
          (if (i < ce.length) ce(i) else 0L)
        d += x * x
        i += 1
      }
      d
    }
    errUdf(vecCol.cast("array<double>"), cellCol.cast("long"))
  }

  private[ops] def toPqInts(v: Seq[Double]): Array[Long] = {
    val a = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { a(i) = math.floor(v(i) * 1e6).toLong; i += 1 }
    a
  }

  /** Deterministic PQ codebook: the `k` vectors at ids 0, stride, …,
    * (k-1)·stride, as scaled-integer arrays (sorted by id → centroid index
    * = rank). */
  private[ops] def pqCodebook(df: DataFrame, k: Int, centroidStride: Long,
                              idCol: String,
                              vecCol: String): Array[Array[Long]] = {
    // bounded by the id < stride·k predicate — but only if k itself is
    // sane, so misuse (a corpus-sized k) still fails before the collect
    require(k >= 1 && k <= MaxCentroids,
      s"pq codebook size k=$k out of range 1..$MaxCentroids")
    val cents = df
      .filter(col(idCol) % centroidStride === 0 &&
        col(idCol) < centroidStride * k)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(r => toPqInts(Option(r.getSeq[Double](1)).getOrElse(Seq.empty)))
    require(cents.length == k,
      s"expected $k codebook vectors at $idCol = 0, $centroidStride, …; got ${cents.length}")
    cents
  }

  /** Integer squared-L2 between `iv[s·sub until end)` and centroid `ce`. */
  private[ops] def pqSubDist(iv: Array[Long], ce: Array[Long], s: Int,
                             sub: Int): Long = {
    var d = 0L
    var i = s * sub
    val end = math.min(math.min((s + 1) * sub, iv.length), ce.length)
    while (i < end) { val x = iv(i) - ce(i); d += x * x; i += 1 }
    d
  }

  /** Per-subspace nearest-centroid codes (+ total distortion) for one
    * scaled-integer vector. Ties keep the lowest centroid index. */
  private[ops] def pqCodes(iv: Array[Long], cents: Array[Array[Long]],
                           m: Int): (Array[Int], Long) = {
    val sub = iv.length / m
    val codes = new Array[Int](m)
    var total = 0L
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val d = pqSubDist(iv, cents(c), s, sub)
        if (d < bestD) { bestD = d; best = c } // strict < : ties keep lowest c
        c += 1
      }
      codes(s) = best
      total += bestD
      s += 1
    }
    (codes, total)
  }

  def pqEncode(df: DataFrame, m: Int = 4, k: Int = 8,
               centroidStride: Long = 50, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    pqEncodeWith(df, pqCodebook(df, k, centroidStride, idCol, vecCol), m,
      idCol, vecCol)

  /** [[pqEncode]] against an EXPLICIT codebook — the append path of
    * [[VectorIndex.appendToPq]] encodes new batches with the PERSISTED
    * centroids (the codebook is frozen at build; re-deriving it from the
    * batch would silently re-route every code). One narrow pass. */
  private[ops] def pqEncodeWith(df: DataFrame, cents: Array[Array[Long]],
                                m: Int, idCol: String,
                                vecCol: String): DataFrame = {
    val codeUdf = udf { (v: Seq[Double]) =>
      // null/empty vectors: every subspace is empty → distance 0 to every
      // centroid → code 0 per subspace, distortion 0 (degenerate but total)
      val (codes, total) = pqCodes(toPqInts(if (v == null) Seq.empty else v),
        cents, m)
      (codes.toSeq, total)
    }
    val coded = df.select(col(idCol).cast("long").as("vec_id"),
      codeUdf(col(vecCol).cast("array<double>")).as("pq"))
    coded.select(
      col("vec_id") +:
        (0 until m).map(i => col("pq._1")(i).as(s"c$i")) :+
        col("pq._2").as("distortion"): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k — the search half of IVF-PQ: the
    * corpus is scanned as CODES (m small ints per vector), never vectors;
    * each query precomputes an m×k lookup table of exact integer distances
    * to every centroid subvector, and a corpus vector's approximate
    * distance is m table lookups summed. At 100 TB this is why PQ exists:
    * the scan touches k·dim centroid values + m bytes per corpus row
    * instead of dim floats per row.
    *
    * Shape mirrors [[bruteForceTopK]]: queries (small by contract) ship in
    * the closure as LUTs, ONE kernel call per corpus row scores every
    * query (the row's codes are computed once), then a per-query window
    * takes the top k. All arithmetic is scaled-integer — engine-exact, so
    * ranks can never flip between engines (ties → lowest neighbor id). */
  /** Per-query ADC lookup tables: exact integer distances from the query's
    * scaled subvectors to every centroid subvector — shared by [[pqTopK]]
    * and [[VectorIndex.pqTopKIndexed]]. One bounded job: fetch at most
    * ceiling+1 rows, fail on the sentinel (same single-job guard shape as
    * collectCentroidsBounded). */
  private[ops] def pqQueryLuts(queries: DataFrame, cents: Array[Array[Long]],
                               m: Int, idCol: String, vecCol: String)
      : Array[(Long, Array[Array[Long]])] = {
    val qCollected = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(BruteForceMaxQueries.toInt + 1).collect()
    require(qCollected.length <= BruteForceMaxQueries,
      s"pqTopK would collect more than $BruteForceMaxQueries query LUTs " +
        "into the task closure; batch the query set instead")
    qCollected
      .map { r =>
        val iv = toPqInts(Option(r.getSeq[Double](1)).getOrElse(Seq.empty))
        val sub = iv.length / m
        val lut = Array.tabulate(m, cents.length)((s, c) =>
          pqSubDist(iv, cents(c), s, sub))
        (r.getLong(0), lut)
      }
      .sortBy(_._1)
  }

  /** Rank the (query_id, neighbor_id, adist) stream with the
    * bounded-state aggregator (not a rank window — with a handful of
    * queries a window would land the whole corpus × queries frame on ≤
    * |queries| tasks; the aggregator's map-side partial ships at most k
    * rows per (partition, query)). Negated distance as the score keeps
    * the exact (adist asc, id asc) order — ADC distances are bounded far
    * below 2^53, so the double negation is exact. */
  private[ops] def pqRankTail(scored: DataFrame, k: Int): DataFrame =
    TopK.grouped(scored.withColumn("neg", -col("adist").cast("double")),
        "query_id", "neighbor_id", "neg", k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("neg")).cast("long").as("adist"),
        col("rank").cast("long").as("rank"))

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
             nCent: Int = 8, centroidStride: Long = 50,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = pqCodebook(corpus, nCent, centroidStride, idCol, vecCol)
    val qLuts = pqQueryLuts(queries, cents, m, idCol, vecCol)
    val scoreAll = udf { (id: Long, v: Seq[Double]) =>
      val (codes, _) = pqCodes(toPqInts(if (v == null) Seq.empty else v),
        cents, m)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](qLuts.length)
      var qi = 0
      while (qi < qLuts.length) {
        val (qid, lut) = qLuts(qi)
        if (qid != id) {
          var adist = 0L
          var s = 0
          while (s < m) { adist += lut(s)(codes(s)); s += 1 }
          out += ((qid, adist))
        }
        qi += 1
      }
      out.toSeq
    }
    val scored = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        explode(scoreAll(col(idCol).cast("long"),
          col(vecCol).cast("array<double>"))).as("s"))
      .select(col("s._1").as("query_id"), col("neighbor_id"),
        col("s._2").as("adist"))
    pqRankTail(scored, k)
  }

  /** Composed IVF-PQ search — the two scale legs working together, the
    * shape a production vector index actually ships: IVF cells prune the
    * candidate set (queries probe their `nProbe` nearest coarse cells,
    * only those cells' members are scored), and ADC scores the survivors
    * from PQ codes + per-query LUTs (never touching the full vectors).
    *
    * Both codebooks are the deterministic stride kind (oracle rule); all
    * distances are scaled-integer exact, ranks tie-break by neighbor id.
    * Plan shape: two narrow corpus passes (cell id + PQ codes in one
    * projection), an equi-join against the broadcast probe set, then the
    * bounded-state top-k aggregator — no full-vector shuffle anywhere. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
                nCent: Int = 8, pqStride: Long = 50,
                coarseStride: Long = 50, nProbe: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coarseSrc = corpus
      .filter(col(idCol) % coarseStride === 0)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    val coarse: Array[(Long, Array[Long])] =
      collectCentroidsBounded(coarseSrc, "ivfPqTopK coarse codebook",
        coarseStride)
      .map(r => (r.getLong(0),
        toPqInts(Option(r.getSeq[Double](1)).getOrElse(Seq.empty))))
      .sortBy(_._1)
    require(coarse.nonEmpty, "no coarse centroids")
    // nearest coarse cells by exact integer L2 (ties → lowest centroid id)
    def cells(iv: Array[Long], n: Int): Seq[Long] =
      coarse.map { case (cid, ce) =>
        var d = 0L
        var i = 0
        val end = math.min(iv.length, ce.length)
        while (i < end) { val x = iv(i) - ce(i); d += x * x; i += 1 }
        (d, cid)
      }.sortBy { case (d, cid) => (d, cid) }.take(n).map(_._2).toSeq
    val cents = pqCodebook(corpus, nCent, pqStride, idCol, vecCol)
    val sideUdf = udf { (v: Seq[Double]) =>
      val iv = toPqInts(if (v == null) Seq.empty else v)
      val (codes, _) = pqCodes(iv, cents, m)
      (cells(iv, 1).head, codes.toSeq)
    }
    // ONE bounded collect serves both the ADC LUTs and the probe list —
    // limit(ceiling+1) caps driver memory and detects overflow in the
    // same single job (a count-then-collect pair would run the query
    // source twice)
    val qCollected = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(BruteForceMaxQueries.toInt + 1).collect()
    require(qCollected.length <= BruteForceMaxQueries,
      s"ivfPqTopK would collect more than $BruteForceMaxQueries query " +
        "vectors (LUTs + probes) into the driver; batch the query set instead")
    val qRows: Array[(Long, Array[Long])] = qCollected
      .map(r => (r.getLong(0),
        toPqInts(Option(r.getSeq[Double](1)).getOrElse(Seq.empty))))
    val qLuts: Map[Long, Array[Array[Long]]] = qRows.map { case (qid, iv) =>
      val sub = if (m == 0) 0 else iv.length / m
      qid -> Array.tabulate(m, cents.length)((s, c) =>
        pqSubDist(iv, cents(c), s, sub))
    }.toMap
    import corpus.sparkSession.implicits._
    val probes = qRows
      .flatMap { case (qid, iv) => cells(iv, nProbe).map(c => (qid, c)) }
      .toSeq
      .toDF("query_id", "cell")
    val coded = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        sideUdf(col(vecCol).cast("array<double>")).as("cc"))
      .select(col("neighbor_id"), col("cc._1").as("cell"),
        col("cc._2").as("codes"))
    val adcUdf = udf { (qid: Long, codes: Seq[Int]) =>
      val lut = qLuts(qid)
      var d = 0L
      var s = 0
      while (s < m && s < codes.length) { d += lut(s)(codes(s)); s += 1 }
      d
    }
    val scored = coded.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcUdf(col("query_id"), col("codes")))
    TopK.grouped(scored.withColumn("neg", -col("adist").cast("double")),
        "query_id", "neighbor_id", "neg", k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("neg")).cast("long").as("adist"),
        col("rank").cast("long").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (a<b, sim ≥ threshold) over LSH
    * buckets — the embedding leg of the dedup suite.
    *
    * Shaped for 100 TB: the pair candidates come from in-bucket id
    * combinations over a narrow (id, bucket) frame — a capped bucket
    * (`maxBucket`, guarding against one hot bucket going quadratic in a
    * single task) of 8-byte ids, never a self-join carrying full embedding
    * vectors. Vectors are re-attached per pair side only after the
    * candidate set is fixed, so each embedding crosses the wire once per
    * pair membership instead of once per bucket sibling. */
  def cosineNearDups(df: DataFrame, threshold: Double, nBits: Int = 8,
                     dim: Int = 64, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxBucket: Int = 1000): DataFrame =
    cosinePairsInBuckets(df, lshBucketCol(col(vecCol), nBits, dim),
      threshold, idCol, vecCol, maxBucket)

  /** Shared candidate machinery for [[cosineNearDups]] / [[semanticDedup]]:
    * `bucketCol` assigns ONE bucket per input row; pairs are capped
    * in-bucket id combinations, cosine is computed IN the bucket, output
    * is (id_a, id_b, cosine_sim ≥ threshold) with id_a < id_b.
    *
    * Shape (r9, SCALE.md finding 15): ONE exchange, partitioned on the
    * bucket id, carrying each vector exactly ONCE — then a per-partition
    * kernel groups the bucket's members (rows arrive bucket-contiguous via
    * sortWithinPartitions; per-task live state is one bucket, ≤ maxBucket
    * vectors ≈ maxBucket·dim·8 B) and emits only the pairs that survive
    * the rounded-cosine threshold. The r8 shape generated the id pairs
    * first and re-attached vectors through two SHUFFLE_HASH joins; with
    * ~n/cells members per cell every vector crossed the second join's
    * exchange once PER PAIR MEMBERSHIP (~members−1 times — 16.5 of the
    * featurize phase's 20.4 GB shuffle at 504k docs), even though only
    * ~0.15% of pairs survived the 0.99 threshold. Computing the cosine
    * where the vectors already are ships |corpus| vectors instead of
    * 2·|pairs| and drops every pair-frame exchange (measured same-host
    * isolated A/B at 503,876 docs: the featurize phase's shuffle r/w
    * 20,379→143 MB, wall 332.7→121.9 s, identical 47,302-drop output;
    * SCALE.md finding 15).
    *
    * Semantics are pinned to the r8 aggregate+join shape
    * (SimilarityGuardSpec + OpsSpec pin the semantics, PlanAuditSpec the
    * no-join plan shape): the cap counts every INPUT ROW of the bucket (duplicate ids
    * included) and an overflowed bucket (> maxBucket rows) emits nothing;
    * pairs are distinct ids only (no self-pairs, no repeats); cosine is
    * the same ordered fold as [[graft.expr.CosineKernel]] over the first
    * instance of each id, rounded via [[round6Fast]] (bit-identical to
    * Spark's `round(_, 6)`, spec-pinned); NaN/±Inf pass through unrounded
    * exactly like Spark's round, then fail/pass the ≥ filter natively.
    * A duplicate id that lands in TWO buckets (possible only when the
    * same id carries different vectors) can emit the same pair from each —
    * the trailing narrow dropDuplicates keeps one survivor, matching the
    * old shape's arbitrary pick-one-instance semantics. */
  private def cosinePairsInBuckets(df: DataFrame, bucketCol: Column,
                                   threshold: Double, idCol: String,
                                   vecCol: String,
                                   maxBucket: Int): DataFrame = {
    val rows = df.select(bucketCol.cast("long").as("bucket"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .repartition(col("bucket"))
      // bucket-contiguity sort: payload rows, but ONE narrow pass over
      // |corpus|/partitions rows per task — bounded by the scan split
      // size at any corpus size, never by pair count
      .sortWithinPartitions("bucket")
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Long, Double)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble)
    rows.mapPartitions(it => cellPairs(it, threshold, maxBucket))
      .toDF("id_a", "id_b", "cosine_sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** Per-partition kernel for [[cosinePairsInBuckets]]: streams
    * bucket-contiguous (bucket, id, vec) rows, holds ONE bucket's members
    * (first instance per id, every row counted toward the cap), and lazily
    * emits surviving pairs — memory O(maxBucket·dim), output O(survivors). */
  private def cellPairs(rows: Iterator[org.apache.spark.sql.Row],
                        threshold: Double, maxBucket: Int)
      : Iterator[(Long, Long, Double)] = new Iterator[(Long, Long, Double)] {
    private val it = rows.buffered
    private var cur: Iterator[(Long, Long, Double)] = Iterator.empty

    private def sameBucket(r: org.apache.spark.sql.Row, isNull: Boolean,
                           b: Long): Boolean =
      r.isNullAt(0) == isNull && (isNull || r.getLong(0) == b)

    private def cos(a: Array[Double], b: Array[Double]): Double = {
      // identical ordered fold to graft.expr.CosineKernel.cosineSim
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    private def nextBucket(): Iterator[(Long, Long, Double)] = {
      val head = it.head
      val isNull = head.isNullAt(0)
      val bVal = if (isNull) 0L else head.getLong(0)
      val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      val vecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
      val seen = new scala.collection.mutable.HashSet[Long]()
      var rowCount = 0L
      var over = false
      while (it.hasNext && sameBucket(it.head, isNull, bVal)) {
        val r = it.next()
        rowCount += 1
        if (!over && rowCount > maxBucket) {
          // cap semantics = BoundedCollect: strictly-more-than-max rows
          // overflow the bucket; drop its state NOW (hot-cell safe), keep
          // consuming its rows
          over = true; ids.clear(); vecs.clear(); seen.clear()
        }
        if (!over) {
          val id = if (r.isNullAt(1)) 0L else r.getLong(1)
          if (seen.add(id)) {
            val s = r.getSeq[Double](2)
            ids += id
            vecs += (if (s == null) null else s.toArray)
          }
        }
      }
      val n = ids.length
      if (over || n < 2) Iterator.empty
      else Iterator.range(0, n).flatMap { i =>
        val va = vecs(i)
        if (va == null) Iterator.empty
        else Iterator.range(i + 1, n).flatMap { j =>
          val vb = vecs(j)
          if (vb == null) Iterator.empty
          else {
            val c = cos(va, vb)
            // Spark's round(d, 6) returns NaN/±Inf unrounded; round6Fast
            // is its bit-identical finite path (spec-pinned)
            val r6 = if (java.lang.Double.isNaN(c) ||
              java.lang.Double.isInfinite(c)) c else round6Fast(c)
            if (r6 >= threshold) {
              val a = ids(i); val b = ids(j)
              Iterator.single(
                if (a < b) (a, b, r6) else (b, a, r6))
            } else Iterator.empty
          }
        }
      }
    }

    def hasNext: Boolean = {
      while (!cur.hasNext && it.hasNext) cur = nextBucket()
      cur.hasNext
    }
    def next(): (Long, Long, Double) = {
      if (!hasNext) throw new NoSuchElementException("cellPairs exhausted")
      cur.next()
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * coarse-cluster the embeddings (the deterministic IVF codebook — same
    * disjoint cells ivfTopK searches) and prune near-duplicates WITHIN
    * cells only: a document is dropped when a lower-id cell-mate sits at
    * cosine ≥ `threshold`. Output: one row per dropped doc —
    * (drop_id, kept_by = lowest such neighbor, max_cosine).
    *
    * This is the embedding-space sibling of the text dedup family: MinHash
    * catches lexical near-dups, [[semanticDedup]] catches paraphrases the
    * shingle ops can't see. The clustering makes it scale the same way IVF
    * search does — candidate pairs exist only inside a cell (capped by
    * `maxBucket` against degenerate cells), never across the corpus, and
    * each vector crosses exactly ONE cell-keyed exchange; pairs are scored
    * in-cell and only survivors leave the task (finding 15 — no pair-frame
    * shuffle at all). Greedy lowest-id-wins is the standard deterministic
    * approximation of per-cluster pruning — engine-exact (rounded cosine,
    * integer ids), so the DuckDB oracle reproduces it bit-for-bit. */
  def semanticDedup(df: DataFrame, threshold: Double,
                    centroidStride: Long = 50, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxBucket: Int = 1000): DataFrame = {
    val cents = strideCodebook(df, "semanticDedup", centroidStride,
      idCol, vecCol)
    cosinePairsInBuckets(df, cellAssignCol(cents, col(vecCol)),
        threshold, idCol, vecCol, maxBucket)
      .groupBy(col("id_b").as("drop_id"))
      .agg(min("id_a").as("kept_by"), max("cosine_sim").as("max_cosine"))
  }

  /** Recall@k of an approximate neighbor list against the exact one —
    * ANN quality evaluation as a first-class, oracle-able operator (the
    * metric every index parameter sweep optimizes; at 100 TB you tune
    * nProbe/bands on a sampled recall query before committing a full
    * index build). Both inputs carry (query_id, neighbor_id) rows; every
    * exact query id appears in the output even at zero hits. Counts are
    * exact integers; recall is reported as floor-divided per-mille so no
    * float ratio can flip the cross-engine hash. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // dedup both sides: a repeated (query, neighbor) row in the approx
    // input would multiply hit rows through the join (recall > 1000‰), and
    // a repeated exact row would double-count a hit — the operator is
    // public API, so it must not rely on callers emitting distinct pairs
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_permille", expr(s"n_hits * 1000 div $k"))
      .orderBy("query_id")
  }
}
