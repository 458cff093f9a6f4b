package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.DetHash._
import graft.expr.TextGen.constArray

/** Stage 1 — document plan generation (SURVEY.md §2.2 G1–G9, §3.1).
  *
  * The reference's generator is a sequential feedback loop: each doc picks the
  * currently least-covered SITs (`modules/meta_generator.py:87-150`), which
  * reads counts written by every previous doc. That cannot parallelize. The
  * contract it actually satisfies (checked by `modules/validator.py:341-342`)
  * is only: every SIT appears in ≥ per_sit_count docs, and doc attributes
  * follow the configured distributions. We meet the same contract closed-form
  * (SURVEY.md §4.2): doc `i` draws all attributes from `(i, slot)` hashes and
  * covers `n_sits(i)` consecutive SITs starting at a rotating offset
  * `(i*17) mod 50` — deterministic, shuffle-free, embarrassingly parallel.
  * The driver finds the smallest doc range that covers every SIT with the
  * same Scala draws ([[docsNeeded]]), so sizing the plan runs no job.
  *
  * The plan is one projection of `range`: format and word target are small
  * Column expressions, and the nested `sits` array is one native
  * expression per doc ([[SitsExpr]], calling [[RenderKernel.sits]]) rather
  * than a `transform` tree that every frame built on the docs would carry
  * and analyze again.
  */
object MetaGen {

  // ---- per-doc attribute expressions (G2..G9) ----

  /** G5: rule-based confidence (`modules/meta_generator.py:42-53`). */
  def confidenceCol(label: Column, instances: Column): Column =
    when(label === "TP",
      when(instances >= 6, "High")
        .when(instances.between(3, 5), "Medium")
        .otherwise("Low"))
      .otherwise(when(instances >= 3, "Medium").otherwise("Low"))

  /** G6: mixture word-count sampler (`modules/meta_generator.py:130-133`). */
  def wordCountCol(id: Column, sd: SizeDist): Column = {
    val share = (sd.mainRangeShare * 100).round.toInt
    when(pctCol(id, lit(4L)) < share,
      uniformIntCol(id, lit(5L), sd.mainRangeMin, sd.mainRangeMax))
      .otherwise(uniformIntCol(id, lit(5L), sd.minWords, sd.maxWords))
  }

  /** G7: uniform format choice (`modules/meta_generator.py:95`). */
  def formatCol(id: Column, formats: Seq[String]): Column =
    element_at(constArray(formats),
      nextIntCol(id, lit(1L), formats.size) + 1)

  /** Nested `sits` array for doc `id` — G8 rewritten: `n` consecutive SITs
    * from rotating offset `(id*17) mod 50` (17 coprime with |sits| keeps
    * coverage uniform; n ≤ 10 < 50 keeps SITs distinct within a doc), each
    * with its G3 instance count, G4 label and G5 confidence. One native
    * expression ([[SitsExpr]] over [[RenderKernel.sits]]) draws them all. */
  def sitsCol(id: Column, cfg: PipelineConfig): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(SitsExpr(expression(id), SitTable(cfg)))
  }

  /** One generation batch: doc_ids in (startId, startId+n]. */
  private def batch(spark: SparkSession, cfg: PipelineConfig,
                    startId: Long, n: Long, createdAt: String): DataFrame = {
    val id = col("id")
    spark.range(startId + 1, startId + n + 1)
      .select(
        id.as("doc_id"),
        formatCol(id, cfg.formats).as("format"),
        wordCountCol(id, cfg.sizeDistribution).cast("long").as("word_count_target"),
        sitsCol(id, cfg).as("sits"),
        lit(createdAt).as("created_at"))
      .withColumn("filename",
        format_string("doc_%05d_%s.txt", col("doc_id"), col("format")))
      .select("doc_id", "filename", "format", "word_count_target", "sits",
        "created_at")
  }

  /** Docs-per-SIT coverage of a plan (A1 aggregate). */
  def coverage(docs: DataFrame): DataFrame =
    docs.select(explode(col("sits.sit_id")).as("sit_id"))
      .groupBy("sit_id").count()

  /** G2+G3: sit-count bucket via inverse-CDF over a [0,100) hash draw, then
    * uniform within bucket (`modules/meta_generator.py:9-29`). The driver
    * sizes the plan with it ([[docsNeeded]]) and [[RenderKernel.sits]] draws
    * each doc's SITs with it, so coverage needs no job. */
  def nSitsScala(id: Long): Int = {
    val p = graft.expr.DetHash.pct(id, 2)
    if (p < 30) 1
    else if (p < 60) 2 + graft.expr.DetHash.nextInt(id, 3, 2)
    else if (p < 90) 4 + graft.expr.DetHash.nextInt(id, 3, 3)
    else 7 + graft.expr.DetHash.nextInt(id, 3, 4)
  }

  /** Smallest doc count whose closed-form assignment covers every SIT
    * ≥ `target` times. Pure driver-side arithmetic — the per-doc draws are
    * deterministic functions of doc_id, so no cluster round-trip (the
    * earlier implementation ran two coverage aggregates per top-up). */
  def docsNeeded(cfg: PipelineConfig): Long = {
    val nSits = cfg.sits.size
    val target = cfg.perSitCount
    val maxDocs = (nSits.toLong * target * 5) / 2 // reference cap, meta_generator.py:85
    val counts = new Array[Long](nSits)
    var covered = 0
    var i = 0L
    while (covered < nSits && i < maxDocs) {
      i += 1
      val base = ((i * 17) % nSits).toInt
      var k = 0
      val n = math.min(nSitsScala(i), nSits)
      while (k < n) {
        val idx = (base + k) % nSits
        counts(idx) += 1
        if (counts(idx) == target) covered += 1
        k += 1
      }
    }
    i
  }

  /** Generate a plan meeting the coverage contract: every SIT in
    * ≥ `cfg.perSitCount` docs. `createdAt` is an injected clock (tests pass a
    * constant; `modules/meta_generator.py:143` uses wall-clock). */
  def docs(spark: SparkSession, cfg: PipelineConfig,
           createdAt: String = "1970-01-01T00:00:00Z"): DataFrame =
    batch(spark, cfg, 0L, docsNeeded(cfg), createdAt)

  /** §1.3 mapping table: one flat row per doc, parallel arrays `;`-joined at
    * the boundary (`modules/meta_generator.py:157-166`). `tcs` is the doc's
    * deduped TC set — reference order is nondeterministic (Python set); we
    * canonicalize with array_sort (SURVEY.md §7.5). */
  def mappingFromDocs(docs: DataFrame): DataFrame = docs.select(mappingCols: _*)

  /** The columns of [[mappingFromDocs]], over any frame carrying the plan's
    * `doc_id, filename, format, word_count_target, sits`. */
  def mappingCols: Seq[Column] = Seq(
    col("doc_id"), col("filename"), col("format"), col("word_count_target"),
    array_join(col("sits.sit_id"), ";").as("sit_ids"),
    array_join(col("sits.label"), ";").as("labels"),
    array_join(col("sits.instances"), ";").as("instances"),
    array_join(col("sits.confidence"), ";").as("confidences"),
    array_join(array_sort(array_distinct(flatten(col("sits.tcs")))), ";")
      .as("tcs"))
}
