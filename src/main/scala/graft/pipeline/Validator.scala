package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.{Placeholder, RegexMatches}

/** Stage 4 — the flagship analytical query (SURVEY.md §3.4).
  *
  * The reference validator re-reads and re-regexes each document once per
  * (row, sit) pair in interpreted Python (`modules/validator.py:252-330`).
  * Here it is one declarative DAG: scan the corpus once, explode the
  * `;`-joined parallel arrays (P8), broadcast-join the 50-row SIT dim (J1),
  * run the position-aware regex scan (P2) in a single projection, gate with
  * the codegen'd placeholder heuristic (P5), then two small `sit_id`
  * aggregates — the only shuffles in the plan. The mapping it reads is
  * itself a narrow projection of the cached corpus
  * ([[ContentGen.mappingFromCorpus]], [[PostProcess.updateMapping]]), so
  * each of its consumers (verdicts, means, the CSV/XLSX sinks) rescans that
  * cache instead of re-running a join.
  *
  * At 100 TB: everything upstream of the final groupBys is narrow (no
  * exchange); the regex projection is the CPU hotspot and scales linearly
  * with executors. The `sit_id` aggregate is 50 groups — partial aggregation
  * collapses it map-side.
  */
object Validator {

  /** S9 — wholetext corpus scan: one row per `.txt` file. Every mapping
    * `filename` is a `.txt` name, so the derived docx/pdf/eml files beside
    * them are never read. */
  def corpusFromFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").option("pathGlobFilter", "*.txt")
      .text(dir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("filename"),
        col("value").as("text"))

  /** P8 — split the `;`-joined parallel arrays and posexplode to one row per
    * (doc, sit) assignment. Missing labels default "TP", unparsable instance
    * counts default 1 (`modules/validator.py:253-273`). */
  def explodeAssignments(mapping: DataFrame,
                         carry: Seq[String] = Seq("filename")): DataFrame = {
    val sitArr = filter(split(coalesce(col("sit_ids"), lit("")), ";"), s => s =!= "")
    val labArr = filter(split(coalesce(col("labels"), lit("")), ";"), s => s =!= "")
    val instArr = transform(split(coalesce(col("instances"), lit("")), ";"),
      x => coalesce(x.try_cast("int"), lit(1)))
    mapping
      .withColumn("sit_arr", sitArr)
      .withColumn("lab_arr", labArr)
      .withColumn("inst_arr", instArr)
      .select(col("doc_id").cast("long").as("doc_id") +: carry.map(col) ++:
        Seq(col("sit_arr"), col("lab_arr"), col("inst_arr"),
          posexplode(col("sit_arr")).as(Seq("pos", "sit_id_raw"))): _*)
      .select(
        col("doc_id") +: carry.map(col) ++: Seq(
          trim(col("sit_id_raw")).as("sit_id"),
          coalesce(try_element_at(col("lab_arr"), col("pos") + 1), lit("TP")).as("label"),
          coalesce(try_element_at(col("inst_arr"), col("pos") + 1), lit(1)).as("instances")): _*)
  }

  /** Per-(doc,sit) verdicts: the narrow hot path. `corpus` is keyed by
    * `filename` — the J6 "first existing path" probe becomes a single join
    * against the corpus scan instead of per-row file IO. */
  def verdicts(assignments: DataFrame, corpus: DataFrame,
               sitDim: DataFrame): DataFrame = {
    val joined = assignments
      .join(broadcast(sitDim.select(col("id").as("sit_id"), col("regex"))),
        Seq("sit_id"), "left")
      .join(corpus, Seq("filename"), "left")

    val matches = when(
      col("regex").isNotNull && col("regex") =!= "" && col("text").isNotNull,
      graft.expr.RegexMatchesExpr.regexMatchesNative(col("text"), col("regex")))
      .otherwise(array().cast("array<struct<value:string,start:int,excerpt:string>>"))

    joined
      .withColumn("matches", matches)
      .withColumn("found_real",
        size(filter(col("matches"),
          m => !Placeholder.isPlaceholderFast(m.getField("value")))))
      .withColumn("need", greatest(lit(1), col("instances")))
      .withColumn("tp_ok", col("label") === "TP" && col("found_real") >= col("need"))
      .withColumn("fp_flagged", col("label") =!= "TP" && col("found_real") > 0)
  }

  /** A1–A4: the per-SIT rollup (`modules/validator.py:336-342`). */
  def report(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("sit_id").agg(
      count(lit(1)).as("docs"),
      count_if(col("tp_ok")).as("tp_docs"),
      count_if(col("fp_flagged")).as("fp_flagged"),
      sum("instances").as("total_instances"))
      // one row per SIT: a single sorted partition, no range sampling
      .coalesce(1).sortWithinPartitions("sit_id")

  /** A5: corpus means (`modules/validator.py:344-348`). */
  def means(mapping: DataFrame): DataFrame = {
    val sitArr = filter(split(coalesce(col("sit_ids"), lit("")), ";"), s => s =!= "")
    val instArr = transform(split(coalesce(col("instances"), lit("")), ";"),
      x => coalesce(x.try_cast("int"), lit(1)))
    mapping
      .select(size(sitArr).as("n_sits"), instArr.as("inst_arr"))
      .agg(
        avg("n_sits").as("avg_sits_per_doc"),
        (sum(aggregate(col("inst_arr"), lit(0L), (a, x) => a + x)) /
          sum(size(col("inst_arr")))).as("avg_instances_per_sit"))
  }

  /** W4 — capped, deduped, 120-char-truncated match samples. */
  private def sampleCol(matches: Column): Column = {
    val displays = transform(matches, m => {
      val d = when(m.getField("excerpt") =!= "",
        concat(m.getField("value"), lit(" ... "), m.getField("excerpt")))
        .otherwise(m.getField("value"))
      when(length(d) > 120, concat(substring(d, 1, 117), lit("..."))).otherwise(d)
    })
    slice(array_distinct(displays), 1, 5)
  }

  /** A10/W3 — issue lines, first 500 in (doc_id, sit_id) order
    * (`modules/validator.py:318,330,350-353`). */
  def issues(verdicts: DataFrame, cap: Int = 500): DataFrame =
    verdicts
      .filter((col("label") === "TP" && !col("tp_ok")) || col("fp_flagged"))
      .select(col("doc_id"), col("sit_id"),
        when(col("label") === "TP",
          format_string(
            "TP missing matches for doc %d, sit %s: found %d expected %d path %s sample_matches: %s",
            col("doc_id"), col("sit_id"), col("found_real"), col("need"),
            col("filename"), sampleCol(col("matches")).cast("string")))
          .otherwise(format_string(
            "FP contains valid-looking match in doc %d, sit %s: sample %s",
            col("doc_id"), col("sit_id"), sampleCol(col("matches")).cast("string")))
          .as("issue"))
      .orderBy("doc_id", "sit_id")
      .limit(cap)

  /** S17 — driver-side report formatter (small aggregates only). */
  def formatReport(report: DataFrame, means: DataFrame, issues: DataFrame,
                   perSitTarget: Int): String = {
    val sb = new StringBuilder
    sb.append("Validation report\n=================\n\n")
    val rep = report.collect()
    sb.append(s"Total unique SITs observed in mapping: ${rep.length}\n\n")
    rep.foreach { r =>
      sb.append(s"${r.getAs[String]("sit_id")}: docs=${r.getAs[Long]("docs")}, " +
        s"tp_docs=${r.getAs[Long]("tp_docs")}, fp_flagged=${r.getAs[Long]("fp_flagged")}, " +
        s"total_instances=${r.getAs[Long]("total_instances")}\n")
      if (r.getAs[Long]("docs") < perSitTarget)
        sb.append(s"  >>> WARNING: only ${r.getAs[Long]("docs")} docs for " +
          s"${r.getAs[String]("sit_id")} (target $perSitTarget)\n")
    }
    val m = means.collect().head
    sb.append("\nDistribution summary:\n\n")
    sb.append(f"Average SITs per doc: ${m.getAs[Double]("avg_sits_per_doc")}%.2f\n")
    sb.append(f"Average instances per SIT (across docs): ${m.getAs[Double]("avg_instances_per_sit")}%.2f\n")
    sb.append("\nDetected issues (first 500 lines):\n\n")
    val iss = issues.collect()
    if (iss.isEmpty) sb.append("No issues detected based on regex checks and heuristics.\n")
    else iss.foreach(r => sb.append(r.getAs[String]("issue")).append("\n"))
    sb.toString
  }

  /** End-to-end: mapping + corpus + dim → (report, means, issues). */
  def run(mapping: DataFrame, corpus: DataFrame, sitDim: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val v = verdicts(explodeAssignments(mapping), corpus, sitDim).cache()
    (report(v), means(mapping), issues(v))
  }
}
