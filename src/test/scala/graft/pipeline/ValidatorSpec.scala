package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage-4 flagship DAG on a hand-made corpus with hand-computed expected
  * counts (SURVEY.md §7.3 minimum slice), and the one-pass `run` against
  * the declarative three-query validator it replaced. */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  // 5-doc mapping: exercises TP-satisfied, TP-missing, FP-flagged, FP-clean,
  // TC-only (regex-less), and unparsable instances.
  private lazy val mapping = Seq(
    // doc 1: CCN TP needs 2, text has 2 real CCNs -> tp_ok
    (1L, "d1.txt", "SIT_CCN", "TP", "2"),
    // doc 2: CCN TP needs 2, text has 1 real -> issue
    (2L, "d2.txt", "SIT_CCN", "TP", "2"),
    // doc 3: ABA FP, text has a real-looking 9-digit number -> fp_flagged
    (3L, "d3.txt", "SIT_ABA", "FP", "1"),
    // doc 4: ABA FP, text has only the placeholder -> clean
    (4L, "d4.txt", "SIT_ABA", "FP", "1"),
    // doc 5: TC-only SIT (no regex) + garbage instances -> defaults to 1, no match
    (5L, "d5.txt", "SIT_FINANCE_TC", "TP", "x"))
    .map { case (id, f, sid, lbl, inst) => (id, f, sid, lbl, inst) }
    .toDF("doc_id", "filename", "sit_ids", "labels", "instances")

  private lazy val corpus = Seq(
    ("d1.txt", "pay 5133 2181 9600 1338 and 4539 1488 0343 6467 thanks"),
    ("d2.txt", "one card 5133 2181 9600 1338 and fake 0000 0000 0000 0000"),
    ("d3.txt", "routing 123456789 ok"),
    ("d4.txt", "routing 000000000 zeroed"),
    ("d5.txt", "no numbers at all")).toDF("filename", "text")

  private lazy val sitDim = PipelineConfig.default.sitDim(spark).toDF()

  private lazy val result = Validator.run(mapping, corpus, sitDim)

  test("per-SIT report matches hand counts") {
    val rep = result._1.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rep("SIT_CCN") == ((2L, 1L, 0L, 4L)))      // 2 docs, 1 tp_ok, sum inst 4
    assert(rep("SIT_ABA") == ((2L, 0L, 1L, 2L)))      // d3 flagged, d4 clean
    assert(rep("SIT_FINANCE_TC") == ((1L, 0L, 0L, 1L))) // "x" -> default 1
  }

  test("issues cover the TP-miss and FP-flag rows, in order") {
    val issues = result._3.collect().map(_.getAs[String]("issue"))
    assert(issues.length == 3) // d2 TP missing, d3 FP flagged, d5 TP missing
    assert(issues(0).startsWith("TP missing matches for doc 2, sit SIT_CCN"))
    assert(issues(1).startsWith("FP contains valid-looking match in doc 3"))
    assert(issues(2).startsWith("TP missing matches for doc 5, sit SIT_FINANCE_TC"))
  }

  test("explodeAssignments: positional zip with defaults") {
    val df = Seq((9L, "f", "A;B;C", "TP", "5"))
      .toDF("doc_id", "filename", "sit_ids", "labels", "instances")
    val rows = Validator.explodeAssignments(df)
      .orderBy("sit_id").collect()
      .map(r => (r.getAs[String]("sit_id"), r.getAs[String]("label"),
        r.getAs[Int]("instances")))
    // missing labels default TP, missing instances default 1
    assert(rows.toSeq == Seq(("A", "TP", 5), ("B", "TP", 1), ("C", "TP", 1)))
  }

  test("means: avg sits per doc and instances") {
    val m = result._2.collect()(0)
    assert(math.abs(m.getDouble(0) - 1.0) < 1e-9) // every doc has 1 sit
    assert(math.abs(m.getDouble(1) - (2 + 2 + 1 + 1 + 1) / 5.0) < 1e-9)
  }

  test("report aggregate plan broadcast-joins the dim and keeps one exchange") {
    val v = Validator.verdicts(Validator.explodeAssignments(mapping), corpus, sitDim)
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("run: one SQL execution of at most 3 jobs; formatReport runs none") {
    val ((r, m, i), starts) = jobStartsOf(Validator.run(mapping, corpus, sitDim))
    assert(starts.size <= 3, s"${starts.size} jobs")
    val executions = starts.map(_.properties.getProperty("spark.sql.execution.id"))
    assert(executions.forall(_ != null) && executions.distinct.size == 1, executions)
    val (_, formatJobs) = jobsOf(Validator.formatReport(r, m, i, 1))
    assert(formatJobs == 0, s"$formatJobs jobs")
  }

  test("run == the declarative three-query validator: schemas, rows and " +
    "formatReport text byte for byte") {
    val cases = Seq.newBuilder[(String, DataFrame, DataFrame, DataFrame, Int)]
    val cached = Seq.newBuilder[DataFrame]
    ContentGenSpec.configs.foreach { case (name, cfg) =>
      val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg)).cache()
      cached += corpus
      val finalMapping = PostProcess.updateMapping(
        ContentGen.mappingFromCorpus(corpus), PostProcess.derive(corpus))
      cases += ((name, finalMapping, corpus.select("filename", "text"),
        cfg.sitDim(spark).toDF(), cfg.perSitCount))
    }
    val cfg = PipelineConfig.scaled(perSit = 10)
    val corpus10 = ContentGen.corpus(MetaGen.docs(spark, cfg)).cache()
    cached += corpus10
    val mapping10 = ContentGen.mappingFromCorpus(corpus10)
    val dim = cfg.sitDim(spark).toDF()
    // every third doc's text replaced, and every row repeated against a
    // missing file: > 500 issues, each (doc_id, sit_id) key of a TP row twice
    val damaged = corpus10.select(col("filename"),
      when(col("doc_id") % 3 === 0, lit("nothing to see")).otherwise(col("text"))
        .as("text"))
    val doubled = mapping10.unionByName(
      mapping10.withColumn("filename", lit("missing.txt")))
    cases += (("> 500 issues, tied keys", doubled, damaged, dim, 10))
    // a null doc_id, malformed instances, sit_ids and instances of unequal
    // lengths, labels missing, a blank id, a SIT the dim lacks
    val odd = Seq[(java.lang.Long, String, String, String, String)](
      (null, "d2.txt", "SIT_CCN;SIT_ABA", "TP;FP", "2;1"),
      (3L, "d3.txt", "SIT_ABA;SIT_CCN;SIT_ABA", "FP", "x;;7"),
      (2L, "d2.txt", "SIT_CCN", "TP;TP;FP", "1;2;3;4"),
      (6L, "none.txt", "SIT_NOPE; ;SIT_CCN", null, null),
      (7L, "d1.txt", null, "TP", "2"))
      .toDF("doc_id", "filename", "sit_ids", "labels", "instances")
    cases += (("null doc_id, malformed and unequal arrays", odd, corpus, sitDim, 1))
    cases += (("empty mapping", mapping.filter(lit(false)), corpus, sitDim, 1))

    cases.result().foreach { case (name, m, c, d, perSit) =>
      val (r, mn, i) = Validator.run(m, c, d)
      val (refR, refM, refI, allIssues) = ValidatorSpec.reference(m, c, d)
      if (name.startsWith("> 500")) assert(allIssues.count() > 500, name)
      assert(r.schema == refR.schema, s"$name report\n${r.schema}\n${refR.schema}")
      assert(mn.schema == refM.schema, s"$name means\n${mn.schema}\n${refM.schema}")
      assert(i.schema == refI.schema, s"$name issues\n${i.schema}\n${refI.schema}")
      Seq((r, refR), (mn, refM), (i, refI)).foreach { case (got, want) =>
        assert(got.collect().toSeq == want.collect().toSeq, name)
      }
      val text = Validator.formatReport(r, mn, i, perSit)
      val ref = Validator.formatReport(refR, refM, refI, perSit)
      assert(text == ref, name)
    }
    cached.result().foreach(_.unpersist())
  }
}

object ValidatorSpec {

  /** The declarative validator `Validator.run` replaced: the wide verdicts
    * cached, then the report, the means and the issues as three queries.
    * Issues break (`doc_id`, `sit_id`) ties on the issue text, the order
    * `run` defines. Returns the three frames and the uncapped issues. */
  def reference(mapping: DataFrame, corpus: DataFrame, sitDim: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sitArr = filter(split(coalesce(col("sit_ids"), lit("")), ";"), s => s =!= "")
    val labArr = filter(split(coalesce(col("labels"), lit("")), ";"), s => s =!= "")
    val instArr = transform(split(coalesce(col("instances"), lit("")), ";"),
      x => coalesce(x.try_cast("int"), lit(1)))
    val assignments = mapping
      .withColumn("sit_arr", sitArr)
      .withColumn("lab_arr", labArr)
      .withColumn("inst_arr", instArr)
      .select(col("doc_id").cast("long").as("doc_id"), col("filename"),
        col("sit_arr"), col("lab_arr"), col("inst_arr"),
        posexplode(col("sit_arr")).as(Seq("pos", "sit_id_raw")))
      .select(col("doc_id"), col("filename"),
        trim(col("sit_id_raw")).as("sit_id"),
        coalesce(try_element_at(col("lab_arr"), col("pos") + 1), lit("TP")).as("label"),
        coalesce(try_element_at(col("inst_arr"), col("pos") + 1), lit(1)).as("instances"))

    val matches = when(
      col("regex").isNotNull && col("regex") =!= "" && col("text").isNotNull,
      graft.expr.RegexMatchesExpr.regexMatchesNative(col("text"), col("regex")))
      .otherwise(array().cast("array<struct<value:string,start:int,excerpt:string>>"))
    val v = assignments
      .join(broadcast(sitDim.select(col("id").as("sit_id"), col("regex"))),
        Seq("sit_id"), "left")
      .join(corpus, Seq("filename"), "left")
      .withColumn("matches", matches)
      .withColumn("found_real",
        size(filter(col("matches"),
          m => !graft.expr.Placeholder.isPlaceholderFast(m.getField("value")))))
      .withColumn("need", greatest(lit(1), col("instances")))
      .withColumn("tp_ok", col("label") === "TP" && col("found_real") >= col("need"))
      .withColumn("fp_flagged", col("label") =!= "TP" && col("found_real") > 0)
      .cache()

    val report = v.groupBy("sit_id").agg(
      count(lit(1)).as("docs"),
      count_if(col("tp_ok")).as("tp_docs"),
      count_if(col("fp_flagged")).as("fp_flagged"),
      sum("instances").as("total_instances"))
      .coalesce(1).sortWithinPartitions("sit_id")

    val means = mapping
      .select(size(sitArr).as("n_sits"), instArr.as("inst_arr"))
      .agg(
        avg("n_sits").as("avg_sits_per_doc"),
        (sum(aggregate(col("inst_arr"), lit(0L), (a, x) => a + x)) /
          sum(size(col("inst_arr")))).as("avg_instances_per_sit"))

    def sampleCol(matches: Column): Column = {
      val displays = transform(matches, m => {
        val d = when(m.getField("excerpt") =!= "",
          concat(m.getField("value"), lit(" ... "), m.getField("excerpt")))
          .otherwise(m.getField("value"))
        when(length(d) > 120, concat(substring(d, 1, 117), lit("..."))).otherwise(d)
      })
      slice(array_distinct(displays), 1, 5)
    }
    val allIssues = v
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
    val issues = allIssues.orderBy("doc_id", "sit_id", "issue").limit(500)
    (report, means, issues, allIssues)
  }
}
