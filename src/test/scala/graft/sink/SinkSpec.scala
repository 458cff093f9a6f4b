package graft.sink

import graft.SparkSpec
import graft.pipeline.{ContentGen, MetaGen, PipelineConfig, PostProcess, Validator}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** S8/S9 + S4/S5 source/sink round-trips through real files. */
class SinkSpec extends SparkSpec {

  test("S8 foreachPartition txt sink + S9 wholetext scan round-trip") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val cfg = PipelineConfig.scaled(perSit = 1)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg)).cache()
    DocSink.writeTextFiles(corpus, dir)
    val back = Validator.corpusFromFiles(spark, dir)
    val orig = corpus.select(col("filename"), col("text"))
    assert(back.count() == corpus.count())
    assert(back.exceptAll(orig).count() == 0, "scan-back differs from written")
  }

  test("export writes every docx, pdf and eml file in one job") {
    val dir = Files.createTempDirectory("graft_export").toString
    val cfg = PipelineConfig.scaled(perSit = 1)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg)).cache()
    val n = corpus.count()
    val emails = corpus.filter(
      col("format").isin("email", "email_with_attachment")).count()
    val (_, jobs) = jobsOf(PostProcess.export(PostProcess.derive(corpus), dir))
    assert(jobs === 1)
    val names = Files.list(java.nio.file.Paths.get(dir)).toArray.toSeq
      .map(_.toString)
    assert(names.count(_.endsWith(".docx")) === n)
    assert(names.count(_.endsWith(".pdf")) === n)
    assert(names.count(_.endsWith(".eml")) === emails)
    assert(names.size === 2 * n + emails)
    corpus.unpersist()
  }

  test("S9 corpusFromFiles reads only the .txt files of an export directory") {
    val dir = Files.createTempDirectory("graft_mixed").toString
    val cfg = PipelineConfig.scaled(perSit = 1)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg)).cache()
    DocSink.writeTextFiles(corpus, dir)
    PostProcess.export(PostProcess.derive(corpus), dir)
    val back = Validator.corpusFromFiles(spark, dir).cache()
    assert(back.filter(!col("filename").endsWith(".txt")).count() === 0)
    assert(back.count() === corpus.count())
    assert(back.exceptAll(corpus.select("filename", "text")).count() === 0)
    back.unpersist()
    corpus.unpersist()
  }

  test("S5/S4 mapping CSV sink + all-string scan round-trip") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val cfg = PipelineConfig.scaled(perSit = 1)
    val mapping = ContentGen.mappingFromCorpus(
      ContentGen.corpus(MetaGen.docs(spark, cfg)))
    mapping.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir)
    // all-string read, matching the reference's dtype=str loads
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == mapping.count())
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    // validator consumes the string-typed form directly
    val exploded = Validator.explodeAssignments(back)
    assert(exploded.count() > 0)
    assert(exploded.filter(col("instances") < 1).count() == 0)
  }

  test("partitioned corpus layout: partition pruning reaches the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val cfg = PipelineConfig.scaled(perSit = 1)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg))
    corpus.write.mode("overwrite").partitionBy("format").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("format") === "chat")
      .select("doc_id", "text")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("format"), plan.take(1500))
    val n = read.count()
    assert(n > 0 && n < corpus.count())
  }

  test("S11-style binaryFile scan over exported docx") {
    val dir = Files.createTempDirectory("graft_docx").toString
    Files.write(java.nio.file.Paths.get(dir, "a.docx"),
      MiniFormats.docxBytes("Hello\n\nWorld"))
    val bin = spark.read.format("binaryFile").load(dir + "/*.docx")
    val extractUdf = udf((b: Array[Byte]) => MiniFormats.docxText(b))
    val texts = bin.select(extractUdf(col("content")).as("t"))
      .collect().map(_.getString(0))
    assert(texts.toSeq == Seq("Hello\nWorld"))
  }
}
