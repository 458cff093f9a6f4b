package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.pipeline._
import graft.sink.{DocSink, Eml, MiniFormats}

/** One benchmark workload. `iteration` is the timed region; `check` and
  * `cleanup` run after it, untimed. */
trait Workload {
  /** Documents one iteration completes (the `docs_per_s` numerator). */
  def docsPerIteration: Long
  /** Operations one iteration attempts (the `pass_frac` denominator). */
  def operationsPerIteration: Int
  def iteration(tr: Tracer): Unit
  /** Failed operations of the last iteration, one message each. */
  def check(): Seq[String]
  /** Per-iteration figures that are not scheduler counts. */
  def extras(): Map[String, Double] = Map.empty
  def cleanup(): Unit
}

object Workload {
  val PipelineLayers = Seq("pipeline.MetaGen", "pipeline.ContentGen",
    "pipeline.PostProcess", "pipeline.Validator")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally all.close()
  }

  /** Whitespace-insensitive text key: the docx and pdf writers re-flow
    * paragraphs and lines, so a round trip keeps the words, not the
    * layout. */
  def words(s: String): Seq[String] = s.split("\\s+").toSeq.filter(_.nonEmpty)
}

/** The four-stage DLP pipeline: MetaGen → ContentGen → PostProcess →
  * Validator. With `exportDir`, the iteration also writes every file the
  * reference writes and validates from the files it just wrote, as
  * `PipelineDemo` does with an output directory; without it, all four
  * stages stay in memory. */
final class DlpWorkload(spark: SparkSession, cfg: PipelineConfig,
                        exportDir: Option[Path])
    extends Workload {
  import Workload._

  val docsPerIteration: Long = MetaGen.docsNeeded(cfg)
  val operationsPerIteration = 1

  private var docs: DataFrame = _
  private var corpus: DataFrame = _
  private var derived: DataFrame = _
  private var finalMapping: DataFrame = _
  private var nDocs = -1L
  private var reportText = ""
  private var expectedReport: Option[String] = None
  private var written = (0L, 0L)

  private def filesDir: Option[Path] = exportDir.map(_.resolve("files"))

  def iteration(tr: Tracer): Unit = {
    docs = tr.span("pipeline.MetaGen") {
      val d = MetaGen.docs(spark, cfg).cache()
      nDocs = d.count()
      d
    }
    val mapping = tr.span("pipeline.ContentGen") {
      corpus = ContentGen.corpus(docs).cache()
      // the pipeline caches the corpus anyway; materializing it here only
      // moves its rendering cost to the stage that owns it
      if (tr.enabled) corpus.count()
      ContentGen.mappingFromCorpus(corpus)
    }
    tr.span("pipeline.PostProcess") {
      derived = PostProcess.derive(corpus)
      finalMapping = PostProcess.updateMapping(mapping, derived)
    }
    exportDir.foreach { dir => tr.span("sink")(export(dir)) }
    reportText = tr.span("pipeline.Validator") {
      val text = filesDir match {
        case Some(files) => Validator.corpusFromFiles(spark, files.toString)
        case None => corpus.select("filename", "text")
      }
      val (report, means, issues) =
        Validator.run(finalMapping, text, cfg.sitDim(spark).toDF())
      Validator.formatReport(report, means, issues, cfg.perSitCount)
    }
  }

  /** Writes the corpus, the derived formats, the mapping CSV and XLSX and
    * the report dir the same way `PipelineDemo` does. */
  private def export(dir: Path): Unit = {
    val files = dir.resolve("files").toString
    DocSink.writeTextFiles(corpus, files)
    PostProcess.export(derived, files)
    finalMapping.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir.resolve("mapping_csv").toString)
    val header = finalMapping.columns.toSeq
    val xlsxPath = dir.resolve("mapping_final.xlsx").toAbsolutePath.toString
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    finalMapping.coalesce(1).foreachPartition { (it: Iterator[Row]) =>
      val rows = header +: it.map(_.toSeq.map(v =>
        if (v == null) "" else v.toString)).toSeq
      val p = new org.apache.hadoop.fs.Path(xlsxPath)
      val out = p.getFileSystem(hconf.value).create(p, true)
      try out.write(MiniFormats.xlsxBytes(rows)) finally out.close()
    }
  }

  def check(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    if (nDocs != docsPerIteration)
      fails += s"doc count $nDocs != MetaGen.docsNeeded $docsPerIteration"
    val coverage = MetaGen.coverage(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val short = cfg.sits.map(_.id).filter(id => coverage.getOrElse(id, 0L) < cfg.perSitCount)
    if (short.nonEmpty)
      fails += s"SITs below ${cfg.perSitCount} docs: ${short.mkString(",")}"
    // the report of the in-memory corpus is the reference for every
    // iteration; it is built once, from the first iteration's frames
    val expected = expectedReport.getOrElse {
      val (r, m, i) = Validator.run(finalMapping,
        corpus.select("filename", "text"), cfg.sitDim(spark).toDF())
      val text = Validator.formatReport(r, m, i, cfg.perSitCount)
      expectedReport = Some(text)
      text
    }
    val sitLines = expected.linesIterator.count(_.matches("^[A-Za-z0-9_.-]+: docs=.*"))
    if (sitLines != cfg.sits.size || expected.contains("WARNING"))
      fails += s"in-memory report has $sitLines SIT lines or a coverage WARNING"
    if (reportText != expected) fails += "validation report differs from the in-memory report"
    fails ++= filesDir.map(checkFiles).getOrElse(checkDerivedInMemory())
    fails.result()
  }

  private def sample: Array[Row] =
    corpus.filter(col("doc_id") < 24).select("doc_id", "filename", "format", "text")
      .orderBy("doc_id").collect()

  private def isEmail(format: String) = format == "email" || format == "email_with_attachment"

  private def roundTrip(name: String, text: String, docx: Array[Byte],
                        pdf: Array[Byte], eml: Option[String]): Seq[String] = {
    val w = words(text)
    Seq(
      Option.when(docx == null || words(MiniFormats.docxText(docx)) != w)(s"$name: docx round trip"),
      Option.when(pdf == null || words(MiniFormats.pdfText(pdf)) != w)(s"$name: pdf round trip"),
      eml.flatMap(e => Option.when(e == null || words(Eml.textPlain(e)) != w)(s"$name: eml round trip"))
    ).flatten
  }

  private def checkFiles(files: Path): Seq[String] = {
    val fails = Seq.newBuilder[String]
    val names = {
      val s = Files.list(files)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    val byExt = names.groupBy(n => n.substring(n.lastIndexOf('.') + 1)).map { case (k, v) => k -> v.size.toLong }
    val emails = docs.filter(col("format").isin("email", "email_with_attachment")).count()
    val want = Map("txt" -> nDocs, "docx" -> nDocs, "pdf" -> nDocs, "eml" -> emails)
    want.foreach { case (ext, n) =>
      if (byExt.getOrElse(ext, 0L) != n) fails += s".$ext files ${byExt.getOrElse(ext, 0L)} != $n" }
    val dir = files.getParent
    if (!Files.isRegularFile(dir.resolve("mapping_final.xlsx")) ||
        MiniFormats.xlsxRows(Files.readAllBytes(dir.resolve("mapping_final.xlsx"))).size != nDocs + 1)
      fails += "mapping_final.xlsx missing or wrong row count"
    val csvParts = {
      val s = Files.list(dir.resolve("mapping_csv"))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".csv")) finally s.close()
    }
    if (csvParts != 1) fails += s"mapping_csv has $csvParts part files"
    sample.foreach { r =>
      val (name, format, text) = (r.getString(1), r.getString(2), r.getString(3))
      val stem = name.stripSuffix(".txt")
      def read(ext: String): Array[Byte] = {
        val p = files.resolve(stem + ext)
        if (Files.isRegularFile(p)) Files.readAllBytes(p) else null
      }
      val txt = read(".txt")
      if (txt == null || new String(txt, UTF_8) != text) fails += s"$name: txt differs"
      fails ++= roundTrip(name, text, read(".docx"), read(".pdf"),
        Option.when(isEmail(format))(Option(read(".eml")).map(new String(_, UTF_8)).orNull))
    }
    written = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }
    fails.result()
  }

  private def checkDerivedInMemory(): Seq[String] =
    derived.filter(col("doc_id") < 24)
      .select("filename", "format", "text", "docx_bytes", "pdf_bytes", "eml_text")
      .collect().toSeq.flatMap { r =>
        roundTrip(r.getString(0), r.getString(2), r.getAs[Array[Byte]](3),
          r.getAs[Array[Byte]](4), Option.when(isEmail(r.getString(1)))(r.getString(5)))
      }

  override def extras(): Map[String, Double] =
    if (exportDir.isEmpty) Map.empty
    else Map("sink.files_written" -> written._1.toDouble,
      "sink.bytes_written" -> written._2.toDouble)

  def cleanup(): Unit = {
    spark.catalog.clearCache()
    exportDir.foreach(deleteTree)
  }
}

/** Multi-job operators on fixed sf0.01 tables, each query in a fresh child
  * session whose cache is cleared afterwards, as `graft.Bench` runs them. */
final class OpsWorkload(spark: SparkSession, dataDir: String,
                        expected: Map[String, String])
    extends Workload {
  lazy val docsPerIteration: Long = spark.read.parquet(s"$dataDir/documents.parquet").count()
  val operationsPerIteration: Int = OpsWorkload.Queries.size

  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Array[Row]]]
  private val sessions = scala.collection.mutable.ArrayBuffer.empty[SparkSession]

  def iteration(tr: Tracer): Unit = OpsWorkload.Queries.foreach { q =>
    results(q) = tr.span(s"ops.$q") {
      try {
        val s = spark.newSession()
        sessions += s
        // building the frame already runs the eager parts of iterative
        // operators (checkpointed loops, memoized tables)
        val df = tr.span(s"ops.$q/build")(graft.SparkEntry.queries(q)(s, dataDir))
        tr.span(s"ops.$q/plan")(df.queryExecution.executedPlan)
        Right(df.collect())
      } catch { case e: Exception => Left(s"$q failed: ${e.getMessage}".take(300)) }
    }
  }

  def check(): Seq[String] = results.toSeq.flatMap {
    case (_, Left(err)) => Some(err)
    case (q, Right(rows)) =>
      val h = OpsWorkload.hash(rows)
      Option.when(!expected.get(q).contains(h))(
        s"$q result hash $h != expected ${expected.getOrElse(q, "(none)")}")
  }

  def cleanup(): Unit = {
    sessions.foreach(_.catalog.clearCache())
    sessions.clear()
    results.clear()
  }
}

object OpsWorkload {
  val Queries = Seq("q84_pagerank", "q39_dup_clusters", "q101_retroactive_sweep")

  /** Order-insensitive hash of a result: doubles rounded to 9 places, as
    * the DuckDB oracle compare rounds them, rows sorted, SHA-256. */
  def hash(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => cell(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
      case other => other.toString
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().take(12).map("%02x".format(_)).mkString + s":${rows.length}"
  }
}
