package graft

import graft.pipeline._

/** Run the four-stage DLP pipeline end-to-end at a configurable scale and
  * print the validation report — the library's user-facing entry point
  * (equivalent of running the reference's four `main()`s back-to-back).
  *
  * Usage: runMain graft.PipelineDemo [perSitCount] [outDir] [configJson]
  * With an outDir, also exports the corpus txt files, derived
  * docx/pdf/eml files, and the final mapping CSV + XLSX.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val perSit = args.headOption.map(_.toInt).getOrElse(10)
    val outDir = args.lift(1)
    val spark = Session.builder("graft-pipeline-demo", Session.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val cfg = args.lift(2) match {
      case Some(path) => PipelineConfig.fromJson(spark, path).copy(perSitCount = perSit)
      case None       => PipelineConfig.scaled(perSit)
    }

    // Stage 1: plan
    val docs = MetaGen.docs(spark, cfg).cache()
    val nDocs = docs.count()
    // Stage 2: render
    val corpus = ContentGen.corpus(docs).cache()
    val mapping = ContentGen.mappingFromCorpus(corpus)
    // Stage 3: derive export formats
    val derived = PostProcess.derive(corpus)
    val finalMapping = PostProcess.updateMapping(mapping, derived)
    // Stage 4: validate
    val (report, means, issues) = Validator.run(
      finalMapping, corpus.select("filename", "text"), cfg.sitDim(spark).toDF())
    val reportText = Validator.formatReport(report, means, issues, cfg.perSitCount)

    outDir.foreach { dir =>
      graft.sink.DocSink.writeFiles(derived, s"$dir/files", Seq(
        "filename" -> "text", "docx_name" -> "docx_bytes",
        "pdf_name" -> "pdf_bytes", "eml_name" -> "eml_text"))
      finalMapping.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$dir/mapping_csv")
      // XLSX is a single zip stream by format, so it is built in ONE task —
      // but on an executor via foreachPartition, not via a driver collect:
      // driver memory stays flat no matter how large the mapping grows
      // (same single-object caveat as the reference's meta.json envelope,
      // see MetaJson; the JSONL/CSV sinks are the true distributed paths).
      // The writes go through the Hadoop FileSystem API so the path
      // resolves on the CLUSTER filesystem (hdfs://, s3a://, file://) —
      // a java.nio write would land on whichever executor ran the task.
      // Qualified on the driver, so a relative dir means the same place
      // in every task.
      val root = {
        val p = new org.apache.hadoop.fs.Path(dir)
        graft.FsText.fs(spark, p).makeQualified(p)
      }
      val header = finalMapping.columns.toSeq
      val xlsxPath = new org.apache.hadoop.fs.Path(root, "mapping_final.xlsx")
        .toString
      // ship the DRIVER's hadoop conf into the task — a bare
      // `new Configuration()` loads only classpath XML and would drop
      // spark.hadoop.* session settings (s3a credentials, endpoints,
      // fs.defaultFS), breaking exactly the cluster filesystems above
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      finalMapping.coalesce(1).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val rows = header +: it.map(_.toSeq.map(v =>
            if (v == null) "" else v.toString)).toSeq
          val p = new org.apache.hadoop.fs.Path(xlsxPath)
          val fs = p.getFileSystem(hconf.value)
          val out = fs.create(p, true)
          try out.write(graft.sink.MiniFormats.xlsxBytes(rows))
          finally out.close()
      }
      graft.FsText.write(spark,
        new org.apache.hadoop.fs.Path(root, "validation_report.txt"), reportText)
    }

    val secs = (System.nanoTime() - t0) / 1e9
    println(reportText.linesIterator.take(60).mkString("\n"))
    println(f"\n[pipeline] $nDocs docs generated+rendered+validated in $secs%.1f s " +
      f"(${nDocs / secs}%.0f docs/s; reference: 7.9–16 docs/s postprocess alone)")
    spark.stop()
  }
}
