package graft.streaming

import graft.SparkSpec
import graft.pipeline.PipelineConfig
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Streaming validator: MemoryStream drive, watermarked windowed counts
  * converge to the batch rollup. */
class StreamingValidatorSpec extends SparkSpec {
  import spark.implicits._

  case class Doc(doc_id: Long, filename: String, sit_ids: String,
                 labels: String, instances: String,
                 created_at: Timestamp, text: String)

  test("windowed report matches hand counts and windows correctly") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2026-01-01 10:15:00") // second window
    stream.addData(
      Doc(1, "d1", "SIT_CCN", "TP", "1", t0, "card 5133 2181 9600 1338 ok"),
      Doc(2, "d2", "SIT_CCN", "TP", "2", t0, "only 5133 2181 9600 1338 here"),
      Doc(3, "d3", "SIT_ABA", "FP", "1", t1, "routing 123456789"))

    val report = StreamingValidator.windowedReport(
      stream.toDF(), PipelineConfig.default.sitDim(spark).toDF(),
      windowLength = "10 minutes", watermarkDelay = "1 minute")

    val q = report.writeStream
      .format("memory").queryName("win_report")
      .outputMode(OutputMode.Complete) // test reads all state
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_report")
        .select(col("window.start").cast("string").as("ws"), col("sit_id"),
          col("docs"), col("tp_docs"), col("fp_flagged"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(rows(("2026-01-01 10:00:00", "SIT_CCN")) == ((2L, 1L, 0L)))
      assert(rows(("2026-01-01 10:10:00", "SIT_ABA")) == ((1L, 0L, 1L)))
    } finally q.stop()
  }

  test("file-source round-trip at reference-corpus scale converges to batch") {
    import graft.pipeline.{ContentGen, MetaGen, Validator}
    // perSit=100 ≈ the reference's full corpus (~1,500 docs) — the same
    // scale BASELINE.md's end-to-end numbers are quoted at
    val cfg = PipelineConfig.scaled(perSit = 100)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg)).cache()
    val mapping = ContentGen.mappingFromCorpus(corpus)
    val sitDim = cfg.sitDim(spark).toDF()
    // newlines flattened so the CSV exchange stays single-line; the batch
    // ground truth runs on the identical flattened text
    val flatCorpus = corpus.select(col("filename"),
      regexp_replace(col("text"), "\n", " ").as("text"))
    val (batchReport, _, _) = Validator.run(mapping, flatCorpus, sitDim)
    val expected = batchReport.collect().map(r => r.getAs[String]("sit_id") ->
      ((r.getAs[Long]("docs"), r.getAs[Long]("tp_docs"),
        r.getAs[Long]("fp_flagged"), r.getAs[Long]("total_instances")))).toMap

    val inDir = java.nio.file.Files.createTempDirectory("graft_sfstream_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sfstream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sfstream_ck").toString
    // land the whole mapping (with inline text) as CSV files, every doc in
    // the same 10-minute event-time window
    mapping.join(flatCorpus, "filename")
      .select(col("doc_id"), col("filename"), col("format"),
        col("word_count_target"), col("sit_ids"), col("labels"),
        col("instances"), col("confidences"), col("tcs"),
        lit("2026-01-01 10:00:00").cast("timestamp").as("created_at"),
        col("text"))
      .coalesce(4)
      .write.option("header", "true").mode("overwrite").csv(inDir)
    val q = StreamingValidator.run(spark, inDir, outDir, ckpt, sitDim)
    try {
      q.processAllAvailable()
      // append mode emits a window only once the watermark passes it —
      // land one late sentinel far in the future to close window 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "sentinel.csv"),
        "doc_id,filename,format,word_count_target,sit_ids,labels," +
          "instances,confidences,tcs,created_at,text\n" +
          "-1,sentinel,email,1,SIT_CCN,TP,1,Low,Finance,2026-01-01 12:00:00,x")
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .filter(col("window.start").cast("string") === "2026-01-01 10:00:00")
        .collect().map(r => r.getAs[String]("sit_id") ->
          ((r.getAs[Long]("docs"), r.getAs[Long]("tp_docs"),
            r.getAs[Long]("fp_flagged"), r.getAs[Long]("total_instances")))).toMap
      assert(got.size == expected.size, s"${got.size} SITs vs ${expected.size}")
      expected.foreach { case (sit, v) =>
        assert(got.get(sit).contains(v), s"$sit: got ${got.get(sit)}, want $v")
      }
    } finally q.stop()
  }

  test("file-source stream: mapping CSVs landing in a dir produce windowed parquet") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck").toString
    // two files "landing" with headers matching mappingStream's schema
    val header = "doc_id,filename,format,word_count_target,sit_ids,labels," +
      "instances,confidences,tcs,created_at,text"
    def row(id: Long, ts: String, text: String) =
      s"$id,d$id,email,100,SIT_CCN,TP,1,Low,Finance,$ts,$text"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "batch1.csv"),
      header + "\n" + row(1, "2026-01-01T10:00:00Z", "card 5133 2181 9600 1338") +
        "\n" + row(2, "2026-01-01T10:01:00Z", "nothing here"))
    val q = StreamingValidator.run(spark, inDir, outDir, ckpt,
      graft.pipeline.PipelineConfig.default.sitDim(spark).toDF())
    try {
      q.processAllAvailable()
      // append mode: the first window is still open (no later watermark), so
      // land a second file far in the future to close it
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "batch2.csv"),
        header + "\n" + row(3, "2026-01-01T12:00:00Z", "x"))
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      val rows = out.selectExpr("sit_id", "docs", "tp_docs").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows.get("SIT_CCN").exists(v => v._1 == 2 && v._2 == 1))
    } finally q.stop()
  }
}
