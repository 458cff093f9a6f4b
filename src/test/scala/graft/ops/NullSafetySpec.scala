package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degenerate-input hardening: every ops entry point must tolerate null
  * text, empty text, and empty frames without throwing — at 100 TB some
  * partition always contains the pathological row. */
class NullSafetySpec extends SparkSpec {
  import spark.implicits._

  private lazy val degenerate = Seq(
    (1L, null.asInstanceOf[String]),
    (2L, ""),
    (3L, "   "),
    (4L, "normal text with several words in it"))
    .toDF("doc_id", "text")

  private lazy val empty =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup suite survives null/empty/blank text and empty frames") {
    assert(Dedup.exactGroups(degenerate.filter(col("text").isNotNull),
      "doc_id", "text").count() == 3)
    Dedup.minhashNearDups(degenerate, "doc_id", "text", 0.5).count()
    Dedup.ngramJaccardPairs(degenerate, "doc_id", "text").count()
    Dedup.simhashNearDups(degenerate, "doc_id", "text",
      bits = 32, chunks = 8, maxDist = 3).count()
    assert(Dedup.minhashNearDups(empty, "doc_id", "text", 0.5).count() == 0)
    assert(Dedup.dupClusters(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
  }

  test("text analysis survives null/empty/blank text") {
    val profiled = TextAnalysis.profile(degenerate, "doc_id", "text")
    assert(profiled.count() == 4)
    assert(TextAnalysis.tfidfTopTerms(degenerate, "doc_id", "text").count() > 0)
    val langs = degenerate.select(TextAnalysis.langIdCol(col("text")))
      .collect().map(_.getString(0))
    assert(langs.count(_ == "und") >= 2) // blank-ish docs → undetermined
  }

  test("curation survives null/empty text and empty benchmark") {
    Curation.decontaminationFlags(degenerate, empty, "doc_id", "text").count()
    Curation.decontaminationFlags(degenerate, degenerate.limit(1),
      "doc_id", "text").count()
    assert(Curation.decontaminate(degenerate, empty, "doc_id", "text")
      .count() == 4) // empty benchmark contaminates nothing
  }

  test("malformed size fields terminate, never spin or throw") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG chunk whose length field walks the cursor backwards
    val badPng = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      bytes(0xff, 0xff, 0xff, 0xf4) ++ "tEXt".getBytes ++ bytes(0, 0, 0, 0) ++
      new Array[Byte](40)
    assert(Png.decode(badPng).isEmpty)
  }

  test("format readers survive garbage bytes") {
    assert(graft.sink.MiniFormats.pdfText("not a pdf".getBytes("UTF-8")) == "")
    assert(graft.sink.MiniFormats.xlsxRows("not a zip".getBytes("UTF-8")).isEmpty)
    assert(graft.sink.MiniFormats.docxText("junk".getBytes("UTF-8")) == "")
  }

  test("new curation/chunk/PQ ops survive null/empty rows") {
    assert(Curation.boilerplateProfile(degenerate, "doc_id", "text").count() == 4)
    assert(Curation.normalizeText(null) == null)
    assert(degenerate.select(Curation.normalizeTextCol(col("text")))
      .count() == 4)
    assert(Curation.sqrtQuotaMix(
      degenerate.withColumn("dom", lit("x")), "doc_id", "dom", 10.0)
      .count() == 4) // quota floor(10*2)=20 > 4 keeps all
    // null text → no tokens → no chunks; others chunk fine
    assert(TextAnalysis.chunkTokens(degenerate, "doc_id", "text", 4, 3)
      .filter(col("id") === 1).count() == 0)
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (10L, Seq(1f, 1f)),
      (5L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    assert(Similarity.pqEncode(vecs, m = 2, k = 2, centroidStride = 10)
      .count() == 3)
    assert(Similarity.pqTopK(vecs, vecs.filter(col("vec_id") === 0),
      k = 2, m = 2, nCent = 2, centroidStride = 10).count() == 2)
  }

  test("ivfTopK tolerates null/empty embedding rows on both sides") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (10L, Seq(0f, 1f)), (11L, Seq(1f, 1f)),
      (5L, null.asInstanceOf[Seq[Float]]), (6L, Seq.empty[Float]))
      .toDF("vec_id", "embedding")
    // null/empty vectors land in a deterministic cell (pqEncode's
    // degenerate-input convention) instead of NPEing the task
    val res = Similarity.ivfTopK(vecs, vecs, k = 2,
      centroidStride = 10, nProbe = 2).collect()
    assert(res.nonEmpty)
  }
}
