package graft.streaming

import graft.SparkSpec
import graft.ops.{Similarity, VectorIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming vector-ingest lane: a stream of append batches must
  * serve EXACTLY like one build∪append (the embeddings are the same
  * rows, the codebook is frozen either way), and a replayed batch must
  * change nothing — the `append_id` keying that makes wiring appends
  * under `foreachBatch` safe at all (r12 verdict items 2+3). The
  * DuckDB-gated twin is q106_ivf_stream_ingest (r15): the same
  * `processBatch` driver — appends, `compactEvery` cadence fold, and a
  * post-fold replay — hash-matched against q46's single-shot IVF SQL at
  * every scale factor. */
class StreamingVectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") % 25 === 0)
  // ids ≡ 1 (mod 50) stream in; every stride-50 codebook row (ids ≡ 0
  // mod 50) stays in the base, so build-over-base has the SAME codebook
  // as build-over-everything (the VectorIndexSpec append premise)
  private lazy val baseVecs = emb.filter(col("vec_id") % 50 =!= 1)
  private def streamRows(modulus: Long) = emb
    .filter(col("vec_id") % 50 === 1 && col("vec_id") % 100 === modulus)
    .select("vec_id", "embedding")
    .as[(Long, Array[Float])].collect().toSeq

  private def serveRows(path: String) =
    VectorIndex.ivfTopKIndexed(spark, path, queries, k = 5, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("stream of N append batches == one-shot build ∪ append, " +
    "bit-identical serve; accounting sums the batches; rebuildAdvised " +
    "surfaced through indexStats") {
    val streamed = java.nio.file.Files
      .createTempDirectory("graft_vec_ingest_").toString
    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_vec_oneshot_").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vec_ckpt_").toString
    VectorIndex.buildIvf(baseVecs, streamed, centroidStride = 50)
    VectorIndex.buildIvf(baseVecs, oneShot, centroidStride = 50)

    val (b0, b1) = (streamRows(1L), streamRows(51L))
    assert(b0.nonEmpty && b1.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingVectorIngest.ingestStream(
      stream.toDF().toDF("vec_id", "embedding"), streamed, ckpt)
    try {
      stream.addData(b0)
      q.processAllAvailable()
      stream.addData(b1)
      q.processAllAvailable()
    } finally q.stop()

    VectorIndex.appendToIvf(
      emb.filter(col("vec_id") % 50 === 1).select("vec_id", "embedding"),
      oneShot, appendId = 0L)
    assert(serveRows(streamed) === serveRows(oneShot))
    assert(serveRows(streamed).nonEmpty)
    val stats = VectorIndex.indexStats(spark, streamed)
    assert(stats("appendedRows").toLong === (b0.size + b1.size).toLong)
    assert(stats("append_0").toLong === b0.size.toLong)
    assert(stats("append_1").toLong === b1.size.toLong)
    assert(stats("rebuildAdvised") === "false")

    // REPLAY: re-apply batch 1 through the same driver entry — the
    // foreachBatch retry shape. Serve rows and accounting must not move.
    StreamingVectorIngest.processBatch(
      b1.toDF("vec_id", "embedding"), 1L, streamed)
    assert(serveRows(streamed) === serveRows(oneShot))
    assert(VectorIndex.indexStats(spark, streamed)("appendedRows").toLong
      === (b0.size + b1.size).toLong)
  }

  test("compaction cadence (compactEvery): folded appends keep serving " +
    "identically, the append-dir count stays bounded, and a replay of a " +
    "FOLDED batch is a tombstoned no-op") {
    val streamed = java.nio.file.Files
      .createTempDirectory("graft_vec_ingest_cpt_").toString
    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_vec_oneshot_cpt_").toString
    VectorIndex.buildIvf(baseVecs, streamed, centroidStride = 50)
    VectorIndex.buildIvf(baseVecs, oneShot, centroidStride = 50)
    val (b0, b1) = (streamRows(1L), streamRows(51L))
    // batches 0..2 with a fold at batch 2 — batch ids drive the cadence
    StreamingVectorIngest.processBatch(b0.toDF("vec_id", "embedding"),
      0L, streamed, compactEvery = 2)
    StreamingVectorIngest.processBatch(b1.toDF("vec_id", "embedding"),
      1L, streamed, compactEvery = 2)
    StreamingVectorIngest.processBatch(b0.toDF("vec_id", "embedding")
      .limit(0), 2L, streamed, compactEvery = 2) // empty batch, triggers fold
    VectorIndex.appendToIvf(
      emb.filter(col("vec_id") % 50 === 1).select("vec_id", "embedding"),
      oneShot, appendId = 0L)
    assert(serveRows(streamed) === serveRows(oneShot))
    // bounded: the sources merged into exactly one committed fold dir
    val appDirs = Option(new java.io.File(s"$streamed/appends").listFiles())
      .map(_.toSeq.map(_.getName).filter(_.startsWith("append_id="))
        .sorted).getOrElse(Seq.empty)
    assert(appDirs === Seq("append_id=fold0"),
      s"fold must merge the append dirs into one, found $appDirs")
    val stats = VectorIndex.indexStats(spark, streamed)
    assert(stats.contains("compacted_0") && stats.contains("compacted_1") &&
      stats.contains("folded_fold0"))
    // replay of FOLDED batch 1 through the driver: tombstoned no-op
    StreamingVectorIngest.processBatch(b1.toDF("vec_id", "embedding"),
      1L, streamed, compactEvery = 2)
    assert(serveRows(streamed) === serveRows(oneShot))
    val after = VectorIndex.indexStats(spark, streamed)
    assert(after("appendedRows") === "0")
    assert(StreamingVectorIngest.batchLine(1L, streamed, after).contains(
      s": +0 rows (no-op: already folded with ${after("compacted_1")} rows),"))
  }

  test("batch log line: an append reports its rows, a replay of a folded " +
    "batch says its append was a no-op") {
    val common = Map("appendedRows" -> "50", "baseRows" -> "450",
      "rebuildAdvised" -> "false")
    assert(StreamingVectorIngest.batchLine(3L, "/idx",
      common + ("append_3" -> "50")) ===
      "[vec-ingest] batch 3 -> /idx: +50 rows, appendedRows=50 of " +
        "baseRows=450, rebuildAdvised=false")
    assert(StreamingVectorIngest.batchLine(2L, "/idx",
      common + ("compacted_2" -> "50")) ===
      "[vec-ingest] batch 2 -> /idx: +0 rows (no-op: already folded with " +
        "50 rows), appendedRows=50 of baseRows=450, rebuildAdvised=false")
    assert(StreamingVectorIngest.batchLine(4L, "/idx", Map.empty)
      .startsWith("[vec-ingest] batch 4 -> /idx: +? rows, appendedRows=?"))
  }

  test("PQ ingest: streamed batches == one-shot append; replay of a PQ " +
    "batch is idempotent too") {
    val streamed = java.nio.file.Files
      .createTempDirectory("graft_pq_ingest_").toString
    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_pq_oneshot_").toString
    VectorIndex.buildPq(baseVecs, streamed, m = 4, nCent = 8,
      centroidStride = 50)
    VectorIndex.buildPq(baseVecs, oneShot, m = 4, nCent = 8,
      centroidStride = 50)
    val (b0, b1) = (streamRows(1L), streamRows(51L))
    // drive the batches through the driver entry directly (the stream
    // harness is pinned by the IVF test; this one pins kind dispatch)
    StreamingVectorIngest.processBatch(b0.toDF("vec_id", "embedding"),
      0L, streamed)
    StreamingVectorIngest.processBatch(b1.toDF("vec_id", "embedding"),
      1L, streamed)
    StreamingVectorIngest.processBatch(b1.toDF("vec_id", "embedding"),
      1L, streamed) // replay
    VectorIndex.appendToPq(
      emb.filter(col("vec_id") % 50 === 1).select("vec_id", "embedding"),
      oneShot, appendId = 0L)
    def pq(path: String) =
      VectorIndex.pqTopKIndexed(spark, path, queries, k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(pq(streamed) === pq(oneShot))
    assert(pq(streamed).nonEmpty)
    assert(VectorIndex.indexStats(spark, streamed)("appendedRows").toLong
      === (b0.size + b1.size).toLong)
  }

  test("guards: ingesting into a kmeans artifact fails loudly; a " +
    "half-written append (no _SUCCESS) is invisible to serving") {
    val km = java.nio.file.Files
      .createTempDirectory("graft_km_ingest_").toString
    VectorIndex.buildKmeans(emb, km, k = 8, iters = 1, centroidStride = 50)
    val e = intercept[IllegalArgumentException] {
      StreamingVectorIngest.processBatch(
        emb.select("vec_id", "embedding"), 0L, km)
    }
    assert(e.getMessage.contains("kind"))

    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_torn_").toString
    VectorIndex.buildIvf(baseVecs, idx, centroidStride = 50)
    val before = serveRows(idx)
    // simulate a torn append: data file present, _SUCCESS missing
    val torn = new java.io.File(s"$idx/appends/append_id=7/cell=0")
    assert(torn.mkdirs())
    val src = new java.io.File(s"$idx/cells")
      .listFiles().filter(_.getName.startsWith("cell="))(0)
      .listFiles().filter(_.getName.endsWith(".parquet"))(0)
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(torn, src.getName).toPath)
    assert(serveRows(idx) === before,
      "an uncommitted append directory must not reach serving")
  }
}
