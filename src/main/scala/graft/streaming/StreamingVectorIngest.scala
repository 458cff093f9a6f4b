package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming vector-index ingest — the lane that keeps a persisted
  * serving index ([[graft.ops.VectorIndex]]) growing as vectors arrive,
  * without ever re-running the index build's corpus pass. A streaming
  * driver can compose the appends only because they are
  * replay-idempotent (`append_id` keying).
  *
  * Shape: `foreachBatch`, like [[StreamingSpanDedup]] — the unit of work
  * is a batch append against a persisted artifact, not per-row state.
  * Exactly-once across failures WITHOUT sink transactions: the append is
  * keyed by Structured Streaming's monotone `batchId`
  * ([[graft.ops.VectorIndex.appendToIvf]]'s `appendId`), so a replayed
  * micro-batch overwrites its own `append_id=<batchId>` directory and
  * re-records its own meta row — serve sets and accounting both
  * unchanged (StreamingVectorIngestSpec pins stream == one-shot append
  * and double-apply == single-apply).
  *
  * Drift surfacing: the frozen-codebook contract means appends quantize
  * against base-distribution centroids; after every batch the driver
  * reads the index meta and logs `rebuildAdvised` with the row
  * accounting — the deployment's hook for scheduling the rebuild the
  * index itself never forces (advice, not a gate).
  *
  * Composition: feed this the raw vector stream, or
  * [[graft.ops.Featurize.featurize]]'s output for text→vector at ingest
  * (it is a per-row projection, so embeddings are bit-identical to the
  * batch featurizer and the served index equals one built over the
  * batch-featurized corpus).
  *
  * Reference basis: the reference pipeline is batch-only
  * (`/root/reference` generate→validate); this is a Spark-native
  * extension via Structured Streaming. */
object StreamingVectorIngest {

  /** One micro-batch: idempotent append + drift log, then — every
    * `compactEvery` batches — [[graft.ops.VectorIndex.compactAppends]]
    * merges the accumulated `append_id=` trees into one by
    * copy-then-commit (without a fold the lane leaves one directory tree
    * per batch forever; the copy needs no atomic rename, so the same
    * cadence runs on object stores). Folding is replay-safe even for the
    * id just appended: the fold tombstones it, and a retried batch of a
    * tombstoned id is a no-op by [[graft.ops.VectorIndex.appendToIvf]]'s
    * contract. Public so specs and backfill jobs can drive it with
    * explicit batch ids. */
  def processBatch(batch: DataFrame, batchId: Long,
                   indexPath: String, compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val kind = graft.ops.VectorIndex.indexStats(spark, indexPath)
      .getOrElse("kind", "?")
    kind match {
      case "ivf" =>
        graft.ops.VectorIndex.appendToIvf(batch, indexPath,
          appendId = batchId)
      case "pq" =>
        graft.ops.VectorIndex.appendToPq(batch, indexPath,
          appendId = batchId)
      case other => throw new IllegalArgumentException(
        s"vector index at $indexPath has kind=$other — the ingest lane " +
          "appends to ivf or pq indexes")
    }
    println(batchLine(batchId, indexPath,
      graft.ops.VectorIndex.indexStats(spark, indexPath)))
    if (compactEvery > 0 && batchId > 0L && batchId % compactEvery == 0L) {
      val folded = graft.ops.VectorIndex.compactAppends(spark, indexPath)
      if (folded > 0)
        println(s"[vec-ingest] compacted $folded append dirs " +
          s"at $indexPath (cadence $compactEvery)")
    }
  }

  /** The drift log line of batch `batchId`, from the index meta after its
    * append. A replay of a batch that a fold already tombstoned finds
    * `compacted_<batchId>` instead of `append_<batchId>`: its append was a
    * no-op, and the line says so. */
  private[streaming] def batchLine(batchId: Long, indexPath: String,
                                   stats: Map[String, String]): String = {
    val rows = (stats.get(s"append_$batchId"), stats.get(s"compacted_$batchId")) match {
      case (Some(n), _) => s"+$n rows"
      case (None, Some(n)) => s"+0 rows (no-op: already folded with $n rows)"
      case _ => "+? rows"
    }
    s"[vec-ingest] batch $batchId -> $indexPath: $rows, " +
      s"appendedRows=${stats.getOrElse("appendedRows", "?")} of " +
      s"baseRows=${stats.getOrElse("baseRows", "?")}, " +
      s"rebuildAdvised=${stats.getOrElse("rebuildAdvised", "?")}"
  }

  /** Start the ingest stream: `vecs` is a streaming DataFrame carrying
    * the index's idCol + vecCol (the meta knows the names and asserts
    * the vector type — a mismatched stream fails loudly on batch 0, not
    * after poisoning the artifact). The index at `indexPath` must
    * already exist (`buildIvf`/`buildPq` — the codebook is a corpus
    * decision, not a streaming one). */
  def ingestStream(vecs: DataFrame, indexPath: String,
                   checkpointDir: String,
                   compactEvery: Int = 0): StreamingQuery = {
    val fn: (Dataset[Row], Long) => Unit =
      (b, id) => processBatch(b, id, indexPath, compactEvery)
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fn)
      .start()
  }
}
