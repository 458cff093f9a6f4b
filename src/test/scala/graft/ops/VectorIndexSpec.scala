package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted vector indexes: serving from a saved artifact must be
  * bit-identical to the direct (train-per-call) entry points — through
  * the parquet round trip, the rounding, and every tie-break — and the
  * IVF serving plan must actually prune to the probed cell partitions.
  * Mismatched artifacts fail loudly via the meta contract. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") % 25 === 0)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq

  test("IVF: indexed top-k == direct ivfTopK bit-for-bit; probed cells " +
    "prune the scan partitions") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_idx_").toString
    VectorIndex.buildIvf(emb, path, centroidStride = 50)
    val indexed = VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2)
    val direct = Similarity.ivfTopK(emb, queries, k = 5,
      centroidStride = 50, nProbe = 2)
    assert(rows(indexed) === rows(direct))
    assert(rows(indexed).nonEmpty)
    // the serving scan carries a partition filter on cell — only probed
    // cell directories are read (the 100 TB read-path win)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      s"expected a cell partition filter:\n$plan")
  }

  test("PQ: indexed ADC top-k == direct pqTopK bit-for-bit (codes " +
    "scanned, vectors untouched)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_pq_idx_").toString
    VectorIndex.buildPq(emb, path, m = 4, nCent = 8, centroidStride = 50)
    val indexed = VectorIndex.pqTopKIndexed(spark, path, queries, k = 5)
    val direct = Similarity.pqTopK(emb, queries, k = 5, m = 4, nCent = 8,
      centroidStride = 50)
    assert(rows(indexed) === rows(direct))
    assert(rows(indexed).nonEmpty)
  }

  test("k-means: assignment from persisted trained centroids == " +
    "train-per-call kmeansAssign; cells rollup matches") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_km_idx_").toString
    VectorIndex.buildKmeans(emb, path, k = 8, iters = 2,
      centroidStride = 50)
    val indexed = VectorIndex.kmeansAssignIndexed(spark, path, emb)
    val direct = Kmeans.kmeansAssign(emb, k = 8, iters = 2,
      centroidStride = 50)
    assert(rows(indexed) === rows(direct))
    val cellsIndexed = indexed.groupBy("cell")
      .agg(count(lit(1)).as("n_members"), sum("distortion").as("distortion"))
    assert(rows(cellsIndexed) ===
      rows(Kmeans.kmeansCells(emb, k = 8, iters = 2, centroidStride = 50)))
  }

  // append fixtures: the batch's ids are ≡ 1 (mod 50), so the stride
  // codebook over base ∪ batch (ids ≡ 0 mod 50 — all in base) equals the
  // base-built codebook, making "full rebuild with the same codebook" an
  // actual buildIvf/buildPq call rather than a hypothetical
  private lazy val appendBatch = emb.filter(col("vec_id") % 50 === 1)
  private lazy val baseVecs = emb.filter(col("vec_id") % 50 =!= 1)

  test("appendToIvf: serve over build ∪ append == full rebuild with the " +
    "same codebook, bit-identical; drift accounting advances") {
    val grown = java.nio.file.Files
      .createTempDirectory("graft_ivf_app_").toString
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_ivf_reb_").toString
    VectorIndex.buildIvf(baseVecs, grown, centroidStride = 50)
    VectorIndex.appendToIvf(appendBatch, grown, appendId = 0L)
    VectorIndex.buildIvf(emb, rebuilt, centroidStride = 50)
    assert(rows(VectorIndex.ivfTopKIndexed(spark, grown, queries,
        k = 5, nProbe = 2)) ===
      rows(VectorIndex.ivfTopKIndexed(spark, rebuilt, queries,
        k = 5, nProbe = 2)))
    assert(rows(VectorIndex.ivfTopKIndexed(spark, grown, queries,
      k = 5, nProbe = 2)).nonEmpty)
    // accounting: appended rows counted, minority append → no rebuild flag
    val stats = VectorIndex.indexStats(spark, grown)
    assert(stats("appendedRows").toLong === appendBatch.count())
    assert(stats("baseRows").toLong === baseVecs.count())
    assert(stats("rebuildAdvised") === "false")
    // a second append accumulates; appends now outnumbering the base
    // would flip the flag — simulate by appending the base itself twice
    VectorIndex.appendToIvf(baseVecs, grown, appendId = 1L)
    VectorIndex.appendToIvf(appendBatch, grown, appendId = 2L)
    assert(VectorIndex.indexStats(spark, grown)("rebuildAdvised") === "true")
  }

  test("appendToPq: serve over build ∪ append == full rebuild with the " +
    "same codebook, bit-identical; wrong-kind append fails loudly") {
    val grown = java.nio.file.Files
      .createTempDirectory("graft_pq_app_").toString
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_pq_reb_").toString
    VectorIndex.buildPq(baseVecs, grown, m = 4, nCent = 8,
      centroidStride = 50)
    VectorIndex.appendToPq(appendBatch, grown, appendId = 0L)
    VectorIndex.buildPq(emb, rebuilt, m = 4, nCent = 8,
      centroidStride = 50)
    assert(rows(VectorIndex.pqTopKIndexed(spark, grown, queries, k = 5)) ===
      rows(VectorIndex.pqTopKIndexed(spark, rebuilt, queries, k = 5)))
    assert(rows(VectorIndex.pqTopKIndexed(spark, grown, queries,
      k = 5)).nonEmpty)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.appendToIvf(appendBatch, grown, appendId = 9L)
    }
    assert(e.getMessage.contains("kind"))
  }

  test("compactAppends: serve set identical through the fold; append " +
    "dirs merge into one; replay of a folded id is a tombstoned no-op; " +
    "post-compaction appends keep working; lease guards the writers") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact_").toString
    // disjoint three-way split so the post-compaction rebuild twin is a
    // clean union (codebook rows all have vec_id % 50 == 0 → base)
    val b0 = emb.filter(col("vec_id") % 50 =!= 1 && col("vec_id") % 50 =!= 2)
    val a1 = emb.filter(col("vec_id") % 50 === 1)
    val a2 = emb.filter(col("vec_id") % 50 === 2)
    VectorIndex.buildIvf(b0, path, centroidStride = 50)
    VectorIndex.appendToIvf(a1, path, appendId = 0L)
    val before = rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2))
    val statsBefore = VectorIndex.indexStats(spark, path)
    assert(VectorIndex.compactAppends(spark, path) === 1)
    // serve set unchanged — the fold copied files, re-encoded nothing
    assert(rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2)) === before)
    // bounded dirs: the append dir merged into one committed fold dir
    assert(new java.io.File(s"$path/appends").listFiles().map(_.getName)
      .filter(_.startsWith("append_id=")).toSeq === Seq("append_id=fold0"))
    // accounting absorbed + tombstoned
    val stats = VectorIndex.indexStats(spark, path)
    assert(stats("baseRows").toLong ===
      statsBefore("baseRows").toLong + statsBefore("appendedRows").toLong)
    assert(stats("appendedRows") === "0")
    assert(stats.contains("compacted_0") && !stats.contains("append_0") &&
      stats.contains("folded_fold0"))
    // replay of the FOLDED id: a no-op, not a duplicate
    VectorIndex.appendToIvf(a1, path, appendId = 0L)
    assert(rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2)) === before)
    assert(VectorIndex.indexStats(spark, path)("appendedRows") === "0")
    // a NEW post-compaction append serves == one-shot rebuild over all
    VectorIndex.appendToIvf(a2, path, appendId = 1L)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact_reb_").toString
    VectorIndex.buildIvf(emb, rebuilt, centroidStride = 50)
    assert(rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
        k = 5, nProbe = 2)) ===
      rows(VectorIndex.ivfTopKIndexed(spark, rebuilt, queries,
        k = 5, nProbe = 2)))
    // PQ twin: fold + identical serve
    val pq = java.nio.file.Files
      .createTempDirectory("graft_pq_compact_").toString
    VectorIndex.buildPq(baseVecs, pq, m = 4, nCent = 8,
      centroidStride = 50)
    VectorIndex.appendToPq(appendBatch, pq, appendId = 0L)
    val pqBefore = rows(VectorIndex.pqTopKIndexed(spark, pq, queries,
      k = 5))
    assert(VectorIndex.compactAppends(spark, pq) === 1)
    assert(rows(VectorIndex.pqTopKIndexed(spark, pq, queries, k = 5)) ===
      pqBefore)
    // lease: a stale claim fails every meta writer loudly
    val lease = new java.io.File(s"$path/_graft_index_lease")
    assert(lease.createNewFile())
    val e = intercept[IllegalArgumentException] {
      VectorIndex.appendToIvf(appendBatch, path, appendId = 7L)
    }
    assert(e.getMessage.contains("lease"))
    assert(lease.delete())
  }

  test("drift rule: an in-distribution append keeps rebuildAdvised " +
    "false; a deliberately shifted append of the same size flips it " +
    "while appends are still a minority") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_drift_").toString
    VectorIndex.buildIvf(baseVecs, path, centroidStride = 50)
    VectorIndex.appendToIvf(appendBatch, path, appendId = 0L)
    val inDist = VectorIndex.indexStats(spark, path)
    assert(inDist("rebuildAdvised") === "false")
    assert(inDist("baseQuantErr").toLong > 0L)
    assert(inDist("appendQuantErr").toLong <
      VectorIndex.QuantErrDriftRatio * inDist("baseQuantErr").toLong,
      "an in-distribution append must sit under the drift threshold")
    // the same batch scaled 100× quantizes terribly against the frozen
    // codebook — drift must flip the flag while the count rule is off
    val shifted = appendBatch.withColumn("embedding",
      transform(col("embedding"), v => v * lit(100.0f)))
    VectorIndex.appendToIvf(shifted, path, appendId = 1L)
    val after = VectorIndex.indexStats(spark, path)
    assert(after("appendedRows").toLong < after("baseRows").toLong,
      "the count rule must NOT be what flips the flag here")
    assert(after("rebuildAdvised") === "true",
      s"drift must flip rebuildAdvised: $after")
  }

  test("rebuildAdvised is STICKY across compactAppends (r14 ADVICE " +
    "item 2): a small in-distribution append after the fold must not " +
    "clear advice no rebuild serviced; an actual rebuild does clear it") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_sticky_").toString
    VectorIndex.buildIvf(baseVecs, path, centroidStride = 50)
    val shifted = appendBatch.withColumn("embedding",
      transform(col("embedding"), v => v * lit(100.0f)))
    VectorIndex.appendToIvf(shifted, path, appendId = 0L)
    assert(VectorIndex.indexStats(spark, path)("rebuildAdvised") === "true")
    // the fold preserves the flag but resets the counters it was derived
    // from (appendedRows -> 0, drifted error absorbed into baseQuantErr)
    assert(VectorIndex.compactAppends(spark, path) === 1)
    assert(VectorIndex.indexStats(spark, path)("rebuildAdvised") === "true")
    // the regression: before the fix, this append recomputed the flag
    // from post-fold state and flipped it back to false
    VectorIndex.appendToIvf(appendBatch, path, appendId = 1L)
    assert(VectorIndex.indexStats(spark, path)("rebuildAdvised") === "true",
      "advice earned by drifted appends must survive until a rebuild")
    // a rebuild re-fits the codebook — only it clears the advice
    VectorIndex.buildIvf(baseVecs, path, centroidStride = 50)
    assert(VectorIndex.indexStats(spark, path)("rebuildAdvised") === "false")
  }

  test("driftRatio is a per-index build parameter (r14 verdict item 5): " +
    "a lenient index keeps rebuildAdvised false on the same shifted " +
    "append the default-threshold index flags") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_ratio_").toString
    VectorIndex.buildIvf(baseVecs, path, centroidStride = 50,
      driftRatio = 1000000L)
    val shifted = appendBatch.withColumn("embedding",
      transform(col("embedding"), v => v * lit(100.0f)))
    VectorIndex.appendToIvf(shifted, path, appendId = 0L)
    val st = VectorIndex.indexStats(spark, path)
    assert(st("driftRatio") === "1000000")
    assert(st("appendedRows").toLong < st("baseRows").toLong)
    assert(st("rebuildAdvised") === "false",
      s"the configured 1e6x threshold must not flag a ~1e4x shift: $st")
  }

  test("append type contract: a batch whose vector column type differs " +
    "from the build's fails loudly instead of poisoning the parquet " +
    "schema; a matching batch with identical values still appends") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_vt_").toString
    VectorIndex.buildIvf(baseVecs, path, centroidStride = 50)
    val native = baseVecs.schema("embedding").dataType.catalogString
    val other =
      if (native.contains("float")) "array<double>" else "array<float>"
    val e = intercept[IllegalArgumentException] {
      VectorIndex.appendToIvf(
        appendBatch.withColumn("embedding", col("embedding").cast(other)),
        path, appendId = 0L)
    }
    assert(e.getMessage.contains("built from"))
    // nothing was appended by the failed call
    assert(VectorIndex.indexStats(spark, path)("appendedRows") === "0")
    VectorIndex.appendToIvf(appendBatch, path, appendId = 0L)
    assert(VectorIndex.indexStats(spark, path)("appendedRows").toLong ===
      appendBatch.count())
  }

  test("q102/q103 driver queries: appended-index serve == the single-shot " +
    "q46/q63 twins row-exact (their oracle-by-identity premise)") {
    // the % 10 = 3 append split keeps every stride-50 codebook row in the
    // base, so the appended index must serve exactly what the single-shot
    // build over the union serves — the premise that lets q102/q103 reuse
    // the q46/q63 oracle SQL verbatim, pinned here before the DuckDB gate
    val qs = graft.SparkEntry.queries
    val dir = "/root/testdata/sf0.001"
    assert(rows(qs("q102_ivf_append")(spark, dir)) ===
      rows(qs("q46_ivf_ann")(spark, dir)))
    assert(rows(qs("q102_ivf_append")(spark, dir)).nonEmpty)
    assert(rows(qs("q103_pq_append")(spark, dir)) ===
      rows(qs("q63_pq_adc")(spark, dir)))
    assert(rows(qs("q103_pq_append")(spark, dir)).nonEmpty)
  }

  test("meta contract: wrong kind, missing index, and corrupted artifact " +
    "fail loudly") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_idx_meta_").toString
    VectorIndex.buildKmeans(emb, path, k = 8, iters = 1,
      centroidStride = 50)
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.ivfTopKIndexed(spark, path, queries, k = 5)
    }
    assert(e1.getMessage.contains("kind"))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.pqTopKIndexed(spark, s"$path/nowhere", queries, k = 5)
    }
    assert(e2.getMessage.contains("no vector index"))
  }

  test("COPY-THEN-COMMIT compactAppends: on a " +
    "rename-refusing store, k append dirs merge into ONE committed dir " +
    "by pure copies + one atomic meta write — dir count SHRINKS, serve " +
    "set and replay contract unchanged; crashed half-copies and crashed " +
    "post-commit deletes GC on the next cadence") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_copyc_").toString
    val b0 = emb.filter(col("vec_id") % 50 =!= 1 &&
      col("vec_id") % 50 =!= 2 && col("vec_id") % 50 =!= 3)
    VectorIndex.buildIvf(b0, path, centroidStride = 50)
    VectorIndex.appendToIvf(emb.filter(col("vec_id") % 50 === 1), path,
      appendId = 0L)
    VectorIndex.appendToIvf(emb.filter(col("vec_id") % 50 === 2), path,
      appendId = 1L)
    // a first fold: the two dirs merge into fold0
    assert(VectorIndex.compactAppends(spark, path) === 2)
    VectorIndex.appendToIvf(emb.filter(col("vec_id") % 50 === 3), path,
      appendId = 2L)
    val before = rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2))
    def appendDirs() = Option(new java.io.File(s"$path/appends")
        .listFiles())
      .map(_.toSeq.map(_.getName).filter(_.startsWith("append_id="))
        .sorted)
      .getOrElse(Seq.empty)
    assert(appendDirs() === Seq("append_id=2", "append_id=fold0"))
    // every call below goes through the rename-refusing simulation
    spark.sparkContext.hadoopConfiguration.set("fs.norename.impl",
      classOf[NoRenameFs].getName)
    val nr = s"norename:$path"
    // 2 source dirs (1 live + the merged fold0) → 1, no rename anywhere
    assert(VectorIndex.compactAppends(spark, nr) === 2)
    assert(appendDirs() === Seq("append_id=fold1"),
      "the directory count must actually shrink")
    val st = VectorIndex.indexStats(spark, path)
    assert(st.contains("folded_fold1") && st.contains("compacted_fold0") &&
      st.contains("compacted_0") && st.contains("compacted_1") &&
      st.contains("compacted_2"))
    assert(st("appendedRows") === "0")
    assert(rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2)) === before,
      "the merged dir must serve exactly the folded dirs' rows")
    // replay of a copy-committed id: tombstoned no-op
    VectorIndex.appendToIvf(emb.filter(col("vec_id") % 50 === 3), path,
      appendId = 2L)
    assert(VectorIndex.indexStats(spark, path)("appendedRows") === "0")
    assert(rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2)) === before)
    // crash windows: a half-copied merged dir no commit recorded, and a
    // tombstoned source whose post-commit delete crashed
    val stray = new java.io.File(s"$path/appends/append_id=fold7/cell=0")
    stray.mkdirs()
    java.nio.file.Files.write(stray.toPath.resolve("junk.parquet"),
      Array[Byte](1, 2, 3))
    val zombie = new java.io.File(s"$path/appends/append_id=1/cell=0")
    zombie.mkdirs()
    java.nio.file.Files.write(zombie.toPath.resolve("junk.parquet"),
      Array[Byte](4, 5, 6))
    // next cadence: an empty live append + refold of the merged dir
    VectorIndex.appendToIvf(emb.filter(col("vec_id") < -1), path,
      appendId = 3L)
    assert(VectorIndex.compactAppends(spark, nr) === 2)
    assert(appendDirs() === Seq("append_id=fold2"),
      "GC must remove the crashed half-copy and the zombie source; the " +
        "refold must leave exactly one merged dir")
    // the merged dir's rows were absorbed at its own commit: refolding
    // it (with an empty live append) must not re-absorb them
    assert(VectorIndex.indexStats(spark, path)("baseRows") === st("baseRows"))
    assert(rows(VectorIndex.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 2)) === before)
    // a lone merged dir with no live appends: refolding it is churn — no-op
    assert(VectorIndex.compactAppends(spark, nr) === 0)
    assert(appendDirs() === Seq("append_id=fold2"))
  }
}

/** Object-store simulation for the copy-commit spec: a local FS whose
  * rename REFUSES every data path. Only the sibling `.tmp` publish of
  * [[graft.FsText.writeAtomic]] is allowed through — the one
  * rename-equivalent real object stores do provide as an atomic
  * single-object PUT-overwrite (the meta commit's documented
  * primitive). Instantiated by Hadoop via `fs.norename.impl`. */
class NoRenameFs
    extends org.apache.hadoop.fs.LocalFileSystem(new NoRenameRawFs) {
  // Extends the CHECKSUMMED local FS (not RawLocal) so its writes keep
  // the .crc sidecars consistent with the default file:// view the rest
  // of the suite reads through; the scheme tolerance and the rename
  // refusal live on the wrapped raw FS (FilterFileSystem delegates
  // checkPath there, and ChecksumFileSystem renames data + crc through
  // it). getUri stays file:/// so returned statuses qualify as file:
  // paths (RawLocalFileSystem's non-native permission loader does
  // `new java.io.File(status.getPath.toUri)`, which requires the file
  // scheme).
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getName.contains(".tmp")) super.rename(src, dst)
    else throw new UnsupportedOperationException(
      s"rename disabled (no-atomic-rename store simulation): $src -> $dst")
}

/** [[NoRenameFs]]' wrapped raw store: tolerant of the simulation scheme,
  * rename refused except the `.tmp` single-object publish (and its crc
  * sidecar) — the one rename-equivalent object stores provide as an
  * atomic PUT-overwrite. */
class NoRenameRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def checkPath(path: org.apache.hadoop.fs.Path): Unit = {
    val scheme = path.toUri.getScheme
    if (scheme != null && scheme != "file" && scheme != "norename")
      super.checkPath(path)
  }
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getName.contains(".tmp")) super.rename(src, dst)
    else throw new UnsupportedOperationException(
      s"rename disabled (no-atomic-rename store simulation): $src -> $dst")
}
