package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted vector-index artifacts: at 100 TB the expensive half of
  * every ANN query is the INDEX BUILD — the corpus pass that assigns
  * each vector to its coarse cell (IVF), encodes it to PQ codes, or
  * trains Lloyd centroids. These are one-time jobs; serving
  * must not repeat them per call (the stride-based `Similarity` entry
  * points deliberately recompute so their oracles are self-contained —
  * their scaladocs point here for the reuse path).
  *
  * Layout per index (parquet + a loud text contract):
  * {{{
  *   path/_graft_index_meta        kind + build params, asserted on load
  *   path/centroids/               ivf: (cid, vec)   pq/kmeans: (cid, ivec)
  *   path/cells/cell=<c>/          ivf: (neighbor_id, vec_c) — PARTITIONED
  *                                 by cell, so a query probing p cells
  *                                 reads exactly p directories
  *   path/codes/                   pq: (neighbor_id, c0..c{m-1})
  * }}}
  * Every loader re-asserts the meta kind/params and the schema, so a
  * mismatched or hand-edited artifact fails loudly instead of silently
  * mis-ranking. Round-trip identity (indexed == direct, bit-for-bit
  * through rounding and tie-breaks) is pinned by VectorIndexSpec.
  *
  * Scale shape of the serving paths:
  *  - [[ivfTopKIndexed]]: the probe-cell set is bounded by the codebook
  *    (≤ MaxCentroids), so it collects safely and prunes the cell
  *    partitions STATICALLY — the scan reads only probed cells' files,
  *    the 100 TB read-path win bucketing exists for.
  *  - [[pqTopKIndexed]]: scans CODES (m small ints per corpus vector),
  *    never vectors — the serving scan is ~dim·4/m× smaller than the
  *    corpus, the whole point of PQ at scale.
  *  - [[kmeansAssignIndexed]]: one narrow corpus pass against the loaded
  *    k×dim matrix — no training jobs, no shuffle.
  *
  * IVF and PQ indexes are APPENDABLE and appends are REPLAY-IDEMPOTENT:
  * [[appendToIvf]] / [[appendToPq]] encode ONLY a new vector batch with
  * the persisted codebook and land it under an `append_id=`-keyed
  * directory next to the cell partitions / codes table — the build's
  * corpus pass never re-runs for an append (the dedup lane's
  * incremental pattern), and a retried append overwrites itself instead
  * of duplicating rows, so the lane wires directly under Structured
  * Streaming ([[graft.streaming.StreamingVectorIngest]]).
  * The codebook stays frozen; the meta records per-append rows and
  * flips `rebuildAdvised` when appends outnumber the base — see
  * [[appendToIvf]] for the drift contract. [[compactAppends]] merges
  * the accumulated append dirs into one by copy-then-commit. */
object VectorIndex {

  // ---- meta contract ---------------------------------------------------

  private def writeMeta(spark: SparkSession, path: String,
                        kv: Seq[(String, String)]): Unit =
    // atomic: the append path REWRITES the meta (row accounting), and a
    // concurrent serve must never read a torn contract file
    graft.FsText.writeAtomic(spark, new Path(path, "_graft_index_meta"),
      kv.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))

  private def readMeta(spark: SparkSession,
                       path: String): Map[String, String] = {
    val p = new Path(path, "_graft_index_meta")
    require(graft.FsText.fs(spark, p).exists(p),
      s"no vector index at $path (missing $p)")
    graft.FsText.read(spark, p).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split('\t'); (k, v)
    }.toMap
  }

  private def assertMeta(meta: Map[String, String], path: String,
                         expect: (String, String)*): Unit =
    expect.foreach { case (k, v) =>
      require(meta.get(k).contains(v),
        s"vector index at $path: meta $k=${meta.getOrElse(k, "<absent>")} " +
          s"does not match the requested $k=$v — rebuild the index or " +
          "call with the build-time parameters")
    }

  // ---- IVF ---------------------------------------------------------

  /** Count + decimal-exact mean of an integer error column — the drift
    * accounting's one aggregation shape (a scaled-int squared-L2 error
    * row reaches ~1e14–1e17, so a plain Long `sum()` can wrap silently
    * at corpus-scale row counts and hand the drift rule a garbage or
    * negative baseline; decimal(38,0) holds ~1e21 rows of max-Long
    * addends, and the mean divides in BigInt like [[recordAppend]]
    * already does on the driver). */
  private def rowsAndMeanErr(df: DataFrame,
                             errCol: Column): (Long, Long) = {
    val st = df.agg(count(lit(1)), sum(errCol.cast("decimal(38,0)")))
      .collect()(0)
    val n = st.getLong(0)
    val mean =
      if (n == 0L || st.isNullAt(1)) 0L
      else (BigInt(st.getDecimal(1).toBigInteger) / BigInt(n)).toLong
    (n, mean)
  }

  /** One-time IVF build: persist the stride codebook and the corpus's
    * cell assignments (vectors ride along for the exact re-rank),
    * PARTITIONED by cell so serving scans only probed cells.
    * `driftRatio` is the index's OWN rebuild-advice threshold (recorded
    * in the meta, honored by every later [[appendToIvf]]: the fixed 4×
    * default is sensible but a deployment must be able to tune the
    * advice per index without recompiling). */
  def buildIvf(corpus: DataFrame, path: String, centroidStride: Long = 50,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               driftRatio: Long = QuantErrDriftRatio): Unit = {
    require(driftRatio >= 1L, s"driftRatio must be >= 1, got $driftRatio")
    val spark = corpus.sparkSession
    val cents = Similarity.strideCodebook(corpus, "buildIvf",
      centroidStride, idCol, vecCol)
    import spark.implicits._
    cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("vec_c"),
        Similarity.cellAssignCol(cents, col(vecCol)).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
    // one narrow stats pass over the written cells: row count + the
    // base's mean quantization error (integer squared-L2 to the assigned
    // centroid — Similarity.ivfQuantErrCol) — the figure the append
    // path's DRIFT rule compares against (the count-based proxy alone
    // misses distribution shift at low volume)
    val cellsDf = spark.read.parquet(s"$path/cells")
    val (baseRows, baseErr) = rowsAndMeanErr(cellsDf,
      Similarity.ivfQuantErrCol(cents, col("vec_c"), col("cell")))
    writeMeta(spark, path, Seq("kind" -> "ivf",
      "centroidStride" -> centroidStride.toString,
      "nCentroids" -> cents.length.toString,
      "idCol" -> idCol, "vecCol" -> vecCol,
      "vecType" -> corpus.schema(vecCol).dataType.catalogString,
      "baseRows" -> baseRows.toString,
      "baseQuantErr" -> baseErr.toString,
      "driftRatio" -> driftRatio.toString, "appendedRows" -> "0",
      "rebuildAdvised" -> "false"))
  }

  /** Append a NEW vector batch to a persisted IVF index (the dedup
    * lane's incremental pattern applied to serving indexes): the batch
    * is encoded with the PERSISTED codebook (the centroids are frozen at
    * build — re-deriving them would re-route every existing cell) and
    * lands under `appends/append_id=<appendId>/cell=<c>/` —
    * cell-partitioned like the base, so [[ivfTopKIndexed]]'s static
    * partition pruning covers base and appended files alike. Serve over
    * build ∪ appends is bit-identical to a full rebuild WITH THE SAME
    * codebook (VectorIndexSpec pins it).
    *
    * REPLAY-IDEMPOTENT ([[graft.streaming.OccStateStore.advance]]'s
    * batchId discipline brought to the serving index — a plain
    * `mode("append")` into the base cells would DUPLICATE a retried
    * batch's rows with nothing able to remove them): every append is
    * keyed by the caller's monotone `appendId` — a retry OVERWRITES its
    * own `append_id=` directory and re-records its own `append_<id>` meta
    * row, changing nothing (StreamingVectorIngestSpec pins double-apply
    * == single-apply, serve and accounting both). Wire it under
    * Structured Streaming with the batchId
    * ([[graft.streaming.StreamingVectorIngest]]); a manual cadence
    * passes any monotone counter. A half-written append (crash mid-copy)
    * is invisible to serving until its `_SUCCESS` marker lands — the
    * retry rewrites the directory wholesale.
    *
    * Drift contract: a frozen codebook quantizes appended vectors against
    * centroids chosen from the BASE distribution — fine while appends are
    * a minority, increasingly lossy as they dominate. The meta records
    * each append's rows under its id (replay-safe — re-recording the
    * same id is a no-op), derives `appendedRows` as their sum, and flips
    * `rebuildAdvised` once appendedRows > baseRows; serving never
    * refuses (advice, not a gate — the caller owns the rebuild cadence). */
  def appendToIvf(newVecs: DataFrame, path: String, appendId: Long): Unit =
    appendBatch(newVecs, path, appendId, "ivf") { (meta, dir) =>
      val cents = loadIvfCentroids(newVecs.sparkSession, path, meta)
      val vecCol = meta("vecCol")
      // ONE file per touched cell: without the cell repartition every
      // input partition writes its own file into every cell it touches
      // (≤ tasks × cells tiny files per append — the 504k ann leg's
      // 50k-row append cost 84.7 s, mostly file count + v1 job-commit
      // renames); the exchange is batch-sized.
      newVecs.select(col(meta("idCol")).cast("long").as("neighbor_id"),
          col(vecCol).as("vec_c"),
          Similarity.cellAssignCol(cents, col(vecCol)).as("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(dir)
      Similarity.ivfQuantErrCol(cents, col("vec_c"), col("cell"))
    }

  /** The append protocol [[appendToIvf]] and [[appendToPq]] share, under
    * the lease: assert the kind and append support, no-op a replay of an
    * id [[compactAppends]] already folded (re-landing its rows would
    * duplicate them next to the merged copies, so the `compacted_<id>`
    * tombstone makes the retry the same no-op a normal replayed append
    * is), assert the vector type, then `write` the encoded batch into its
    * `append_id=` dir and return the error column of the written rows.
    * The source evaluates ONCE (the write); rows + drift stats read BACK
    * the written dir, so the meta records exactly what landed on disk. */
  private def appendBatch(newVecs: DataFrame, path: String, appendId: Long,
                          kind: String)(
      write: (Map[String, String], String) => Column): Unit = {
    val spark = newVecs.sparkSession
    withLease(spark, path) {
      val meta = readMeta(spark, path)
      assertMeta(meta, path, "kind" -> kind)
      require(meta.contains("baseRows"),
        s"vector index at $path predates append support (no baseRows in " +
          s"meta) — rebuild it once with build${kind.capitalize} to " +
          "enable appends")
      if (meta.contains(s"compacted_$appendId"))
        System.err.println(s"[vector-index] append $appendId at $path " +
          "was already folded by compactAppends — replay is a no-op")
      else {
        assertVecType(meta, path, newVecs, meta("vecCol"))
        val dir = s"${appendRoot(path, kind)}/append_id=$appendId"
        val errCol = write(meta, dir)
        val (appended, errAvg) =
          if (!hasDataFiles(spark, dir)) (0L, 0L)
          else rowsAndMeanErr(spark.read.parquet(dir), errCol)
        recordAppend(spark, path, meta, appendId, appended, errAvg)
      }
    }
  }

  /** Where a `kind` index's appends land: IVF appends nest the base's
    * `cell=` layout under `appends/`, PQ codes sit flat under
    * `append_codes/`. */
  private def appendRoot(path: String, kind: String): String =
    if (kind == "ivf") s"$path/appends" else s"$path/append_codes"

  /** ≥ 1 non-hidden file anywhere under `dir` — guards the read-back
    * stats pass (an empty batch's write leaves only `_SUCCESS`, and
    * schema inference over that throws). */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = graft.FsText.fs(spark, p)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val name = it.next().getPath.getName
      found = !name.startsWith("_") && !name.startsWith(".")
    }
    found
  }

  /** Exclusive claim around every meta READ-MODIFY-WRITE (append,
    * compaction): the meta rewrite is last-wins, so
    * two concurrent appenders would silently drop one side's accounting;
    * the store-side writers assert their single-writer contract, this
    * one now does too. `createNewFile` is atomic on HDFS/local (object
    * stores without atomic create should schedule these single-writer
    * externally — same caveat as every lease file). A crashed holder
    * leaves the lease behind: fail LOUDLY with the recovery instruction
    * rather than guessing at staleness. */
  private def withLease[T](spark: SparkSession, path: String)(body: => T): T = {
    val lease = new Path(path, "_graft_index_lease")
    val fs = graft.FsText.fs(spark, lease)
    require(fs.createNewFile(lease),
      s"vector index at $path: another writer holds $lease — appends and " +
        "compactions are single-writer; if its holder crashed, delete " +
        "the lease file and retry")
    try body
    finally fs.delete(lease, false)
  }

  /** The persisted vector element type must match the batch's — a
    * mismatched append would land parquet files with a DIFFERENT schema
    * inside the same cells/codes dirs and poison every later serve (the
    * exact silent corruption the meta contract exists to prevent).
    * Indexes built before the type was recorded stay accepted. */
  private def assertVecType(meta: Map[String, String], path: String,
                            batch: DataFrame, vecCol: String): Unit =
    meta.get("vecType").foreach { expect =>
      val got = batch.schema(vecCol).dataType.catalogString
      require(got == expect,
        s"vector index at $path: append batch's $vecCol is $got but the " +
          s"index was built from $expect — cast the batch (or rebuild) " +
          "so the cells/codes parquet schema stays uniform")
    }

  /** Load + integrity-check a persisted IVF codebook (count asserted
    * against the meta contract). */
  private def loadIvfCentroids(spark: SparkSession, path: String,
                               meta: Map[String, String])
      : Array[(Long, Array[Double])] = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cid").cast("long"), col("vec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"vector index at $path has no centroids")
    require(cents.length.toString == meta("nCentroids"),
      s"vector index at $path: ${cents.length} centroids on disk vs " +
        s"meta nCentroids=${meta("nCentroids")} — artifact corrupted")
    cents
  }

  /** DEFAULT drift threshold for [[recordAppend]]'s error rule:
    * `rebuildAdvised` flips when the appends' weighted mean quantization
    * error exceeds this multiple of the base build's — an in-distribution
    * append sits near 1× (the codebook fits it about as well as it fit
    * the base), a genuinely shifted batch lands orders of magnitude out
    * (VectorIndexSpec pins both sides with a scaled append). Per-index
    * override: `buildIvf`/`buildPq`'s `driftRatio` parameter, recorded in
    * the meta; indexes built before the row existed keep this default. */
  final val QuantErrDriftRatio = 4L

  /** Record append `appendId`'s rows + mean quantization error and
    * refresh the derived accounting (see [[appendToIvf]]'s contract):
    * the per-id `append_<id>`/`appendErr_<id>` rows are what make a
    * REPLAYED append a no-op (they overwrite themselves, never
    * accumulate — a running `appendedRows +=` would double-count on
    * retry; the integer error figure is deterministic, so a replay
    * rewrites the same value). `rebuildAdvised` = the count rule
    * (appends outnumber the base) OR the drift rule (weighted append
    * error > [[QuantErrDriftRatio]] × base error,
    * catching distribution shift the count proxy misses at low volume;
    * indexes built before `baseQuantErr` existed keep the count rule
    * only). */
  private def recordAppend(spark: SparkSession, path: String,
                           meta: Map[String, String], appendId: Long,
                           appended: Long, errAvg: Long): Unit = {
    val base = meta("baseRows").toLong
    // an index written before per-id rows carries a running
    // `appendedRows` counter with NO per-id rows — deriving the sum from
    // per-id rows alone would silently RESET it on the first keyed
    // append; preserve it once as a legacy row so the derived total
    // keeps counting those rows (`committedAppendDirs` ignores it: no
    // `append_id=legacy` dir can exist)
    val hasIdRows = meta.keysIterator.exists(_.startsWith("append_"))
    val legacy = meta.get("appendedRows").map(_.toLong).getOrElse(0L)
    val carried =
      if (!hasIdRows && legacy > 0L)
        meta + ("append_legacy" -> legacy.toString)
      else meta
    val withId = carried +
      (s"append_$appendId" -> appended.toString) +
      (s"appendErr_$appendId" -> errAvg.toString)
    val total = withId.collect {
      case (k, v) if k.startsWith("append_") => v.toLong }.sum
    // weighted mean error over the ids that carry one (legacy rows
    // don't); BigInt: rows × err can pass Long at corpus scale.
    // .toSeq FIRST — collecting (rows, err) pairs straight off the Map
    // would build a Map keyed by ROWS and silently drop every append
    // whose row count ties another's
    val weighted = withId.toSeq.collect {
      case (k, v) if k.startsWith("append_") && k != "append_legacy" &&
        withId.contains("appendErr_" + k.stripPrefix("append_")) =>
        (v.toLong,
          withId("appendErr_" + k.stripPrefix("append_")).toLong)
    }
    val wRows = weighted.map(_._1).sum
    val appendErr =
      if (wRows == 0L) 0L
      else (weighted.map { case (r, e) => BigInt(r) * BigInt(e) }.sum /
        BigInt(wRows)).toLong
    val baseErr = meta.get("baseQuantErr").map(_.toLong).getOrElse(0L)
    // per-index threshold (build meta); the compiled
    // default covers indexes built before the row existed. BigInt guard:
    // a huge configured ratio times a large baseline must not wrap into
    // a threshold the drifted append sails under.
    val ratio = meta.get("driftRatio").map(_.toLong)
      .getOrElse(QuantErrDriftRatio)
    val drift = baseErr > 0L && wRows > 0L &&
      BigInt(appendErr) > BigInt(ratio) * BigInt(baseErr)
    // STICKY until an actual rebuild: compactAppends
    // preserves the flag but resets the counters it was derived from
    // (appendedRows -> 0, drifted error absorbed into baseQuantErr), so
    // recomputing from post-fold state alone would let one small
    // in-distribution append clear advice no rebuild ever serviced.
    // buildIvf/buildPq write rebuildAdvised=false fresh, so stickiness
    // composes: only a rebuild clears it.
    val prior = meta.get("rebuildAdvised").contains("true")
    val next = withId ++ Map("appendedRows" -> total.toString,
      "appendQuantErr" -> appendErr.toString,
      "rebuildAdvised" -> (prior || total > base || drift).toString)
    writeMeta(spark, path, next.toSeq.sortBy(_._1))
  }

  /** The committed append directories under `root` — the serving-side
    * read set. The COMMIT POINT is the meta's `append_<id>` row (written
    * atomically AFTER the data by [[recordAppend]]), not the optional
    * `_SUCCESS` marker: deployments that disable
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs` (common on
    * object stores) write no marker at all, and a marker-only gate
    * would silently serve the base forever while the accounting said
    * rows were appended. A dir is served iff its id is
    * recorded in the meta AND it holds ≥ 1 data file (empty committed
    * appends are skipped so schema inference always sees real files)
    * AND — only when markers are enabled — `_SUCCESS` is present, which
    * additionally keeps a replay's in-flight REWRITE of a committed dir
    * out of a concurrent serve. */
  private def committedAppendDirs(spark: SparkSession, root: String,
                                  meta: Map[String, String]): Seq[String] = {
    val p = new Path(root)
    val fs = graft.FsText.fs(spark, p)
    if (!fs.exists(p)) return Seq.empty
    // live appends AND the merged dir compactAppends records as folded
    val recorded: Set[String] = meta.keysIterator.collect {
      case k if k.startsWith("append_") => k.stripPrefix("append_")
      case k if k.startsWith("folded_") => k.stripPrefix("folded_")
    }.toSet
    val markers = spark.sparkContext.hadoopConfiguration.getBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    fs.listStatus(p).toSeq.map(_.getPath)
      .filter(d => d.getName.startsWith("append_id=") &&
        recorded.contains(d.getName.stripPrefix("append_id=")))
      .filter(d => (!markers || fs.exists(new Path(d, "_SUCCESS"))) &&
        hasDataFiles(spark, d.toString))
      .map(_.toString).sorted
  }

  /** The index's meta contract as written (kind, build params, append
    * accounting incl. `rebuildAdvised`) — the deployment's hook for
    * scheduling rebuilds. */
  def indexStats(spark: SparkSession, path: String): Map[String, String] =
    readMeta(spark, path)

  /** Fold every recorded append into ONE merged append dir by
    * COPY-THEN-COMMIT — exact under the frozen codebook (appends were
    * encoded with the base's own codebook, so folding re-encodes nothing
    * and the serve set is unchanged; q105 oracle-gates a fold after each
    * of three appends). This is what bounds a long-running
    * [[graft.streaming.StreamingVectorIngest]] cadence's directory
    * growth: without it every micro-batch leaves an `append_id=<n>` tree
    * forever — the same small-file/manifest growth the occurrence store
    * solved with size-tiered refold.
    *
    * Protocol (single-writer, lease-guarded like every meta writer; run
    * it from the ingest lane's own maintenance cadence, never
    * concurrently with an append). No data path is ever renamed, so it
    * runs unchanged on stores without atomic rename:
    *  1. GC: fold-named dirs no commit recorded (a crashed half-copy) and
    *     tombstoned sources whose post-commit delete crashed are removed.
    *     Unrecorded plain append dirs are NOT touched — they may be a
    *     crashed append an in-flight batch will replay;
    *  2. every recorded append dir AND the previously merged dir COPY
    *     their data files into one fresh `append_id=fold<n>` (the same
    *     cell=/flat layout, a hand-written `_SUCCESS` since the copies
    *     bypass the committer), invisible until the commit —
    *     [[committedAppendDirs]] gates serving on the meta, so a
    *     half-copied merged dir double-serves nothing;
    *  3. ONE atomic meta write is the commit: it tombstones every source
    *     id (`compacted_<id>` — a replayed append of it is a no-op),
    *     absorbs the live appends' rows and weighted error into
    *     `baseRows`/`baseQuantErr` (the merged dir's rows were absorbed
    *     at ITS commit, so refolding it adds nothing), records the merged
    *     dir as `folded_fold<n>` — serving flips from k dirs to one — and
    *     carries `rebuildAdvised` over STICKY: folding does not re-fit
    *     the codebook, so advice earned by drifted appends survives until
    *     an actual rebuild;
    *  4. the sources are deleted best-effort AFTER the commit.
    * A crash anywhere is re-runnable: a merged dir never committed, or a
    * tombstoned source never deleted, is garbage the NEXT call's GC
    * removes. Live dir count is O(1) + live appends, not O(stream
    * lifetime); each fold re-copies the merged dir — the rewrite
    * amplification the caller's cadence controls. Only fold ids no
    * in-flight batch can replay (the positions compaction's `upToBatch`
    * contract); [[graft.streaming.StreamingVectorIngest]]'s cadence
    * satisfies this by construction — a foreachBatch retry replays only
    * the latest batch, and the tombstone catches even that. Returns the
    * number of source dirs folded: 0 when nothing is recorded or only one
    * already-merged dir exists (re-copying it would shrink nothing).
    * VectorIndexSpec drives it through a rename-refusing FileSystem. */
  def compactAppends(spark: SparkSession, path: String): Int =
    withLease(spark, path) {
      val meta = readMeta(spark, path)
      val kind = meta.getOrElse("kind", "<absent>")
      require(kind == "ivf" || kind == "pq",
        s"compactAppends supports ivf/pq indexes, got kind=$kind at $path")
      def ids(prefix: String) = meta.keysIterator
        .filter(k => k.startsWith(prefix) && k != "append_legacy")
        .map(_.stripPrefix(prefix)).toSeq.sorted
      val (recorded, priorFolded, tombstoned) =
        (ids("append_"), ids("folded_"), ids("compacted_").toSet)
      val srcIds = (recorded ++ priorFolded).sorted
      val rootP = new Path(appendRoot(path, kind))
      val fs = graft.FsText.fs(spark, rootP)
      // GC (step 1); `onDisk` re-lists, so the fold-id pick below sees
      // only what survived it
      def onDisk = if (!fs.exists(rootP)) Seq.empty[String]
        else fs.listStatus(rootP).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("append_id=")).map(_.stripPrefix("append_id="))
      onDisk.foreach { id =>
        if (!srcIds.contains(id) &&
            (id.startsWith("fold") || tombstoned.contains(id)))
          fs.delete(new Path(rootP, s"append_id=$id"), true)
      }
      if (recorded.isEmpty && priorFolded.size <= 1) 0
      else {
        val usedFold = (priorFolded ++ tombstoned ++ onDisk)
          .filter(_.startsWith("fold"))
          .flatMap(id => scala.util.Try(id.stripPrefix("fold").toLong).toOption)
        val foldId = s"fold${if (usedFold.isEmpty) 0L else usedFold.max + 1L}"
        val dest = new Path(rootP, s"append_id=$foldId")
        val conf = spark.sparkContext.hadoopConfiguration
        srcIds.foreach { id =>
          val dir = new Path(rootP, s"append_id=$id")
          if (fs.exists(dir)) {
            val it = fs.listFiles(dir, true)
            while (it.hasNext) {
              val f = it.next().getPath
              if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
                // ivf nests one cell= level; pq is flat — carry the
                // immediate partition dir through; overwrite=true makes a
                // retried copy re-runnable
                val parent = f.getParent.getName
                val destDir =
                  if (parent.startsWith("cell=")) new Path(dest, parent)
                  else dest
                fs.mkdirs(destDir)
                org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
                  new Path(destDir, s"append-$id-${f.getName}"),
                  false, true, conf)
              }
            }
          }
        }
        // the merged dir must pass committedAppendDirs' marker gate — the
        // copies bypass the committer, so the marker is written by hand
        fs.create(new Path(dest, "_SUCCESS"), true).close()
        // THE commit (step 3): one atomic meta write
        val foldedRows = recorded.map(id => meta(s"append_$id").toLong).sum
        val baseRows = meta("baseRows").toLong
        val foldedErrWeighted = recorded.flatMap { id =>
          meta.get(s"appendErr_$id")
            .map(e => BigInt(meta(s"append_$id").toLong) * BigInt(e.toLong))
        }.sum
        val newBaseErr = meta.get("baseQuantErr").map(_.toLong).map { be =>
          val totalRows = baseRows + foldedRows
          if (totalRows == 0L) 0L
          else ((BigInt(baseRows) * BigInt(be) + foldedErrWeighted) /
            BigInt(totalRows)).toLong
        }
        val dirRows = foldedRows +
          priorFolded.map(id => meta(s"folded_$id").toLong).sum
        val next = (meta --
          recorded.flatMap(id => Seq(s"append_$id", s"appendErr_$id")) --
          priorFolded.map(id => s"folded_$id")) ++
          recorded.map(id => s"compacted_$id" -> meta(s"append_$id")) ++
          priorFolded.map(id => s"compacted_$id" -> meta(s"folded_$id")) ++
          Map(s"folded_$foldId" -> dirRows.toString,
            "baseRows" -> (baseRows + foldedRows).toString,
            "appendedRows" -> "0", "appendQuantErr" -> "0") ++
          newBaseErr.map(e => "baseQuantErr" -> e.toString)
        writeMeta(spark, path, next.toSeq.sortBy(_._1))
        // strictly post-commit: a crash here leaves tombstoned dirs the
        // next call's GC removes
        srcIds.foreach { id =>
          scala.util.Try(fs.delete(new Path(rootP, s"append_id=$id"), true))
        }
        srcIds.size
      }
    }

  /** IVF top-k served from a persisted index — bit-identical to
    * [[Similarity.ivfTopK]] over the corpus the index was built on
    * (VectorIndexSpec pins it), with the build cost amortized away: the
    * only corpus-touching work left is the scan of the PROBED cell
    * partitions (the probe-cell set is bounded by the codebook, so the
    * partition filter is static — the plan's PartitionFilters prove the
    * pruning). */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, nProbe: Int = 2, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val meta = readMeta(spark, path)
    assertMeta(meta, path, "kind" -> "ivf")
    val cents = loadIvfCentroids(spark, path, meta)
    val nearestCells = Similarity.nearestCellsFn(cents)
    // the probe-cell universe is codebook-bounded, so collecting the
    // queries' distinct probe cells is always driver-safe — and turning
    // them into a static isin filter lets the parquet source prune cell
    // partitions at planning time (no corpus-wide file listing survives)
    val probesUdf = udf { (v: Seq[Double]) =>
      nearestCells(if (v == null) Seq.empty else v, nProbe)
    }
    val probed = queries
      .select(explode(probesUdf(col(vecCol).cast("array<double>")))
        .as("cell"))
      .distinct().collect().map(_.getLong(0))
    def probedCells(df: DataFrame) = df
      .filter(col("cell").isin(probed: _*))
      .select(col("neighbor_id"), col("vec_c"), col("cell").cast("long"))
    val base = probedCells(spark.read.parquet(s"$path/cells"))
    // committed appends ride the same static cell pruning — their layout
    // nests cell= under append_id=, so the isin filter prunes their
    // partitions too (basePath keeps the partition columns)
    val root = appendRoot(path, "ivf")
    val appendDirs = committedAppendDirs(spark, root, meta)
    val cells =
      if (appendDirs.isEmpty) base
      else base.unionByName(probedCells(
        spark.read.option("basePath", root).parquet(appendDirs: _*)))
    Similarity.ivfScoreCells(cells, queries, k, nProbe, nearestCells,
      idCol, vecCol)
  }

  // ---- PQ ----------------------------------------------------------

  /** One-time PQ build: persist the scaled-integer codebook and the
    * corpus's m-digit codes ([[Similarity.pqEncode]] output). Serving
    * scans codes only — the corpus's vectors never load again. */
  def buildPq(corpus: DataFrame, path: String, m: Int = 4, nCent: Int = 8,
              centroidStride: Long = 50, idCol: String = "vec_id",
              vecCol: String = "embedding",
              driftRatio: Long = QuantErrDriftRatio): Unit = {
    require(driftRatio >= 1L, s"driftRatio must be >= 1, got $driftRatio")
    val spark = corpus.sparkSession
    val cents = Similarity.pqCodebook(corpus, nCent, centroidStride,
      idCol, vecCol)
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("cid", "ivec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    Similarity.pqEncode(corpus, m, nCent, centroidStride, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/codes")
    // the codes table already carries the EXACT integer distortion per
    // row ([[Similarity.pqEncode]]) — one columnar agg gives the base's
    // mean quantization error, the drift rule's baseline
    val (baseRows, baseErr) = rowsAndMeanErr(
      spark.read.parquet(s"$path/codes"), col("distortion"))
    writeMeta(spark, path, Seq("kind" -> "pq", "m" -> m.toString,
      "nCent" -> nCent.toString,
      "centroidStride" -> centroidStride.toString,
      "idCol" -> idCol, "vecCol" -> vecCol,
      "vecType" -> corpus.schema(vecCol).dataType.catalogString,
      "baseRows" -> baseRows.toString,
      "baseQuantErr" -> baseErr.toString,
      "driftRatio" -> driftRatio.toString, "appendedRows" -> "0",
      "rebuildAdvised" -> "false"))
  }

  /** Append a NEW vector batch to a persisted PQ index: the batch is
    * encoded with the PERSISTED codebook and its codes land under
    * `append_codes/append_id=<appendId>/` — same frozen-codebook drift
    * contract, accounting, and REPLAY-IDEMPOTENT append-id keying as
    * [[appendToIvf]] (a retry overwrites its own directory and meta
    * row). The codes' distortion column is the exact drift error. */
  def appendToPq(newVecs: DataFrame, path: String, appendId: Long): Unit =
    appendBatch(newVecs, path, appendId, "pq") { (meta, dir) =>
      val cents = loadPqCentroids(newVecs.sparkSession, path, meta)
      Similarity.pqEncodeWith(newVecs, cents, meta("m").toInt,
          meta("idCol"), meta("vecCol"))
        .write.mode("overwrite").parquet(dir)
      col("distortion")
    }

  /** Load + integrity-check a persisted PQ codebook (count asserted
    * against the meta contract). */
  private def loadPqCentroids(spark: SparkSession, path: String,
                              meta: Map[String, String]): Array[Array[Long]] = {
    val cents: Array[Array[Long]] = spark.read.parquet(s"$path/centroids")
      .select(col("cid").cast("long"), col("ivec").cast("array<long>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == meta("nCent").toInt,
      s"vector index at $path: ${cents.length} PQ centroids on disk vs " +
        s"meta nCent=${meta("nCent")} — artifact corrupted")
    cents
  }

  /** PQ asymmetric-distance top-k served from a persisted index —
    * bit-identical to [[Similarity.pqTopK]] with the same build params
    * (spec-pinned), but the corpus scan touches CODES only. */
  def pqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                    k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val meta = readMeta(spark, path)
    assertMeta(meta, path, "kind" -> "pq")
    val m = meta("m").toInt
    val cents = loadPqCentroids(spark, path, meta)
    val qLuts = Similarity.pqQueryLuts(queries, cents, m, idCol, vecCol)
    val codeCols = (0 until m).map(i => col(s"c$i"))
    val scoreAll = udf { (id: Long, codes: Seq[Int]) =>
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        qLuts.length)
      var qi = 0
      while (qi < qLuts.length) {
        val (qid, lut) = qLuts(qi)
        if (qid != id) {
          var adist = 0L
          var s = 0
          while (s < m) { adist += lut(s)(codes(s)); s += 1 }
          out += ((qid, adist))
        }
        qi += 1
      }
      out.toSeq
    }
    val codesBase = spark.read.parquet(s"$path/codes")
    val root = appendRoot(path, "pq")
    val appendDirs = committedAppendDirs(spark, root, meta)
    val allCodes =
      if (appendDirs.isEmpty) codesBase
      else codesBase.unionByName(
        spark.read.option("basePath", root).parquet(appendDirs: _*)
          .select(codesBase.columns.map(col): _*))
    val scored = allCodes
      .select(col("vec_id").as("neighbor_id"),
        explode(scoreAll(col("vec_id"),
          array(codeCols: _*).cast("array<int>"))).as("s"))
      .select(col("s._1").as("query_id"), col("neighbor_id"),
        col("s._2").as("adist"))
    Similarity.pqRankTail(scored, k)
  }

  // ---- k-means -------------------------------------------------------

  /** One-time k-means training: persist the Lloyd-trained scaled-integer
    * centroid matrix so assignment/sampling reuse it across sessions. */
  def buildKmeans(df: DataFrame, path: String, k: Int = 8, iters: Int = 2,
                  centroidStride: Long = 50, idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    val spark = df.sparkSession
    val cents = Kmeans.trainCentroids(df, k, iters, centroidStride,
      idCol, vecCol)
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("cid", "ivec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    writeMeta(spark, path, Seq("kind" -> "kmeans", "k" -> k.toString,
      "iters" -> iters.toString,
      "centroidStride" -> centroidStride.toString,
      "idCol" -> idCol, "vecCol" -> vecCol))
  }

  /** Cell assignment from persisted trained centroids — one narrow pass,
    * zero training jobs; row-identical to [[Kmeans.kmeansAssign]] with
    * the build-time parameters (spec-pinned). */
  def kmeansAssignIndexed(spark: SparkSession, path: String, df: DataFrame,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val meta = readMeta(spark, path)
    assertMeta(meta, path, "kind" -> "kmeans")
    val cents: Array[Array[Long]] = spark.read.parquet(s"$path/centroids")
      .select(col("cid").cast("long"), col("ivec").cast("array<long>"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == meta("k").toInt,
      s"vector index at $path: ${cents.length} centroids on disk vs " +
        s"meta k=${meta("k")} — artifact corrupted")
    Kmeans.assignWithCentroids(df, cents, idCol, vecCol)
  }
}
