package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Versioned, shingle-BUCKETED, delta+compaction store for the
  * incremental span-dedup lane's occurrence table — the state backend of
  * [[StreamingSpanDedup]]. Advancing state by union + full repartition +
  * a rewritten copy per micro-batch would be O(|state|) work and one full
  * state copy of disk growth per batch; this store makes both O(batch).
  *
  * Layout (all paths through Hadoop FileSystem — local/HDFS/S3A alike):
  * {{{
  *   stateDir/_graft_occ_meta              numBuckets (write-once)
  *   stateDir/segments/seg-<v>-delta/b=<k>/[sb=<s>/]    batch v's counts, touched buckets only
  *   stateDir/segments/seg-<v>-compact/b=<k>/[sb=<s>/]  buckets compacted at batch v
  *   stateDir/manifests/v=<v>              bucket -> ordered segment list
  * }}}
  * A bucket's content at version v = per-shingle SUM over the manifest's
  * segment list for that bucket (base compact + stacked deltas). Buckets
  * are `pmod(shingle, numBuckets)` — a pure function of the key, so delta
  * and compaction writes agree by construction. CORPUS-MASS segments —
  * every compaction (derived from exact manifest rows), plus delta
  * writes that OPT IN via [[advance]]'s `subSplit` (the deliberate
  * layout jobs: seeding a base, re-bucketing for serving) — additionally
  * split every bucket into `sb = pmod(xxhash64(shingle), subSplit)`
  * SUB-BUCKET files — the probe's third pruning tier (see the cost
  * model); the split factor is a per-segment property recorded in the
  * manifest, and the sub routing is again a pure function of the key,
  * so any reader can recompute it.
  *
  * Cost model:
  *  - '''one write shape''': every segment repartitions by its routing
  *    columns and sorts by (routing columns, shingle) within each task,
  *    so a task streams through one open parquet file at a time and
  *    every file is sorted by shingle. The sort is per-task and
  *    in-memory (the write width targets ~80 MB of rows per task).
  *  - '''advance is O(batch) strictly per batch''': the only mandatory
  *    write is the batch's own count table, partitioned into the buckets
  *    it touches — a batch touching b buckets writes exactly b bucket
  *    directories and leaves every other bucket's bytes untouched
  *    (StreamingSpanDedupSpec pins this on a 1-doc batch).
  *  - '''compaction is a cadence policy, not a per-batch cost''': a
  *    bucket collapses to one segment only after `compactAt` deltas stack
  *    on it, so the O(|bucket|) rewrite amortizes to |bucket|/compactAt
  *    per batch and runs as ONE job over exactly the due buckets.
  *  - '''probe reads prune in tiers''' ([[readPruned]]):
  *    (1) bucket SET — `pmod(shingle, numBuckets)` is exact, a state row
  *    in an untouched bucket can never match; (2) per-segment ZONE
  *    sidecars skip stacked DELTA files a batch's keys provably miss;
  *    (3) SUB-BUCKET files skip, WITHIN a touched corpus-mass bucket,
  *    the `pmod(xxhash64(shingle), subSplit)` sub-files the batch's keys
  *    don't route to — also exact. Bucket-set pruning saturates as
  *    batches grow (a 5-doc batch already touched 74% of a 4096-bucket
  *    state) and zones only cover small deltas, so without tier 3
  *    compacted corpus-mass buckets would be all-or-nothing; sub-files
  *    keep the read proportional to the batch's KEY count
  *    (~keys × bucketBytes/subSplit) well past bucket saturation.
  *  - '''retention bounds disk''': manifests older than the newest
  *    `retainVersions` are deleted and segments no retained manifest
  *    references are GC'd — disk holds one compacted state + recent
  *    deltas, not a full copy per batch.
  *  - '''reads need no pre-merge''': [[read]] returns base + uncompacted
  *    deltas as-is (several rows per shingle, per-shingle SUM contract) —
  *    [[graft.ops.Dedup.incrementalRepeatedSpans]] sums AFTER its
  *    batch-keyed semi-join slim, so probing the state never aggregates
  *    more than batch-sized data.
  *  - '''per-batch driver fixed cost is memoized''': manifests and zone
  *    sidecars are immutable once written (rewrites happen only through
  *    this JVM's single writer, which writes through the cache), so the
  *    probe's manifest read and sidecar collect jobs run once per
  *    ARTIFACT, not once per micro-batch — see [[OccStateStore.Memo]].
  *    What remains per batch is routing the batch's keys: driver
  *    arithmetic for micro batches, otherwise ONE batch-sized job
  *    ([[planJob]]) computing touched buckets, touched sub-pairs, and
  *    zone hits together.
  *
  * Replay protocol (Structured Streaming `foreachBatch` retries): every
  * write is keyed by the monotone `batchId` and every input is read from
  * versions STRICTLY BELOW it, so a retried batch deterministically
  * rewrites the same delta, the same compaction, and the same manifest.
  * A batch's inputs stay intact as long as its predecessor version is
  * retained — the engine replays only the latest uncommitted batch, so
  * any `retainVersions >= 2` suffices; the default keeps margin. */
final class OccStateStore private (spark: SparkSession, stateDir: String,
                                   val numBuckets: Int,
                                   retainVersions: Int, compactAt: Int) {
  require(numBuckets >= 1, s"need numBuckets >= 1, got $numBuckets")
  require(retainVersions >= 2,
    s"need retainVersions >= 2 (replay reads the predecessor version), " +
      s"got $retainVersions")
  require(compactAt >= 2, s"need compactAt >= 2, got $compactAt")

  import OccStateStore.SegStat

  private val root = new Path(stateDir)
  private val rootKey = root.toString
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def segDir(name: String) = new Path(root, s"segments/$name")
  private def manifestPath(v: Long) = new Path(root, s"manifests/v=$v")

  private val occSchema = StructType(Seq(
    StructField("shingle", LongType), StructField("occ", LongType)))

  /** The sub-bucket routing column — a SECOND pure function of the key
    * (xxhash64's bits are independent of pmod's low-bit routing, so sub
    * assignment is uniform within every bucket), evaluated identically
    * at write ([[compactBuckets]]/[[advance]]) and probe ([[probePlan]])
    * time. */
  private def subCol(subSplit: Int): Column =
    pmod(xxhash64(col("shingle")), lit(subSplit.toLong)).cast("int")

  // ---- manifests -----------------------------------------------------

  /** All committed versions, ascending. NOT memoized: version discovery
    * is how a cross-JVM reader observes the single writer's progress. */
  def versions(): Seq[Long] = {
    val dir = new Path(root, "manifests")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v=") && !n.endsWith(".tmp"))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)
      .sorted
  }

  def latestVersionBefore(batchId: Long): Option[Long] =
    versions().filter(_ < batchId).lastOption

  /** bucket -> ordered segment names composing it. */
  private def readManifest(v: Long): Map[Int, Seq[String]] =
    readManifestStats(v).view
      .mapValues(_.map(_.name)).toMap

  /** bucket -> ordered [[OccStateStore.SegStat]] stack (segment name,
    * row count, sub-split factor). Rows are the zone metadata (−1 on
    * pre-stats manifest lines): they price a bucket's
    * scan before opening it and size the compaction's sub-split;
    * `subSplit` (4th field, 1 on older lines) tells readers which
    * segments carry `sb=` sub-bucket files. Memoized per (store,
    * version): manifests are immutable except through this JVM's single
    * writer, which writes through the cache. */
  def readManifestStats(v: Long): Map[Int, Seq[SegStat]] =
    OccStateStore.Memo.manifest(rootKey, v) {
      require(fs.exists(manifestPath(v)),
        s"no manifest for version $v under $root — outside the retained " +
          s"window (retention keeps the last $retainVersions versions)?")
      graft.FsText.read(spark, manifestPath(v))
        .linesIterator.filter(_.nonEmpty).toSeq
        .map { line =>
          val parts = line.split('\t')
          (parts(0).toInt, SegStat(parts(1),
            if (parts.length > 2) parts(2).toLong else -1L,
            if (parts.length > 3) parts(3).toInt else 1,
            if (parts.length > 4) parts(4).toLong else -1L))
        }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    }

  /** Deterministic text manifest (bucket-major, stack order, one
    * `bucket\tsegment\trowCount\tsubSplit` line each), published via
    * atomic overwrite-rename — a reader below `batchId` never sees a
    * torn file for the version it reads. Writes through the manifest
    * memo (the one mutation path for an existing version: a replayed
    * advance or a maintenance compaction rewriting in place). */
  private def writeManifest(v: Long, m: Map[Int, Seq[SegStat]]): Unit = {
    val body = m.toSeq.sortBy(_._1)
      .flatMap { case (b, segs) =>
        segs.map(s =>
          s"$b\t${s.name}\t${s.rows}\t${s.subSplit}\t${s.subMask}") }
      .mkString("", "\n", "\n")
    graft.FsText.writeAtomic(spark, manifestPath(v), body)
    OccStateStore.Memo.putManifest(rootKey, v, m)
  }

  // ---- reads ---------------------------------------------------------

  private def emptyOcc: DataFrame =
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], occSchema)

  /** (shingle, occ) over explicit data paths. `recursiveFileLookup`
    * makes the read layout-agnostic: a path may be a flat bucket dir
    * (files) or a sub-split one (`sb=` subdirs) — both read as bare
    * data, no partition inference (underscore-prefixed sidecars stay
    * hidden under the standard path filter). */
  private def readPaths(paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyOcc
    else spark.read.schema(occSchema)
      .option("recursiveFileLookup", "true").parquet(paths: _*)

  /** The state at `version` as base + uncompacted deltas, AS-IS: several
    * rows per shingle are possible; the per-shingle SUM is the occurrence
    * count (exactly what [[graft.ops.Dedup.incrementalRepeatedSpans]]'s
    * relaxed contract consumes — no corpus-wide merge on the read path). */
  def read(version: Long): DataFrame = readBuckets(version, None)

  /** The state at `version` RESTRICTED to `buckets` — tier-1 pruning
    * alone (see the class doc; [[readPruned]] adds tiers 2+3). A probe
    * knows its key set before touching state, and
    * `pmod(shingle, numBuckets)` is a pure function of the key — so a
    * state row in a bucket the batch does not touch can never equal any
    * batch shingle, and opening ONLY the batch's bucket directories is
    * EXACT pruning (no false negatives; StreamingSpanDedupSpec pins
    * file-level identity via `inputFiles`). The read scales as
    * touched/numBuckets of the state: free whenever
    * batch-distinct-shingles ≲ numBuckets, degrading gracefully as the
    * batch grows (touched saturates at numBuckets — never WORSE than
    * unpruned). Size `numBuckets` for this at creation:
    * [[OccStateStore.deriveNumBuckets]]. */
  def read(version: Long, buckets: Set[Int]): DataFrame =
    readBuckets(version, Some(buckets))

  private def readBuckets(version: Long,
                          buckets: Option[Set[Int]]): DataFrame =
    readPaths(readManifest(version).toSeq
      .filter(bs => buckets.forall(_.contains(bs._1)))
      .sortBy(_._1).flatMap {
        case (b, segs) => segs.map(s => new Path(segDir(s), s"b=$b").toString)
      })

  /** Latest state strictly below `batchId` (empty before the first
    * commit) — the frame a micro-batch probes and advances from. */
  def readLatestBefore(batchId: Long): DataFrame =
    latestVersionBefore(batchId).map(read).getOrElse(emptyOcc)

  /** Bucket-pruned twin of [[readLatestBefore]] — see
    * [[read(version:Long,buckets:Set[Int])*]]. */
  def readLatestBefore(batchId: Long, buckets: Set[Int]): DataFrame =
    latestVersionBefore(batchId).map(read(_, buckets)).getOrElse(emptyOcc)

  /** The sharpest probe read — all FOUR pruning tiers (class doc):
    * bucket SET (exact), per-segment ZONE sidecars on the stacked delta
    * files, SUB-BUCKET files within touched corpus-mass buckets
    * (exact — `pmod(xxhash64(shingle), subSplit)` is a pure function of
    * the key, recomputed from the batch's own keys), and — under the
    * [[OccStateStore.ProbeRowFilterMaxKeys]] gate — PAGE-level reads
    * INSIDE each admitted sub-file through [[SubFileProbe]] (per-file key
    * predicates against the sorted shingle column's row-group stats and
    * column index; tier 4). No false negatives anywhere (zones are
    * one-sided; tiers 1/3 are routing functions; tier 4 keeps every row
    * EQUAL to a probe key by construction) — tier 4 additionally drops
    * non-matching rows, which every consumer's contract already allows
    * (they re-filter to their key set), so the probe's spans stay
    * row-identical to the full read (StreamingSpanDedupSpec pins it).
    * `keys` is the batch's (shingle, …) frame — in the serving path the
    * probe's checkpointed counts. Per-batch cost: ONE batch-sized
    * planning job ([[probePlan]]) + bounded collects; manifests and
    * sidecars come from the [[OccStateStore.Memo]] cache (a sidecar is
    * read once per segment per JVM, not once per micro-batch). */
  def readPruned(batchId: Long, keys: DataFrame,
                 keyCountHint: Long = -1L): DataFrame =
    probeRead(batchId, keys, keyCountHint).frame

  /** [[readPruned]] with its planning artifacts exposed — what the probe
    * decided to open (whole paths vs per-file key-filtered sub-files) and
    * the tier-4 read's MEASURED byte/file accumulators, for evidence
    * harnesses (ScaleRun's inc-serve rows) and the pruning specs.
    * `keyCountHint`: the batch's exact distinct-key count when the caller
    * has one (processBatch does — it counts for its broadcast gate
    * anyway); −1 derives a bound from plan statistics (exact for the
    * checkpointed/cached frames every real caller passes; an
    * unmaterialized frame estimates huge and simply stays on the
    * whole-file path — the safe side). */
  def probeRead(batchId: Long, keys: DataFrame,
                keyCountHint: Long = -1L): OccStateStore.ProbeRead =
    probeReadImpl(batchId, Left(keys), keyCountHint)

  /** [[probeRead]] from keys ALREADY on the driver: a serving
    * caller that collects its micro-batch's key set anyway (the count
    * and the keys come out of one narrow job —
    * [[StreamingSpanDedup.processBatch]]'s micro regime) plans with ZERO
    * additional Spark jobs: routing, zone hits, and file specs are pure
    * driver arithmetic over the array plus the memoized sidecars. */
  def probeRead(batchId: Long,
                keysOnDriver: Array[Long]): OccStateStore.ProbeRead =
    probeReadImpl(batchId, Right(keysOnDriver), keysOnDriver.length.toLong)

  private def probeReadImpl(batchId: Long,
                            keysIn: Either[DataFrame, Array[Long]],
                            keyCountHint: Long): OccStateStore.ProbeRead =
    probeSpecs(batchId, keysIn, keyCountHint) match {
      case None =>
        OccStateStore.ProbeRead(emptyOcc, Seq.empty, Seq.empty, None, None,
          None, driverPlanned = false)
      case Some((wholePaths, fileSpecs, driverPlanned)) =>
        if (fileSpecs.isEmpty)
          OccStateStore.ProbeRead(readPaths(wholePaths), wholePaths,
            Seq.empty, None, None, None, driverPlanned)
        else {
          val bytesAcc = spark.sparkContext
            .longAccumulator("graft.probe.pageBytesRead")
          val filesAcc = spark.sparkContext
            .longAccumulator("graft.probe.filesOpened")
          val metaAcc = spark.sparkContext
            .longAccumulator("graft.probe.metaBytesRead")
          val sharp = SubFileProbe.read(spark, fileSpecs, bytesAcc,
            filesAcc, metaAcc)
          OccStateStore.ProbeRead(
            readPaths(wholePaths).unionByName(sharp),
            wholePaths, fileSpecs,
            Some(bytesAcc), Some(filesAcc), Some(metaAcc), driverPlanned)
        }
    }

  /** [[probeRead]] answered entirely ON THE DRIVER: same four pruning
    * tiers, same per-file plans — but the admitted whole paths and sharp
    * file specs are read as a plain loop in the driver JVM
    * ([[SubFileProbe.readLocal]]), so a warm micro
    * serve pays ZERO Spark jobs between the key array and the base occ
    * ROWS. Row-multiset-identical to `probeRead(batchId, keys).frame`
    * (whole paths ride the same reader with an empty key set = unfiltered
    * read; StreamingSpanDedupSpec pins it). Intended strictly for the
    * micro regime — the caller's [[OccStateStore.DriverPlanMaxKeys]] gate
    * bounds the row mass; a bulk key set belongs on [[probeRead]]'s
    * distributed readers. */
  def probeReadLocal(batchId: Long,
                     keysOnDriver: Array[Long]): OccStateStore.LocalProbeRead =
    probeSpecs(batchId, Right(keysOnDriver), keysOnDriver.length.toLong) match {
      case None =>
        OccStateStore.LocalProbeRead(Array.empty, Seq.empty, Seq.empty,
          0L, 0L, 0L)
      case Some((wholePaths, fileSpecs, _)) =>
        // unregistered accumulators: driver-side add/value only
        val pages = new LongAccumulator
        val files = new LongAccumulator
        val meta = new LongAccumulator
        val specs = wholePaths.map(p =>
          SubFileProbe.FileKeys(p, Array.emptyLongArray)) ++ fileSpecs
        val rows = SubFileProbe.readLocal(
          spark.sparkContext.hadoopConfiguration, specs, pages, files, meta)
        OccStateStore.LocalProbeRead(rows, wholePaths, fileSpecs,
          pages.value, files.value, meta.value)
    }

  /** The probe's PLANNING alone — manifest stats, memoized sidecars,
    * routing (driver arithmetic or [[planJob]] by the gate), assembled
    * into (whole paths, per-file key specs, driverPlanned); None when no
    * version precedes `batchId`. Shared by [[probeReadImpl]] (distributed
    * readers) and [[probeReadLocal]] (driver loop) so the two lanes can
    * never diverge on WHAT to read. */
  private def probeSpecs(batchId: Long,
                         keysIn: Either[DataFrame, Array[Long]],
                         keyCountHint: Long)
      : Option[(Seq[String], Seq[SubFileProbe.FileKeys], Boolean)] = {
    latestVersionBefore(batchId) match {
      case None => None
      case Some(v) =>
        val stacks = readManifestStats(v)
        val allSegs: Seq[SegStat] = stacks.values.flatten.toSeq
          .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)
        val subSplits = allSegs.filter(_.subSplit > 1)
          .map(_.subSplit).distinct.sorted
        // zone maps for UNSPLIT segments only (split segments are
        // corpus-mass and carry no sidecar by design — tier 3 prunes
        // them instead); cached per segment, fetched once for the
        // not-yet-seen ones in one collectZoneGroups call
        val unsplit = allSegs.filter(_.subSplit == 1).map(_.name)
        val cachedZones: Map[String,
            Option[Map[Int, graft.ops.ZoneIndex.Zone]]] =
          unsplit.map(s => s -> OccStateStore.Memo.zones(rootKey, s)).toMap
        val toFetch = cachedZones.collect { case (s, None) => s }.toSeq
          .filter(s => fs.exists(zonesPath(s)))
        val fetched: Map[String, Map[Int, graft.ops.ZoneIndex.Zone]] =
          if (toFetch.isEmpty) Map.empty
          else graft.ops.ZoneIndex.collectZoneGroups(spark,
            toFetch.sorted.map(zonesPath(_).toString),
            "segments/([^/]+)/_zones", None)
        fetched.foreach { case (s, zm) =>
          OccStateStore.Memo.putZones(rootKey, s, Some(zm)) }
        // segments with no sidecar on disk: remember the absence too,
        // so the fs.exists probe also runs once per segment
        toFetch.filterNot(fetched.contains).foreach(s =>
          OccStateStore.Memo.putZones(rootKey, s, Some(Map.empty)))
        cachedZones.collect { case (s, None) if !toFetch.contains(s) &&
            !fetched.contains(s) => s }
          .foreach(s => OccStateStore.Memo.putZones(rootKey, s,
            Some(Map.empty)))
        val zoneMaps: Map[String, Map[Int, graft.ops.ZoneIndex.Zone]] =
          (cachedZones.collect { case (s, Some(zm)) if zm.nonEmpty =>
            s -> zm } ++ fetched.filter(_._2.nonEmpty)).toMap
        // tier-4 gate: collect per-key routing only when the batch's
        // distinct keys are known (or plan-stats-bounded) small
        val estKeys =
          if (keyCountHint >= 0L) keyCountHint
          else keysIn match {
            case Right(arr) => arr.length.toLong
            case Left(keys) =>
              val st = keys.queryExecution.optimizedPlan.stats
              st.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong)
                .getOrElse((st.sizeInBytes /
                  BigInt(OccStateStore.EstBytesPerOccRow))
                  .min(BigInt(Long.MaxValue)).toLong)
          }
        val collectKeys = subSplits.nonEmpty &&
          estKeys <= OccStateStore.ProbeRowFilterMaxKeys
        // micro batches plan on the DRIVER: the
        // routing is pure arithmetic over the keys + already-memoized
        // sidecars, so the only distributed work left is ONE narrow
        // 1-task collect of the keys — the planJob's shuffle stage and
        // its scheduler round-trip disappear from the warm serve wall.
        // Keys handed in as an array plan with ZERO jobs.
        val driverPlanned = keysIn.isRight ||
          estKeys <= OccStateStore.DriverPlanMaxKeys
        val plan = keysIn match {
          case Right(arr) =>
            driverPlanFromKeys(arr.distinct, subSplits, zoneMaps,
              collectKeys)
          case Left(keys) if driverPlanned =>
            driverPlan(keys, subSplits, zoneMaps, collectKeys)
          case Left(keys) =>
            planJob(keys, subSplits, zoneMaps, collectKeys, estKeys)
        }
        // routes/pairs re-indexed by (split, bucket) ONCE: the spec loop
        // below visits every (touched bucket × stacked segment) pair, and
        // scanning the full route map per pair was O(buckets × routes) —
        // 115M tuple matches ≈ 3.8 s of the 50-doc serve's plan wall
        val routesBySplitBucket: Map[(Int, Int), Seq[(Int, Array[Long])]] =
          plan.routes.toSeq
            .map { case ((split, b, sb), ks) => ((split, b), (sb, ks)) }
            .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
        val subsBySplitBucket: Map[(Int, Int), Seq[Int]] =
          plan.subTouched.toSeq
            .flatMap { case (split, pairs) =>
              pairs.toSeq.map { case (b, sb) => ((split, b), sb) } }
            .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
        val wholePaths = scala.collection.mutable.ArrayBuffer.empty[String]
        val fileSpecs =
          scala.collection.mutable.ArrayBuffer.empty[SubFileProbe.FileKeys]
        stacks.toSeq
          .filter(e => plan.touched.contains(e._1)).sortBy(_._1)
          .foreach { case (b, segs) =>
            segs.foreach { s =>
              if (s.subSplit > 1) {
                // hasSub: a touched (b, sb) whose sub-file no row ever
                // landed in is pruned (it cannot match by construction),
                // not handed to the reader as a nonexistent directory
                if (collectKeys)
                  routesBySplitBucket.getOrElse((s.subSplit, b), Seq.empty)
                    .foreach { case (sb, ks) =>
                      if (s.hasSub(sb))
                        fileSpecs += SubFileProbe.FileKeys(
                          new Path(segDir(s.name), s"b=$b/sb=$sb").toString,
                          ks)
                    }
                else
                  wholePaths ++= subsBySplitBucket
                    .getOrElse((s.subSplit, b), Seq.empty).collect {
                      case sb if s.hasSub(sb) =>
                        new Path(segDir(s.name), s"b=$b/sb=$sb").toString
                    }
              } else if (zoneMaps.contains(s.name)) {
                if (plan.hits((s.name, b)))
                  wholePaths += new Path(segDir(s.name), s"b=$b").toString
              } else
                wholePaths += new Path(segDir(s.name), s"b=$b").toString
            }
          }
        Some((wholePaths.toSeq, fileSpecs.toSeq, driverPlanned))
    }
  }

  /** Driver-side twin of [[planJob]] for MICRO batches: under
    * [[OccStateStore.DriverPlanMaxKeys]] the plan's inputs fit on the
    * driver trivially, and everything it derives — bucket
    * routing (`pmod`), sub routing (`pmod(xxhash64(...))`), zone-bloom
    * hits — is pure arithmetic over the keys plus sidecar maps the
    * [[OccStateStore.Memo]] ALREADY holds driver-side. So the whole plan
    * costs ONE narrow 1-task collect of the keys (the cached counts
    * frame), no shuffle, no second job — the planJob's exchange and its
    * scheduler round-trip were ~1–2 s of a warm 1-doc serve's 2.0–2.9 s
    * wall (SURVEY §19 ledger).
    *
    * Bit-exactness with the segment writes (the correctness hinge —
    * mis-routing a key would silently drop its state rows): bucket =
    * `Math.floorMod(k, numBuckets)`, which IS Spark's `pmod` on longs;
    * sub = `Math.floorMod(XXH64.hashLong(k, 42L), subSplit)` — Spark's
    * `xxhash64(col)` is the XxHash64 expression with seed 42 evaluating
    * `XXH64.hashLong` on a long input, the same static everything else
    * calls. StreamingSpanDedupSpec pins plan EQUALITY against planJob
    * across the gate on hash-valued keys. Zone blooms deserialize
    * through the same [[graft.ops.ZoneIndex.BloomCache]] namespace the
    * executors use (the driver is just another JVM to it). */
  private def driverPlan(keys: DataFrame, subSplits: Seq[Int],
                         groups: Map[String, Map[Int, graft.ops.ZoneIndex.Zone]],
                         collectKeys: Boolean): OccStateStore.ProbePlan =
    driverPlanFromKeys(
      keys.select(col("shingle").cast("long"))
        .coalesce(1)
        .collect().map(_.getLong(0)).distinct,
      subSplits, groups, collectKeys)

  /** The plan arithmetic itself — pure driver CPU over a deduplicated
    * key array (see [[driverPlan]]'s scaladoc for the bit-exactness
    * argument). */
  private def driverPlanFromKeys(distinctKeys: Array[Long],
                                 subSplits: Seq[Int],
                                 groups: Map[String, Map[Int, graft.ops.ZoneIndex.Zone]],
                                 collectKeys: Boolean): OccStateStore.ProbePlan = {
    val probe = new graft.ops.ZoneIndex.ZoneProbe(rootKey)
    val touched = scala.collection.mutable.HashSet.empty[Int]
    val routes =
      scala.collection.mutable.HashMap.empty[(Int, Int, Int),
        scala.collection.mutable.ArrayBuffer[Long]]
    val subTouched =
      scala.collection.mutable.HashMap.empty[Int,
        scala.collection.mutable.HashSet[(Int, Int)]]
    val hits = scala.collection.mutable.HashSet.empty[(String, Int)]
    val groupSeq = groups.toSeq.sortBy(_._1)
    distinctKeys.foreach { k =>
      val b = java.lang.Math.floorMod(k, numBuckets.toLong).toInt
      touched += b
      if (subSplits.nonEmpty) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(k, 42L)
        subSplits.foreach { s =>
          val sb = java.lang.Math.floorMod(h, s.toLong).toInt
          subTouched.getOrElseUpdate(s,
            scala.collection.mutable.HashSet.empty) += ((b, sb))
          if (collectKeys)
            routes.getOrElseUpdate((s, b, sb),
              scala.collection.mutable.ArrayBuffer.empty) += k
        }
      }
      groupSeq.foreach { case (name, zones) =>
        if (!hits.contains((name, b)))
          zones.get(b).foreach { z =>
            if (probe.mightHit(name, b, z, k)) hits += ((name, b))
          }
      }
    }
    OccStateStore.ProbePlan(touched.toSet,
      subTouched.view.mapValues(_.toSet).toMap, hits.toSet,
      routes.view.mapValues(_.toArray.sorted).toMap)
  }

  /** ONE batch-sized job computing everything the pruned read needs from
    * the keys: the touched bucket set (≤ numBuckets ints), the touched
    * (bucket, sub) pair set per distinct sub-split factor (≤ batch
    * distinct keys), and the zone-hit (segment, bucket) pairs against
    * the segments' zone maps (the shared [[graft.ops.ZoneIndex.ZoneProbe]]
    * matcher). With `collectKeys` (the tier-4 gate) the job also ships
    * each key's (split, bucket, sub) routing to the driver — bounded by
    * the gate at ≤ ProbeRowFilterMaxKeys rows per split factor — so
    * sub-split segments can be read with per-file key predicates. All
    * collects are batch- or metadata-bounded. The routing columns are the
    * SAME Spark SQL expressions as the segment writes, so write and probe
    * agree bit-for-bit.
    *
    * Zone shipping: each segment's zone map broadcasts ONCE per JVM
    * through [[OccStateStore.Memo.zonesBc]] (segments are immutable; the
    * broadcast is destroyed with the segment's GC), so a micro-batch
    * ships only the segments it has never shipped — in steady state,
    * just its own predecessor's delta sidecar. Executor tasks route bloom
    * deserialization through the JVM-wide
    * [[graft.ops.ZoneIndex.BloomCache]] keyed by this store's root, so a
    * bloom deserializes once per executor, not once per task per batch. */
  private def planJob(keys: DataFrame, subSplits: Seq[Int],
                      groups: Map[String, Map[Int, graft.ops.ZoneIndex.Zone]],
                      collectKeys: Boolean,
                      estKeys: Long = Long.MaxValue): OccStateStore.ProbePlan = {
    val spark2 = keys.sparkSession
    import spark2.implicits._
    val cols = col("shingle").cast("long").as("k") +:
      pmod(col("shingle"), lit(numBuckets.toLong)).cast("int").as("b") +:
      subSplits.map(s => subCol(s).as(s"sub_$s"))
    // size the planning job to the BATCH, not the session width: a 1-doc
    // serving probe otherwise launches ~32 near-empty tasks whose launch
    // overhead IS the planning job's wall; ~64k
    // keys per task keeps the fold in-memory trivial. Bulk/unknown
    // batches keep their natural partitioning.
    val slimKeys =
      if (estKeys > OccStateStore.ProbeRowFilterMaxKeys)
        keys.select(cols: _*) // bulk: keep the natural width
      else keys.select(cols: _*).coalesce(math.max(1, math.min(
        spark2.sparkContext.defaultParallelism.toLong,
        estKeys / 65536L + 1L)).toInt)
    val bcs: Seq[(String,
        org.apache.spark.broadcast.Broadcast[Map[Int, graft.ops.ZoneIndex.Zone]])] =
      groups.toSeq.sortBy(_._1).map { case (name, zm) =>
        name -> OccStateStore.Memo.zonesBc(rootKey, name, spark2, zm)
      }
    val ns = rootKey
    val nSubs = subSplits.length
    val subArr = subSplits.toArray
    val planned = slimKeys
      .mapPartitions { it =>
        val probe = new graft.ops.ZoneIndex.ZoneProbe(ns)
        val buckets = new scala.collection.mutable.HashSet[Int]
        val pairs =
          new scala.collection.mutable.HashSet[(Int, Int, Int, Long)]
        val hits = new scala.collection.mutable.HashSet[(String, Int)]
        it.foreach { row =>
          val k = row.getLong(0)
          val b = row.getInt(1)
          buckets += b
          var i = 0
          while (i < nSubs) {
            // key rides along only under the tier-4 gate; otherwise the
            // pair set stays (split, b, sb)-distinct as before
            pairs += ((subArr(i), b, row.getInt(2 + i),
              if (collectKeys) k else 0L))
            i += 1
          }
          bcs.foreach { case (name, bc) =>
            if (!hits.contains((name, b)))
              bc.value.get(b).foreach { z =>
                if (probe.mightHit(name, b, z, k)) hits += ((name, b))
              }
          }
        }
        buckets.iterator.map(b => (0, "", b, -1, 0L)) ++
          pairs.iterator.map { case (s, b, sb, k) =>
            (1, s.toString, b, sb, k) } ++
          hits.iterator.map { case (n, b) => (2, n, b, -1, 0L) }
      }
      .distinct()
      .collect()
    val touched = planned.collect { case (0, _, b, _, _) => b }.toSet
    val pairRows = planned.collect { case (1, s, b, sb, k) =>
      (s.toInt, b, sb, k) }
    val subTouched = pairRows
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val routes: Map[(Int, Int, Int), Array[Long]] =
      if (!collectKeys) Map.empty
      else pairRows.groupBy(t => (t._1, t._2, t._3)).view
        .mapValues(_.map(_._4).distinct.sorted).toMap
    val zoneHits = planned.collect { case (2, n, b, _, _) => (n, b) }.toSet
    OccStateStore.ProbePlan(touched, subTouched, zoneHits, routes)
  }

  /** One row per shingle (a full merge — state-sized exchange; for specs
    * and batch consumers, NOT the streaming hot path). */
  def readAggregated(version: Long): DataFrame =
    graft.ops.Dedup.aggregateOccurrences(read(version))

  /** Segment names a bucket stacks at `version` — spec/diagnostic hook
    * for the rewrite-only-touched-buckets and compaction pins. */
  def bucketSegments(version: Long): Map[Int, Seq[String]] =
    readManifest(version)

  /** One named segment, all buckets (multi-row per-shingle-SUM frame).
    * Layout-agnostic (recursive lookup — flat or sub-split buckets). */
  def readSegment(name: String): DataFrame = {
    val dir = segDir(name)
    require(fs.exists(dir), s"no segment $name under $root")
    readPaths(fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("b=")).map(_.toString))
  }

  /** The pure per-batch DELTAS accumulated in (`fromVersion`,
    * `toVersion`] — the frame [[graft.ops.Dedup.retroactiveSpanSweepDelta]]
    * consumes together with `read(fromVersion)`: by construction
    * state(to) ≡ state(from) ⊎ deltas (per-shingle sums). Fails LOUDLY if
    * a compaction landed inside the window (a compact segment folds
    * from-state content in, so the decomposition would double-count) —
    * sweep on a cadence at or inside the compaction cadence, or keep the
    * raw batch count tables and pass those. */
  def readDeltasBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val before = readManifest(fromVersion).values.flatten.toSet
    val after = readManifest(toVersion).values.flatten.toSet
    val fresh = (after -- before).toSeq.sorted
    val compacts = fresh.filter(_.endsWith("-compact"))
    if (compacts.nonEmpty)
      throw new OccStateStore.CompactionCrossedWindow(
        s"compaction ${compacts.mkString(", ")} landed between versions " +
          s"$fromVersion and $toVersion — a compact segment folds prior " +
          "state in, so these segments are not a pure delta; sweep before " +
          "the compaction cadence crosses, or pass the raw batch counts")
    val frames = fresh.map(readSegment)
    if (frames.isEmpty) emptyOcc
    else frames.reduce(_.unionByName(_))
  }

  // ---- advance -------------------------------------------------------

  /** Shuffle width for a segment write. Each task sorts its rows and
    * streams them through one open file at a time, so per-task SORT
    * memory binds: a task sorts ~[[OccStateStore.SortedWriteRowsPerTask]]
    * rows (~80 MB of 20-byte rows, in-memory on any sane executor), from
    * the exact row count when the caller has one (compaction does, from
    * the manifest stats) or the plan-stats estimate otherwise. Capped at
    * `targets`, the (bucket, sub) files the write can fill: an
    * unmaterialized batch estimates huge, and tasks past the targets
    * would launch empty. */
  private def sortedWriteParts(estRows: Long, targets: Long): Int = {
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val byRows = math.max(sessionParts.toLong, math.min(8192L,
      (estRows + OccStateStore.SortedWriteRowsPerTask - 1) /
        OccStateStore.SortedWriteRowsPerTask))
    math.min(byRows, targets).toInt
  }

  /** Write `df` (shingle, occ) as segment `segName`, hash-routed into
    * `b=<k>` bucket dirs; `subSplit > 1` adds the sub-bucket tier's
    * `sb=<s>` level. One shape for every segment: rows repartition by
    * the routing columns and sort by (routing columns, shingle) within
    * each task, so the writer streams partition-ordered rows through one
    * open file at a time (no concurrent-writer memory, no session conf)
    * and every file comes out sorted by shingle — tight row-group min/max
    * stats, and the page index [[SubFileProbe]] reads. The sort is
    * in-memory after [[sortedWriteParts]], but it is not free: a
    * two-key sort cannot radix-sort, and its prefix (the bucket id) ties
    * on almost every comparison, so it compares whole rows — ~4 s of
    * ScaleRun's 6.6M-row inc-build base write at perSit 340 on 4 vCPUs
    * (SCALE.md). The write runs on the default
    * (v1) output committer: same-window at the 32,768-file serve layout,
    * v1 wrote in 196.3 s against v2's 248.7 s (SCALE.md). Deployments on
    * object stores should measure their own committer; the manifest
    * commit point tolerates either (a segment is invisible until
    * referenced, a retry overwrites the dir wholesale, retire() GCs
    * orphans). */
  private def writeSegment(df: DataFrame, segName: String, subSplit: Int,
                           nBuckets: Int, estRows: Long): Unit = {
    val routing =
      ("b" -> pmod(col("shingle"), lit(numBuckets.toLong)).cast("int")) +:
        (if (subSplit > 1) Seq("sb" -> subCol(subSplit)) else Seq.empty)
    val keys = routing.map(_._1)
    df.select(col("shingle") +: col("occ") +:
        routing.map { case (name, c) => c.as(name) }: _*)
      .repartition(sortedWriteParts(estRows, nBuckets.toLong * subSplit),
        keys.map(col): _*)
      .sortWithinPartitions((keys :+ "shingle").map(col): _*)
      .write.mode("overwrite").partitionBy(keys: _*)
      // page-ROW bound (parquet's default is 20k): with the rows sorted
      // by shingle, the per-page column-index min/max is the probe's
      // tier-4 granularity ([[SubFileProbe]]), so a probe key reads
      // ~8 KB of an arbitrarily large file
      .option("parquet.page.row.count.limit",
        OccStateStore.SortedPageRows.toString)
      .parquet(segDir(segName).toString)
  }

  /** A written segment dir read back with its schema stated EXPLICITLY
    * (data columns + the partition column(s)): an EMPTY delta write — a
    * micro-batch whose docs were all shorter than n tokens — leaves only
    * `_SUCCESS` in the dir, and schema INFERENCE over it would throw
    * (and, replayed, throw again: a wedged stream). With the schema
    * given, an empty segment is just an empty frame. */
  private def readSegmentDir(segName: String, subSplit: Int): DataFrame = {
    val partCols = StructField("b", IntegerType) +:
      (if (subSplit > 1) Seq(StructField("sb", IntegerType)) else Seq.empty)
    spark.read.schema(StructType(occSchema.fields ++ partCols))
      .parquet(segDir(segName).toString)
  }

  /** Per-bucket (row count, sub-presence mask) of a written segment —
    * the manifest's zone stats. One metadata-light job over the segment
    * just written (only partition columns are requested, so parquet
    * reads footers + dir names, no data pages); delta segments are
    * batch-sized, compact segments amortize on the compaction cadence.
    * Flat segments carry mask −1 (not applicable). */
  private def segmentBucketStats(segName: String,
                                 subSplit: Int): Map[Int, (Long, Long)] = {
    if (!fs.exists(segDir(segName))) return Map.empty
    if (subSplit <= 1)
      readSegmentDir(segName, 1)
        .groupBy(col("b")).count()
        .collect()
        .map(r => (r.getInt(0), (r.getLong(1), -1L))).toMap
    else
      readSegmentDir(segName, subSplit)
        .groupBy(col("b"), col("sb")).count()
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues { xs =>
          (xs.map(_._3).sum,
            xs.foldLeft(0L)((m, x) => m | (1L << x._2)))
        }.toMap
  }

  /** A segment's [[graft.ops.ZoneIndex]] sidecar path — underscore-
    * prefixed, so partition discovery over the segment never sees it. */
  private def zonesPath(segName: String) =
    new Path(segDir(segName), "_zones")

  /** Write the zone sidecar for a DELTA segment and return its per-bucket
    * counts (the manifest stats — one read-back job instead of the count
    * job). The FULL zone map (blooms included — batch-sized by the
    * gate) writes through the [[OccStateStore.Memo]] cache, so the probe
    * that reads this segment next batch pays ZERO sidecar jobs. Deltas
    * only: they are batch-sized, so their buckets sit under the bloom
    * cap and [[readPruned]] can skip the stacked delta files a batch's
    * keys miss. COMPACT and SUB-SPLIT segments carry no sidecar by
    * design — their buckets are corpus-mass (every bloom would be over
    * the cap → null → unprunable); tier 3 prunes them instead. */
  private def writeDeltaZones(segName: String): Map[Int, Long] = {
    if (!fs.exists(segDir(segName))) return Map.empty
    val zones = graft.ops.ZoneIndex.build(
      readSegmentDir(segName, 1).select("shingle"),
      "shingle", numBuckets)
      .localCheckpoint()
    graft.ops.ZoneIndex.save(zones, zonesPath(segName).toString)
    val zoneMap: Map[Int, graft.ops.ZoneIndex.Zone] =
      zones.select("b", "cnt", "kmin", "kmax", "bloom").collect()
        .map(r => r.getInt(0) -> graft.ops.ZoneIndex.Zone(r.getLong(1),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getAs[Array[Byte]](4)))
        .toMap
    OccStateStore.Memo.putZones(rootKey, segName, Some(zoneMap))
    zoneMap.view.mapValues(_.cnt).toMap
  }

  /** Commit `batchCounts` ([[graft.ops.Dedup.shingleOccurrenceTable]]
    * output for the micro-batch) as version `batchId`: write the
    * batch-sized delta into the buckets it touches, compact any bucket
    * whose stack reached `compactAt`, publish the manifest, then retire
    * versions past `retainVersions` and GC unreferenced segments.
    * `subSplit` — 0 (the default) keeps the delta FLAT: one sorted file
    * per touched bucket. The sub-split's read win only exists for
    * segments later probes prune WITHIN, which deltas earn when the
    * COMPACTION cadence folds them (compaction derives its split from
    * exact rows and is already rewriting the bucket); auto-splitting
    * bulk deltas from plan stats measured the 69M-key increment's
    * advance at 5.6 → 68 s for files nothing would ever sub-prune. Pass
    * an explicit factor for the two
    * DELIBERATE corpus-mass layout writes that ARE the serving store:
    * seeding a base corpus into a fresh store, or re-bucketing a state
    * for the micro-batch serving lane (derive the factor with
    * [[OccStateStore.deriveSubSplit]]). */
  def advance(batchCounts: DataFrame, batchId: Long,
              subSplit: Int = 0): Unit = {
    require(subSplit >= 0 && subSplit <= OccStateStore.MaxSubSplit,
      s"subSplit must be in [0, ${OccStateStore.MaxSubSplit}] (0 = flat, " +
        s"the default — deltas never auto-derive a split; pass an " +
        s"explicit factor for deliberate layout writes), got $subSplit")
    val prior: Map[Int, Seq[SegStat]] = latestVersionBefore(batchId)
      .map(readManifestStats).getOrElse(Map.empty)

    // 1. the batch's delta — its counts hash-routed into bucket dirs; a
    //    batch touching b buckets writes exactly b directories. Flat by
    //    default (see the scaladoc's subSplit policy); an explicit
    //    subSplit adds sb= sub-files for the deliberate layout writes.
    //    Rows for the write's width are estimated from
    //    plan stats at ~8 B/row (zstd parquet of (shingle, occ):
    //    random-hash shingles don't compress, the occ column vanishes;
    //    measured at the 692M-row 504k-doc state) — the estimate only
    //    sizes tasks, never correctness.
    val deltaSeg = s"seg-$batchId-delta"
    val statsBytes =
      batchCounts.queryExecution.optimizedPlan.stats.sizeInBytes
    val bulk = statsBytes > BigInt(OccStateStore.DeltaZoneMaxBytes)
    val estRows = (statsBytes / OccStateStore.EstBytesPerOccRow)
      .min(BigInt(Long.MaxValue)).toLong
    val deltaSub = if (subSplit > 0) subSplit else 1
    writeSegment(batchCounts, deltaSeg, deltaSub, numBuckets, estRows)
    // zone sidecar only for BATCH-sized flat deltas: the serving regime
    // they prune; a corpus-mass batch pays tier 3 instead of a second
    // full exchange for blooms the cap would null out anyway. Unknown
    // stats estimate huge → no sidecar, the cheap-safe side.
    val deltaCounts: Map[Int, (Long, Long)] =
      if (!bulk && deltaSub == 1)
        writeDeltaZones(deltaSeg).view.mapValues((_, -1L)).toMap
      else {
        OccStateStore.Memo.putZones(rootKey, deltaSeg, Some(Map.empty))
        segmentBucketStats(deltaSeg, deltaSub)
      }
    val touched: Set[Int] = deltaCounts.keySet

    // 2. stack the delta; compact buckets that reached the cadence
    val stacked: Map[Int, Seq[SegStat]] =
      (prior.keySet ++ touched).iterator.map { b =>
        val segs = prior.getOrElse(b, Seq.empty) ++
          (if (touched(b))
             Seq(SegStat(deltaSeg, deltaCounts(b)._1, deltaSub,
               deltaCounts(b)._2))
           else Seq.empty)
        b -> segs
      }.toMap
    val due = stacked.filter(_._2.size >= compactAt).keys.toSeq.sorted
    val manifest: Map[Int, Seq[SegStat]] =
      if (due.isEmpty) stacked
      else stacked ++ compactBuckets(stacked, due, s"seg-$batchId-compact")

    // 3. publish, then retire: drop manifests past the retention window
    //    and delete segments no retained manifest references
    writeManifest(batchId, manifest)
    retire()
  }

  /** ONE job over exactly the `due` buckets: per-shingle sum, bucket
    * recomputed from the key (pmod is the routing function), written as
    * one segment holding all compacted buckets — SUB-SPLIT by
    * [[OccStateStore.deriveSubSplit]] of the exact per-bucket rows the
    * manifest records (tier 3: compaction already rewrites the bucket,
    * so re-routing it into sorted sub-files is marginal cost, and it is
    * exactly what makes corpus-mass buckets prunable within). Returns
    * the due buckets' new single-segment stacks. */
  private def compactBuckets(stacked: Map[Int, Seq[SegStat]],
                             due: Seq[Int],
                             compactSeg: String): Map[Int, Seq[SegStat]] = {
    val paths = due.flatMap(b =>
      stacked(b).map(s => new Path(segDir(s.name), s"b=$b").toString))
    val compacting = readPaths(paths)
    val knownRows = due.flatMap(b => stacked(b).map(_.rows))
    val totalRows =
      if (knownRows.exists(_ < 0))
        (compacting.queryExecution.optimizedPlan.stats.sizeInBytes /
          OccStateStore.EstBytesPerOccRow).min(BigInt(Long.MaxValue)).toLong
      else knownRows.sum
    val sub = OccStateStore.deriveSubSplit(totalRows / math.max(1, due.size))
    writeSegment(graft.ops.Dedup.aggregateOccurrences(compacting),
      compactSeg, sub, due.size, totalRows)
    OccStateStore.Memo.putZones(rootKey, compactSeg, Some(Map.empty))
    val counts = segmentBucketStats(compactSeg, sub)
    due.map { b =>
      val (rows, mask) = counts.getOrElse(b, (0L, 0L))
      b -> Seq(SegStat(compactSeg, rows, sub, mask))
    }.toMap
  }

  /** Out-of-band compaction: collapse every bucket
    * stacking at least `minStack` segments at the LATEST version into one
    * compact segment, atomically rewriting the latest manifest in place
    * with CONTENT-EQUIVALENT stacks (per-shingle sums unchanged —
    * StreamingSpanDedupSpec pins it). Returns the number of buckets
    * compacted.
    *
    * Why it exists: [[advance]]'s inline `compactAt` trigger is the
    * safety net that bounds stack depth with no scheduler at all, but it
    * makes every compactAt-th micro-batch absorb the O(|bucket|·touched)
    * rewrite INLINE — a latency spike in the serving path. A deployment
    * that can run maintenance between batches calls this instead
    * (the streaming driver's sweep cadence does, right after each sweep)
    * and sizes `compactAt` so the inline trigger never fires.
    *
    * Protocol: same single-writer discipline as [[advance]] — run it
    * BETWEEN batches, never concurrently with one. Crash-safe by the
    * same argument as advance: a crash before the manifest publish
    * leaves an orphan segment the next retire() GCs; after it, an
    * equivalent state. A replay of the latest batch rebuilds its
    * manifest from the PREDECESSOR version (untouched here) and simply
    * strands this compact segment for GC — sums stay right either way.
    * The compact segment carries the `-compact` suffix, so
    * [[readDeltasBetween]] windows crossing a maintenance compaction
    * keep failing loudly instead of double-counting. */
  def compactNow(minStack: Int = 2): Int = {
    require(minStack >= 2, s"need minStack >= 2, got $minStack")
    val vs = versions()
    if (vs.isEmpty) return 0
    val v = vs.last
    val stacked = readManifestStats(v)
    val due = stacked.filter(_._2.size >= minStack).keys.toSeq.sorted
    if (due.isEmpty) return 0
    // unique per (version, attempt): a second compactNow at the same
    // version must not overwrite a segment the manifest still references
    val existing = stacked.values.flatten.map(_.name).toSet
    val segName = Iterator.from(0).map(i => s"seg-$v-maint$i-compact")
      .find(!existing.contains(_)).get
    writeManifest(v, stacked ++ compactBuckets(stacked, due, segName))
    retire()
    due.size
  }

  /** Drop manifests past the retention window and delete segments no
    * retained manifest references — and drop both from the
    * [[OccStateStore.Memo]] (a cached manifest for a retired version
    * would let a read past the retention window SUCCEED from memory
    * while the files are gone — the loud-failure contract of
    * [[readManifestStats]] must not depend on cache temperature). */
  private def retire(): Unit = {
    val retained = versions().takeRight(retainVersions)
    versions().filterNot(retained.contains)
      .foreach { v =>
        fs.delete(manifestPath(v), false)
        OccStateStore.Memo.dropManifest(rootKey, v)
      }
    val live: Set[String] =
      retained.flatMap(v => readManifest(v).values.flatten).toSet
    val segRoot = new Path(root, "segments")
    if (fs.exists(segRoot)) {
      fs.listStatus(segRoot).toSeq.map(_.getPath)
        .filterNot(p => live.contains(p.getName))
        .foreach { p =>
          fs.delete(p, true)
          OccStateStore.Memo.dropZones(rootKey, p.getName)
          // probe footer/index entries under the deleted segment (memory
          // hygiene; the mtime-keyed cache is already stale-proof)
          SubFileProbe.MetaCache.dropPrefix(p.toString)
        }
    }
  }
}

object OccStateStore {

  /** One manifest stack entry: segment name, the bucket's row count in
    * it (−1 on pre-stats manifest lines), the segment's sub-bucket split
    * factor (1 = flat), and — for split segments — the bucket's
    * SUB-PRESENCE bitmask (bit s set ⇔ `sb=s` was written; subSplit ≤
    * [[MaxSubSplit]] = 64 keeps it one Long). The mask is what lets
    * [[OccStateStore.readPruned]] enumerate exactly the EXISTING
    * (bucket, sub) files — a probe key routing to a sub no row ever
    * landed in must be pruned from the path list, not handed to the
    * reader as a nonexistent directory. −1 (pre-mask lines, flat
    * segments) means "assume all present". */
  final case class SegStat(name: String, rows: Long, subSplit: Int,
                           subMask: Long = -1L) {
    /** The sentinel is EXACTLY −1 (pre-mask lines / flat segments), not
      * "negative": at subSplit = 64 a bucket populating sb=63 makes the
      * mask negative via bit 63, and a `< 0` sentinel test would treat
      * it as all-present — re-introducing the missing-directory crash
      * for that bucket's unwritten subs. −1 as a REAL mask
      * means all 64 subs present, so the sentinel reading coincides
      * with the truth there. Unsigned shift for the same reason. */
    def hasSub(sb: Int): Boolean =
      subMask == -1L || ((subMask >>> sb) & 1L) == 1L
  }

  /** [[OccStateStore.probeRead]]'s result: the probe frame plus what the
    * planner decided to open. `wholePaths` are DataFrame-scanned whole
    * (flat bucket dirs + zone-admitted delta files + sub-files past the
    * tier-4 gate); `rowFiltered` are the sub-files handed to
    * [[SubFileProbe]] with per-file key predicates (empty when the gate
    * is off). `bytesRead` (page bytes), `filesOpened` (files whose
    * stream actually opened — a warm-cache file none of whose pages can
    * match opens nothing), and `metaBytesRead` (footer/index loads —
    * zero on a warm [[SubFileProbe.MetaCache]]) are the tier-4 read's
    * measured accumulators — valid AFTER an action on `frame`, None when
    * nothing row-filters. */
  final case class ProbeRead(frame: DataFrame, wholePaths: Seq[String],
                             rowFiltered: Seq[SubFileProbe.FileKeys],
                             bytesRead: Option[org.apache.spark.util.LongAccumulator],
                             filesOpened: Option[org.apache.spark.util.LongAccumulator],
                             metaBytesRead: Option[org.apache.spark.util.LongAccumulator],
                             driverPlanned: Boolean)

  /** [[OccStateStore.probeReadLocal]]'s result: the base occ ROWS on the
    * driver (multiset-identical to the distributed probe's frame) plus
    * the plan it executed and the measured byte split. */
  final case class LocalProbeRead(rows: Array[(Long, Long)],
                                  wholePaths: Seq[String],
                                  rowFiltered: Seq[SubFileProbe.FileKeys],
                                  pageBytes: Long, filesOpened: Long,
                                  metaBytes: Long)

  /** One planning job's output (see planJob): touched buckets, touched
    * (bucket, sub) pairs per split factor, zone hits, and — under the
    * tier-4 gate — each (split, bucket, sub) file's own probe keys. */
  private[streaming] final case class ProbePlan(
      touched: Set[Int],
      subTouched: Map[Int, Set[(Int, Int)]],
      hits: Set[(String, Int)],
      routes: Map[(Int, Int, Int), Array[Long]])

  /** Thrown by [[OccStateStore.readDeltasBetween]] when a compaction
    * landed inside the requested window (the decomposition would
    * double-count the folded state). A TYPE, not a message, so callers
    * that degrade to the pair-form sweep
    * ([[graft.streaming.StreamingSpanDedup]]) can catch exactly this
    * condition — message substring matching both missed real cases and
    * swallowed unrelated failures whose text happened to contain
    * "compact" (e.g. a path). Extends IllegalArgumentException so
    * callers treating it as a contract violation keep working. */
  final class CompactionCrossedWindow(msg: String)
    extends IllegalArgumentException(msg)

  /** Plan-stats bound under which a delta segment gets a
    * [[graft.ops.ZoneIndex]] sidecar (see the write site): micro-batch
    * deltas — the stack [[OccStateStore.readPruned]] zone-prunes — sit
    * far under it; a corpus-mass base build skips the sidecar (tier 3
    * covers it) and its second exchange. */
  final val DeltaZoneMaxBytes: Long = 256L << 20

  /** Bucket-size target for [[deriveNumBuckets]]: small enough that a
    * probe's pruned read ([[OccStateStore.read(version:Long,buckets:Set[Int])*]])
    * pays ~64 MB per touched bucket, large enough that parquet files stay
    * footer-efficient. */
  final val TargetBucketBytes: Long = 64L << 20

  /** Plan-stats → row estimate for (shingle, occ) frames whose exact
    * count is unknown (bulk delta writes): zstd parquet of this table
    * measures ~8 B/row (random-hash shingles don't compress; the occ
    * column vanishes), and parquet-scan plan stats are file bytes. Only
    * sizes sub-split granularity — correctness never depends on it. */
  final val EstBytesPerOccRow: Long = 8L

  /** Sub-bucket size target for [[deriveSubSplit]] (tier 3). The FILE is
    * no longer the probe's read
    * granularity (tier 4 reads ~one PAGE per key inside a sorted
    * sub-file), so the file-size target serves only the file-count
    * economics: 4× fewer sub-files at the 504k-doc serve layout
    * (131,072 → 32,768) at equal-or-better probed bytes. */
  final val SubSplitTargetRows: Long = 32768L

  /** Hard cap on the sub-split factor (the one-Long sub-presence mask):
    * the explicit `advance(subSplit = …)` knob's bound, and what readers
    * honor on any recorded segment. */
  final val MaxSubSplit: Int = 64

  /** Cap on the DERIVED sub-split factor, set by file count (a
    * 2²⁰-bucket 100 TB state's compactions write ~17M files of ~10 MB
    * instead of ~67M of ~2.5 MB at a cap of 64; tier 4's page reads
    * keep a probe key at ~one page regardless of file size).
    * An explicit knob up to [[MaxSubSplit]] remains available to a
    * deployment that measures otherwise. */
  final val DeriveMaxSubSplit: Int = 16

  /** Rows per parquet page in segment writes — the tier-4 read
    * granularity (see the writeSegment note): 1024 rows ≈ 8 KB raw of
    * (shingle, occ), so a key's page read stays ~8 KB however coarse
    * the files grow. */
  final val SortedPageRows: Int = 1024

  /** Probe-key bound for the tier-4 ROW-FILTERED read path: under it the
    * planning job additionally collects each key's (bucket, sub) routing
    * (≤ this many rows per split factor — driver-bounded by
    * construction) and sub-split segments are read through
    * [[SubFileProbe]] with per-file predicates; past it the probe falls
    * back to whole-sub-file reads (bulk batches touch most pages anyway,
    * and a corpus-mass key collect would not be driver-safe). Serving
    * micro-batches (1–50 docs ≈ 10²–10⁴ keys) sit far under it.
    *
    * Set FROM the measured crossover over the 504k-doc serve store, both
    * sides FORCED at each density (SCALE.md, "Tier-4 vs vectorized
    * whole-file: the measured crossover"): the sharp read wins every measured
    * density up to ~533k keys (277k keys: 7.2 s / 1.8 GB sharp vs
    * 88.0 s / 5.4 GB whole — the old 262144 gate sent exactly that
    * regime to the whole path, a measured 12× loss), and the walls
    * CONVERGE at ~533k (40.1 vs 45.1 s) as per-file predicates deepen
    * while the whole side flattens at corpus mass — so the gate sits at
    * 2¹⁹, the last power of two before the measured convergence. */
  final val ProbeRowFilterMaxKeys: Long = 524288L

  /** Probe-key bound for the DRIVER-side plan
    * ([[OccStateStore.probeRead]]'s `driverPlan`): under it the plan costs
    * one narrow 1-task collect instead of the planJob's shuffle+collect.
    * 64k keys = 512 KB of longs on the driver and sub-millisecond
    * arithmetic — comfortably covers the serving lane's 1–50-doc batches
    * (10²–10⁴ keys) while bulk batches keep the distributed plan. */
  final val DriverPlanMaxKeys: Long = 65536L

  /** Per-task row target for segment writes (~80 MB of 20-byte rows —
    * an in-memory sort: each task sorts its rows and streams them through
    * one open file, so sort memory, not writer count, binds). */
  final val SortedWriteRowsPerTask: Long = 4L << 20

  /** Sub-split factor for a segment averaging `rowsPerBucket` rows per
    * bucket: next power of two of rowsPerBucket / [[SubSplitTargetRows]],
    * 1 below 2× the target (splitting a small bucket buys nothing and
    * costs files), capped at [[DeriveMaxSubSplit]]. */
  def deriveSubSplit(rowsPerBucket: Long): Int = {
    if (rowsPerBucket < 2L * SubSplitTargetRows) return 1
    val raw = rowsPerBucket / SubSplitTargetRows
    val pow2 = java.lang.Long.highestOneBit(raw) match {
      case h if h == raw => raw
      case h => h << 1
    }
    math.min(DeriveMaxSubSplit.toLong, pow2).toInt
  }

  /** numBuckets for a FRESH store, derived from the expected state size —
    * the write-once choice that decides how fine the probe-side bucket
    * pruning can ever get (a micro-batch touching K
    * distinct shingles reads ~min(K, numBuckets) buckets, so the pruned
    * scan is ~min(K · state/numBuckets, state) bytes — numBuckets must
    * GROW with the state for the read to scale with the batch). Next
    * power of two of `estimatedStateBytes` / [[TargetBucketBytes]],
    * clamped to [64, 2²⁰]: a 6 GB state keeps ~64-128 buckets (the local
    * test shape), a 160 TB state (a 100 TB corpus's occurrence table)
    * derives the 2²⁰ cap — ~160 MB per bucket, so a 100k-key micro-batch
    * reads ~10% of state instead of all of it, and a per-doc cadence
    * (~300 keys) reads well under 1%. Estimate state bytes at ~2× the
    * corpus's UTF-8 text bytes (one ~16 B row per token position,
    * zstd-halved). Within-bucket granularity past saturation is tier
    * 3's job ([[deriveSubSplit]]). */
  def deriveNumBuckets(estimatedStateBytes: Long): Int = {
    val raw = math.max(1L, estimatedStateBytes / TargetBucketBytes)
    val pow2 = java.lang.Long.highestOneBit(raw) match {
      case h if h == raw => raw
      case h => h << 1
    }
    math.min(1L << 20, math.max(64L, pow2)).toInt
  }

  /** Same-JVM memo for the store's immutable read artifacts (the
    * serving lane's per-batch driver fixed cost): manifests
    * (per store+version) and zone sidecars (per store+segment, the FULL
    * map so later probes filter in memory). Sound because both artifact
    * kinds are write-once EXCEPT through this JVM's single writer
    * (replayed advance / maintenance compaction rewrite a manifest in
    * place; a recreated store reuses segment names), and every writer
    * path writes THROUGH the cache ([[OccStateStore]]'s writeManifest /
    * writeDeltaZones / advance / compactBuckets). A second WRITER
    * process would violate the store's single-writer contract long
    * before it violated this cache. Bounded: manifests by entry count,
    * zones by total bloom bytes, both LRU. */
  private[streaming] object Memo {
    private val MaxManifests = 64
    private val MaxZoneBytes = 128L << 20

    private val manifests =
      new java.util.LinkedHashMap[(String, Long), Map[Int, Seq[SegStat]]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), Map[Int, Seq[SegStat]]])
            : Boolean = size() > MaxManifests
      }
    private val zoneMaps = new java.util.LinkedHashMap[(String, String),
      (Option[Map[Int, graft.ops.ZoneIndex.Zone]], Long)](16, 0.75f, true)
    private var zoneBytes = 0L

    def manifest(dir: String, v: Long)(
        load: => Map[Int, Seq[SegStat]]): Map[Int, Seq[SegStat]] =
      synchronized {
        val k = (dir, v)
        val hit = manifests.get(k)
        if (hit != null) hit
        else { val m = load; manifests.put(k, m); m }
      }

    def putManifest(dir: String, v: Long,
                    m: Map[Int, Seq[SegStat]]): Unit =
      synchronized { manifests.put((dir, v), m) }

    def dropManifest(dir: String, v: Long): Unit =
      synchronized { manifests.remove((dir, v)) }

    /** Invalidate EVERYTHING cached for a store root — called when
      * [[OccStateStore.open]] creates fresh write-once meta at a path
      * (the one observable moment of a same-path delete+recreate done
      * outside the API, e.g. a test/ScaleRun rmDir+open: the
      * path-keyed memo would otherwise serve the DELETED store's
      * manifests/zones whenever the recreated store's version or segment
      * names diverge from the old ones). */
    def dropAll(dir: String): Unit = synchronized {
      val mIt = manifests.keySet().iterator()
      while (mIt.hasNext) if (mIt.next()._1 == dir) mIt.remove()
      val zIt = zoneMaps.entrySet().iterator()
      while (zIt.hasNext) {
        val e = zIt.next()
        if (e.getKey._1 == dir) { zoneBytes -= e.getValue._2; zIt.remove() }
      }
      val bIt = zoneBcs.entrySet().iterator()
      while (bIt.hasNext) {
        val e = bIt.next()
        if (e.getKey._1 == dir) {
          scala.util.Try(e.getValue.destroy())
          bIt.remove()
        }
      }
      // executor-side deserialized blooms keyed by this root: in local
      // mode this frees the old generation immediately; on a cluster the
      // cache's own content-verify-on-hit is the guard
      graft.ops.ZoneIndex.BloomCache.dropNamespace(dir)
      // ditto the probe's footer/index cache (keys under the root's
      // segment paths; the mtime in its key is the cross-JVM guard)
      SubFileProbe.MetaCache.dropPrefix(dir)
    }

    def dropZones(dir: String, seg: String): Unit =
      synchronized {
        val prev = zoneMaps.remove((dir, seg))
        if (prev != null) zoneBytes -= prev._2
        dropBc(dir, seg)
      }

    // ---- per-segment zone-map broadcasts ------------------------------
    // One broadcast per immutable segment per JVM, reused across every
    // micro-batch's planning job; destroyed when the segment GCs (or a
    // same-path store recreation invalidates the root). Same soundness
    // argument as the zone map cache itself — every mutation path runs
    // through this JVM's single writer.
    private val zoneBcs = new java.util.LinkedHashMap[(String, String),
      org.apache.spark.broadcast.Broadcast[Map[Int, graft.ops.ZoneIndex.Zone]]](
      16, 0.75f, true)
    private val MaxZoneBcs = 256

    def zonesBc(dir: String, seg: String, spark: SparkSession,
                zm: Map[Int, graft.ops.ZoneIndex.Zone])
        : org.apache.spark.broadcast.Broadcast[Map[Int, graft.ops.ZoneIndex.Zone]] =
      synchronized {
        val k = (dir, seg)
        val hit = zoneBcs.get(k)
        if (hit != null) hit
        else {
          val bc = spark.sparkContext.broadcast(zm)
          zoneBcs.put(k, bc)
          val it = zoneBcs.entrySet().iterator()
          while (zoneBcs.size() > MaxZoneBcs && it.hasNext) {
            val e = it.next()
            if (e.getKey != k) {
              scala.util.Try(e.getValue.destroy())
              it.remove()
            }
          }
          bc
        }
      }

    private def dropBc(dir: String, seg: String): Unit = {
      val bc = zoneBcs.remove((dir, seg))
      // Try: the broadcast may belong to an already-stopped context (a
      // test suite's session) — eviction must still succeed
      if (bc != null) scala.util.Try(bc.destroy())
    }

    /** None = not cached (caller decides whether a sidecar exists);
      * Some(Map.empty) = cached "no sidecar / nothing prunable". */
    def zones(dir: String, seg: String)
        : Option[Map[Int, graft.ops.ZoneIndex.Zone]] =
      synchronized(Option(zoneMaps.get((dir, seg))).map(_._1).flatten)

    def putZones(dir: String, seg: String,
                 zm: Option[Map[Int, graft.ops.ZoneIndex.Zone]]): Unit =
      synchronized {
        val bytes = zm.map(_.values.map(z =>
          64L + (if (z.bloom == null) 0L else z.bloom.length.toLong)).sum)
          .getOrElse(0L)
        val prev = zoneMaps.put((dir, seg), (zm, bytes))
        if (prev != null) zoneBytes -= prev._2
        zoneBytes += bytes
        val it = zoneMaps.entrySet().iterator()
        while (zoneBytes > MaxZoneBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != ((dir, seg))) {
            zoneBytes -= e.getValue._2
            it.remove()
          }
        }
      }
  }

  /** Open the store at `stateDir`, creating the write-once meta on first
    * use. `numBuckets` semantics (readers must not have to plumb the
    * writer's choice through): 0 (the default) ADOPTS the
    * persisted bucket count on an existing store and creates with 64 on
    * a fresh one (size a big fresh store with [[deriveNumBuckets]]); an
    * EXPLICIT positive value must match an existing
    * store's meta (bucket routing is a function of it — a mismatch would
    * mis-route every later delta, so it fails loudly). */
  def open(spark: SparkSession, stateDir: String, numBuckets: Int = 0,
           retainVersions: Int = 3, compactAt: Int = 8): OccStateStore = {
    require(numBuckets >= 0, s"numBuckets must be >= 0, got $numBuckets")
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new Path(root, "_graft_occ_meta")
    val buckets =
      if (fs.exists(metaPath)) {
        val raw = graft.FsText.read(spark, metaPath).trim
        val existing = raw.toIntOption.getOrElse(throw new
          IllegalArgumentException(
            s"OccStateStore at $stateDir: corrupt meta $metaPath " +
              s"(content ${raw.take(40)}) — a crash mid-create before the " +
              "atomic publish existed could leave this; if the store " +
              "holds no segments, delete the directory to recreate"))
        require(numBuckets == 0 || existing == numBuckets,
          s"OccStateStore at $stateDir was created with numBuckets=" +
            s"$existing; re-open requested $numBuckets — bucket routing " +
            "is write-once (pass 0 to adopt the persisted value)")
        existing
      } else {
        val create = if (numBuckets == 0) 64 else numBuckets
        fs.mkdirs(root)
        // a FRESH meta at this path means any memoized artifacts belong
        // to a previous (externally deleted) store — drop them before the
        // first read can hit a stale entry
        Memo.dropAll(root.toString)
        // atomic publish: a crash mid-create must not leave a torn meta
        // that every later open trips over
        graft.FsText.writeAtomic(spark, metaPath, create.toString)
        create
      }
    new OccStateStore(spark, stateDir, buckets, retainVersions, compactAt)
  }
}
