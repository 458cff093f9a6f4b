package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.PipelineConfig

/** One benchmark run: builds a `local[N]` session, runs one cold iteration
  * of a workload (set-up), then warm iterations for the requested seconds,
  * checks every iteration's outputs and prints the metrics. The last
  * stdout line is the result object; the run's full record (host
  * calibration, per-iteration walls, spans) goes to `--artifact`.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1 --cores N
  *             --work-dir DIR --artifact FILE --ops-data DIR --ops-expected FILE
  */
object Main {
  /** Corpus size of `dlp_reference`: the reference's config.json sets
    * `per_sit_count` 100; the benchmark runs a tenth of it so that one run,
    * cold iteration included, fits its time box (see perfbench/README.md).
    * `dlp_10x` runs the reference's own size. */
  val ReferencePerSit = 10

  val AllLayers: Seq[String] = Workload.PipelineLayers ++ Seq("sink") ++
    OpsWorkload.Queries.map("ops." + _)
  /** Warm iterations a run makes even when `--seconds` ends sooner. */
  val MinWarmIterations = 1

  final case class Iter(index: Int, wall: Double, endNs: Long, checkS: Double,
                        groups: Map[String, Counts], gcS: Double, jitS: Double,
                        extras: Map[String, Double], fails: Seq[String]) {
    /** Scheduler counts of the jobs submitted inside span `name` and its
      * children; the root span covers the whole iteration. */
    def counts(name: String): Counts = {
      val c = new Counts
      groups.foreach { case (g, x) =>
        if (name == Tracer.Root || g == name || g.startsWith(name + "/")) c.add(x) }
      c
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val workDir = Paths.get(opts("work-dir")).toAbsolutePath

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc, trace)

    val workload: Workload = workloadName match {
      case "dlp_reference" => new DlpWorkload(spark, dlpConfig(seed, ReferencePerSit),
        Some(workDir.resolve("export")))
      case "dlp_10x" => new DlpWorkload(spark, dlpConfig(seed, ReferencePerSit * 10),
        None)
      case "ops_iterative" => new OpsWorkload(spark, opts("ops-data"),
        readHashes(Paths.get(opts("ops-expected"))))
      case other => sys.error(s"unknown workload $other")
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcSeconds = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3
    def jitSeconds = jit.getTotalCompilationTime / 1e3

    def runIteration(i: Int): Iter = {
      val (gc0, jit0) = (gcSeconds, jitSeconds)
      val start = System.nanoTime()
      val err = try { tracer.iterate(i)(workload.iteration(tracer)); None }
        catch { case e: Exception => Some(s"iteration $i failed: ${e.toString.take(300)}") }
      val endNs = System.nanoTime()
      val wall = (endNs - start) / 1e9
      val (gcS, jitS) = (gcSeconds - gc0, jitSeconds - jit0)
      val groups = listener.take(sc)
      val checkStart = System.nanoTime()
      val fails = err.toSeq ++ (if (err.isEmpty) workload.check() else Nil)
      val checkS = (System.nanoTime() - checkStart) / 1e9
      val extras = workload.extras()
      workload.cleanup()
      listener.take(sc) // drop the jobs of the untimed checks
      fails.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
      Iter(i, wall, endNs, checkS, groups, gcS, jitS, extras, fails)
    }

    val cold = runIteration(0)
    val setupS = (cold.endNs - t0) / 1e9
    val warm = Seq.newBuilder[Iter]
    val loopStart = System.nanoTime()
    var i = 1
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (elapsed < seconds || i <= MinWarmIterations) {
      warm += runIteration(i)
      i += 1
    }
    val warmIters = warm.result()
    val canary = Canary.seconds()
    spark.catalog.clearCache()
    val heapMb = retainedHeapMb()

    val all = cold +: warmIters
    val attempted = all.size * workload.operationsPerIteration
    val failed = all.map(_.fails.size.min(workload.operationsPerIteration)).sum
    val iterS = Stats.median(warmIters.map(_.wall))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("iter_s", iterS, "s"),
        ("docs_per_s", workload.docsPerIteration / iterS, "1/s"),
        ("heap_retained_mb", heapMb, "MB"),
        ("pass_frac", 1.0 - failed.toDouble / attempted, "ratio"))
      else layerMetrics(warmIters, tracer.spans.toSeq, cores)

    val host = Seq(
      "nproc" -> cores.toString, "N" -> cores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "canary_s" -> f"$canary%.4f")
    spark.stop()

    Report.print(workloadName, seed, trace, host, setupS, all, iterS,
      tracer.spans.toSeq, metrics, cores)
    Report.writeArtifact(Paths.get(opts("artifact")), workloadName, seed, trace,
      host, setupS, all, tracer.spans.toSeq, metrics)
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metricJson}}""")
    System.out.flush()
  }

  /** Heap in use once garbage stops shrinking it. Spark's ContextCleaner
    * frees broadcast and shuffle blocks only after a GC has cleared its weak
    * references, so one GC is not enough: collect, give the cleaner time,
    * and repeat until the reading is flat. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var now = collect()
    var rounds = 2
    while (last - now > 1.0 && rounds < 6) {
      last = now
      now = collect()
      rounds += 1
    }
    now
  }

  /** The reference config with the workload seed: `randomSeed` carries it,
    * and since the generator keys every draw on doc_id, the seed also
    * orders the SIT and format lists, so each seed plans other SITs and
    * formats for the same doc ids. Coverage and distributions keep their
    * shape. */
  def dlpConfig(seed: Long, perSit: Int): PipelineConfig = {
    val rnd = new scala.util.Random(seed)
    val base = PipelineConfig.default
    base.copy(randomSeed = seed, perSitCount = perSit,
      sits = rnd.shuffle(base.sits), formats = rnd.shuffle(base.formats))
  }

  private def readHashes(p: Path): Map[String, String] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    pair.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Per-layer figures: for each layer, the median over warm iterations
    * of its span wall (children included) and the scheduler counts of the
    * jobs its spans submitted. Layers a workload does not call read 0. */
  def layerMetrics(warm: Seq[Iter], spans: Seq[Span],
                   cores: Int): Seq[(String, Double, String)] = {
    def med(f: Iter => Double) = Stats.median(warm.map(f))
    def spanWall(it: Iter, name: String) =
      spans.filter(s => s.iteration == it.index && s.name == name).map(_.seconds).sum
    def spanMetrics(prefix: String, span: String, wall: Iter => Double) = Seq(
      (s"$prefix.wall_s", med(wall), "s"),
      (s"$prefix.jobs", med(_.counts(span).jobs.toDouble), "count"),
      (s"$prefix.tasks", med(_.counts(span).tasks.toDouble), "count"),
      (s"$prefix.busy_s", med(_.counts(span).busyMs / 1e3), "s"),
      (s"$prefix.core_use", med(it => Stats.ratio(it.counts(span).busyMs / 1e3, wall(it) * cores)), "ratio"),
      (s"$prefix.shuffle_bytes", med(_.counts(span).shuffleBytes.toDouble), "bytes"),
      (s"$prefix.spill_bytes", med(_.counts(span).spillBytes.toDouble), "bytes"))
    val self = Report.selfTimes(spans)
    AllLayers.flatMap { layer =>
      spanMetrics(layer, layer, spanWall(_, layer)) ++
        (if (layer.startsWith("ops.")) Seq(
          (s"$layer.build_s", med(spanWall(_, s"$layer/build")), "s"),
          (s"$layer.plan_s", med(spanWall(_, s"$layer/plan")), "s")) else Nil)
    } ++ Seq(
      ("sink.files_written", med(_.extras.getOrElse("sink.files_written", 0.0)), "count"),
      ("sink.bytes_written", med(_.extras.getOrElse("sink.bytes_written", 0.0)), "bytes")) ++
      spanMetrics("spark", Tracer.Root, _.wall).filterNot(_._1 == "spark.wall_s") ++ Seq(
      ("spark.stages", med(_.counts(Tracer.Root).stages.toDouble), "count"),
      ("spark.task_failures", med(_.counts(Tracer.Root).taskFailures.toDouble), "count"),
      ("jvm.gc_s", med(_.gcS), "s"),
      ("jvm.jit_s", med(_.jitS), "s"),
      ("iteration.wall_s", med(_.wall), "s"),
      ("iteration.self_s", med(it => spans.filter(s => s.iteration == it.index && s.name == Tracer.Root)
        .map(s => self(s.id)).sum), "s"))
  }
}
