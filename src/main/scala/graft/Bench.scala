package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every `SparkEntry.queries` entry against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout (driver contract).
  * Per-query progress goes to stderr. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder("graft-bench", Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session once (executor spin-up, codegen compiler, parquet
    // footers) so per-query numbers measure the queries, not JVM start.
    try {
      spark.range(1000).selectExpr("sum(id)").count()
      // warm the typed-UDAF path too: its encoder/codegen compile otherwise
      // lands entirely on the first aggregator query's recorded time
      graft.ops.TopK.grouped(
        spark.range(100).selectExpr("id % 10 AS g", "id", "CAST(id AS DOUBLE) AS v"),
        "g", "id", "v", k = 2).count()
      Seq("lineitem", "orders", "documents", "embeddings", "events").foreach {
        t => try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
        catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
    // dev aid: SPARK_GRAFT_ONLY="q84,q19" times just those queries (prefix
    // match on the qNN part); unset = the full driver-contract sweep
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    // Variance discipline (r7: a +14% cross-round drift was unreadable
    // against the documented ~2× host multicore noise): each query runs
    // `reps` times and reports the MEDIAN — cross-round deltas compare
    // medians, while `wall` keeps the honest total spent benchmarking.
    // SPARK_GRAFT_BENCH_REPS=1 restores the old single-shot behavior.
    // The wall BUDGET protects the driver artifact (rounds 1–6 lost it
    // to log-capture issues; a driver-side timeout would lose it again):
    // once `budget` seconds have elapsed, remaining queries run their
    // first rep only — every query still gets measured, extra reps are
    // what degrade. r10 (verdict item: the r9 artifact finished 2.4 s
    // under the 420 s budget): the sweep is now 100 queries and a
    // moderately-loaded window measured 410.7 s at 3 full reps
    // (BENCH_LOCAL_r10.json) even after the q13/q84/q90/q91 shaves, so
    // the default budget is 460 s — headroom for a slow window at 3
    // reps while staying inside the driver's capture patience.
    // Host canary (r13 verdict item 6): a FIXED-WORK single-thread CPU
    // kernel, zero Spark jobs, timed before the sweep — every bench
    // artifact now carries its own measurement-window calibration, so a
    // cross-round total delta can be read against the canary's delta
    // instead of arguing host noise from prose (the documented ~2×
    // hour-to-hour swing on this box). Median of 3; the kernel is a
    // fixed 2^30-step multiply-xor mix whose result is consumed so the
    // JIT cannot elide it.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < (1L << 30)) {
        h = (h ^ (h >>> 29)) * 0xbf58476d1ce4e5b9L
        h ^= h >>> 32
        i += 1L
      }
      if (h == 42L) System.err.println("canary collision (never)")
      (System.nanoTime() - t0) / 1e9
    }
    val canary = Seq.fill(3)(canaryOnce()).sorted.apply(1)
    System.err.println(f"[bench] host canary: $canary%.3f s (fixed work)")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val budget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "460").toDouble
    val wallT0 = System.nanoTime()
    def overBudget: Boolean = (System.nanoTime() - wallT0) / 1e9 > budget
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, rep: Int): Double = {
      // Isolate each run: a fresh child session (same SparkContext, clean
      // catalog/temp-view/conf state) and a post-query cache clear + GC so
      // the ContextCleaner reclaims broadcasts/shuffles before the next
      // timing — otherwise late-running queries inherit ~30 queries of
      // accumulated driver state and their recorded times drift far above
      // isolated runs.
      val qSession = spark.newSession()
      val t0 = System.nanoTime()
      // toRdd materializes the FULL output projection — a plain count()
      // lets Catalyst prune computed columns, so narrow per-row queries
      // (simhash, langid, filename formatting …) would time a scan only
      val n = try { fn(qSession, sfDir).queryExecution.toRdd.count() } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] $name FAILED: ${e.getMessage.take(200)}")
          -1L
      }
      val secs = (System.nanoTime() - t0) / 1e9
      qSession.catalog.clearCache()
      System.gc()
      System.err.println(f"[bench] $name rep $rep: $secs%.2f s ($n rows)")
      secs
    }
    // Reps run ROUND-ROBIN across queries (all rep-1 first, then rep-2, …),
    // not back-to-back per query: the r8 artifact hit the budget on its last
    // query and only the TAIL lost reps, making tail queries systematically
    // the noisiest. A budget hit now costs AT MOST ONE rep of skew: the
    // check is per (rep, query), so queries before the trip point in the
    // ordering keep that round's rep while later ones lose it — bounded
    // bias, accepted over a per-round check because an all-or-nothing
    // round could overshoot the wall by a full ~2-minute round right at
    // the budget edge. rep-1 is always complete for every query.
    val ordered = selected.toSeq
    val times = scala.collection.mutable.LinkedHashMap(
      ordered.map { case (name, _) => name -> List.newBuilder[Double] }: _*)
    // stdout is a log tail that can truncate (r03 lost q01-q15 to the
    // capture window) — persist the full artifact to a file as well.
    // The file is (re)written after EVERY completed rep round, not only
    // at the end (r10): a ~7-minute 100-query sweep killed by a driver
    // timeout used to lose the whole artifact; now a kill after round k
    // leaves a valid k-rep artifact on disk (medians over the reps run
    // so far, rep_counts recording how many).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    // ONE median + total definition shared by the file artifact and the
    // stdout tail line (r11 ADVICE: the two had duplicate copies that
    // could silently drift) — lower median of the reps recorded so far
    def median(ts: List[Double]): Double = ts.sorted.apply((ts.size - 1) / 2)
    def medians(): scala.collection.Map[String, Double] =
      times.collect { case (name, b) if b.result().nonEmpty =>
        name -> median(b.result()) }
    def totalOf(results: scala.collection.Map[String, Double]): Double =
      if (results.nonEmpty) results.values.sum else 0.0
    def artifactJson(): String = {
      val repCounts = times.map { case (k, b) => k -> b.result().size }
      val results = medians()
      val wall = (System.nanoTime() - wallT0) / 1e9
      val total = totalOf(results)
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val rcs = repCounts.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"wall":$wall,"canary":$canary,"queries":$qs,"rep_counts":$rcs,"sf":"$sfDir"}"""
    }
    def writeArtifact(label: String): Unit = try {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(outFile).toAbsolutePath.getParent)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), artifactJson())
      System.err.println(s"[bench] wrote $outFile ($label)")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    for (rep <- 1 to reps) {
      for ((name, fn) <- ordered) {
        if (rep == 1 || !overBudget) times(name) += runOnce(name, fn, rep)
      }
      writeArtifact(s"after rep round $rep")
    }
    val repCounts = times.map { case (k, b) => k -> b.result().size }
    val results = medians()
    results.foreach { case (name, m) =>
      System.err.println(
        f"[bench] $name median: $m%.2f s (${repCounts(name)} reps)")
    }
    val wall = (System.nanoTime() - wallT0) / 1e9
    val total = totalOf(results)
    // stop the session BEFORE the summary line so no late executor/cleaner
    // log can land after it — then print the totals JSON as the ABSOLUTE
    // LAST stdout line (five rounds of BENCH_r*.json parsed null because
    // the line preceded trailing log output in the captured tail).
    spark.stop()
    // stdout capture keeps only a ~2 KB tail (r04 lost q01-q18 to it and the
    // artifact parsed as null): the printed line must fit entirely inside the
    // tail, so round to centiseconds, shorten sf to its basename, and key by
    // the qNN prefix alone (86 full names measured 2057 bytes — past the
    // tail); the full-name, full-precision artifact is the file above
    val qsShort = results.map { case (k, v) =>
      f""""${k.takeWhile(_ != '_')}":$v%.2f""" }
      .mkString("{", ",", "}")
    val sfShort = new java.io.File(sfDir).getName
    // per-query rep counts live in the file artifact; the tail line carries
    // only the min actually run (== reps unless the budget degraded a rep)
    val repsMin = if (repCounts.nonEmpty) repCounts.values.min else reps
    println(
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","reps":$reps,"reps_min":$repsMin,"wall":$wall%.1f,"canary":$canary%.2f,"queries":$qsShort,"sf":"$sfShort"}""")
    System.out.flush()
  }
}
