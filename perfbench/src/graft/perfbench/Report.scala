package graft.perfbench

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** The highest percentile with at least ten samples beyond it, and its
    * value; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100 * (idx + 1) / s.size, s(idx)))
    }
}

/** Fixed-work single-thread CPU kernel, the same multiply-xor mix as the
  * host canary of `graft.Bench`, at an eighth of its 2^30 steps. The
  * result is scaled to 2^30 steps, so it reads in `graft.Bench` units. */
object Canary {
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < (1L << 27)) {
      h = (h ^ (h >>> 29)) * 0xbf58476d1ce4e5b9L
      h ^= h >>> 32
      i += 1L
    }
    if (h == 42L) System.err.println("canary collision")
    8 * (System.nanoTime() - t0) / 1e9
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

/** The human-readable report and the run's artifact file. */
object Report {
  import Main.Iter

  /** End-to-end metric each layer metric should move, per workload. */
  val Interactions = Seq(
    "spark.jobs, ops.*.jobs, ops.*.build_s, ops.*.plan_s -> iter_s on ops_iterative (then dlp_reference); none on dlp_10x",
    "pipeline.ContentGen.busy_s, pipeline.Validator.busy_s -> docs_per_s on dlp_10x; little on dlp_reference",
    "sink.*, pipeline.Validator.tasks -> docs_per_s on dlp_reference; none on ops_iterative or dlp_10x",
    "jvm.jit_s, cold-iteration jobs -> setup_s on every workload",
    "jvm.gc_s -> iter_s tail and heap_retained_mb")

  /** Self time of each span: its wall minus the walls of its children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val childWall = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Per-layer self time, wall and scheduler counts, median over `its`. */
  def layerTable(label: String, its: Seq[Iter], spans: Seq[Span], cores: Int): Unit = {
    val self = selfTimes(spans)
    println(s"$label (${its.size}):")
    println(f"  ${"span"}%-36s ${"self_s"}%8s ${"wall_s"}%8s ${"jobs"}%6s ${"tasks"}%6s ${"busy_s"}%8s ${"core_use"}%8s")
    val names = spans.filter(s => its.exists(_.index == s.iteration)).sortBy(_.startNs)
      .map(_.name).distinct
    names.foreach { name =>
      def med(f: Iter => Double) = Stats.median(its.map(f))
      def mine(it: Iter) = spans.filter(s => s.iteration == it.index && s.name == name)
      val wall = med(mine(_).map(_.seconds).sum)
      val busy = med(_.counts(name).busyMs / 1e3)
      println(f"  $name%-36s ${med(mine(_).map(s => self(s.id)).sum)}%8.3f $wall%8.3f " +
        f"${med(_.counts(name).jobs.toDouble)}%6.0f ${med(_.counts(name).tasks.toDouble)}%6.0f " +
        f"$busy%8.3f ${Stats.ratio(busy, wall * cores)}%8.3f")
    }
  }

  def print(workload: String, seed: Long, trace: Boolean, host: Seq[(String, String)],
            setupS: Double, iters: Seq[Iter], iterS: Double,
            spans: Seq[Span], metrics: Seq[(String, Double, String)], cores: Int): Unit = {
    println(s"== perfbench $workload seed=$seed trace=${if (trace) 1 else 0}")
    println("host: " + host.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val warm = iters.drop(1).map(_.wall)
    val tail = Stats.tail(warm).map { case (p, v) => f"p$p=$v%.3f s" }
      .getOrElse(s"no tail percentile (needs 11 samples)")
    println(f"cold: setup_s=$setupS%.3f (first iteration ${iters.head.wall}%.3f s, ${iters.head.counts(Tracer.Root).jobs} jobs)")
    println(f"warm: iter_s median=$iterS%.3f s over ${warm.size} iterations; $tail")
    println(s"checks: ${iters.map(_.fails.size).sum} failures in ${iters.size} iterations" +
      iters.flatMap(_.fails).take(5).map("\n  FAIL " + _).mkString)
    if (trace) {
      val m = metrics.map(x => x._1 -> x._2).toMap
      layerTable("cold iteration", iters.take(1), spans, cores)
      layerTable("warm iterations, median", iters.drop(1), spans, cores)
      val self = selfTimes(spans)
      val gap = iters.map { it =>
        math.abs(it.wall - spans.filter(_.iteration == it.index).map(s => self(s.id)).sum)
      }.maxOption.getOrElse(0.0)
      println(f"self times sum to the iteration wall within $gap%.4f s; tracing overhead = " +
        f"this run's iteration.wall_s ${m("iteration.wall_s")}%.3f s minus iter_s of an untraced run")
      println("which end-to-end metric each layer metric should move:")
      Interactions.foreach(l => println("  " + l))
    }
    println("metrics: " + metrics.map { case (n, v, u) => f"$n=$v%.4f $u" }.mkString(", "))
  }

  def writeArtifact(path: Path, workload: String, seed: Long, trace: Boolean,
                    host: Seq[(String, String)], setupS: Double, iters: Seq[Iter],
                    spans: Seq[Span], metrics: Seq[(String, Double, String)]): Unit = {
    import Json._
    val iterJson = iters.map(it => obj(Seq(
      "index" -> it.index.toString,
      "wall_s" -> num(it.wall), "jobs" -> it.counts(Tracer.Root).jobs.toString,
      "tasks" -> it.counts(Tracer.Root).tasks.toString,
      "check_s" -> num(it.checkS), "gc_s" -> num(it.gcS), "jit_s" -> num(it.jitS),
      "fails" -> arr(it.fails.map(str)))))
    val spanJson = spans.map(s => obj(Seq("id" -> s.id.toString,
      "iteration" -> s.iteration.toString, "name" -> str(s.name),
      "parent" -> s.parent.toString, "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString)))
    val warm = iters.drop(1).map(_.wall)
    val json = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "host" -> obj(host.map { case (k, v) => k -> str(v) }),
      "setup_s" -> num(setupS),
      "iter_tail" -> Stats.tail(warm).map { case (p, v) => obj(Seq("percentile" -> p.toString, "s" -> num(v))) }.getOrElse("null"),
      "warm_samples" -> warm.size.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "iterations" -> arr(iterJson),
      "spans" -> arr(spanJson)))
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, json)
  }
}
