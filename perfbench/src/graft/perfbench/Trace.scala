package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Scheduler totals of one job group. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; busyMs += o.busyMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Sums scheduler events per job group. Jobs carry the group that was set
  * on the submitting thread; stages and tasks inherit the group of the job
  * that submitted them. */
final class GroupListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.HashMap.empty[String, Counts]

  private def counts(group: String): Counts =
    byGroup.getOrElseUpdate(group, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    synchronized { val c = counts(group); c.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val group = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    synchronized { val c = counts(group); c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = stageGroup.getOrDefault(e.stageId, "")
    synchronized {
      val c = counts(group)
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Returns the counts gathered since the last call and starts afresh. */
  def take(sc: SparkContext): Map[String, Counts] = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    synchronized {
      val out = byGroup.toMap
      byGroup.clear()
      out
    }
  }
}

final case class Span(id: Int, iteration: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times calls into a layer's public functions from outside. When enabled,
  * each span sets its own job group, so the listener attributes every job
  * to the innermost open span; when not, one job group covers the whole
  * iteration and no span is kept. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var iteration = 0
  private val open = mutable.Stack.empty[(Int, String)]

  private def setGroup(name: String): Unit =
    sc.setJobGroup(name, name, interruptOnCancel = false)

  /** Runs iteration `i` under a root span named [[Tracer.Root]]. */
  def iterate[T](i: Int)(body: => T): T = {
    iteration = i
    span(Tracer.Root)(body)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) {
      setGroup(Tracer.Root)
      return body
    }
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push(id -> name)
    setGroup(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, iteration, name, parent, t0, System.nanoTime())
      open.pop()
      setGroup(open.headOption.map(_._2).getOrElse(Tracer.Root))
    }
  }
}

object Tracer {
  val Root = "iteration"
}
