package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-time otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** `body`'s value and the number of jobs it submitted. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val (out, starts) = jobStartsOf(body)
    (out, starts.size)
  }

  /** `body`'s value and the start events of the jobs it submitted. */
  protected def jobStartsOf[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      (out, starts.toArray(Array.empty[SparkListenerJobStart]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
