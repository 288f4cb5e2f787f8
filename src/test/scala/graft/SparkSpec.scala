package graft

import graft.core.Sessions
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for all suites (tests run in one forked JVM;
  * the session is created once and left for JVM exit to reap).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")

  /** Spark jobs started while `body` runs, on any session of the shared
    * SparkContext (listener bus drained on both ends). */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerBusDrain(sc); n.get }
    finally sc.removeSparkListener(counter)
  }
}
