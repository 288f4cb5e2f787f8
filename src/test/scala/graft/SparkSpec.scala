package graft

import graft.core.Sessions
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
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

  /** Runs `body` with the graph loops' grid dimension forced to `p`:
    * `graft.loop.target.rows` = 1 and `spark.sql.shuffle.partitions` = p
    * (P = min(p, the grid's rows)), both restored afterwards. */
  def withLoopPartitions[A](p: Int)(body: => A): A = {
    val rowsKey = "graft.loop.target.rows"
    val partsKey = "spark.sql.shuffle.partitions"
    val savedRows = sys.props.get(rowsKey)
    val savedParts = spark.conf.get(partsKey)
    sys.props(rowsKey) = "1"
    spark.conf.set(partsKey, p.toString)
    try body
    finally {
      savedRows match {
        case Some(v) => sys.props(rowsKey) = v
        case None    => sys.props.remove(rowsKey)
      }
      spark.conf.set(partsKey, savedParts)
    }
  }

  /** Runs declared query `q` over `dir` on session `s` (plan build and
    * collect) and returns its rows sorted, with the number of Spark jobs
    * it started. */
  def runQuery(s: SparkSession, dir: String, q: String): (Seq[Row], Int) = {
    var rows = Seq.empty[Row]
    val jobs = jobsOf { rows = SparkEntry.queries(q)(s, dir).collect().toSeq.sortBy(_.toString) }
    (rows, jobs)
  }
}
