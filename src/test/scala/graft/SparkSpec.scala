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

  /** Runs `body` with 1 shuffle partition, then with 8 and broadcast
    * joins off (the shuffled plan), passing it the partition count; both
    * settings are restored afterwards. */
  def onOneAndEightPartitions(body: Int => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(spark.conf.get)
    for ((parts, broadcast) <- Seq((1, saved(1)), (8, "-1"))) {
      spark.conf.set(keys(0), parts.toString)
      spark.conf.set(keys(1), broadcast)
      try body(parts)
      finally keys.zip(saved).foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  /** Asserts that `got` and `want` hold the same rows as multisets,
    * doubles compared by their bits (NaN equal to NaN). */
  def assertSameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]], context: String): Unit = {
    def counted(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
      rows.map(_.map {
        case x: Double => "d" + java.lang.Double.doubleToLongBits(x)
        case x => x
      }).groupBy(identity).map { case (r, rs) => r -> rs.size }
    val (g, w) = (counted(got), counted(want))
    val diff = (g.keySet ++ w.keySet).filter(r => g.get(r) != w.get(r)).take(3)
    assert(diff.isEmpty, s"$context: rows differ, e.g. " +
      diff.map(r => s"$r engine ${g.getOrElse(r, 0)}× oracle ${w.getOrElse(r, 0)}×").mkString("; "))
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
