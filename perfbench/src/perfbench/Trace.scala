package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a module, named `<module>.<call>`. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, traced: Boolean,
                      startMs: Long, endMs: Long, wallS: Double, gcS: Double,
                      extras: Map[String, Double])

/** Spark counters of the jobs run under one job group (= one span). */
final class GroupCounters {
  var jobs = 0
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // job (start, end) epoch ms
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** The benchmark's own listener: attributes every job, and every task of
  * its stages, to the job group that was set when the job started.
  */
final class Counters extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  val groups = mutable.Map.empty[String, GroupCounters]

  private def of(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
      of(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(g => of(g).intervals += ((jobStart.remove(e.jobId).get, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val c = of(g)
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
  }
}

/** Span recorder. Every span records its wall time and the JVM's GC time;
  * while tracing is on, it also tags its jobs with a job group of its own
  * so that the listener's counters can be attributed to it. Spans are kept
  * in memory and written out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new Counters
  private var nextId = 0
  private var stack = List.empty[Int]
  private var tracing = false
  var pass = -1

  /** Attach or detach the listener; untraced passes run without it. */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) sc.addSparkListener(counters) else sc.removeSparkListener(counters)
    tracing = on
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Record a span timed by the caller (the session, built before the
    * tracer can exist).
    */
  def record(name: String, wallS: Double): Unit = {
    val now = System.currentTimeMillis()
    spans += Span(nextId, name, -1, pass, tracing, now - (wallS * 1e3).toLong, now, wallS, 0.0, Map.empty)
    nextId += 1
  }

  /** Run `body` as span `name`. The body may add extras (iteration counts,
    * prepare time) through the returned map.
    */
  def span[A](name: String)(body: mutable.Map[String, Double] => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val extras = mutable.Map.empty[String, Double]
    if (tracing) sc.setJobGroup(s"span-$id", name)
    stack = id :: stack
    val gc0 = gcSeconds()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(extras)
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      if (tracing) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", spans.find(_.id == p).map(_.name).getOrElse(""))
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, pass, tracing, startMs, endMs, wall, gcSeconds() - gc0, extras.toMap)
    }
  }

  /** Spans' ids with all their descendants' ids. */
  private def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ subtree(k))
  }

  /** Counters of one traced span, its descendants' jobs included. */
  def counterSet(s: Span): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val gs = subtree(s.id).toSeq.flatMap(i => counters.synchronized(counters.groups.get(s"span-$i")))
    val iv = gs.flatMap(_.intervals).map { case (a, b) => (a max s.startMs, b min s.endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = curE max b
    }
    covered += curE - curS
    Map(
      "wall_s" -> s.wallS,
      "jobs" -> gs.map(_.jobs).sum.toDouble,
      "exec_cpu_s" -> gs.map(_.cpuNs).sum / 1e9,
      "gc_s" -> s.gcS,
      "shuffle_write_mb" -> gs.map(_.shuffleWrite).sum / 1048576.0,
      "shuffle_read_mb" -> gs.map(_.shuffleRead).sum / 1048576.0,
      "spill_mb" -> gs.map(_.spill).sum / 1048576.0,
      "driver_gap_s" -> math.max(0.0, s.wallS - covered / 1e3)
    ) ++ s.extras
  }
}
