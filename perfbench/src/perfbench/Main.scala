package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.core.Sessions

/** The benchmark program: one JVM, one closed-loop client. It builds a
  * `local[cores]` session and generates the workload's inputs from the
  * seed (three times; the median is the set-up figure), then runs passes
  * back to back until `--seconds` have elapsed, at least one. The first
  * pass is the first time the JVM runs the workload, as in a batch job.
  * With `--trace 1` the first pass is traced and gives the per-layer
  * counters. An untraced pass follows to let the JVM settle, then a
  * traced and an untraced one: their difference is the tracing overhead.
  * An untraced run then repeats the workload's headline stage
  * (`Workload.repeat`). Correctness checks run once afterwards.
  * Everything measured is written to `--out` as JSON; `perfbench/run.py`
  * turns it into the benchmark's metrics.
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  @volatile private var calibSink = 0L

  /** Fixed single-thread memory-bandwidth work: strided passes over a
    * 64 MB array, timed. It reads slow when co-tenants contend for memory
    * bandwidth, so it tells load apart from code.
    */
  private def calibrate(): Double = {
    val a = Array.tabulate(8 * 1024 * 1024)(i => i * 0x9E3779B97F4A7C15L)
    var sink = 0L
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 24) {
      var i = (pass * 7) % 16
      while (i < a.length) { sink += a(i); i += 16 }
      pass += 1
    }
    calibSink = sink
    (System.nanoTime() - t0) / 1e9
  }

  private val Analytics = Set("wall_s", "shuffle_write_mb")
  private val Full = Seq("wall_s", "jobs", "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "driver_gap_s")
  private val PerIterGap = Set("graph.join_pagerank", "graph.cc", "graph.lpa")

  /** Per-layer counters of one span, the subset the benchmark reports. */
  private def layerMetrics(name: String, c: Map[String, Double]): Map[String, Double] = {
    val keep =
      if (name.startsWith("analytics.") && name != "analytics.link_group") c.filter(kv => Analytics(kv._1))
      else c.filter(kv => Full.contains(kv._1) || kv._1 == "iters" || kv._1 == "prepare_s" ||
        (kv._1 == "shuffle_read_mb" && name == "ingest.edges"))
    val perIter =
      if (PerIterGap(name) && c.getOrElse("iters", 0.0) > 0)
        Map("driver_gap_s_per_iter" -> c("driver_gap_s") / c("iters"))
      else Map.empty
    (keep ++ perIter).map { case (k, v) => s"$name.$k" -> v }
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val jvmStartS = mainMs / 1e3 - opt("launched-at").toDouble

    val shuffleDir = new File(work, "spark-local").getPath
    System.setProperty("spark.graft.local.dir", shuffleDir)
    val (spark, sessionS) = Workload.timed(Sessions.local(cores, "perfbench"))
    val tr = new Tracer(spark.sparkContext)
    tr.record("core.session", sessionS)

    val w: Workload = workload match {
      case "corpus_to_graph" => new CorpusToGraph(spark, tr, work, seed, opt("rows").toLong)
      case "mag_queries" => new MagQueries(spark, tr, work, seed, opt("tables"))
      case other => sys.error(s"unknown workload $other")
    }
    val genS = (1 to 3).map(_ => Workload.timed(w.generate())._2)
    val calibS = calibrate()

    final case class Pass(k: Int, traced: Boolean, wallS: Double, cpuS: Double, named: Map[String, Double],
                          heapMb: Double, coverage: Double)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var extras = Map.empty[String, Double]
    val memory = ManagementFactory.getMemoryMXBean
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    var k = 0
    def sinceStart = (System.currentTimeMillis() - mainMs) / 1e3
    while (k == 0 || elapsed < budget || (trace && k < 4 && sinceStart < 100)) {
      val traced = trace && k % 2 == 0
      tr.setTracing(traced)
      tr.pass = k
      val cpu0 = os.getProcessCpuTime
      val (named, wall) = Workload.timed(w.pass(k))
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      tr.setTracing(false)
      if (traced && extras.isEmpty) extras = w.traceExtras(k)
      w.between()
      // the heap the pass left live: blocks of collected RDDs are dropped
      // by Spark's cleaner after the first collection, so collect twice
      System.gc()
      Thread.sleep(300)
      System.gc()
      val heapMb = memory.getHeapMemoryUsage.getUsed / 1048576.0
      val top = tr.spans.filter(s => s.pass == k && s.parent == -1).map(_.wallS).sum
      passes += Pass(k, traced, wall, cpuS, named, heapMb, top / wall)
      k += 1
    }
    val (_, repeatS) = Workload.timed(if (!trace) w.repeat())

    val (wChecks, checksS) = Workload.timed(w.checks())
    val checks = wChecks ++ passes.map(p =>
      Check(s"trace.top_span_coverage.pass${p.k}", p.coverage >= 0.95, f"coverage=${p.coverage}%.4f"))

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val layers = tr.spans.filter(_.pass == 0).flatMap(s => layerMetrics(s.name, tr.counterSet(s)))
      val later = passes.filter(_.k > 1)
      val untracedRun = median(later.filterNot(_.traced).map(_.wallS).toSeq)
      val tracedRun = median(later.filter(_.traced).map(_.wallS).toSeq)
      layers.toMap ++ passes.head.named ++ extras ++ Map(
        "core.session.wall_s" -> sessionS,
        "trace_overhead_s" -> (if (tracedRun > 0 && untracedRun > 0) tracedRun - untracedRun else 0.0),
        "trace.top_span_coverage" -> passes.head.coverage)
    }

    val spanJson = Json.arr(tr.spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "pass" -> s.pass.toString, "traced" -> s.traced.toString,
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "wall_s" -> Json.num(s.wallS), "extras" -> Json.nums(s.extras)))))
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "setup" -> Json.nums(Seq("jvm_start_s" -> jvmStartS, "session_s" -> sessionS,
        "gen_median_s" -> median(genS))),
      "gen_s" -> Json.arr(genS.map(Json.num)),
      "repeat_s" -> Json.num(repeatS),
      "checks_s" -> Json.num(checksS),
      "stage_samples" -> Json.arr(w.stageSamples.map(Json.num)),
      "regime" -> Json.obj(Seq("cores" -> cores.toString,
        "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "shuffle_dir" -> Json.str(shuffleDir), "calib_s" -> Json.num(calibS))),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "k" -> p.k.toString, "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS),
        "cpu_s" -> Json.num(p.cpuS), "heap_mb" -> Json.num(p.heapMb), "coverage" -> Json.num(p.coverage),
        "named" -> Json.nums(p.named))))),
      "attempted" -> (w.attempted + checks.size).toString,
      "failed" -> (w.failed + checks.count(!_.ok)).toString,
      "checks" -> Json.arr(checks.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))),
      "per_layer" -> Json.nums(perLayer.toSeq.sortBy(_._1)),
      "spans" -> spanJson))
    Files.write(new File(opt("out")).toPath, out.getBytes(StandardCharsets.UTF_8))
    w match {
      case m: MagQueries =>
        Files.write(new File(work, "mag_results.json").toPath, m.resultsJson.getBytes(StandardCharsets.UTF_8))
      case _ => ()
    }
    spark.stop()
  }
}
