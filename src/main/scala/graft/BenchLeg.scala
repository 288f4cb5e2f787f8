package graft

import graft.core.Sessions
import graft.ingest.Edge
import graft.graph.{CsrPageRank, LocalOnly, PageRankConfig}
import org.apache.spark.sql.Encoders

/** One scaling-gate leg, run as its OWN JVM (Bench forks it, optionally
  * pinned to exactly N host CPUs with taskset): fixed-iteration CSR
  * PageRank over a given edge parquet at a given parallelism and a FIXED
  * shuffle-partition count, so every leg executes the identical task
  * graph and only the core count varies — the single-box stand-in for
  * running the same spark-submit job at N and 4N executors.
  *
  * A forked JVM per leg is the round-2 lesson: the driver's
  * sweep-then-scale single-JVM bench read a 9x-inflated small leg
  * (cache/GC state leaked from 45 prior queries), efficiency 2.2 —
  * superlinear, i.e. meaningless. A fresh pinned process has no such
  * state.
  *
  * Usage: graft.BenchLeg <cores> <edgeParquet> <iters> <shuffleParts>
  * Prints one JSON line: {"cores":..,"t_sec":..,"prepare_sec":..,
  * "loop_sec":..,"edges":..}
  */
object BenchLeg {
  private implicit val edgeEnc: org.apache.spark.sql.Encoder[Edge] = Encoders.product[Edge]

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val path = args(1)
    val iters = args(2).toInt
    val parts = args(3).toInt
    sys.props("spark.graft.shuffle.parts") = parts.toString
    if (!sys.env.contains("SPARK_GRAFT_LOCAL_DIR") && new java.io.File("/dev/shm").isDirectory)
      sys.props("spark.graft.local.dir") = "/dev/shm/graft-spark"

    val s = Sessions.local(cores, s"graft-bench-leg-$cores")
    try {
      val edges = s.read.parquet(path).as[Edge]
      edges.count() // parquet footers + page cache outside the timer
      // Full-size warm run (prepare + 2 iters): JIT-compiles the real
      // loop shapes and settles GC before anything is timed — a prefix
      // warm-up left the short large-core leg ~15% noisy run to run.
      CsrPageRank.run(edges,
        PageRankConfig(tol = 0.0, maxIter = 2, checkpoint = LocalOnly()))
      // Timed runs (default 1; Bench forks each leg twice in alternating
      // order instead — time-separated windows beat back-to-back repeats
      // against bursty co-tenant load); report the fastest (noise-floor
      // protocol: the gate is a property of the code, not of scheduler
      // luck on a shared box).
      val timedRuns = if (args.length > 4) args(4).toInt else 1
      val runs = (1 to timedRuns).map { _ =>
        // a Dataset of its own: the run builds its grid instead of reusing the warm-up's
        val own = s.read.parquet(path).as[Edge]
        val t0 = System.nanoTime()
        val r = CsrPageRank.run(own,
          PageRankConfig(tol = 0.0, maxIter = iters, checkpoint = LocalOnly()))
        ((System.nanoTime() - t0) / 1e9, r)
      }
      val (secs, r) = runs.minBy(_._1)
      println(
        s"""{"cores":$cores,"t_sec":${"%.2f".format(secs)},"prepare_sec":${"%.2f".format(r.prepareSeconds)},""" +
        s""""loop_sec":${"%.2f".format(r.loopSeconds)},"edges":${r.edgeCount},"timed_runs":${runs.length},""" +
        s""""all_t_sec":[${runs.map(x => "%.2f".format(x._1)).mkString(",")}]}""")
    } finally s.stop()
  }
}
