package graft.graph

import graft.SparkSpec
import graft.ingest.Edge
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.nio.file.Files

class CsrPageRankSpec extends SparkSpec {
  import spark.implicits._

  private def toMap(r: PageRankResult): Map[Long, Double] =
    r.ranks.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap

  // Fixed-superstep configs: both engines run the SAME number of
  // supersteps, so trajectories must agree to float noise — a stronger
  // (and bounded-runtime) check than comparing at convergence.
  private def fixed(k: Int) = PageRankConfig(tol = 0.0, maxIter = k)

  test("CSR blocks: lossless round trip of the edge set") {
    val edges = Oracles.randomGraph(100, 400, seed = 31)
    val ds = edges.toDF("src", "dst").as[Edge]
    val blocks = Adjacency.csrBlocks(ds, 4).collect()
    val back = blocks.flatMap { b =>
      b.srcIds.indices.flatMap(i =>
        (b.offsets(i) until b.offsets(i + 1)).map(j => (b.srcIds(i), b.dsts(j))))
    }.toSet
    assert(back == edges.toSet)
    blocks.foreach { b =>
      assert(b.offsets.length == b.srcIds.length + 1)
      assert(b.offsets.last == b.dsts.length)
      assert(b.srcIds.forall(s => Adjacency.pid(s, 4) == b.partId))
    }
  }

  test("durable checkpoints: mid-run parquet round-trip leaves the trajectory bit-identical") {
    val edges = Oracles.randomGraph(200, 900, seed = 7)
    val ds = edges.toDF("src", "dst").as[Edge]
    val runDir = java.nio.file.Files.createTempDirectory("graft-csr-durable").toString
    // every=3: two mid-run commits before the final one
    val durable = CsrPageRank.run(ds,
      PageRankConfig(tol = 0.0, maxIter = 9, checkpoint = Durable(runDir, every = 3)))
    val local = CsrPageRank.run(ds, fixed(9))
    assert(toMap(durable) == toMap(local), "committing perturbed the ranks")
    assert(Supersteps.lastCommitted(spark, runDir).contains(9))
    val committed = Supersteps.readState(spark, runDir, 9)
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(committed == toMap(durable), "committed snapshot differs from the final state")
  }

  test("resume from a mid-run checkpoint == uninterrupted run (bit-identical)") {
    val edges = Oracles.randomGraph(150, 700, seed = 19)
    val ds = edges.toDF("src", "dst").as[Edge]
    val fullDir = java.nio.file.Files.createTempDirectory("graft-csr-full").toString
    val partDir = java.nio.file.Files.createTempDirectory("graft-csr-part").toString
    val full = CsrPageRank.run(ds,
      PageRankConfig(tol = 0.0, maxIter = 8, checkpoint = Durable(fullDir, every = 8)))
    // killed run: 4 of 8 supersteps committed
    CsrPageRank.run(ds,
      PageRankConfig(tol = 0.0, maxIter = 4, checkpoint = Durable(partDir, every = 4)))
    val resumed = CsrPageRank.resume(ds, partDir,
      PageRankConfig(tol = 0.0, maxIter = 8, checkpoint = Durable(partDir, every = 4)))
    assert(resumed.iterations == 8)
    assert(toMap(resumed) == toMap(full), "resumed trajectory diverged")
    // resuming when nothing is left to do returns the state unchanged
    val again = CsrPageRank.resume(ds, partDir,
      PageRankConfig(tol = 0.0, maxIter = 8, checkpoint = Durable(partDir, every = 4)))
    assert(toMap(again) == toMap(full))
  }

  test("block size cap splits partitions by edge count") {
    val edges = (0L until 50L).flatMap(i => (0L until 20L).map(j => (i, 1000 + j)))
    val ds = edges.toDF("src", "dst").as[Edge]
    val blocks = Adjacency.csrBlocks(ds, 2, maxEdgesPerBlock = 100).collect()
    assert(blocks.forall(_.dsts.length <= 120)) // cap + one src overshoot
    assert(blocks.length > 2)
  }

  test("CSR PageRank trajectory == join PageRank (8 fixed supersteps, hubs)") {
    val edges = Oracles.randomGraph(500, 3000, seed = 37)
    val ds = edges.toDF("src", "dst").as[Edge]
    val a = toMap(PageRank.run(ds, fixed(8)))
    val b = toMap(CsrPageRank.run(ds, fixed(8)))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"vertex $k: $v vs ${b(k)}") }
  }

  test("CSR PageRank matches the power-iteration oracle incl. dangling (12 supersteps)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)) // 4 dangling
    val ds = edges.toDF("src", "dst").as[Edge]
    val got = toMap(CsrPageRank.run(ds, fixed(12)))
    val want = Oracles.pageRank(edges, tol = 0.0, maxIter = 12)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("P = 4: two uninterrupted runs and a resume give identical rank maps") {
    val ds = Oracles.randomGraph(300, 1200, seed = 41).toDF("src", "dst").as[Edge]
    val key = "graft.loop.target.rows"
    val saved = sys.props.get(key)
    sys.props(key) = "100" // ~1200 edges -> P = min(session's 4, 12) = 4
    try {
      val a = toMap(CsrPageRank.run(ds, fixed(10)))
      val b = toMap(CsrPageRank.run(ds, fixed(10)))
      val partDir = tmpDir("graft-csr-p4")
      CsrPageRank.run(ds, PageRankConfig(tol = 0.0, maxIter = 5, checkpoint = Durable(partDir, 5)))
      val parts = new java.io.File(f"$partDir/step=00005/state").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(parts == 4, "the snapshot should be written from 4 vertex partitions")
      val resumed = toMap(CsrPageRank.resume(ds, partDir,
        PageRankConfig(tol = 0.0, maxIter = 10, checkpoint = Durable(partDir, 5))))
      assert(a == b, "two uninterrupted runs differ")
      assert(resumed == a, "the resumed run differs from the uninterrupted one")
    } finally saved match {
      case Some(v) => sys.props(key) = v
      case None    => sys.props.remove(key)
    }
  }

  test("CSR resume fails on a snapshot that does not match its commit") {
    val ds = Oracles.randomGraph(150, 700, seed = 19).toDF("src", "dst").as[Edge]
    val partDir = tmpDir("graft-csr-corrupt")
    CsrPageRank.run(ds, PageRankConfig(tol = 0.0, maxIter = 4, checkpoint = Durable(partDir, 4)))
    // same row count, one rank changed, behind the intact _COMMIT marker
    val stateDir = s"$partDir/step=00004/state"
    val snap = spark.read.parquet(stateDir)
    val rows = snap.collect().toSeq
    val bumped = rows.head.toSeq.updated(snap.schema.fieldIndex("rank"), 0.5)
    spark.createDataFrame(
      spark.sparkContext.parallelize(org.apache.spark.sql.Row.fromSeq(bumped) +: rows.tail), snap.schema)
      .write.mode("overwrite").parquet(stateDir)
    assert(Supersteps.lastCommitted(spark, partDir).contains(4))
    val err = intercept[IllegalStateException](CsrPageRank.resume(ds, partDir, fixed(8)))
    assert(err.getMessage.contains(s"superstep 4 in $partDir"))
  }

  test("a durable commit adds at most one job per committed superstep") {
    val ds = Oracles.randomGraph(200, 900, seed = 7).toDF("src", "dst").as[Edge]
    val sc = spark.sparkContext
    def jobs(cfg: PageRankConfig): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(counter)
      try { CsrPageRank.run(ds, cfg); ListenerBusDrain(sc); n.get }
      finally sc.removeSparkListener(counter)
    }
    val iters = 6
    val local = jobs(fixed(iters))
    val durable = jobs(PageRankConfig(tol = 0.0, maxIter = iters,
      checkpoint = Durable(tmpDir("graft-csr-jobs"), every = 1)))
    assert(durable - local <= iters, s"durable $durable jobs vs LocalOnly $local for $iters commits")
  }

  /** Jobs started while `body` runs (listener bus drained on both ends). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerBusDrain(sc); n.get }
    finally sc.removeSparkListener(counter)
  }

  test("fused commits: Durable(every = 1) runs exactly the LocalOnly jobs") {
    val ds = Oracles.randomGraph(200, 900, seed = 7).toDF("src", "dst").as[Edge]
    val iters = 6
    val dir = tmpDir("graft-csr-fused")
    val local = jobsOf(CsrPageRank.run(ds, fixed(iters)))
    val durable = jobsOf(CsrPageRank.run(ds,
      PageRankConfig(tol = 0.0, maxIter = iters, checkpoint = Durable(dir, every = 1))))
    assert(durable == local, s"durable $durable jobs vs LocalOnly $local for $iters commits")
    assert(Supersteps.lastCommitted(spark, dir).contains(iters))
  }

  test("fused commits: converging off the commit schedule adds at most one job") {
    val ds = Oracles.randomGraph(200, 900, seed = 7).toDF("src", "dst").as[Edge]
    val cfg = PageRankConfig(tol = 1e-6)
    var iters = 0
    val local = jobsOf { iters = CsrPageRank.run(ds, cfg).iterations }
    assert(iters % 4 != 0, s"the run converges on step $iters, which is on the every-4 schedule")
    val dir = tmpDir("graft-csr-offschedule")
    val durable = jobsOf(CsrPageRank.run(ds, cfg.copy(checkpoint = Durable(dir, every = 4))))
    assert(durable <= local + 1, s"durable $durable jobs vs LocalOnly $local")
    assert(Supersteps.lastCommitted(spark, dir).contains(iters))
    assert(Supersteps.readMetrics(spark, dir, iters).converged)
    Supersteps.readState(spark, dir, iters) // the lineage check passes
  }
}
