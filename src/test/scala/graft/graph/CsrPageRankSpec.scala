package graft.graph

import graft.SparkSpec
import graft.ingest.Edge

import java.io.File
import java.nio.file.Files

class CsrPageRankSpec extends SparkSpec {
  import spark.implicits._

  private def toMap(r: PageRankResult): Map[Long, Double] =
    r.ranks.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap

  // Fixed-superstep configs: the engine and the oracle run the SAME
  // number of supersteps, so trajectories must agree to float noise — a
  // stronger (and bounded-runtime) check than comparing at convergence.
  private def fixed(k: Int) = PageRankConfig(tol = 0.0, maxIter = k)

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
    assert((again.edgeCount, again.vertexCount, again.iterations) ==
      ((full.edgeCount, full.vertexCount, full.iterations)))
    // so does resuming a converged run, from its commit's record
    val convDir = tmpDir("graft-csr-converged")
    val converged = CsrPageRank.run(ds, PageRankConfig(checkpoint = Durable(convDir, every = 1000)))
    val done = CsrPageRank.resume(ds, convDir, PageRankConfig())
    assert(converged.converged && done.converged)
    assert((done.edgeCount, done.vertexCount, done.iterations) ==
      ((converged.edgeCount, converged.vertexCount, converged.iterations)))
  }

  test("CSR PageRank matches the power-iteration oracle incl. dangling (12 supersteps)") {
    val inputs = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)) -> 12, // 4 dangling
      Oracles.randomGraph(500, 3000, seed = 37) -> 8)    // hubs
    for ((edges, k) <- inputs) {
      val got = toMap(CsrPageRank.run(edges.toDF("src", "dst").as[Edge], fixed(k)))
      val want = Oracles.pageRank(edges, tol = 0.0, maxIter = k)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"$v: $r vs ${want(v)}") }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("P = 4: two uninterrupted runs and a resume give identical rank maps") {
    val edges = Oracles.randomGraph(300, 1200, seed = 41)
    val ds = edges.toDF("src", "dst").as[Edge]
    withLoopPartitions(4) {
      val first = CsrPageRank.run(ds, fixed(10))
      // the 4-partition grid loses no edge and no vertex
      assert(first.edgeCount == edges.distinct.size)
      assert(first.vertexCount == edges.flatMap { case (s, d) => Seq(s, d) }.distinct.size)
      val a = toMap(first)
      val second = CsrPageRank.run(ds, fixed(10))
      val b = toMap(second)
      val partDir = tmpDir("graft-csr-p4")
      CsrPageRank.run(ds, PageRankConfig(tol = 0.0, maxIter = 5, checkpoint = Durable(partDir, 5)))
      val parts = new java.io.File(f"$partDir/step=00005/state").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(parts == 4, "the snapshot should be written from 4 vertex partitions")
      val resumedRun = CsrPageRank.resume(ds, partDir,
        PageRankConfig(tol = 0.0, maxIter = 10, checkpoint = Durable(partDir, 5)))
      val resumed = toMap(resumedRun)
      // resumed cold: on another Dataset of the same edges, which builds its grid
      val coldDir = tmpDir("graft-csr-p4-cold")
      CsrPageRank.run(ds, PageRankConfig(tol = 0.0, maxIter = 5, checkpoint = Durable(coldDir, 5)))
      val coldRun = CsrPageRank.resume(edges.toDF("src", "dst").as[Edge], coldDir,
        PageRankConfig(tol = 0.0, maxIter = 10, checkpoint = Durable(coldDir, 5)))
      assert(toMap(coldRun) == a, "the cold resumed run differs from the uninterrupted one")
      assert(coldRun.deltas == first.deltas.drop(5), "the cold resumed run reports different deltas")
      assert(a == b, "two uninterrupted runs differ")
      assert(resumed == a, "the resumed run differs from the uninterrupted one")
      // the deltas are summed in partition order: the same doubles every run
      assert(second.deltas == first.deltas, "two uninterrupted runs report different deltas")
      assert(resumedRun.deltas == first.deltas.drop(5), "the resumed run reports different deltas")
      // deltas hold the rounds the resume ran; iterations is the absolute step
      assert(resumedRun.iterations == 10 && resumedRun.deltas.size == 10 - 5)
      assert(coldRun.iterations == 10 && coldRun.deltas.size == 10 - 5)
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

  test("resume commits to its run dir: another Durable dir is rejected, and a second resume goes on") {
    val ds = Oracles.randomGraph(150, 700, seed = 19).toDF("src", "dst").as[Edge]
    val (a, b) = (tmpDir("graft-csr-resume-a"), tmpDir("graft-csr-resume-b"))
    def cfg(dir: String, iters: Int) = PageRankConfig(tol = 0.0, maxIter = iters, checkpoint = Durable(dir, every = 2))
    var err: IllegalArgumentException = null
    val jobs = jobsOf { err = intercept[IllegalArgumentException](CsrPageRank.resume(ds, a, cfg(b, 6))) }
    assert(err.getMessage.contains(a) && err.getMessage.contains(b), err.getMessage)
    assert(jobs == 0, s"$jobs jobs ran before the directory check")
    assert(new File(b).list().isEmpty)
    // the same directory, qualified, with its own commit schedule
    CsrPageRank.resume(ds, a, cfg(s"file:$a/", 6))
    assert(Supersteps.lastCommitted(spark, a).contains(6))
    assert(new File(a).list().sorted.toSeq == Seq(2, 4, 6).map(k => f"step=$k%05d"))
    val resumed = CsrPageRank.resume(ds, a, cfg(a, 8))
    assert(resumed.deltas.size == 2, "the second resume did not go on from step 6")
    assert(Supersteps.lastCommitted(spark, a).contains(8))
    assert(toMap(resumed) == toMap(CsrPageRank.run(ds, fixed(8))))
  }

  test("resume rejects an (id, rank) snapshot before any job runs, naming the missing column") {
    val ds = Oracles.randomGraph(150, 700, seed = 19).toDF("src", "dst").as[Edge]
    val dir = tmpDir("graft-csr-oldformat")
    // the snapshot format of the retired DataFrame-join engine
    Supersteps.commit(spark, dir, 5, Seq((1L, 0.5), (2L, 0.5)).toDF("id", "rank"), Map.empty)
    var err: IllegalStateException = null
    val jobs = jobsOf { err = intercept[IllegalStateException](CsrPageRank.resume(ds, dir, fixed(8))) }
    assert(err.getMessage.contains(s"superstep 5 in $dir has no outdeg column"), err.getMessage)
    assert(jobs == 0, s"$jobs jobs ran before the format check")
    // a run dir that recorded no schema is checked against the snapshot read back
    SuperstepsSpec.dropRecordedSchema(dir, 5)
    assert(Supersteps.readMetrics(spark, dir, 5).schema.isEmpty)
    val noSchema = intercept[IllegalStateException](CsrPageRank.resume(ds, dir, fixed(8)))
    assert(noSchema.getMessage.contains(s"superstep 5 in $dir has no outdeg column"))
  }

  // The job-count guards below compare cold runs: each on its own Dataset,
  // so each builds its grid.

  test("a durable commit adds at most one job per committed superstep") {
    def ds = Oracles.randomGraph(200, 900, seed = 7).toDF("src", "dst").as[Edge]
    def jobs(cfg: PageRankConfig): Int = jobsOf(CsrPageRank.run(ds, cfg))
    val iters = 6
    val local = jobs(fixed(iters))
    val durable = jobs(PageRankConfig(tol = 0.0, maxIter = iters,
      checkpoint = Durable(tmpDir("graft-csr-jobs"), every = 1)))
    assert(durable - local <= iters, s"durable $durable jobs vs LocalOnly $local for $iters commits")
  }

  test("fused commits: Durable(every = 1) runs exactly the LocalOnly jobs") {
    def ds = Oracles.randomGraph(200, 900, seed = 7).toDF("src", "dst").as[Edge]
    val iters = 6
    val dir = tmpDir("graft-csr-fused")
    val local = jobsOf(CsrPageRank.run(ds, fixed(iters)))
    val durable = jobsOf(CsrPageRank.run(ds,
      PageRankConfig(tol = 0.0, maxIter = iters, checkpoint = Durable(dir, every = 1))))
    assert(durable == local, s"durable $durable jobs vs LocalOnly $local for $iters commits")
    assert(Supersteps.lastCommitted(spark, dir).contains(iters))
  }

  test("fused commits: converging off the commit schedule adds at most one job") {
    def ds = Oracles.randomGraph(200, 900, seed = 7).toDF("src", "dst").as[Edge]
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
