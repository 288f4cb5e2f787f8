package graft.graph

import graft.SparkSpec
import graft.ingest.Edge
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.rand

import java.nio.file.Files

/** One grid per input and shape: runs on the same `Dataset` reuse it, a
  * changed input is rejected on resume, and the grids go once the input
  * is replaced or unreachable.
  */
class GridReuseSpec extends SparkSpec {
  import spark.implicits._

  private def ds(edges: Seq[(Long, Long)]): Dataset[Edge] = edges.toDF("src", "dst").as[Edge]
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  private def fixed(k: Int) = PageRankConfig(tol = 0.0, maxIter = k)

  test("a second run on the same Dataset runs no prepare job and returns the same output, at P = 1 and 4") {
    // 5000's only edge is a self-loop: in CC's result, not in LPA's
    val edges = Oracles.randomGraph(300, 1200, seed = 41) :+ ((5000L, 5000L))
    for (p <- Seq(1, 4)) withLoopPartitions(p) {
      val d = ds(edges)
      def all() = {
        val pr = PageRank.run(d, fixed(6))
        val cc = ConnectedComponents.run(d)
        val lpa = LabelPropagation.run(d, maxIter = 10)
        val rows = (pr.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap, pr.deltas,
          pairs(cc.components), cc.rounds, pairs(lpa.labels), lpa.iterations, TriangleCount.count(d))
        (rows, pr.iterations, cc.rounds, lpa.iterations)
      }
      val (first, _, _, _) = all()
      // warm: one job per round and one for the result's checkpoint; one for the triangles
      val prJobs = jobsOf(PageRank.run(d, fixed(6)))
      val ccJobs = jobsOf(ConnectedComponents.run(d))
      val lpaJobs = jobsOf(LabelPropagation.run(d, maxIter = 10))
      val triJobs = jobsOf(TriangleCount.count(d))
      val (again, prIters, ccRounds, lpaIters) = all()
      assert(again == first, s"P = $p: the second run differs")
      assert(prJobs == prIters + 1, s"P = $p: warm PageRank ran $prJobs jobs")
      assert(ccJobs == ccRounds + 1, s"P = $p: warm CC ran $ccJobs jobs")
      assert(lpaJobs == lpaIters + 1, s"P = $p: warm LPA ran $lpaJobs jobs")
      assert(triJobs == 1, s"P = $p: the warm triangle count ran $triJobs jobs")
      assert(first._3(5000L) == 5000L && !first._5.contains(5000L))
    }
  }

  test("a different P rebuilds the grid") {
    val edges = Oracles.randomGraph(200, 800, seed = 5)
    val d = ds(edges)
    val at1 = withLoopPartitions(1)(pairs(ConnectedComponents.run(d).components))
    val grids1 = GridLoop.keptRdds
    val at3 = withLoopPartitions(3)(pairs(ConnectedComponents.run(d).components))
    assert(at1 == at3 && at3 == Oracles.connectedComponents(edges))
    assert((GridLoop.keptRdds & grids1).isEmpty && (persisted & grids1).isEmpty)
  }

  test("CC then LPA and LPA then CC share the grid and match their oracles with a self-loop-only vertex") {
    val edges = Oracles.randomGraph(120, 400, seed = 37) ++ Seq((777L, 777L), (3L, 3L))
    val wantCc = Oracles.connectedComponents(edges)
    val (wantLpa, wantIters, _) = Oracles.labelPropagation(edges, 10)
    assert(wantCc(777L) == 777L && !wantLpa.contains(777L))
    val ccFirst = ds(edges)
    assert(pairs(ConnectedComponents.run(ccFirst).components) == wantCc)
    val lpa = LabelPropagation.run(ccFirst, maxIter = 10)
    assert(pairs(lpa.labels) == wantLpa && lpa.iterations == wantIters)
    val lpaFirst = ds(edges)
    val lpa2 = LabelPropagation.run(lpaFirst, maxIter = 10)
    assert(pairs(lpa2.labels) == wantLpa && lpa2.iterations == wantIters)
    assert(pairs(ConnectedComponents.run(lpaFirst).components) == wantCc)
  }

  test("an LPA run dir without rows for self-loop-only vertices resumes to the uninterrupted result") {
    // the format LPA committed before CC and LPA shared a grid: no row for 777
    val edges = Oracles.randomGraph(120, 400, seed = 37) :+ ((777L, 777L))
    val (atTwo, two, _) = Oracles.labelPropagation(edges, 2)
    val (atOne, _, _) = Oracles.labelPropagation(edges, 1)
    assert(two == 2 && !atTwo.contains(777L))
    val dir = Files.createTempDirectory("graft-lpa-oldformat").toString
    Supersteps.commit(spark, dir, 2, atTwo.toSeq.toDF("id", "label"),
      Map("iter" -> 2.0, "changed" -> atTwo.count { case (v, l) => atOne(v) != l }.toDouble, "converged" -> 0.0))
    val full = LabelPropagation.run(ds(edges), maxIter = 10)
    val resumed = LabelPropagation.resume(ds(edges), dir, maxIter = 10)
    assert(pairs(resumed.labels) == pairs(full.labels))
    assert((resumed.iterations, resumed.converged) == ((full.iterations, full.converged)))
  }

  test("PageRank resume on changed edges fails before any round, naming the run dir") {
    val edges = Oracles.randomGraph(150, 700, seed = 19)
    val dir = Files.createTempDirectory("graft-csr-changed").toString
    CsrPageRank.run(ds(edges), PageRankConfig(tol = 0.0, maxIter = 3, checkpoint = Durable(dir, 1)))
    val cfg = PageRankConfig(tol = 0.0, maxIter = 8, checkpoint = Durable(dir, 1))
    val changed = Seq(
      "an added edge to a new vertex" -> (edges :+ ((0L, 1000L))),
      "a removed edge" -> edges.tail)
    for ((name, e) <- changed) {
      // every round would commit (every = 1): the last commit stays step 3
      val cold = intercept[IllegalStateException](CsrPageRank.resume(ds(e), dir, cfg))
      assert(cold.getMessage.contains(s"the edges do not match the run in $dir"), s"$name: ${cold.getMessage}")
      assert(Supersteps.lastCommitted(spark, dir).contains(3), s"$name: a round ran")
      // on a kept grid the check runs no job besides the snapshot's lineage check
      val warm = ds(e)
      CsrPageRank.run(warm, fixed(1))
      val lineage = jobsOf(Supersteps.readState(spark, dir, 3))
      var err: IllegalStateException = null
      val jobs = jobsOf { err = intercept[IllegalStateException](CsrPageRank.resume(warm, dir, cfg)) }
      assert(err.getMessage.contains(s"the edges do not match the run in $dir"), s"$name: ${err.getMessage}")
      assert(jobs == lineage, s"$name: $jobs jobs, $lineage of them the lineage check")
      assert(Supersteps.lastCommitted(spark, dir).contains(3), s"$name: a round ran")
    }
    // the unchanged edges still resume
    assert(CsrPageRank.resume(ds(edges), dir, cfg).iterations == 8)
  }

  test("CC and LPA resume on changed edges fails before any round, naming the run dir") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    val changed = Seq(
      "a removed edge" -> chain.filterNot(_ == ((20L, 21L))),
      "an added edge to a new vertex" -> (chain :+ ((40L, 41L))))
    val labelRuns = Seq[(String, (Dataset[Edge], String, Int) => Map[Long, Long])](
      "CC" -> ((d, dir, k) => pairs(ConnectedComponents.resume(d, dir, maxRounds = k).components)),
      "LPA" -> ((d, dir, k) => pairs(LabelPropagation.resume(d, dir, maxIter = k).labels)))
    for ((algo, resume) <- labelRuns) {
      val dir = Files.createTempDirectory(s"graft-${algo.toLowerCase}-changed").toString
      val stopped = if (algo == "CC") ConnectedComponents.run(ds(chain), maxRounds = 2,
        checkpoint = Durable(dir, 1)).rounds
      else LabelPropagation.run(ds(chain), maxIter = 2, checkpoint = Durable(dir, 1)).iterations
      assert(stopped == 2)
      for ((name, e) <- changed) {
        val err = intercept[IllegalStateException](resume(ds(e), dir, 50))
        assert(err.getMessage.contains(s"the edges do not match the run in $dir"), s"$algo, $name: ${err.getMessage}")
        assert(Supersteps.lastCommitted(spark, dir).contains(2), s"$algo, $name: a round ran")
      }
      // the unchanged edges still resume
      val want = if (algo == "CC") Oracles.connectedComponents(chain) else Oracles.labelPropagation(chain, 50)._1
      assert(resume(ds(chain), dir, 50) == want, algo)
    }
  }

  test("a run on a second Dataset releases the first Dataset's grids") {
    val first = ds(Oracles.randomGraph(150, 600, seed = 23))
    PageRank.run(first, fixed(2))
    ConnectedComponents.run(first)
    val grids = GridLoop.keptRdds
    assert(grids.size == 4 && grids.subsetOf(persisted))
    LabelPropagation.run(ds(Oracles.randomGraph(50, 100, seed = 3)), maxIter = 3)
    assert((persisted & grids).isEmpty, "the first Dataset's grids are still persisted")
    assert(first.count() > 0) // still reachable: released by the second run, not by GC
  }

  /** Runs PageRank and CC on a Dataset that is unreachable on return; returns its grids' RDD ids. */
  private def runAndDrop(): Set[Int] = {
    val d = ds(Oracles.randomGraph(150, 600, seed = 29))
    PageRank.run(d, fixed(2))
    ConnectedComponents.run(d)
    GridLoop.keptRdds
  }

  test("dropping the input and running GC releases its grids") {
    val grids = runAndDrop()
    assert(grids.size == 4 && grids.subsetOf(persisted))
    var tries = 0
    while ((persisted & grids).nonEmpty && tries < 100) {
      System.gc()
      Thread.sleep(100)
      tries += 1
    }
    assert((persisted & grids).isEmpty, "the dropped input's grids are still persisted")
  }

  test("a nondeterministic input's grid is never kept") {
    val edges = Oracles.randomGraph(150, 600, seed = 31)
    val d = ds(edges).filter(rand() < 2)
    assert(!d.queryExecution.analyzed.deterministic)
    for (_ <- 1 to 2) {
      val kept = GridLoop.keptRdds
      val before = persisted
      val cc = ConnectedComponents.run(d).components
      val scanned = cc.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
      assert(persisted -- before == scanned, "a grid outlived its run")
      assert(GridLoop.keptRdds == kept)
      assert(pairs(cc) == Oracles.connectedComponents(edges))
    }
  }
}
