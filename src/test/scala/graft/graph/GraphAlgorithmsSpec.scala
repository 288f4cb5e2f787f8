package graft.graph

import graft.SparkSpec
import graft.ingest.Edge

class GraphAlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  private def ds(edges: Seq[(Long, Long)]) = edges.toDF("src", "dst").as[Edge]

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(ds(edges)).components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  // --- Connected components -------------------------------------------

  test("CC: two 4-cliques + bridge = one component") {
    val c1 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val c2 = for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b)
    val edges = c1 ++ c2 :+ ((3L, 10L))
    val got = ccMap(edges)
    assert(got.values.toSet == Set(0L))
    assert(got.keySet == (0L to 3L).toSet ++ (10L to 13L).toSet)
  }

  test("CC: disconnected forest -> component id = min vertex id") {
    val edges = Seq(
      (5L, 6L), (6L, 7L),            // tree rooted at 5
      (20L, 21L),                    // pair
      (30L, 31L), (31L, 32L), (30L, 33L), // tree at 30
      (40L, 41L), (42L, 41L),        // tree at 40
      (50L, 51L)
    )
    assert(ccMap(edges) == Oracles.connectedComponents(edges))
  }

  test("CC: long chain (O(log n) rounds, not O(diameter))") {
    val edges = (0L until 200L).map(i => (i, i + 1))
    val r = ConnectedComponents.run(ds(edges))
    val got = r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
    assert(r.rounds <= 12, s"expected logarithmic rounds, got ${r.rounds}")
  }

  test("CC: seeded random graph matches union-find oracle exactly") {
    val edges = Oracles.randomGraph(400, 600, seed = 3)
    assert(ccMap(edges) == Oracles.connectedComponents(edges))
  }

  test("CC: self-loops and duplicates are harmless") {
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L))
    val got = ccMap(edges)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 3L)
  }

  // --- Label propagation ----------------------------------------------

  test("LPA: self-loops and duplicates are harmless") {
    // one synchronous round: 1 hears only 2, 2 hears 1 and 3 (tie -> min);
    // 4's only edge is a self-loop, so it gets no row
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (4L, 4L))
    val got = LabelPropagation.run(ds(edges), maxIter = 1).labels.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 2L), s"got $got")
  }

  test("LPA: two 4-cliques + bridge -> two communities") {
    val c1 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val c2 = for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b)
    val edges = c1 ++ c2 :+ ((3L, 10L))
    val r = LabelPropagation.run(ds(edges), maxIter = 20)
    val labels = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val comm1 = (0L to 3L).map(labels).toSet
    val comm2 = (10L to 13L).map(labels).toSet
    assert(comm1.size == 1, s"clique 1 should agree on one label: $comm1")
    assert(comm2.size == 1, s"clique 2 should agree on one label: $comm2")
    assert(comm1 != comm2, "cliques should keep distinct communities")
  }

  test("LPA: deterministic across shuffle partition counts") {
    val edges = Oracles.randomGraph(150, 500, seed = 5)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val a = LabelPropagation.run(ds(edges), maxIter = 8).labels.collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val b = LabelPropagation.run(ds(edges), maxIter = 8).labels.collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("LPA matches the plain-Scala synchronous vote on every shape at P = 1, 3 and 8") {
    val maxIter = 10
    forEveryShapeAndP { (shape, edges) =>
      val (want, wantIters, wantConverged) = Oracles.labelPropagation(edges, maxIter)
      val r = LabelPropagation.run(ds(edges), maxIter = maxIter)
      val got = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == want, shape)
      assert((r.iterations, r.converged) == ((wantIters, wantConverged)), shape)
    }
  }

  test("LPA: Durable(every = 1) runs exactly the LocalOnly jobs, one per vote round") {
    // the star's hub and spokes swap labels every round, so no round is
    // the last one
    val star = (1001L to 1050L).map(i => (1000L, i))
    // both runs cold: each on its own Dataset, so each builds its grid
    def edges = ds(Oracles.randomGraph(200, 900, seed = 7) ++ star)
    val iters = 6
    var local: LabelPropagation.LpaResult = null
    val localJobs = jobsOf { local = LabelPropagation.run(edges, maxIter = iters) }
    assert(local.iterations == iters && !local.converged, "the run should use every round")
    val dir = java.nio.file.Files.createTempDirectory("graft-lpa-jobs").toString
    val durableJobs = jobsOf(LabelPropagation.run(edges, maxIter = iters, checkpoint = Durable(dir, 1)))
    assert(durableJobs == localJobs, s"durable $durableJobs jobs vs LocalOnly $localJobs")
    assert(Supersteps.lastCommitted(spark, dir).contains(iters))
    assert(localJobs <= iters + prepareJobs, s"$localJobs jobs for $iters rounds")
  }

  test("CC matches the union-find oracle on every shape at P = 1, 3 and 8") {
    forEveryShapeAndP { (shape, edges) =>
      val r = ConnectedComponents.run(ds(edges))
      val got = r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == Oracles.connectedComponents(edges), shape)
      assert(r.rounds <= 12, s"$shape: ${r.rounds} rounds")
    }
  }

  test("CC: Durable(every = 1) runs exactly the LocalOnly jobs, one per round") {
    def edges = ds((0L until 200L).map(i => (i, i + 1))) // both runs cold, as above
    var local: ConnectedComponents.CcResult = null
    val localJobs = jobsOf { local = ConnectedComponents.run(edges) }
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-jobs").toString
    val durableJobs = jobsOf(ConnectedComponents.run(edges, checkpoint = Durable(dir, 1)))
    assert(durableJobs == localJobs, s"durable $durableJobs jobs vs LocalOnly $localJobs")
    assert(Supersteps.lastCommitted(spark, dir).contains(local.rounds))
    assert(localJobs <= local.rounds + prepareJobs, s"$localJobs jobs for ${local.rounds} rounds")
  }

  /** The jobs a label loop runs besides its rounds: the input count that
    * sizes P (two jobs under the caller's AQE), the grid's one job (vertex
    * blocks, cells and their counts), and the result's checkpoint.
    */
  private val prepareJobs = 4

  /** `check(shape, edges)` for every graph shape at loop partition counts
    * P = 1, 3 and 8, forced with `withLoopPartitions` (8 is more than the
    * session's 4); `shape` names the shape and P.
    */
  private def forEveryShapeAndP(check: (String, Seq[(Long, Long)]) => Unit): Unit = {
    val c1 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val c2 = for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b)
    // every vertex i but the roots (multiples of 7) hangs off a smaller one
    val rnd = new scala.util.Random(11)
    val forest = (1L until 300L).filter(_ % 7 != 0).map(i => (rnd.nextInt(i.toInt).toLong, i))
    val shapes = Seq(
      "empty" -> Seq.empty[(Long, Long)],
      "self-loops only" -> Seq((1L, 1L), (2L, 2L), (2L, 2L)),
      "200-vertex chain" -> (0L until 199L).map(i => (i, i + 1)),
      "500-spoke star" -> (1L to 500L).map(i => (0L, i)),
      "two 4-cliques + bridge" -> (c1 ++ c2 :+ ((3L, 10L))),
      "sparse forest" -> forest,
      "random, seed 5" -> Oracles.randomGraph(150, 500, seed = 5),
      "random, seed 37" -> Oracles.randomGraph(120, 400, seed = 37),
      "duplicates in both directions" ->
        Oracles.randomGraph(60, 200, seed = 9).flatMap { case (a, b) => Seq((a, b), (b, a), (a, b)) })
    for (p <- Seq(1, 3, 8); (shape, edges) <- shapes)
      withLoopPartitions(p)(check(s"$shape at P = $p", edges))
  }

  // --- Triangle counting ----------------------------------------------

  test("triangles match the brute-force oracle on every shape at P = 1, 3 and 8") {
    forEveryShapeAndP { (shape, edges) =>
      assert(TriangleCount.count(ds(edges)) == Oracles.triangles(edges), shape)
    }
  }

  test("triangles: two 4-cliques + bridge = 8") {
    val c1 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val c2 = for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b)
    val edges = c1 ++ c2 :+ ((3L, 10L))
    assert(TriangleCount.count(ds(edges)) == 8L)
  }

  test("triangles: directionality and duplicates ignored") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (1L, 1L))
    assert(TriangleCount.count(ds(edges)) == 1L)
  }

  test("triangles: seeded random graph matches brute-force oracle") {
    val edges = Oracles.randomGraph(120, 900, seed = 13)
    assert(TriangleCount.count(ds(edges)) == Oracles.triangles(edges))
  }

  test("triangles: per-vertex counts sum to 3x total") {
    val edges = Oracles.randomGraph(80, 400, seed = 17)
    val total = Oracles.triangles(edges)
    val pv = TriangleCount.perVertex(ds(edges)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pv.values.sum == 3 * total)
  }
}
