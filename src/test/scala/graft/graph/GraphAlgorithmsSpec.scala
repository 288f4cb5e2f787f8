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

  // --- Triangle counting ----------------------------------------------

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
