package graft.graph

import graft.SparkSpec
import graft.ingest.{Corpus, Edge, EdgeExtraction}
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], cfg: PageRankConfig = PageRankConfig()) = {
    val ds = edges.toDF("src", "dst").as[Edge]
    PageRank.run(ds, cfg)
  }

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double], tol: Double = 1e-6): Unit = {
    assert(got.keySet == want.keySet, s"vertex sets differ: ${got.keySet} vs ${want.keySet}")
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < tol, s"vertex $k: got $v want ${want(k)}")
    }
  }

  private def toMap(r: PageRankResult): Map[Long, Double] =
    r.ranks.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap

  test("directed 3-cycle: uniform 1/3 each") {
    val r = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(r.converged)
    toMap(r).values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-6))
    assert(math.abs(toMap(r).values.sum - 1.0) < 1e-9, "mass conservation")
  }

  test("star: k spokes -> hub, analytic closed form") {
    // spokes 1..5 each point at hub 0; spokes are only teleport-fed.
    val k = 5
    val edges = (1 to k).map(i => (i.toLong, 0L))
    val r = run(edges)
    val got = toMap(r)
    val want = Oracles.pageRank(edges)
    assertClose(got, want)
    assert(got(0L) > got(1L) * 2, "hub dominates")
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("chain with dangling tail: dangling-mass redistribution") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)) // 4 is dangling
    val r = run(edges)
    assertClose(toMap(r), Oracles.pageRank(edges))
    assert(math.abs(toMap(r).values.sum - 1.0) < 1e-9, "dangling mass must be recycled")
  }

  test("seeded random graph (n=300): allclose 1e-6 vs power-iteration oracle") {
    val edges = Oracles.randomGraph(300, 1500, seed = 7)
    val r = run(edges, PageRankConfig(tol = 1e-8))
    assertClose(toMap(r), Oracles.pageRank(edges, tol = 1e-10, maxIter = 2000), 1e-6)
  }

  test("duplicate edges and self-loops handled like the oracle (dedup upstream)") {
    val raw = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (3L, 1L))
    // Engine contract: edges are deduped upstream (EdgeExtraction.distinct);
    // dedupe here to feed the same simple graph to both.
    val simple = raw.distinct.filter(e => e._1 != e._2)
    val r = run(simple)
    assertClose(toMap(r), Oracles.pageRank(simple))
  }

  test("parallelism invariance: same result at shuffle.partitions 1 and 16") {
    val edges = Oracles.randomGraph(200, 800, seed = 11)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val a = toMap(run(edges))
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val b = toMap(run(edges))
      assertClose(a, b, 1e-9)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("empty edge set: converged after 0 iterations with an empty (id, rank) frame") {
    val r = PageRank.run(spark.emptyDataset[Edge])
    assert(r.iterations == 0 && r.converged && r.vertexCount == 0)
    assert(r.ranks.columns.toSeq == Seq("id", "rank"))
    assert(r.ranks.select("id", "rank").count() == 0)
  }

  test("end-to-end: synthetic corpus -> sha invariant -> edges -> PageRank") {
    val corpus = Corpus.synthetic(spark, n = 500, repos = 7, maxDegree = 8, seed = 42)
    val stamped = Corpus.stamped(corpus).cache()

    // Per-row invariant: content_sha == sha2(content) recomputed, all rows.
    val bad = stamped.filter(col("content_sha") =!= sha2(col("content"), 256)).count()
    assert(bad == 0)

    val es = EdgeExtraction.edges(stamped).cache()
    val edgeList = es.collect().map(e => (e.src, e.dst)).toSeq
    assert(edgeList.nonEmpty, "synthetic corpus must produce edges")
    assert(edgeList.distinct.size == edgeList.size, "edges deduped")

    val r = PageRank.run(es)
    assert(r.converged)
    val got = toMap(r)
    assertClose(got, Oracles.pageRank(edgeList), 1e-6)

    // sha invariant survives a join back through the rank output
    val joined = stamped.join(r.ranks, stamped("file_id") === r.ranks("id"))
    val bad2 = joined.filter(col("content_sha") =!= sha2(col("content"), 256)).count()
    assert(bad2 == 0)
  }
}
