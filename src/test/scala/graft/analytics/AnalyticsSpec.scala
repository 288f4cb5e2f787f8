package graft.analytics

import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // --- TopK (W1: tie-inclusive) -----------------------------------------

  test("topK with ties keeps all rows >= k-th value") {
    val df = Seq(("a", 9), ("b", 8), ("c", 8), ("d", 7), ("e", 3)).toDF("id", "h")
    val got = TopK.withTies(df, "h", 2).select("id").as[String].collect().toSet
    assert(got == Set("a", "b", "c")) // both 8s stay
    val got3 = TopK.withTies(df, "h", 4).select("id").as[String].collect().toSet
    assert(got3 == Set("a", "b", "c", "d"))
  }

  test("topK per group keeps boundary ties") {
    val df = Seq(("g1", 5), ("g1", 5), ("g1", 4), ("g2", 1), ("g2", 9)).toDF("g", "v")
    val got = TopK.withTiesPerGroup(df, Seq("g"), "v", 1)
    assert(got.filter($"g" === "g1").count() == 2) // tied 5s
    assert(got.filter($"g" === "g2").count() == 1)
  }

  // --- HIndex (A8: strict > i, 0-based) ----------------------------------

  test("h-index exact cutoff semantics") {
    assert(HIndex.compute(Seq(3, 0, 6, 1, 5)) == 3)
    assert(HIndex.compute(Seq(4, 4, 4, 4)) == 4)
    assert(HIndex.compute(Seq(0, 0)) == 0)
    assert(HIndex.compute(Seq(1)) == 1) // 1 > 0
    assert(HIndex.compute(Seq.empty) == 0)
    assert(HIndex.compute(Seq(2, 2, 2)) == 2) // 2>0, 2>1, not 2>2
  }

  test("h-index window formulation matches the pure function") {
    val rows = Seq(
      ("a", 3L), ("a", 0L), ("a", 6L), ("a", 1L), ("a", 5L),
      ("b", 4L), ("b", 4L), ("b", 4L), ("b", 4L),
      ("c", 0L)
    ).toDF("author", "citations")
    val got = HIndex.perGroup(rows, "author", "citations")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 4L, "c" -> 0L))
  }

  // --- Common neighbors (A10) --------------------------------------------

  test("co-citation raw/cosine/jaccard hand-computed") {
    // in-neighbors: N(1)={3,4,5}, N(2)={4,5,6,7}
    val edges = Seq((3L, 1L), (4L, 1L), (5L, 1L), (4L, 2L), (5L, 2L), (6L, 2L), (7L, 2L)).toDF("src", "dst")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val r = CommonNeighbors.metrics(edges.select($"dst".as("node"), $"src".as("nbr")), pairs).collect().head
    assert(r.getAs[Long]("raw") == 2L)
    assert(math.abs(r.getAs[Double]("cosine") - 2.0 / math.sqrt(12)) < 1e-12)
    assert(math.abs(r.getAs[Double]("jaccard") - 2.0 / 5.0) < 1e-12)
  }

  test("common neighbors: empty side -> zeros") {
    val edges = Seq((3L, 1L)).toDF("src", "dst")
    val pairs = Seq((1L, 99L)).toDF("a", "b")
    val r = CommonNeighbors.metrics(edges.select($"dst".as("node"), $"src".as("nbr")), pairs).collect().head
    assert(r.getAs[Long]("raw") == 0L)
    assert(r.getAs[Double]("cosine") == 0.0)
    assert(r.getAs[Double]("jaccard") == 0.0)
  }

  // --- Distribution (A9) ---------------------------------------------------

  test("distribution stats buckets and moments") {
    val df = Seq(0.0, 0.0, 0.5, 1.0, 1.0, 1.0, 0.25, 0.75).toDF("p")
    val s = Distribution.stats(df, "p")
    assert(s.n == 8)
    assert(math.abs(s.pZero - 0.25) < 1e-12)
    assert(math.abs(s.pOne - 0.375) < 1e-12)
    assert(math.abs(s.pMiddle - 0.375) < 1e-12)
    assert(math.abs(s.pGeHalf - 0.625) < 1e-12)
    assert(math.abs(s.mean - 4.5 / 8) < 1e-12)
    assert(math.abs(s.median - 0.625) < 1e-12)
  }
}
