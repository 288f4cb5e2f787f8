package graft

/** The driver's flagship query: `SparkEntry.entry` on the sf0.001 part
  * graph returns the ten highest PageRank vertices.
  */
class SparkEntrySpec extends SparkSpec {
  test("entry(): ten rows, ranks non-increasing, each in (0, 1], summing to at most 1") {
    val ranks = SparkEntry.entry(spark).collect().map(_.getAs[Double]("rank")).toSeq
    assert(ranks.size == 10)
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b }, ranks)
    assert(ranks.forall(r => r > 0.0 && r <= 1.0), ranks)
    assert(ranks.sum <= 1.0, ranks.sum)
  }
}
