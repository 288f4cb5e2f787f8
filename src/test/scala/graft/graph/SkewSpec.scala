package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedSum == plain groupBy sum, hot key spread over salts") {
    // hot key 7 with 10k rows, cold keys with a few
    val df = ((1 to 10000).map(i => (7L, i.toLong)) ++ Seq((1L, 5L), (2L, 9L), (2L, 1L)))
      .toDF("k", "v")
    val got = Skew.saltedSum(df, col("k"), col("v"), salts = 8, saltSource = col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = df.groupBy("k").agg(sum("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the partial stage really splits the hot key
    val partials = df.groupBy(col("k"), pmod(xxhash64(col("v")), lit(8L)).as("s"))
      .count().filter(col("k") === 7).count()
    assert(partials > 1)
  }

  test("saltedJoin == plain equi join, exactly once per matching pair") {
    val fact = ((1 to 5000).map(i => (7L, i)) ++ Seq((1L, 0), (3L, 1))).toDF("k", "payload")
    val dim = Seq((7L, "hub"), (1L, "one"), (2L, "unused")).toDF("k", "name")
    val got = Skew.saltedJoin(fact, dim, "k", salts = 4, saltSource = col("payload"))
    val plain = fact.join(dim, Seq("k"))
    assert(got.count() == plain.count())
    assert(got.filter(col("k") === 7).count() == 5000)
    assert(got.columns.sorted.toSeq == plain.columns.sorted.toSeq)
  }
}
