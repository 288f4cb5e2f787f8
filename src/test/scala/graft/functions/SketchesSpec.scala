package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("HLL estimate lands within the m=256 error envelope") {
    val ids = spark.range(20000L).toDF("id")
    val est = Sketches.hllEstimate(Sketches.hllRegisters(ids, col("id")))
      .select("estimate").first().getDouble(0)
    assert(math.abs(est - 20000.0) / 20000.0 < 0.15, s"estimate $est too far from 20000")
  }

  test("estimate is bit-identical at any parallelism") {
    val a = Sketches.hllEstimate(Sketches.hllRegisters(
      spark.range(5000L).repartition(3).toDF("id"), col("id"))).collect()
    val b = Sketches.hllEstimate(Sketches.hllRegisters(
      spark.range(5000L).repartition(8).toDF("id"), col("id"))).collect()
    assert(a.sameElements(b))
  }

  test("duplicates do not move the sketch (cardinality, not count)") {
    val once = spark.range(3000L).toDF("id")
    val thrice = once.unionAll(once).unionAll(once)
    assert(Sketches.hllEstimate(Sketches.hllRegisters(once, col("id"))).collect()
      .sameElements(Sketches.hllEstimate(Sketches.hllRegisters(thrice, col("id"))).collect()))
  }

  test("deterministic sample is stable across partitionings and is a fixed set") {
    val df = spark.range(10000L).toDF("id")
    val s1 = Sketches.deterministicSample(df.repartition(2), col("id"), 50).as[Long].collect().toSeq
    val s2 = Sketches.deterministicSample(df.repartition(16), col("id"), 50).as[Long].collect().toSeq
    assert(s1 == s2)
    assert(s1.distinct.length == 50)
  }
}
