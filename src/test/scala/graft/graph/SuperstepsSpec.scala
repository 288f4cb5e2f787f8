package graft.graph

import graft.SparkSpec
import graft.ingest.Edge
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import java.nio.file.Files

class SuperstepsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-steps").toString

  test("commit / lastCommitted / readState round-trip with lineage metrics") {
    val dir = tmpDir()
    val df = (1L to 100L).toDF("id")
    Supersteps.commit(spark, dir, 1, df, Map("l1_delta" -> 0.5))
    Supersteps.commit(spark, dir, 2, df, Map("l1_delta" -> 0.25))
    assert(Supersteps.lastCommitted(spark, dir).contains(2))
    val state = Supersteps.readState(spark, dir, 2)
    assert(state.count() == 100)
    val metrics = Supersteps.readMetrics(spark, dir, 2)
    assert(metrics.step == 2)
    assert(metrics.metrics == Map("l1_delta" -> 0.25))
    assert(!metrics.converged)
    assert(metrics.rows == 100)
    assert(metrics.checksum == state.agg(bit_xor(xxhash64(col("id")))).first().getLong(0))
  }

  test("uncommitted step (no _COMMIT marker) is invisible") {
    val dir = tmpDir()
    val df = (1L to 10L).toDF("id")
    Supersteps.commit(spark, dir, 1, df, Map.empty)
    // simulate a crash mid-step-2: state written, marker missing
    df.write.parquet(s"$dir/step=00002/state")
    assert(Supersteps.lastCommitted(spark, dir).contains(1))
  }

  test("CC resume from mid-run checkpoint == uninterrupted run") {
    val edges = Oracles.randomGraph(200, 260, seed = 31) // sparse: many components
    val ds = edges.toDF("src", "dst").as[Edge]

    val full = ConnectedComponents.run(ds).components
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val partDir = tmpDir()
    // interrupted: stop after 2 rounds (fixpoint usually needs more)
    ConnectedComponents.run(ds, maxRounds = 2, checkpoint = Durable(partDir))
    assert(Supersteps.lastCommitted(spark, partDir).contains(2))
    val resumed = ConnectedComponents.resume(ds, partDir).components
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full)
  }

  test("LPA resume from mid-run checkpoint == uninterrupted run") {
    val edges = Oracles.randomGraph(120, 400, seed = 37)
    val ds = edges.toDF("src", "dst").as[Edge]

    val full = LabelPropagation.run(ds, maxIter = 10).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val partDir = tmpDir()
    LabelPropagation.run(ds, maxIter = 4, checkpoint = Durable(partDir))
    assert(Supersteps.lastCommitted(spark, partDir).contains(4))
    val resumed = LabelPropagation.resume(ds, partDir, maxIter = 10).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full)
  }

  test("PageRank resume from mid-run checkpoint == uninterrupted run") {
    val edges = Oracles.randomGraph(150, 600, seed = 23)
    val ds = edges.toDF("src", "dst").as[Edge]

    val fullDir = tmpDir()
    val full = PageRank.run(ds,
      PageRankConfig(tol = 1e-6, checkpoint = Durable(fullDir, every = 5)))
    val fullMap = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // interrupted run: stop early at some iteration, then resume
    val partDir = tmpDir()
    PageRank.run(ds,
      PageRankConfig(tol = 1e-6, maxIter = 7, checkpoint = Durable(partDir, every = 5)))
    assert(Supersteps.lastCommitted(spark, partDir).exists(_ >= 5))
    val resumed = PageRank.resume(ds, partDir,
      PageRankConfig(tol = 1e-6, checkpoint = Durable(partDir, every = 5)))
    val resumedMap = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(resumed.converged && full.converged)
    assert(fullMap.keySet == resumedMap.keySet)
    fullMap.foreach { case (k, v) =>
      assert(math.abs(v - resumedMap(k)) < 1e-12, s"vertex $k: $v vs ${resumedMap(k)}")
    }
  }

  private def stateDir(runDir: String, step: Int) = f"$runDir/step=$step%05d/state"

  test("LPA resume fails on a snapshot that does not match its commit") {
    val ds = Oracles.randomGraph(120, 400, seed = 37).toDF("src", "dst").as[Edge]
    val partDir = tmpDir()
    LabelPropagation.run(ds, maxIter = 3, checkpoint = Durable(partDir))
    // one row fewer behind the intact _COMMIT marker
    val snap = spark.read.parquet(stateDir(partDir, 3))
    val rows = snap.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows.tail), snap.schema)
      .write.mode("overwrite").parquet(stateDir(partDir, 3))
    assert(Supersteps.lastCommitted(spark, partDir).contains(3))
    val err = intercept[IllegalStateException](LabelPropagation.resume(ds, partDir, maxIter = 10))
    assert(err.getMessage.contains(s"superstep 3 in $partDir"))
    assert(err.getMessage.contains(s"${rows.size - 1} rows"))
  }

  test("Durable == LocalOnly: CC exact") {
    val ds = Oracles.randomGraph(200, 260, seed = 31).toDF("src", "dst").as[Edge]
    def components(r: ConnectedComponents.CcResult) =
      r.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = ConnectedComponents.run(ds)
    val durable = ConnectedComponents.run(ds, checkpoint = Durable(tmpDir()))
    assert(durable.rounds == local.rounds)
    assert(components(durable) == components(local))
  }

  test("Durable == LocalOnly: LPA exact") {
    val ds = Oracles.randomGraph(120, 400, seed = 37).toDF("src", "dst").as[Edge]
    def labels(r: LabelPropagation.LpaResult) =
      r.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = LabelPropagation.run(ds, maxIter = 10)
    val durable = LabelPropagation.run(ds, maxIter = 10, checkpoint = Durable(tmpDir()))
    assert(durable.iterations == local.iterations)
    assert(labels(durable) == labels(local))
  }

  test("Durable == LocalOnly: join PageRank to 1e-12") {
    val ds = Oracles.randomGraph(150, 600, seed = 23).toDF("src", "dst").as[Edge]
    def ranks(r: PageRankResult) = r.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = ranks(PageRank.run(ds, PageRankConfig(tol = 0.0, maxIter = 8)))
    val durable = ranks(PageRank.run(ds,
      PageRankConfig(tol = 0.0, maxIter = 8, checkpoint = Durable(tmpDir(), every = 1))))
    assert(durable.keySet == local.keySet)
    local.foreach { case (k, v) =>
      assert(math.abs(v - durable(k)) < 1e-12, s"vertex $k: $v vs ${durable(k)}")
    }
  }
}
