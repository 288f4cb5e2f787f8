package graft.graph

import graft.SparkSpec
import graft.ingest.Edge
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import java.io.File
import java.nio.file.{Files, Paths}

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

  test("caller-checkpointed edges survive every loop") {
    // A local checkpoint cannot be recomputed: had a loop's state release
    // reached the caller's edge RDD through its first state's plan, the
    // count after that loop would fail on the missing checkpoint blocks.
    val edges = Oracles.randomGraph(120, 500, seed = 23).toDF("src", "dst").as[Edge]
      .localCheckpoint(true)
    val n = edges.count()
    val loops = Seq[(String, () => Any)](
      "CsrPageRank" -> (() => CsrPageRank.run(edges, PageRankConfig(tol = 0.0, maxIter = 3))),
      "ConnectedComponents" -> (() => ConnectedComponents.run(edges)),
      "LabelPropagation" -> (() => LabelPropagation.run(edges, maxIter = 3)))
    for ((name, loop) <- loops) {
      loop()
      assert(edges.count() == n, s"edge count after $name")
    }
  }

  test("every loop leaves only its result persisted") {
    // besides its input's grids, which later loops on the same input reuse
    val ds = Oracles.randomGraph(150, 600, seed = 23).toDF("src", "dst").as[Edge]
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the RDDs a result scans: its local checkpoint (none on a converged resume)
    def scanned(result: DataFrame): Set[Int] =
      result.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val Seq(pr, cc, lpa) = Seq.fill(3)(tmpDir())
    val loops = Seq[(String, () => DataFrame)](
      "fresh PageRank" -> (() => PageRank.run(ds).ranks),
      "Durable PageRank" ->
        (() => PageRank.run(ds, PageRankConfig(maxIter = 5, checkpoint = Durable(pr))).ranks),
      "resumed PageRank" -> (() => PageRank.resume(ds, pr, PageRankConfig()).ranks),
      "fresh CC" -> (() => ConnectedComponents.run(ds).components),
      "Durable CC" -> (() => ConnectedComponents.run(ds, maxRounds = 2, checkpoint = Durable(cc)).components),
      "resumed CC" -> (() => ConnectedComponents.resume(ds, cc).components),
      "fresh LPA" -> (() => LabelPropagation.run(ds, maxIter = 5).labels),
      "Durable LPA" -> (() => LabelPropagation.run(ds, maxIter = 2, checkpoint = Durable(lpa)).labels),
      "resumed LPA" -> (() => LabelPropagation.resume(ds, lpa, maxIter = 5).labels))
    for ((name, loop) <- loops) {
      val before = persisted
      val result = loop()
      assert(persisted -- before -- GridLoop.keptRdds == scanned(result), name)
      assert(GridLoop.keptRdds.subsetOf(persisted) && GridLoop.keptRdds.size <= 4,
        s"$name: one directed and one undirected grid, each vertex blocks and cells")
    }
    // a loop on another input releases them
    val grids = GridLoop.keptRdds
    val other = Oracles.randomGraph(50, 100, seed = 3).toDF("src", "dst").as[Edge]
    val before = persisted
    val result = ConnectedComponents.run(other).components
    assert((persisted & grids).isEmpty, "the first input's grids are still persisted")
    assert(persisted -- before -- GridLoop.keptRdds == scanned(result))
  }

  test("each loop's resume rejects another loop's run dir before any job runs, naming its column") {
    val ds = Oracles.randomGraph(120, 400, seed = 37).toDF("src", "dst").as[Edge]
    val cases = Seq[(String, String => Any, String => Any, String)](
      ("PageRank -> CC", dir => PageRank.run(ds, PageRankConfig(maxIter = 2, checkpoint = Durable(dir))),
        dir => ConnectedComponents.resume(ds, dir), "component"),
      ("CC -> LPA", dir => ConnectedComponents.run(ds, maxRounds = 2, checkpoint = Durable(dir)),
        dir => LabelPropagation.resume(ds, dir), "label"),
      ("LPA -> PageRank", dir => LabelPropagation.run(ds, maxIter = 2, checkpoint = Durable(dir)),
        dir => PageRank.resume(ds, dir, PageRankConfig()), "outdeg"))
    for ((name, write, resume, column) <- cases) {
      val dir = tmpDir()
      write(dir)
      var err: IllegalStateException = null
      val jobs = jobsOf { err = intercept[IllegalStateException](resume(dir)) }
      assert(err.getMessage.contains(s"in $dir has no $column column"), s"$name: ${err.getMessage}")
      assert(jobs == 0, s"$name: $jobs jobs ran before the format check")
    }
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

    def components(r: ConnectedComponents.CcResult) =
      r.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = ConnectedComponents.run(ds)

    val partDir = tmpDir()
    // interrupted: stop after 2 rounds (fixpoint usually needs more)
    ConnectedComponents.run(ds, maxRounds = 2, checkpoint = Durable(partDir))
    assert(Supersteps.lastCommitted(spark, partDir).contains(2))
    val resumed = ConnectedComponents.resume(ds, partDir)
    assert(components(resumed) == components(full))
    assert(resumed.rounds == full.rounds)

    // resuming the finished run builds the mapping and runs no round
    val finished = Supersteps.lastCommitted(spark, partDir)
    assert(finished.exists(Supersteps.readMetrics(spark, partDir, _).converged))
    val again = ConnectedComponents.resume(ds, partDir)
    assert(again.rounds == full.rounds)
    assert(Supersteps.lastCommitted(spark, partDir) == finished)
    assert(components(again) == components(full))

    // every = 3, stopped after round 3 of 4: resumes from the step-3 commit
    assert(full.rounds == 4)
    val everyThree = tmpDir()
    ConnectedComponents.run(ds, maxRounds = 3, checkpoint = Durable(everyThree, every = 3))
    assert(Supersteps.lastCommitted(spark, everyThree).contains(3))
    assert(!Supersteps.readMetrics(spark, everyThree, 3).converged)
    val fromThree = ConnectedComponents.resume(ds, everyThree)
    assert(components(fromThree) == components(full))
    assert(fromThree.rounds == full.rounds)
  }

  test("CC resume rejects a (u, v) frontier snapshot before any job runs, naming the missing column") {
    val ds = Oracles.randomGraph(200, 260, seed = 31).toDF("src", "dst").as[Edge]
    val dir = tmpDir()
    // the snapshot format of the retired large-star/small-star loop
    Supersteps.commit(spark, dir, 2, Seq((2L, 1L), (3L, 1L)).toDF("u", "v"),
      Map("round" -> 2.0, "frontier_edges" -> 2.0, "converged" -> 0.0))
    var err: IllegalStateException = null
    val jobs = jobsOf { err = intercept[IllegalStateException](ConnectedComponents.resume(ds, dir)) }
    assert(err.getMessage.contains(s"superstep 2 in $dir has no component column"), err.getMessage)
    assert(jobs == 0, s"$jobs jobs ran before the format check")
  }

  test("LPA resume from mid-run checkpoint == uninterrupted run") {
    val edges = Oracles.randomGraph(120, 400, seed = 37)
    val ds = edges.toDF("src", "dst").as[Edge]

    def labels(r: LabelPropagation.LpaResult) =
      r.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uninterrupted = LabelPropagation.run(ds, maxIter = 10)
    val full = labels(uninterrupted)

    val partDir = tmpDir()
    LabelPropagation.run(ds, maxIter = 4, checkpoint = Durable(partDir))
    assert(Supersteps.lastCommitted(spark, partDir).contains(4))
    val resumed = LabelPropagation.resume(ds, partDir, maxIter = 10)
    assert(labels(resumed) == full)
    assert(resumed.iterations == uninterrupted.iterations)

    // every = 3, stopped after step 4: resumes from the step-3 commit
    val everyThree = tmpDir()
    LabelPropagation.run(ds, maxIter = 4, checkpoint = Durable(everyThree, every = 3))
    assert(Supersteps.lastCommitted(spark, everyThree).contains(3))
    val fromThree = LabelPropagation.resume(ds, everyThree, maxIter = 10)
    assert(labels(fromThree) == full)
    assert(fromThree.iterations == uninterrupted.iterations)
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

  private def frame(schema: StructType, rows: Seq[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  test("lineage parity: writePart's rows and checksum == Spark's over the read-back snapshot") {
    val special = Seq(-0.0, 0.0, Double.NaN, -Double.NaN, 1e-300, Double.PositiveInfinity)
    val csr = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("rank", DoubleType, nullable = false),
      StructField("outdeg", IntegerType, nullable = false)))
    val nullable = StructType(Seq(StructField("id", LongType), StructField("rank", DoubleType)))
    // one more slice than rows in each shape: at least one empty partition
    val shapes = Seq(
      "csr (id, rank, outdeg)" -> frame(csr,
        special.zipWithIndex.map { case (r, i) => Row(i.toLong, r, i % 3) }, special.size + 1),
      "nullable (id, rank) with a null" -> frame(nullable,
        special.zipWithIndex.map { case (r, i) => Row(i.toLong * 7, r) } :+ Row(99L, null), 8),
      "LPA (id, label)" -> frame(longs("id", "label"),
        (1L to 20L).map(i => Row(i, i % 4)), 21),
      "two long columns (u, v)" -> frame(longs("u", "v"),
        (2L to 30L).map(i => Row(i, i / 2)), 30))
    shapes.zipWithIndex.foreach { case ((shape, df), i) =>
      val dir = tmpDir()
      Supersteps.commit(spark, dir, i + 1, df, Map.empty)
      val back = spark.read.parquet(stateDir(dir, i + 1)) // inferred, not the recorded schema
      assert(back.schema.map(_.dataType) == df.schema.map(_.dataType), shape)
      val want = back.agg(count(lit(1)), bit_xor(xxhash64(back.columns.toIndexedSeq.map(col): _*)))
        .first()
      val got = Supersteps.readMetrics(spark, dir, i + 1)
      assert(got.rows == want.getLong(0), shape)
      assert(got.checksum == want.getLong(1), shape)
      assert(got.schema.contains(df.schema), shape)
      assert(Supersteps.readState(spark, dir, i + 1).count() == df.count(), shape)
    }
  }

  test("writePart rejects a column type it cannot write, naming the column") {
    val df = frame(StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      Seq(Row(1L, "a")), 1)
    val err = intercept[IllegalArgumentException](Supersteps.commit(spark, tmpDir(), 1, df, Map.empty))
    assert(err.getMessage.contains("name"))
  }

  /** Write `df`'s single partition into `step`'s state dir as one task
    * attempt (each call is a new job, so a new attempt id); no seal.
    */
  private def writeAttempt(stateDir: String, df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.runJob(df.queryExecution.toRdd,
      (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        Supersteps.writePart(stateDir, schema, conf, ctx, rows)).head
  }

  test("attempt safety: duplicate attempts leave one part file, temps stay invisible") {
    val dir = tmpDir()
    val df = frame(longs("id", "label"), (1L to 50L).map(i => Row(i, i % 5)), 1)
    val state = Supersteps.prepare(spark, dir, 1)
    val first = writeAttempt(state, df)
    val second = writeAttempt(state, df)
    assert(first == second)
    val visible = new File(state).list().filterNot(_.startsWith(".")).toSeq
    assert(visible == Seq("part-00000.parquet"))
    assert(!new File(state).list().exists(n => n.startsWith(".part-") && !n.endsWith(".crc")),
      "a temp file outlived its rename")
    Supersteps.seal(spark, dir, 1, Seq(first), df.schema, Map.empty)
    assert(Supersteps.readState(spark, dir, 1).count() == 50)

    // a crashed attempt's leftover temp file is not part of the snapshot
    Files.write(Paths.get(state, ".part-00000-987.parquet"), "torn write".getBytes("UTF-8"))
    assert(Supersteps.readState(spark, dir, 1).count() == 50)

    // parts written but never sealed stay invisible
    writeAttempt(Supersteps.prepare(spark, dir, 2), df)
    assert(new File(stateDir(dir, 2), "part-00000.parquet").exists())
    assert(Supersteps.lastCommitted(spark, dir).contains(1))
  }

  test("resume from a run dir written before schemas were recorded") {
    val ds = Oracles.randomGraph(120, 400, seed = 37).toDF("src", "dst").as[Edge]
    val full = LabelPropagation.run(ds, maxIter = 10).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val partDir = tmpDir()
    LabelPropagation.run(ds, maxIter = 4, checkpoint = Durable(partDir))
    assert(Supersteps.readMetrics(spark, partDir, 4).schema.isDefined)
    (1 to 4).foreach(SuperstepsSpec.dropRecordedSchema(partDir, _))
    assert(Supersteps.readMetrics(spark, partDir, 4).schema.isEmpty)
    val resumed = LabelPropagation.resume(ds, partDir, maxIter = 10).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full)
  }
}

object SuperstepsSpec {

  /** Drop the "schema" field from `step`'s _METRICS.json, as a run dir
    * written before schemas were recorded has it. */
  def dropRecordedSchema(runDir: String, step: Int): Unit = {
    val path = Paths.get(f"$runDir/step=$step%05d/_METRICS.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("schema")
    Files.write(path, node.toString.getBytes("UTF-8"))
    Files.deleteIfExists(path.resolveSibling("._METRICS.json.crc")) // now stale
  }
}
