package graft.graph

import graft.ingest.Edge
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** PageRank on the CSR grid (`Grid`), the engine's only PageRank
  * (`PageRank.run`/`resume` forward here): a `GridProgram` that `GridLoop`
  * runs on the input's directed grid, one job per round. A round sends
  * `ranks[src]/outdeg[src]` along the cells, summed at the source
  * (`CellWalk.sums`, the round's only shuffle); each vertex partition adds
  * its bundles into a dense array and applies teleport and dangling mass.
  * The job returns each partition's (L1 delta, rank mass on out-degree-0
  * vertices), added on the driver in partition order, so the delta that
  * gates convergence and the next round's dangling mass are the same
  * doubles on every run and on resume, which starts from the commit's
  * `dangling_mass` (an accumulator or an RDD fold would add them in
  * task-completion order, and count a re-run task twice).
  * CsrPageRankSpec and PageRankSpec check it against `Oracles.pageRank`.
  */
object CsrPageRank {

  /** One partition's ranks, aligned with the grid's sorted ids and
    * out-degrees (shared by reference), and the L1 change of the ranks in
    * the round that made the block.
    */
  private[graph] final case class RBlock(ids: Array[Long], outdeg: Array[Int], ranks: Array[Double],
                                         delta: Double = 0.0)

  def run(edges: Dataset[Edge], cfg: PageRankConfig = PageRankConfig()): PageRankResult =
    result(GridLoop.run(edges, Program(cfg.alpha, cfg.tol), cfg.maxIter, cfg.checkpoint))

  /** Resume from the last committed superstep in runDir (a fresh durable
    * run if none; `GridLoop.resume`, which checks the edges first); the run
    * goes on bit-identical to an uninterrupted one. It commits to `runDir`,
    * every `cfg`'s `Durable.every` steps (every step when `cfg` is not
    * Durable); a `Durable` naming another directory is rejected with an
    * IllegalArgumentException before any job runs. An (id, rank) snapshot
    * of the retired DataFrame-join engine is rejected before any job runs.
    */
  def resume(edges: Dataset[Edge], runDir: String,
             cfg: PageRankConfig = PageRankConfig()): PageRankResult = {
    val every = cfg.checkpoint match {
      case Durable(dir, every) =>
        val conf = edges.sparkSession.sparkContext.hadoopConfiguration
        def qualified(d: String) = { val p = new Path(d); p.getFileSystem(conf).makeQualified(p) }
        if (qualified(dir) != qualified(runDir))
          throw new IllegalArgumentException(s"a resume commits to its run dir $runDir, but the " +
            s"config's Durable names another directory, $dir")
        every
      case _ => 1
    }
    result(GridLoop.resume(edges, Program(cfg.alpha, cfg.tol), runDir, cfg.maxIter, Durable(runDir, every)))
  }

  private def result(o: GridLoop.Outcome[Step]): PageRankResult =
    PageRankResult(o.values, o.step, o.converged, o.last.deltas, o.last.m, o.last.n,
      prepareSeconds = o.prepareSeconds, loopSeconds = o.loopSeconds)

  /** A PageRank step's aggregate: the L1 change of the ranks in each step
    * of the run so far, the rank mass on vertices with no out-edge — the
    * next round's dangling mass — and the grid's vertex and edge counts.
    */
  private[graph] final case class Step(deltas: Vector[Double], dangling: Double, n: Long, m: Long)

  /** PageRank as a grid program (the round in the object doc). The
    * snapshot is (id, rank, outdeg); its `_METRICS` keys are `l1_delta`,
    * `dangling_mass` and `converged`, besides the grid's `n_vertices` and
    * `n_edges` that `GridLoop` records.
    */
  private final case class Program(alpha: Double, tol: Double)
      extends GridProgram[RBlock, (Double, Double), Step] {
    val schema: StructType = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("rank", DoubleType, nullable = false),
      StructField("outdeg", IntegerType, nullable = false)))
    val column = "outdeg"
    val shape: GridShape = GridShape.Directed
    val emptyRound = false
    val empty: Step = Step(Vector.empty, 0.0, 0L, 0L)

    def start(grid: Grid, from: Option[(DataFrame, StepMetrics)]): (RDD[RBlock], Step) = from match {
      case None =>
        // uniform ranks make the dangling mass a closed form
        val r0 = 1.0 / grid.n
        (grid.vertices.map(b => RBlock(b.ids, b.outdeg, Array.fill(b.ids.length)(r0))),
          Step(Vector.empty, grid.danglingCount.toDouble / grid.n, grid.n, grid.edges))
      case Some((snap, recorded)) =>
        (Grid.withSnapshot(grid, snap, "rank", Encoders.scalaDouble)(vb => new Array[Double](vb.ids.length))
          .map { case (vb, ranks) => RBlock(vb.ids, vb.outdeg, ranks) },
          Step(Vector.empty, recorded.metrics("dangling_mass"), grid.n, grid.edges))
    }

    def round(grid: Grid, state: RDD[RBlock], last: Step): (RDD[RBlock], Seq[RDD[_]]) = {
      val (a, d, nn) = (alpha, last.dangling, grid.n) // stable captures
      val msgs = CellWalk.sums(grid, state) { (rb, b, contribs) =>
        var i = 0
        while (i < b.srcIdx.length) {
          val si = b.srcIdx(i)
          val od = rb.outdeg(si)
          if (od > 0) {
            val w = rb.ranks(si) / od
            var j = b.offsets(i)
            while (j < b.offsets(i + 1)) { contribs(b.nbrIdx(j)) += w; j += 1 }
          }
          i += 1
        }
      }
      val next = state.zipPartitions(msgs, preservesPartitioning = true) { (rs, ms) =>
        rs.map { rb =>
          // dense receive: bundle adds land in an array bounded by this
          // partition's vertex count, no hashing
          val contribs = new Array[Double](rb.ids.length)
          ms.foreach(_._2.addTo(contribs))
          val newRanks = new Array[Double](rb.ids.length)
          var delta = 0.0
          var k = 0
          while (k < rb.ids.length) {
            val r = (1.0 - a) / nn + a * (contribs(k) + d / nn)
            delta += math.abs(r - rb.ranks(k))
            newRanks(k) = r
            k += 1
          }
          rb.copy(ranks = newRanks, delta = delta) // ids/outdeg shared by reference
        }
      }
      (next, Nil)
    }

    def partial(bs: Seq[RBlock]): (Double, Double) = {
      var s = 0.0
      bs.foreach { vb =>
        var k = 0
        while (k < vb.ids.length) { if (vb.outdeg(k) == 0) s += vb.ranks(k); k += 1 }
      }
      (bs.map(_.delta).sum, s)
    }

    def aggregate(last: Step, parts: Array[(Double, Double)]): Step =
      last.copy(deltas = last.deltas :+ parts.map(_._1).sum, dangling = parts.map(_._2).sum)

    def metrics(step: Int, s: Step): Map[String, Double] =
      Map("l1_delta" -> s.deltas.last, "dangling_mass" -> s.dangling,
        "converged" -> (if (s.deltas.last < tol) 1.0 else 0.0))

    def recorded(m: StepMetrics): Step =
      Step(Vector(m.metrics("l1_delta")), m.metrics("dangling_mass"), m.metrics("n_vertices").toLong,
        m.metrics("n_edges").toLong)

    def rows(b: RBlock): Iterator[InternalRow] = {
      val row = new SpecificInternalRow(schema)
      b.ids.indices.iterator.map { k =>
        row.setLong(0, b.ids(k)); row.setDouble(1, b.ranks(k)); row.setInt(2, b.outdeg(k))
        row: InternalRow
      }
    }

    def values(spark: SparkSession, state: RDD[RBlock]): DataFrame = {
      import spark.implicits._
      state.flatMap(b => b.ids.indices.iterator.map(k => (b.ids(k), b.ranks(k)))).toDF("id", "rank")
    }
  }
}
