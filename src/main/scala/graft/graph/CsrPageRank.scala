package graft.graph

import graft.ingest.Edge
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** PageRank over grid-partitioned, index-resolved CSR blocks — the
  * engine's scale path (north rule: adjacency as CSR blocks in typed
  * Datasets; public precedent for the 2D layout: GraphX EdgePartition2D /
  * PowerGraph vertex-cut, both published designs).
  *
  * Physical design, built once in prepare and never reshuffled:
  *
  *  - Vertex state: ONE `VBlock` per partition (pid = id mod P) holding
  *    parallel primitive arrays (ids sorted, outdeg, ranks). Only the
  *    rank array is re-allocated per iteration; ids/outdeg are shared by
  *    reference across iterations.
  *  - Adjacency: `IdxBlock`s keyed by (source partition, DESTINATION
  *    partition) — a grid cell of the adjacency matrix — with BOTH
  *    endpoints pre-resolved to dense per-partition indexes (srcIdx,
  *    nbrIdx). Blocks are sorted by dpid within each source partition
  *    and capped at maxEdgesPerBlock (streaming build off an external
  *    sort — bounded task memory at any scale).
  *
  * PREPARE (`prepareGrid`, which `GridLoop` builds every program's grid
  * with) runs entirely on Catalyst shuffles + Tungsten external sorts
  * (whole-stage codegen, spillable, no boxed-record Java serialization —
  * the round-2 prepare moved every edge twice as boxed RDD tuples and was
  * 6x the loop's wall time). The trick that lets a DataFrame exchange
  * feed partitioner-pinned zipPartitions: `repartition(P, token(pid))`
  * where `token` is a driver-computed int per pid with
  * murmur3(token(p)) % P == p — Catalyst's HashPartitioning then places
  * pid p exactly in partition index p, matching the loop's
  * HashPartitioner placement (Int key k -> partition k). Three passes:
  *
  *  1. vertex table: one map-side-combined aggregation over both
  *     endpoint columns -> (id, outdeg); repartition(P, token) +
  *     sortWithinPartitions(id) -> streamed into per-partition primitive
  *     VBlock arrays (dense index == sorted position).
  *  2. dst-resolve: edges repartition(P, token(pid(dst))) (shuffle, NO
  *     sort) zipped with state; each dst resolved to its dense index by
  *     binary search in the partition's sorted id array.
  *  3. grid build: resolved (src, dpid, didx) rows back through an
  *     encoder, repartition(P, token(pid(src))) +
  *     sortWithinPartitions(dpid, src) — a Tungsten external sort — then
  *     a single streaming pass zipped with state emits IdxBlocks (src
  *     index resolved once per group head by binary search).
  *
  * The iteration hot loop is hash-free and allocation-light:
  *
  *  1. zipPartitions(blocks, state): for each destination partition's
  *     contiguous block run, accumulate `ranks[srcIdx]/outdeg[srcIdx]`
  *     into ONE reused dense double array indexed by nbrIdx, then emit
  *     the nonzero (idx, sum) pairs as a primitive bundle. The emission
  *     is a streaming iterator — one dpid's bundle in flight at a time,
  *     so task heap is bounded by the largest single destination
  *     partition, not by the partition-reachable vertex count. The
  *     shuffle moves at most P bundles per source partition —
  *     pre-combined messages, never per-edge records; a 10^6-in-degree
  *     hub receives <= P messages (two-phase aggregation, SURVEY.md
  *     §7.5). (An open-addressing-map variant of this combine measured
  *     ~4 GB of map churn per iteration at 132M edges — the dense grid
  *     layout exists to make the combine zero-allocation.)
  *  2. partitionBy(P) on the bundle's dpid — the only shuffle, ~12 bytes
  *     per combined entry (int idx + double sum).
  *  3. zipPartitions(state, bundles): dense-add bundles into a contribs
  *     array, apply teleport + dangling mass, emit the new state with its
  *     L1 delta. The round's one job (`GridLoop`) returns each
  *     partition's (delta, rank mass on out-degree-0 vertices), added on
  *     the driver in partition order: the delta that gates convergence and
  *     the dangling mass of the NEXT round are the same doubles on every
  *     run and on resume, which starts from the commit's recorded
  *     `dangling_mass` (an accumulator or an RDD fold would add them in
  *     task-completion order, and count a re-run task twice).
  *
  * Durable commits are fused into that one job: when a superstep is due
  * for a commit, each task writes its partition's (id, rank, outdeg)
  * snapshot (Supersteps.writePart) right after materializing it, and the
  * driver seals the step. The loop keeps its in-memory blocks, so the
  * Durable path runs exactly the LocalOnly jobs; only a run converging
  * off the commit schedule adds one write job for its last step.
  *
  * RDD usage is forced here: a Dataset `groupByKey(_.partId).cogroup`
  * re-shuffles the static block side EVERY superstep because the lambda
  * key is opaque to Catalyst (measured 6x slower than the join path in
  * round 1), while a partitioner-pinned zipPartitions provably moves
  * zero block bytes.
  *
  * This is the engine's only PageRank: `PageRank.run`/`resume` forward
  * here, and the rounds are a `GridProgram` that `GridLoop` runs, the
  * loop `LabelPropagation` and `ConnectedComponents` run their rounds on
  * too, over the same prepare. CsrPageRankSpec and PageRankSpec check it
  * against the plain-Scala power-iteration oracle (`Oracles.pageRank`).
  */
object CsrPageRank {

  /** One partition's vertex state: parallel arrays sorted by id, and the
    * L1 change of `ranks` in the PageRank round that made the block.
    */
  final case class VBlock(pid: Int, ids: Array[Long], outdeg: Array[Int], ranks: Array[Double],
                          delta: Double = 0.0)

  /** Grid cell (spid, dpid) of the adjacency: srcIdx/nbrIdx are dense
    * indexes into the source/destination partitions' VBlock arrays.
    */
  final case class IdxBlock(
      spid: Int,
      dpid: Int,
      srcIdx: Array[Int],   // ascending within the block
      offsets: Array[Int],  // length = srcIdx.length + 1
      nbrIdx: Array[Int])

  /** Pre-combined messages for one destination partition. */
  final case class MsgBlock(dpid: Int, idx: Array[Int], sums: Array[Double])

  /** For each pid p in [0,P) an int token with murmur3(token)%P == p —
    * repartition(P, token) then places pid p in Catalyst shuffle
    * partition p (Spark hashes an int column with Murmur3_x86_32 seed
    * 42, exactly HashPartitioning.partitionIdExpression). Driver-side
    * search; a few hundred probes for any practical P.
    */
  private[graph] def partitionTokens(p: Int): Array[Int] = {
    val toks = new Array[Int](p)
    val found = new Array[Boolean](p)
    var remaining = p
    var t = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
      val slot = ((h % p) + p) % p
      if (!found(slot)) { found(slot) = true; toks(slot) = t; remaining -= 1 }
      t += 1
    }
    toks
  }

  /** `df` repartitioned so that the rows whose `id` falls in vertex
    * partition pid = id mod P land in shuffle partition pid.
    */
  private[graph] def byPid(df: DataFrame, id: Column, p: Int): DataFrame =
    df.repartition(p, element_at(lit(partitionTokens(p)), pmod(id, lit(p.toLong)).cast("int") + lit(1)))

  /** One edge set on the grid: the persisted vertex blocks and cells, the
    * vertex count, how many vertices have no out-edge and each partition's
    * vertex count. The cells are built by the first job that reads them.
    */
  private[graph] final case class Grid(vertices: RDD[VBlock], cells: RDD[IdxBlock], n: Long,
                                       danglingCount: Long, partSizes: Array[Int]) {
    def unpersist(): Unit = { cells.unpersist(false); vertices.unpersist(false) }
  }

  /** PREPARE (the three passes in the object doc) of the (src, dst) rows
    * `edf`, on the loop session `spark` at grid dimension `p`. The vertex
    * blocks come from `vertexTable`'s (id, outdeg, rank) rows, or from the
    * out-degree aggregation of `edf` with rank 0. With `dedupe`, a
    * repeated (src, dst) row becomes one edge. None, after one job, when
    * there is no vertex.
    */
  private[graph] def prepareGrid(spark: SparkSession, edf: DataFrame, p: Int,
                                 vertexTable: Option[DataFrame] = None,
                                 dedupe: Boolean = false): Option[Grid] = {
    import spark.implicits._
    // --- 1. vertex state: one combined aggregation + one Tungsten
    // shuffle+sort, streamed into primitive per-partition arrays --------
    val stateSource = vertexTable.getOrElse(
      edf.select(col("src").as("id"), lit(1).as("c"))
        .unionAll(edf.select(col("dst").as("id"), lit(0).as("c")))
        .groupBy(col("id")).agg(sum(col("c")).cast("int").as("outdeg"))
        .withColumn("rank", lit(0.0)))
    val state: RDD[VBlock] = byPid(stateSource, col("id"), p)
      .sortWithinPartitions(col("id"))
      .as[(Long, Int, Double)].rdd
      .mapPartitionsWithIndex({ (i, it) =>
        var cap = 1024
        var ids = new Array[Long](cap)
        var od = new Array[Int](cap)
        var rks = new Array[Double](cap)
        var n = 0
        while (it.hasNext) {
          val (id, d, r) = it.next()
          if (n == cap) {
            cap *= 2
            ids = java.util.Arrays.copyOf(ids, cap)
            od = java.util.Arrays.copyOf(od, cap)
            rks = java.util.Arrays.copyOf(rks, cap)
          }
          ids(n) = id; od(n) = d; rks(n) = r; n += 1
        }
        if (n == 0) Iterator.empty
        else Iterator.single(VBlock(i,
          java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(od, n),
          java.util.Arrays.copyOf(rks, n)))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one job: per-partition vertex counts — tiny (P ints), captured by
    // closures — and out-degree-0 counts
    val partSizes = new Array[Int](p)
    var danglingCount = 0L
    state.map(b => (b.pid, b.ids.length, b.outdeg.count(_ == 0))).collect().foreach { case (q, s, d) =>
      partSizes(q) = s
      danglingCount += d
    }
    val n = partSizes.map(_.toLong).sum
    if (n == 0) {
      state.unpersist(false)
      return None
    }

    // --- 2. dst-resolve: Catalyst shuffle (no sort) zipped with state ---
    val resolved: RDD[(Long, Int, Int)] = byPid(edf.select(col("src"), col("dst")), col("dst"), p)
      .as[(Long, Long)].rdd
      .zipPartitions(state, preservesPartitioning = false) { (es, vs) =>
        if (!vs.hasNext) Iterator.empty
        else {
          val vb = vs.next()
          val dp = vb.pid
          es.map { case (src, dst) =>
            (src, dp, java.util.Arrays.binarySearch(vb.ids, dst))
          }
        }
      }

    // --- 3. grid build: Tungsten external sort by (dpid, src) within
    // pid(src) partitions (and by dst index, to drop repeats, with
    // `dedupe`), then one streaming pass emits the cells --------------
    val sortKeys = Seq(col("_2"), col("_1")) ++ (if (dedupe) Seq(col("_3")) else Nil)
    val sortedCells = byPid(spark.createDataset(resolved).toDF(), col("_1"), p)
      .sortWithinPartitions(sortKeys: _*)
      .as[(Long, Int, Int)].rdd
    val cells: RDD[IdxBlock] = sortedCells
      .zipPartitions(state, preservesPartitioning = false) { (rows, vs) =>
        if (!vs.hasNext) Iterator.empty
        else {
          val vb = vs.next()
          val sp = vb.pid
          val maxEdgesPerBlock = 4 << 20
          val in = rows.buffered
          new Iterator[IdxBlock] {
            def hasNext: Boolean = in.hasNext
            def next(): IdxBlock = {
              val dp = in.head._2
              val sidx = new mutable.ArrayBuilder.ofInt
              val offs = new mutable.ArrayBuilder.ofInt
              val nis = new mutable.ArrayBuilder.ofInt
              offs += 0
              while (in.hasNext && in.head._2 == dp && nis.length < maxEdgesPerBlock) {
                val s = in.head._1
                // src's own dense index via binary search in this
                // partition's sorted ids (once per group head)
                sidx += java.util.Arrays.binarySearch(vb.ids, s)
                var prev = -1 // dense indexes are >= 0
                while (in.hasNext && in.head._2 == dp && in.head._1 == s) {
                  val d = in.next()._3
                  if (!dedupe || d != prev) nis += d
                  prev = d
                }
                offs += nis.length
              }
              IdxBlock(sp, dp, sidx.result(), offs.result(), nis.result())
            }
          }
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    Some(Grid(state, cells, n, danglingCount, partSizes))
  }

  def run(edges: Dataset[Edge], cfg: PageRankConfig = PageRankConfig()): PageRankResult =
    result(GridLoop.run(edges, Program(cfg.alpha, cfg.tol), cfg.maxIter, cfg.checkpoint))

  /** Resume from the last committed superstep in runDir (a fresh durable
    * run if none; `GridLoop.resume`): the grid is rebuilt from the edges,
    * its vertex blocks from the (id, rank, outdeg) snapshot, and the run
    * goes on bit-identical to an uninterrupted one. An (id, rank) snapshot
    * of the retired DataFrame-join engine is rejected before any job runs.
    */
  def resume(edges: Dataset[Edge], runDir: String,
             cfg: PageRankConfig = PageRankConfig()): PageRankResult =
    result(GridLoop.resume(edges, Program(cfg.alpha, cfg.tol), runDir, cfg.maxIter, cfg.checkpoint match {
      case d: Durable => d
      case _          => Durable(runDir)
    }))

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
    * `n_vertices`, `n_edges`, `dangling_mass` and `converged`.
    */
  private final case class Program(alpha: Double, tol: Double)
      extends GridProgram[VBlock, (Double, Double), Step] {
    val schema: StructType = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("rank", DoubleType, nullable = false),
      StructField("outdeg", IntegerType, nullable = false)))
    val column = "outdeg"
    val rowsPerEdge = 1
    val dedupe = false
    val emptyRound = false
    val empty: Step = Step(Vector.empty, 0.0, 0L, 0L)

    // on resume the committed (id, rank, outdeg) snapshot replaces the
    // out-degree aggregation: it IS the complete vertex state
    def gridInputs(edges: DataFrame, snapshot: Option[DataFrame]): (DataFrame, Option[DataFrame]) =
      (edges, snapshot.map(_.select(col("id"), col("outdeg").cast("int").as("outdeg"), col("rank"))))

    def start(grid: Grid, from: Option[(DataFrame, StepMetrics)]): (RDD[VBlock], Step) = {
      // one job, which builds the cells: the loop times rounds only
      val m = grid.cells.map(_.nbrIdx.length.toLong).fold(0L)(_ + _)
      from match {
        case None =>
          // uniform ranks make the dangling mass a closed form
          val r0 = 1.0 / grid.n
          (grid.vertices.map(b => b.copy(ranks = Array.fill(b.ids.length)(r0))),
            Step(Vector.empty, grid.danglingCount.toDouble / grid.n, grid.n, m))
        case Some((_, recorded)) => // the vertex blocks hold the snapshot's ranks
          (grid.vertices, Step(Vector.empty, recorded.metrics("dangling_mass"), grid.n, m))
      }
    }

    def round(grid: Grid, state: RDD[VBlock], last: Step): (RDD[VBlock], Seq[RDD[_]]) = {
      val (a, d, nn) = (alpha, last.dangling, grid.n) // stable captures
      val sizes = grid.partSizes
      val maxSz = sizes.max
      val msgs: RDD[(Int, MsgBlock)] = grid.cells
        .zipPartitions(state, preservesPartitioning = false) { (bs, vs) =>
          if (!vs.hasNext) Iterator.empty
          else {
            val vb = vs.next()
            // one reused dense accumulator; blocks arrive sorted by
            // dpid, so each dpid's bundle is emitted as soon as its
            // block run ends — only one bundle in flight at a time
            val contribs = new Array[Double](maxSz)
            val in = bs.buffered
            new Iterator[(Int, MsgBlock)] {
              private var pending: (Int, MsgBlock) = _
              private def advance(): Unit = {
                while (pending == null && in.hasNext) {
                  val dp = in.head.dpid
                  while (in.hasNext && in.head.dpid == dp) {
                    val b = in.next()
                    var i = 0
                    while (i < b.srcIdx.length) {
                      val si = b.srcIdx(i)
                      val od = vb.outdeg(si)
                      if (od > 0) {
                        val w = vb.ranks(si) / od
                        var j = b.offsets(i)
                        while (j < b.offsets(i + 1)) { contribs(b.nbrIdx(j)) += w; j += 1 }
                      }
                      i += 1
                    }
                  }
                  val nq = sizes(dp)
                  var nz = 0
                  var i = 0
                  while (i < nq) { if (contribs(i) != 0.0) nz += 1; i += 1 }
                  if (nz > 0) {
                    val idx = new Array[Int](nz)
                    val sums = new Array[Double](nz)
                    var w = 0; i = 0
                    while (i < nq) {
                      if (contribs(i) != 0.0) { idx(w) = i; sums(w) = contribs(i); w += 1 }
                      i += 1
                    }
                    pending = (dp, MsgBlock(dp, idx, sums))
                  }
                  java.util.Arrays.fill(contribs, 0, nq, 0.0)
                }
              }
              def hasNext: Boolean = { advance(); pending != null }
              def next(): (Int, MsgBlock) = {
                advance()
                val r = pending; pending = null; r
              }
            }
          }
        }
        .partitionBy(new HashPartitioner(sizes.length)) // the single per-iteration shuffle

      val next = state.zipPartitions(msgs, preservesPartitioning = true) { (vs, ms) =>
        vs.map { vb =>
          // dense receive: bundle adds land in an array bounded by this
          // partition's vertex count, no hashing
          val contribs = new Array[Double](vb.ids.length)
          ms.foreach { case (_, mb) =>
            var i = 0
            while (i < mb.idx.length) { contribs(mb.idx(i)) += mb.sums(i); i += 1 }
          }
          val newRanks = new Array[Double](vb.ids.length)
          var delta = 0.0
          var k = 0
          while (k < vb.ids.length) {
            val r = (1.0 - a) / nn + a * (contribs(k) + d / nn)
            delta += math.abs(r - vb.ranks(k))
            newRanks(k) = r
            k += 1
          }
          vb.copy(ranks = newRanks, delta = delta) // ids/outdeg shared by reference
        }
      }
      (next, Nil)
    }

    def partial(bs: Seq[VBlock]): (Double, Double) = {
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
      Map("l1_delta" -> s.deltas.last, "n_vertices" -> s.n.toDouble, "n_edges" -> s.m.toDouble,
        "dangling_mass" -> s.dangling, "converged" -> (if (s.deltas.last < tol) 1.0 else 0.0))

    def recorded(m: StepMetrics): Step =
      Step(Vector(m.metrics("l1_delta")), m.metrics("dangling_mass"), m.metrics("n_vertices").toLong,
        m.metrics("n_edges").toLong)

    def rows(b: VBlock): Iterator[InternalRow] = {
      val row = new SpecificInternalRow(schema)
      b.ids.indices.iterator.map { k =>
        row.setLong(0, b.ids(k)); row.setDouble(1, b.ranks(k)); row.setInt(2, b.outdeg(k))
        row: InternalRow
      }
    }

    def values(spark: SparkSession, state: RDD[VBlock]): DataFrame = {
      import spark.implicits._
      state.flatMap(b => b.ids.indices.iterator.map(k => (b.ids(k), b.ranks(k)))).toDF("id", "rank")
    }
  }
}
