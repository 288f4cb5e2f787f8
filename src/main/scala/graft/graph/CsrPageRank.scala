package graft.graph

import graft.core.IterationConf
import graft.ingest.Edge
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

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
  * PREPARE runs entirely on Catalyst shuffles + Tungsten external sorts
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
  *     array, apply teleport + dangling mass, emit the new state. The
  *     L1 delta rides an accumulator in the same job; the dangling mass
  *     fed into the NEXT iteration's rank formula is summed per partition
  *     over the materialized new state (same single job triggers it) and
  *     the partials are added on the driver in partition order — so it is
  *     the same double on every run and on resume (an RDD fold would add
  *     them in task-completion order). A re-executed or speculated task
  *     can therefore only inflate the convergence-test delta (costing at
  *     most an extra iteration), never perturb the rank values themselves.
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
  * here. CsrPageRankSpec and PageRankSpec check it against the
  * plain-Scala power-iteration oracle (`Oracles.pageRank`).
  */
object CsrPageRank {

  /** One partition's vertex state: parallel arrays sorted by id. */
  final case class VBlock(pid: Int, ids: Array[Long], outdeg: Array[Int], ranks: Array[Double])

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

  private final class IntBuf(initial: Int = 64) {
    private var arr = new Array[Int](initial)
    var n = 0
    def add(v: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(n) = v; n += 1
    }
    def result(): Array[Int] = java.util.Arrays.copyOf(arr, n)
  }

  def run(edges: Dataset[Edge], cfg: PageRankConfig = PageRankConfig()): PageRankResult =
    runImpl(edges, cfg, None)

  /** Resume from the last committed superstep in runDir (fresh durable
    * run if none). The committed (id, rank, outdeg) snapshot is the
    * complete iteration state: the grid is rebuilt from the edges, the
    * vertex blocks from the snapshot, and the continuation is
    * bit-identical to an uninterrupted run (see CsrPageRankSpec). A
    * snapshot without `outdeg` — the (id, rank) format of the retired
    * DataFrame-join engine — is rejected before any job runs.
    */
  def resume(edges: Dataset[Edge], runDir: String,
             cfg: PageRankConfig = PageRankConfig()): PageRankResult = {
    val spark = edges.sparkSession
    val durableCfg = cfg.checkpoint match {
      case _: Durable => cfg
      case _          => cfg.copy(checkpoint = Durable(runDir, 1))
    }
    Supersteps.lastCommitted(spark, runDir) match {
      case None => runImpl(edges, durableCfg, None)
      case Some(step) =>
        val metrics = Supersteps.readMetrics(spark, runDir, step)
        def requireOutdeg(schema: StructType): Unit =
          if (!schema.fieldNames.contains("outdeg"))
            throw new IllegalStateException(
              s"superstep $step in $runDir has no outdeg column (snapshot columns: " +
                s"${schema.fieldNames.mkString(", ")}); it was not written by CsrPageRank " +
                "and cannot be resumed — start a fresh run")
        metrics.schema.foreach(requireOutdeg)
        val snap = Supersteps.readState(spark, runDir, step)
        requireOutdeg(snap.schema) // also covers run dirs that recorded no schema
        if (metrics.converged)
          PageRankResult(snap.select(col("id"), col("rank")), step, converged = true,
            Seq(metrics.metrics("l1_delta")), -1L, metrics.rows)
        else runImpl(edges, durableCfg, Some((snap, step)))
    }
  }

  private def runImpl(
      edges: Dataset[Edge], cfg: PageRankConfig,
      initialState: Option[(org.apache.spark.sql.DataFrame, Int)]): PageRankResult = {
    val callerSpark = edges.sparkSession
    val sessionParts = callerSpark.conf.get("spark.sql.shuffle.partitions").toInt

    val prepT0 = System.nanoTime()
    // Grid dimension sized to the edge set (parquet-backed inputs
    // answer count() from footer statistics; derived ones pay one
    // extra derivation, far cheaper than tens of near-empty-task
    // supersteps on a small graph).
    val P = IterationConf.sizedPartitions(sessionParts, math.max(edges.toDF().count(), 1L))
    // The whole build + loop runs on an isolated cloned session (AQE off,
    // broadcast off, shuffle partitions = P) — the caller's session conf
    // is never mutated, so concurrent queries can't race it.
    IterationConf.withLoopSession(callerSpark, P) { spark =>
      import spark.implicits._
      val part = new HashPartitioner(P) // Int keys in [0,P): partition index == pid
      val toks = partitionTokens(P)
      def tokOf(idCol: Column): Column =
        element_at(lit(toks), pmod(idCol, lit(P.toLong)).cast("int") + lit(1))

      val edf = IterationConf.rebind(edges.toDF(), spark) // (src, dst)

      // --- 1. vertex state: one combined aggregation + one Tungsten
      // shuffle+sort, streamed into primitive per-partition arrays. On
      // resume the committed (id, rank, outdeg) snapshot replaces the
      // aggregation — it IS the complete vertex state. -------------------
      val stateSource: org.apache.spark.sql.DataFrame = initialState match {
        case Some((snap, _)) =>
          IterationConf.rebind(snap, spark)
            .select(col("id"), col("outdeg").cast("int").as("outdeg"), col("rank"))
        case None =>
          edf.select(col("src").as("id"), lit(1).as("c"))
            .unionAll(edf.select(col("dst").as("id"), lit(0).as("c")))
            .groupBy(col("id")).agg(sum(col("c")).cast("int").as("outdeg"))
            .withColumn("rank", lit(0.0)) // filled with 1/n once n is known
      }
      var state: RDD[VBlock] = stateSource
        .repartition(P, tokOf(col("id")))
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
      val counts = state.map(b => (b.ids.length.toLong, b.outdeg.count(_ == 0).toLong))
        .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      val n = counts._1
      val danglingCount = counts._2
      if (n == 0) {
        state.unpersist(false)
        val none = IterationConf.rebind(Seq.empty[(Long, Double)].toDF("id", "rank"), callerSpark)
        return PageRankResult(none, 0, converged = true, Nil, 0L, 0L)
      }
      // per-partition vertex counts — tiny (P ints), captured by closures
      val partSizes = {
        val arr = new Array[Int](P)
        state.map(b => (b.pid, b.ids.length)).collect().foreach { case (p, s) => arr(p) = s }
        arr
      }
      val maxPartSize = partSizes.max

      // --- 2. dst-resolve: Catalyst shuffle (no sort) zipped with state -
      val resolved: RDD[(Long, Int, Int)] = edf.select(col("src"), col("dst"))
        .repartition(P, tokOf(col("dst")))
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
      // pid(src) partitions, then one streaming pass emits the cells ----
      val sortedCells = spark.createDataset(resolved)
        .repartition(P, tokOf(col("_1")))
        .sortWithinPartitions(col("_2"), col("_1"))
        .as[(Long, Int, Int)].rdd
      val blocks: RDD[IdxBlock] = sortedCells
        .zipPartitions(state, preservesPartitioning = false) { (cells, vs) =>
          if (!vs.hasNext) Iterator.empty
          else {
            val vb = vs.next()
            val sp = vb.pid
            val maxEdgesPerBlock = 4 << 20
            val in = cells.buffered
            new Iterator[IdxBlock] {
              def hasNext: Boolean = in.hasNext
              def next(): IdxBlock = {
                val dp = in.head._2
                val sidx = new IntBuf(256)
                val offs = new IntBuf(256)
                val nis = new IntBuf(1024)
                offs.add(0)
                while (in.hasNext && in.head._2 == dp && nis.n < maxEdgesPerBlock) {
                  val s = in.head._1
                  // src's own dense index via binary search in this
                  // partition's sorted ids (once per group head)
                  sidx.add(java.util.Arrays.binarySearch(vb.ids, s))
                  while (in.hasNext && in.head._2 == dp && in.head._1 == s) {
                    nis.add(in.next()._3)
                  }
                  offs.add(nis.n)
                }
                IdxBlock(sp, dp, sidx.result(), offs.result(), nis.result())
              }
            }
          }
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      val m = blocks.map(_.nbrIdx.length.toLong).fold(0L)(_ + _)

      if (initialState.isEmpty) {
        val r0 = 1.0 / n
        state = materialize(state.mapPartitions(
          _.map(b => b.copy(ranks = Array.fill(b.ids.length)(r0))), preservesPartitioning = true))
      }

      val prepSecs = (System.nanoTime() - prepT0) / 1e9
      val loopT0 = System.nanoTime()
      val sc = spark.sparkContext
      val alpha = cfg.alpha
      // fresh start: uniform ranks make dangling mass a closed form;
      // resume: recompute it from the snapshot's ranks (same sum order as
      // the uninterrupted run)
      var dangling =
        if (initialState.isEmpty) danglingCount.toDouble / n else stepJob(state, None)._1
      var iter = initialState.map(_._2).getOrElse(0)
      var converged = false
      var deltas = Vector.empty[Double]

      while (iter < cfg.maxIter && !converged) {
        val d = dangling // stable capture
        val nn = n
        val sizes = partSizes
        val maxSz = maxPartSize
        val msgs: RDD[(Int, MsgBlock)] = blocks
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
          .partitionBy(part) // the single per-iteration shuffle

        val deltaAcc = sc.doubleAccumulator(s"l1_delta_iter_$iter")
        val newState: RDD[VBlock] = state
          .zipPartitions(msgs, preservesPartitioning = true) { (vs, ms) =>
            vs.map { vb =>
              // dense receive: bundle adds land in an array bounded by
              // this partition's vertex count, no hashing
              val contribs = new Array[Double](vb.ids.length)
              ms.foreach { case (_, mb) =>
                var i = 0
                while (i < mb.idx.length) { contribs(mb.idx(i)) += mb.sums(i); i += 1 }
              }
              val newRanks = new Array[Double](vb.ids.length)
              var delta = 0.0
              var k = 0
              while (k < vb.ids.length) {
                val r = (1.0 - alpha) / nn + alpha * (contribs(k) + d / nn)
                delta += math.abs(r - vb.ranks(k))
                newRanks(k) = r
                k += 1
              }
              deltaAcc.add(delta)
              vb.copy(ranks = newRanks) // ids/outdeg shared by reference
            }
          }
        // ONE job per iteration: it materializes the new state (persist +
        // localCheckpoint), computes the next iteration's dangling mass
        // from it — unlike an accumulator, a re-run task cannot
        // double-count into the ranks — and, when this superstep is due
        // for a commit, writes the snapshot from the same tasks.
        newState.persist(StorageLevel.MEMORY_AND_DISK)
        newState.localCheckpoint()
        val due = cfg.checkpoint match {
          case Durable(runDir, every) if (iter + 1) % every == 0 => Some(runDir)
          case _ => None
        }
        val (mass, written) = stepJob(newState, due.map(Supersteps.prepare(spark, _, iter + 1)))
        dangling = mass

        // accumulator delta gates CONVERGENCE only: a duplicated task
        // update can only inflate it (delta terms are >= 0), i.e. cost at
        // most an extra iteration — never perturb the rank values.
        val delta = deltaAcc.value.doubleValue()
        deltas :+= delta
        state.unpersist(false)
        state = newState
        iter += 1
        converged = delta < cfg.tol

        cfg.checkpoint match {
          case Durable(runDir, every) if iter % every == 0 || converged =>
            // a run converging off the commit schedule still commits its
            // last step: one write job over the kept state
            val parts =
              if (due.isDefined) written
              else stepJob(state, Some(Supersteps.prepare(spark, runDir, iter)))._2
            Supersteps.seal(spark, runDir, iter, parts, snapshotSchema,
              Map("l1_delta" -> delta, "n_vertices" -> n.toDouble, "n_edges" -> m.toDouble,
                "dangling_mass" -> dangling, "converged" -> (if (converged) 1.0 else 0.0)))
          case _ => ()
        }
      }
      val result = state
        .flatMap(b => b.ids.indices.iterator.map(k => (b.ids(k), b.ranks(k))))
        .toDF("id", "rank").localCheckpoint(true)
      blocks.unpersist(false)
      state.unpersist(false)
      PageRankResult(IterationConf.rebind(result, callerSpark), iter, converged, deltas, m, n,
        prepareSeconds = prepSecs, loopSeconds = (System.nanoTime() - loopT0) / 1e9)
    }
  }

  /** The committed snapshot: one (id, rank, outdeg) row per vertex. */
  private val snapshotSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rank", DoubleType, nullable = false),
    StructField("outdeg", IntegerType, nullable = false)))

  /** ONE job over `state`: the rank mass on out-degree-0 vertices — the
    * per-partition sums come back from runJob in partition order and are
    * added in that order, so the double is reproducible run to run — and,
    * given a step's state dir, each partition's snapshot written by the
    * task holding it. Returns the mass and each partition's snapshot
    * (rows, checksum).
    */
  private def stepJob(state: RDD[VBlock], snapshotDir: Option[String]): (Double, Seq[(Long, Long)]) = {
    val sc = state.sparkContext
    val conf = snapshotDir.map(_ => new SerializableConfiguration(sc.hadoopConfiguration))
    val parts = sc.runJob(state, (ctx: TaskContext, vs: Iterator[VBlock]) => {
      val bs = vs.toArray // at most one block per partition
      var s = 0.0
      bs.foreach { vb =>
        var k = 0
        while (k < vb.ids.length) { if (vb.outdeg(k) == 0) s += vb.ranks(k); k += 1 }
      }
      val written = snapshotDir.fold((0L, 0L)) { dir =>
        val row = new SpecificInternalRow(snapshotSchema)
        Supersteps.writePart(dir, snapshotSchema, conf.get, ctx,
          bs.iterator.flatMap(b => b.ids.indices.iterator.map { k =>
            row.setLong(0, b.ids(k)); row.setDouble(1, b.ranks(k)); row.setInt(2, b.outdeg(k))
            row: InternalRow
          }))
      }
      (s, written)
    })
    (parts.map(_._1).sum, parts.toSeq.map(_._2))
  }

  /** Persist + truncate lineage + materialize in one action. */
  private def materialize[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    rdd.count()
    rdd
  }
}
