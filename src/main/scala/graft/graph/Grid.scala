package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** One vertex partition of the grid: its ids, sorted, and their out-degrees. */
private[graph] final case class VBlock(pid: Int, ids: Array[Long], outdeg: Array[Int])

/** A grid cell of the adjacency, from the vertex partition that holds
  * it to partition `dpid`: srcIdx/nbrIdx are dense indexes into the
  * source/destination partitions' VBlock arrays.
  */
private[graph] final case class IdxBlock(
    dpid: Int,
    srcIdx: Array[Int],   // ascending within the block
    offsets: Array[Int],  // length = srcIdx.length + 1
    nbrIdx: Array[Int])

/** One edge set as grid-partitioned, index-resolved CSR blocks, which
  * every grid program runs on (north rule: adjacency as CSR blocks in
  * typed Datasets; precedent for the 2D layout: GraphX EdgePartition2D /
  * PowerGraph vertex-cut), built once per input and shape
  * (`GridLoop.withGrid`) and never reshuffled. ONE `VBlock` per vertex
  * partition (pid = id mod P; dense index == sorted position), whose
  * arrays the programs' state blocks share by reference; the cells, sorted
  * by dpid within each source partition and capped at maxEdgesPerBlock,
  * so the walk over them (`CellWalk`) streams; the vertex count, how many
  * vertices have no out-edge, each partition's vertex count and the cells'
  * edge count.
  *
  * RDDs, not Datasets: a Dataset `groupByKey(_.partId).cogroup`
  * re-shuffles the static block side EVERY superstep (the lambda key is
  * opaque to Catalyst; measured 6x slower in round 1), while a
  * partitioner-pinned zipPartitions moves zero block bytes.
  */
private[graph] final case class Grid(vertices: RDD[VBlock], cells: RDD[IdxBlock], n: Long,
                                     danglingCount: Long, partSizes: Array[Int], edges: Long) {
  def unpersist(): Unit = { cells.unpersist(false); vertices.unpersist(false) }
}

private[graph] object Grid {

  /** For each pid p in [0,P) an int token with murmur3(token)%P == p —
    * repartition(P, token) then places pid p in Catalyst shuffle
    * partition p (Spark hashes an int column with Murmur3_x86_32 seed
    * 42, exactly HashPartitioning.partitionIdExpression). Driver-side
    * search; a few hundred probes for any practical P.
    */
  def partitionTokens(p: Int): Array[Int] = {
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
  def byPid(df: DataFrame, id: Column, p: Int): DataFrame =
    df.repartition(p, element_at(lit(partitionTokens(p)), pmod(id, lit(p.toLong)).cast("int") + lit(1)))

  /** Each vertex block of `grid` with `snap`'s `column` values in its
    * vertex order, starting from `init`'s array (a snapshot row for a
    * vertex the grid lacks is dropped): the snapshot goes to the vertex
    * partitions and each id is found by binary search.
    */
  def withSnapshot[T](grid: Grid, snap: DataFrame, column: String, enc: Encoder[T])(
      init: VBlock => Array[T]): RDD[(VBlock, Array[T])] =
    byPid(snap.select(col("id"), col(column)), col("id"), grid.partSizes.length)
      .as(Encoders.tuple(Encoders.scalaLong, enc)).rdd
      .zipPartitions(grid.vertices, preservesPartitioning = false) { (rows, vs) =>
        vs.map { vb =>
          val values = init(vb)
          rows.foreach { case (id, v) =>
            val k = java.util.Arrays.binarySearch(vb.ids, id)
            if (k >= 0) values(k) = v
          }
          (vb, values)
        }
      }

  /** The grid of the (src, dst) rows `edf` and the (id, outdeg) rows
    * `vertexTable`, on the loop session `spark` at dimension `p`; with
    * `dedupe`, a repeated (src, dst) row becomes one edge. Catalyst
    * shuffles (placed by `byPid`) and Tungsten external sorts do the work:
    * the round-2 prepare moved every edge twice as boxed RDD tuples and
    * was 6x the loop's wall time. Three passes:
    *  1. vertex blocks: the table by pid, sorted by id, streamed into
    *     per-partition primitive arrays;
    *  2. dst-resolve: the edges by pid(dst), unsorted, each dst resolved to
    *     its dense index by binary search in the partition's sorted ids;
    *  3. cells: the resolved (src, dpid, didx) rows by pid(src), sorted by
    *     (dpid, src), then one streaming pass emits the cells (the src
    *     index resolved once per group head).
    * ONE job runs the three passes and collects each partition's vertex,
    * out-degree-0 and edge counts. None when there is no vertex.
    */
  def prepare(spark: SparkSession, edf: DataFrame, vertexTable: DataFrame, p: Int,
              dedupe: Boolean): Option[Grid] = {
    import spark.implicits._
    // 1.
    val state: RDD[VBlock] = byPid(vertexTable, col("id"), p)
      .sortWithinPartitions(col("id"))
      .as[(Long, Int)].rdd
      .mapPartitionsWithIndex({ (i, it) =>
        val ids = new mutable.ArrayBuilder.ofLong
        val od = new mutable.ArrayBuilder.ofInt
        it.foreach { case (id, d) => ids += id; od += d }
        if (ids.length == 0) Iterator.empty else Iterator.single(VBlock(i, ids.result(), od.result()))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a vertex table that the optimizer knows to be empty has no partition
    if (state.getNumPartitions != p) {
      state.unpersist(false)
      return None
    }

    // 2.
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

    // 3. (with `dedupe`, also sorted by dst index, to drop repeats)
    val sortKeys = Seq(col("_2"), col("_1")) ++ (if (dedupe) Seq(col("_3")) else Nil)
    val sortedCells = byPid(spark.createDataset(resolved).toDF(), col("_1"), p)
      .sortWithinPartitions(sortKeys: _*)
      .as[(Long, Int, Int)].rdd
    val cells: RDD[IdxBlock] = sortedCells
      .zipPartitions(state, preservesPartitioning = false) { (rows, vs) =>
        if (!vs.hasNext) Iterator.empty
        else {
          val vb = vs.next()
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
              IdxBlock(dp, sidx.result(), offs.result(), nis.result())
            }
          }
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the one job: per-partition vertex counts — tiny (P ints), captured
    // by the rounds' closures — out-degree-0 counts and edge counts
    val partSizes = new Array[Int](p)
    var danglingCount = 0L
    var edges = 0L
    cells.zipPartitions(state, preservesPartitioning = false) { (cs, vs) =>
      val m = cs.map(_.nbrIdx.length.toLong).sum // builds (and persists) every cell
      vs.map(b => (b.pid, b.ids.length, b.outdeg.count(_ == 0), m))
    }.collect().foreach { case (q, s, d, m) =>
      partSizes(q) = s
      danglingCount += d
      edges += m
    }
    if (partSizes.forall(_ == 0)) {
      cells.unpersist(false)
      state.unpersist(false)
      None
    } else Some(Grid(state, cells, partSizes.map(_.toLong).sum, danglingCount, partSizes, edges))
  }
}
