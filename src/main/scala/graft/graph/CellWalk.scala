package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** The grid's one message walk, which PageRank, connected components,
  * label propagation and the triangle count send their messages with:
  * Pregel's combiner (Malewicz et al., SIGMOD 2010); GraphX's
  * `aggregateMessages` (send, merge) is the Spark precedent.
  *
  * Each source partition's cells are zipped with its state block and
  * walked one destination-partition run at a time (cells arrive sorted by
  * dpid). A run leaves as at most one bundle, combined at the source, so
  * a hub receives at most P bundles, never per-edge records (two-phase
  * aggregation, SURVEY.md §7.5). Bundles stream out one at a time, so a
  * task's heap is bounded by the largest destination partition.
  *
  * A program is called once per cell (`sums`, `mins`) or per destination
  * run (`runs`), never per edge, so its inner loops stay monomorphic
  * primitive loops. `sums` and `mins` combine into one dense array per
  * task, sized to the largest partition and reset after each run (an
  * open-addressing-map combine measured ~4 GB of map churn per iteration
  * at 132M edges).
  */
private[graph] object CellWalk {

  /** A destination partition's summed messages, by ascending dense index. */
  final case class Sums(idx: Array[Int], sums: Array[Double]) {
    def addTo(acc: Array[Double]): Unit = { var i = 0; while (i < idx.length) { acc(idx(i)) += sums(i); i += 1 } }
  }

  /** A destination partition's least messages, by ascending dense index. */
  final case class Mins(idx: Array[Int], mins: Array[Long]) {
    def minInto(acc: Array[Long]): Unit = {
      var i = 0
      while (i < idx.length) { if (mins(i) < acc(idx(i))) acc(idx(i)) = mins(i); i += 1 }
    }
  }

  /** Each bundle (dpid, m) to partition dpid, where the grid keeps vertex partition dpid. */
  def exchange[M: ClassTag](msgs: RDD[(Int, M)], p: Int): RDD[(Int, M)] = msgs.partitionBy(new HashPartitioner(p))

  /** Task side: `bundle(dpid, run)` of each destination run of one
    * partition's cells, with its dpid, when it gives one. A run is read
    * once, and what `bundle` leaves of it is skipped.
    */
  def byRun[M](cells: Iterator[IdxBlock])(bundle: (Int, Iterator[IdxBlock]) => Option[M]): Iterator[(Int, M)] = {
    val in = cells.buffered
    // while cells are left, the next run, walked once the bundle before it is taken
    Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
      val dp = in.head.dpid
      val run = new Iterator[IdxBlock] {
        def hasNext: Boolean = in.hasNext && in.head.dpid == dp
        def next(): IdxBlock = in.next()
      }
      val m = bundle(dp, run)
      run.foreach(_ => ())
      m.map((dp, _))
    }
  }

  /** The run-level form: `bundle(s, acc, dpid, run)` for each destination
    * run of the partition whose state block is `s`, exchanged; `acc(n)`
    * makes the task's reused accumulator, n being the largest partition's
    * vertex count.
    */
  def runs[S: ClassTag, A, M: ClassTag](grid: Grid, state: RDD[S], acc: Int => A)(
      bundle: (S, A, Int, Iterator[IdxBlock]) => Option[M]): RDD[(Int, M)] = {
    val maxSz = grid.partSizes.max
    exchange(grid.cells.zipPartitions(state, preservesPartitioning = false) { (cs, ss) =>
      if (!ss.hasNext) Iterator.empty
      else {
        val (s, a) = (ss.next(), acc(maxSz))
        byRun(cs)(bundle(s, a, _, _))
      }
    }, grid.partSizes.length)
  }

  /** `add(s, cell, acc)` adds a cell's messages into `acc` (0.0: none);
    * each destination run leaves as its nonzero sums.
    */
  def sums[S: ClassTag](grid: Grid, state: RDD[S])(add: (S, IdxBlock, Array[Double]) => Unit): RDD[(Int, Sums)] = {
    val sizes = grid.partSizes
    runs(grid, state, new Array[Double](_)) { (s, acc, dp, run) =>
      run.foreach(add(s, _, acc))
      val nq = sizes(dp)
      var nz = 0
      var i = 0
      while (i < nq) { if (acc(i) != 0.0) nz += 1; i += 1 }
      val idx = new Array[Int](nz)
      val sums = new Array[Double](nz)
      var w = 0
      i = 0
      while (i < nq) {
        if (acc(i) != 0.0) { idx(w) = i; sums(w) = acc(i); w += 1; acc(i) = 0.0 }
        i += 1
      }
      Option.when(nz > 0)(Sums(idx, sums))
    }
  }

  /** `add(s, cell, acc)` lowers `acc` to a cell's messages
    * (Long.MaxValue: none); each destination run leaves as its mins.
    */
  def mins[S: ClassTag](grid: Grid, state: RDD[S])(add: (S, IdxBlock, Array[Long]) => Unit): RDD[(Int, Mins)] = {
    val sizes = grid.partSizes
    runs(grid, state, Array.fill(_)(Long.MaxValue)) { (s, acc, dp, run) =>
      run.foreach(add(s, _, acc))
      val nq = sizes(dp)
      var nz = 0
      var i = 0
      while (i < nq) { if (acc(i) != Long.MaxValue) nz += 1; i += 1 }
      val idx = new Array[Int](nz)
      val mins = new Array[Long](nz)
      var w = 0
      i = 0
      while (i < nq) {
        if (acc(i) != Long.MaxValue) { idx(w) = i; mins(w) = acc(i); w += 1; acc(i) = Long.MaxValue }
        i += 1
      }
      Option.when(nz > 0)(Mins(idx, mins))
    }
  }
}
