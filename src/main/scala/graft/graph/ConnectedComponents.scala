package graft.graph

import graft.ingest.Edge
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

import java.util.Arrays
import scala.collection.mutable

/** Connected components by min-label hooking with one pointer jump per
  * round, on the CSR grid (`Grid`) — Pregel's model
  * (Malewicz et al., SIGMOD 2010) with Shiloach–Vishkin-style
  * shortcutting (FastSV, Zhang, Azad and Hu, SC 2020).
  *
  * Reference precedent: the induced connected-subgraph computation in
  * vis/process.py:28-31 and the isolated-vs-connected node split in
  * create_field/graph.py:56-62 — generalized to full CC with component id
  * = min vertex id (deterministic, parallelism-invariant).
  *
  * A `LabelProgram` (as `LabelPropagation` is) that `GridLoop` runs, one
  * job per round, on the input's undirected grid, which LPA and the
  * triangle count on the same input reuse. A vertex whose only edge is a
  * self-loop is its own component. A round:
  *  1. hook: each source partition sends, per destination partition, one
  *     bundle of (dense index, min neighbour label) (`CellWalk.mins`), and
  *     every vertex takes m(v) = min(label(v), received);
  *  2. shortcut: label(v) = m(m(v)). A vertex whose m(v) is not its own
  *     id asks vertex m(v)'s partition (m(v) mod P) for m(m(v)); each
  *     partition asks each other partition once per id (a component root
  *     receives at most P requests), and the answer goes back to the
  *     asking partition.
  * Labels only fall and never leave the component, and a round that
  * changes none leaves every edge's ends with one label, the component's
  * minimum id. The pointer jump halves the label chains, so a chain of n
  * vertices takes O(log n) rounds where plain min propagation takes n.
  * The snapshot is (id, component); its `_METRICS` keys are `round`,
  * `changed` and `converged`.
  */
object ConnectedComponents {

  final case class CcResult(components: DataFrame, rounds: Int) // (id, component)

  /** Run to fixpoint. Returns (id, component) for every vertex that
    * appears in the edge set; `component` is the min vertex id of the
    * component.
    */
  def run(edges: Dataset[Edge], maxRounds: Int = 50,
          checkpoint: CheckpointPolicy = LocalOnly()): CcResult =
    result(GridLoop.run(edges, program, maxRounds, checkpoint))

  /** Resume from the last committed round in runDir (fresh run if none).
    * Result is identical to an uninterrupted run: the committed labels
    * are the complete iteration state. A converged step runs no further
    * round. A run dir whose snapshot has no `component` column (the
    * (u, v) edge frontier of the retired large-star/small-star loop) is
    * rejected with an IllegalStateException.
    */
  def resume(edges: Dataset[Edge], runDir: String, maxRounds: Int = 50): CcResult =
    result(GridLoop.resume(edges, program, runDir, maxRounds, Durable(runDir)))

  private val program = new LabelProgram("component", "round", selfLoopVertices = true)(round)

  private def result(o: GridLoop.Outcome[Long]): CcResult = CcResult(o.values, o.step)

  /** One hook + shortcut round (steps 1-2 above): four stages, one job. */
  private def round(grid: Grid, state: RDD[LBlock]): (RDD[LBlock], Seq[RDD[_]]) = {
    val p = grid.partSizes.length
    def pidOf(id: Long): Int = java.lang.Math.floorMod(id, p.toLong).toInt

    // 1. hook: m(v) = min(label(v), the neighbours' labels)
    val mins = CellWalk.mins(grid, state) { (lb, b, acc) =>
      var i = 0
      while (i < b.srcIdx.length) {
        val l = lb.labels(b.srcIdx(i))
        var j = b.offsets(i)
        while (j < b.offsets(i + 1)) {
          val t = b.nbrIdx(j)
          if (l < acc(t)) acc(t) = l
          j += 1
        }
        i += 1
      }
    }
    val hooked = state
      .zipPartitions(mins, preservesPartitioning = true) { (ls, ms) =>
        ls.map { lb =>
          val m = lb.labels.clone()
          ms.foreach(_._2.minInto(m))
          lb.copy(labels = m, changed = 0)
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK) // read by the three stages below

    // 2. shortcut: every partition asks for m(u) of each distinct u = m(v)
    // that is not v itself, one sorted request per partition asked ...
    val requests = CellWalk.exchange(hooked.mapPartitionsWithIndex { (q, hs) =>
      hs.flatMap { h =>
        val want = new Array[Long](h.ids.length)
        var n = 0
        var k = 0
        while (k < want.length) {
          if (h.labels(k) != h.ids(k)) { want(n) = h.labels(k); n += 1 }
          k += 1
        }
        Arrays.sort(want, 0, n)
        val asks = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
        k = 0
        while (k < n) {
          if (k == 0 || want(k - 1) != want(k)) asks(pidOf(want(k))) += want(k)
          k += 1
        }
        asks.iterator.zipWithIndex.collect { case (a, t) if a.length > 0 => (t, (q, a.result())) }
      }
    }, p)
    // ... the asked partition answers with its hooked labels ...
    val answers = CellWalk.exchange(hooked.zipPartitions(requests, preservesPartitioning = false) { (hs, rs) =>
      if (!hs.hasNext) Iterator.empty
      else {
        val h = hs.next()
        val t = TaskContext.getPartitionId()
        rs.map { case (_, (q, ids)) => (q, (t, ids, ids.map(u => h.labels(Arrays.binarySearch(h.ids, u))))) }
      }
    }, p)
    // ... and every vertex takes m(m(v))
    val next = state.zipPartitions(hooked, answers, preservesPartitioning = true) { (ls, hs, as) =>
      ls.zip(hs).map { case (lb, h) =>
        val from = new Array[(Array[Long], Array[Long])](p)
        as.foreach { case (_, (t, ids, ms)) => from(t) = (ids, ms) }
        val labels = new Array[Long](lb.ids.length)
        var changed = 0
        var k = 0
        while (k < labels.length) {
          val u = h.labels(k)
          labels(k) =
            if (u == lb.ids(k)) u
            else { val (ids, ms) = from(pidOf(u)); ms(Arrays.binarySearch(ids, u)) }
          if (labels(k) != lb.labels(k)) changed += 1
          k += 1
        }
        lb.copy(labels = labels, changed = changed)
      }
    }
    (next, Seq(hooked))
  }
}
