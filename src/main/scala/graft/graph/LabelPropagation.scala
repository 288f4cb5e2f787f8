package graft.graph

import graft.graph.CsrPageRank.{Grid, IdxBlock}
import graft.ingest.Edge
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

import java.util.Arrays

/** Synchronous label propagation for community assignment, on the CSR
  * grid that `CsrPageRank` loops on.
  *
  * Reference precedent: per-paper topic assignment with fallback
  * propagation (topic/bertopic_title_abstract.py:94-106) and KMeans root
  * grouping (topic/cluster_topic.py:16-25) — the engine's community/label
  * algorithm generalizes both ("top-author topic analysis").
  *
  * Determinism (parallelism-invariance, SURVEY.md §7.6): every tie is
  * broken by the MIN label id — both the per-vertex majority vote
  * (count desc, label asc) and initialization (label = vertex id). The
  * iteration is synchronous (all vertices update from the previous
  * round's labels), so results are identical at any partition count.
  * maxIter caps oscillation (sync LPA can 2-cycle on bipartite
  * structures).
  *
  * A `LabelProgram` (as `ConnectedComponents` is) that `GridLoop` runs,
  * one job per round, on CC's grid of the same input (reused when CC or
  * the triangle count ran on it first); a vertex whose only edge is a
  * self-loop hears no vote and gets no row. A vote round:
  *  1. each source partition walks its cells one destination partition
  *     at a time: a counting sort buckets the (neighbour index, label)
  *     votes by neighbour, each bucket's labels are sorted, and the run
  *     lengths leave as one bundle of (idx, label, count) runs sorted by
  *     (idx, label) — pre-combined, so a hub receives at most P bundles
  *     (two-phase aggregation, SURVEY.md §7.5);
  *  2. partitionBy(P) on the bundle's destination partition — the only
  *     shuffle;
  *  3. each vertex partition merges its bundles (pairwise merges of
  *     sorted runs, adding the counts of equal (idx, label)) and every
  *     vertex takes its most frequent label, ties to the smallest; a
  *     vertex that hears no vote keeps its label.
  * The snapshot is (id, label); its `_METRICS` keys are `iter`,
  * `changed` and `converged`.
  */
object LabelPropagation {

  final case class LpaResult(labels: DataFrame, iterations: Int, converged: Boolean)

  /** Votes for one destination partition: (idx, label, count) runs
    * sorted by (idx, label).
    */
  private final case class Votes(idx: Array[Int], labels: Array[Long], counts: Array[Int])

  def run(edges: Dataset[Edge], maxIter: Int = 20,
          checkpoint: CheckpointPolicy = LocalOnly()): LpaResult =
    result(GridLoop.run(edges, program, maxIter, checkpoint))

  /** Resume from the last committed label state in runDir (fresh run if
    * none). Identical final labels to an uninterrupted run: a committed
    * label snapshot is the complete iteration state of the synchronous
    * vote.
    */
  def resume(edges: Dataset[Edge], runDir: String, maxIter: Int = 20): LpaResult =
    result(GridLoop.resume(edges, program, runDir, maxIter, Durable(runDir)))

  private val program = new LabelProgram("label", "iter", selfLoopVertices = false)(round)

  private def result(o: GridLoop.Outcome[Long]): LpaResult = LpaResult(o.values, o.step, o.converged)

  /** One vote round (steps 1-3 above). */
  private def round(grid: Grid, state: RDD[LBlock]): (RDD[LBlock], Seq[RDD[_]]) = {
    val part = new HashPartitioner(grid.partSizes.length) // Int keys in [0,P): partition index == pid
    val msgs = votes(grid.cells, state, grid.partSizes).partitionBy(part) // the only shuffle
    val next = state.zipPartitions(msgs, preservesPartitioning = true) { (ls, ms) =>
      ls.map { lb =>
        var runs = ms.map(_._2).toVector
        while (runs.size > 1)
          runs = runs.grouped(2).map(g => if (g.size == 2) merge(g(0), g(1)) else g(0)).toVector
        val labels = lb.labels.clone()
        var changed = 0
        runs.foreach { v =>
          var e = 0
          while (e < v.idx.length) {
            val k = v.idx(e)
            // labels ascend within a vertex's runs: the first
            // highest count is the smallest of the tied labels
            var best = v.labels(e)
            var bestCount = v.counts(e)
            e += 1
            while (e < v.idx.length && v.idx(e) == k) {
              if (v.counts(e) > bestCount) { best = v.labels(e); bestCount = v.counts(e) }
              e += 1
            }
            if (best != labels(k)) { labels(k) = best; changed += 1 }
          }
        }
        lb.copy(labels = labels, changed = changed)
      }
    }
    (next, Nil)
  }

  /** Step 1: every source partition's votes, one bundle per destination
    * partition its cells reach. Cells arrive sorted by dpid, so one dpid's
    * votes are in flight at a time; the bucket bounds are reused arrays
    * sized to the largest partition.
    */
  private def votes(cells: RDD[IdxBlock], state: RDD[LBlock], sizes: Array[Int]): RDD[(Int, Votes)] = {
    val maxSz = sizes.max
    cells.zipPartitions(state, preservesPartitioning = false) { (bs, ls) =>
      if (!ls.hasNext) Iterator.empty
      else {
        val own = ls.next().labels
        val start = new Array[Int](maxSz + 1)
        val fill = new Array[Int](maxSz)
        val in = bs.buffered
        new Iterator[(Int, Votes)] {
          def hasNext: Boolean = in.hasNext
          def next(): (Int, Votes) = {
            val dp = in.head.dpid
            val run = Vector.newBuilder[IdxBlock]
            while (in.hasNext && in.head.dpid == dp) run += in.next()
            val blocks = run.result()
            val nq = sizes(dp)
            Arrays.fill(start, 0, nq + 1, 0)
            blocks.foreach(_.nbrIdx.foreach(j => start(j + 1) += 1))
            var k = 0
            while (k < nq) { start(k + 1) += start(k); k += 1 }
            System.arraycopy(start, 0, fill, 0, nq)
            val lab = new Array[Long](start(nq))
            blocks.foreach { b =>
              var i = 0
              while (i < b.srcIdx.length) {
                val l = own(b.srcIdx(i))
                var j = b.offsets(i)
                while (j < b.offsets(i + 1)) {
                  val t = b.nbrIdx(j)
                  lab(fill(t)) = l; fill(t) += 1
                  j += 1
                }
                i += 1
              }
            }
            val idx = new Array[Int](lab.length)
            val labels = new Array[Long](lab.length)
            val counts = new Array[Int](lab.length)
            var w = 0
            k = 0
            while (k < nq) {
              Arrays.sort(lab, start(k), start(k + 1))
              var e = start(k)
              while (e < start(k + 1)) {
                if (e == start(k) || lab(e) != lab(e - 1)) {
                  idx(w) = k; labels(w) = lab(e); w += 1
                }
                counts(w - 1) += 1
                e += 1
              }
              k += 1
            }
            (dp, Votes(Arrays.copyOf(idx, w), Arrays.copyOf(labels, w), Arrays.copyOf(counts, w)))
          }
        }
      }
    }
  }

  /** Two sorted vote runs as one, the counts of an (idx, label) in both
    * added.
    */
  private def merge(a: Votes, b: Votes): Votes = {
    val cap = a.idx.length + b.idx.length
    val idx = new Array[Int](cap)
    val labels = new Array[Long](cap)
    val counts = new Array[Int](cap)
    var i = 0
    var j = 0
    var w = 0
    while (i < a.idx.length || j < b.idx.length) {
      val c =
        if (i == a.idx.length) 1
        else if (j == b.idx.length) -1
        else {
          val byIdx = Integer.compare(a.idx(i), b.idx(j))
          if (byIdx != 0) byIdx else java.lang.Long.compare(a.labels(i), b.labels(j))
        }
      if (c <= 0) { idx(w) = a.idx(i); labels(w) = a.labels(i); counts(w) = a.counts(i); i += 1 }
      else { idx(w) = b.idx(j); labels(w) = b.labels(j); counts(w) = b.counts(j) }
      if (c >= 0) {
        if (c == 0) counts(w) += b.counts(j)
        j += 1
      }
      w += 1
    }
    Votes(Arrays.copyOf(idx, w), Arrays.copyOf(labels, w), Arrays.copyOf(counts, w))
  }
}
