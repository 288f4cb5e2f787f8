package graft.graph

import graft.ingest.Edge
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.{DataFrame, Dataset}

import scala.collection.mutable

/** Triangle counting over the undirected simple graph, on the input's
  * undirected CSR grid (`count`, `countDf`).
  *
  * Reference precedent: the co-citation / bibliographic-coupling
  * common-neighbor metrics (create_field/extract_link_features.py:189-201,
  * 266-267) — a triangle through edge (u,v) IS a common neighbor of u and
  * v; this operator is their graph-wide generalization (citation-clique
  * density).
  *
  * Skew plan (SURVEY.md §7.5, standard degree-orientation trick): rank
  * vertices by (degree, id) and orient every edge low→high. Then every
  * triangle is found once, at its lowest-ranked vertex, by intersecting
  * sorted successor lists, and no wedge is listed: a hub of degree d costs
  * no O(d²) wedge blow-up.
  */
object TriangleCount {

  /** Total triangle count as a 1-row DataFrame (`n_triangles`: bigint,
    * not null), computed now by `count`.
    */
  def countDf(edges: Dataset[Edge]): DataFrame = {
    import edges.sparkSession.implicits._
    Seq(count(edges)).toDF("n_triangles")
  }

  /** Total triangle count over the input's undirected grid
    * (`GridShape.Undirected`, the one CC and LPA run on, reused when either
    * ran on `edges` first), by the edge-iterator ("compact-forward")
    * algorithm in ONE job with two shuffles:
    *  1. each partition computes its vertices' degrees from its cells and
    *     sends each destination run's (`CellWalk.runs`) partition q the
    *     degrees of the run's source vertices — the grid is symmetric, so
    *     those are exactly the neighbours q's cells reference;
    *  2. with rank = (degree, global key `pid << 32 | idx`), a total order
    *     that needs no remote id, each vertex's N⁺ (its higher-ranked
    *     neighbours) is built sorted; a partition sends its own lists to
    *     itself, and N⁺(b) to the partition of each lower-ranked
    *     neighbour of b, once per target partition;
    *  3. each partition sums |N⁺(a) ∩ N⁺(b)| over its vertices a and
    *     b ∈ N⁺(a) by sorted merge; the driver adds the partitions' longs.
    * Each triangle {a ≺ b ≺ c} is counted once, at (a, b); orientation
    * bounds |N⁺| by O(√m), so a hub costs no O(d²) wedge listing.
    *
    * Task memory: steps 1 and 2 hold one partition's cells, with one int
    * per cell entry. Step 3's shuffle sorts what a partition receives by
    * source partition, its own lists first, in Spark's external sort; the
    * merge then holds the partition's own N⁺ lists, two ints per entry,
    * and one other source partition's lists at a time.
    */
  def count(edges: Dataset[Edge]): Long =
    GridLoop.withGrid(edges, GridShape.Undirected)((_, grid) => grid.fold(0L)(onGrid))

  /** Step 1's message: the degrees of `from`'s vertices `idx` (ascending). */
  private final case class Degrees(from: Int, idx: Array[Int], deg: Array[Int])

  /** Step 2's message: the N⁺ lists of `from`'s vertices `keys`
    * (ascending global keys), list e being `nbrs(offsets(e) until offsets(e + 1))`.
    */
  private final case class Lists(from: Int, keys: Array[Long], offsets: Array[Int], nbrs: Array[Long])

  private def onGrid(grid: Grid): Long = {
    val sizes = grid.partSizes
    val p = sizes.length
    def degreesOf(cells: Iterator[IdxBlock], n: Int): Array[Int] = {
      val deg = new Array[Int](n)
      cells.foreach(b => b.srcIdx.indices.foreach(i => deg(b.srcIdx(i)) += b.offsets(i + 1) - b.offsets(i)))
      deg
    }

    // 1. degrees to the partitions whose cells reference them
    val degs = grid.cells.mapPartitionsWithIndex((s, cs) => Iterator.single((s, degreesOf(cs, sizes(s)))))
    val degrees = CellWalk.runs(grid, degs, _ => ()) { case ((s, deg), _, _, run) =>
      val idx = run.flatMap(_.srcIdx).toArray // each source once per destination, ascending
      Some(Degrees(s, idx, idx.map(deg)))
    }

    // 2. sorted N⁺ lists, to this partition and to lower-ranked neighbours' partitions
    val lists = grid.cells.zipPartitions(degrees, preservesPartitioning = false) { (it, ds) =>
      val s = TaskContext.getPartitionId()
      val cells = it.toVector
      val own = degreesOf(cells.iterator, sizes(s))
      val remote = new Array[Degrees](p)
      ds.foreach { case (_, d) => remote(d.from) = d }
      def key(q: Int, i: Int): Long = (q.toLong << 32) | i
      // (degree, key) order: does a rank below b?
      def below(da: Int, ka: Long, db: Int, kb: Long): Boolean = da < db || (da == db && ka < kb)
      val n = sizes(s)
      // one visit per higher-ranked neighbour (own index, its key); returns,
      // per other partition q, the own vertices with a lower neighbour in q
      def walk(visit: (Int, Long) => Unit): Vector[(Int, Array[Int])] = CellWalk.byRun(cells.iterator) { (q, run) =>
        val r = remote(q)
        val to = new mutable.ArrayBuilder.ofInt
        run.foreach { b =>
          var e = 0
          while (e < b.srcIdx.length) {
            val i = b.srcIdx(e)
            var lower = false
            var j = b.offsets(e)
            while (j < b.offsets(e + 1)) {
              val nj = b.nbrIdx(j)
              val kj = key(q, nj)
              if (below(own(i), key(s, i), r.deg(java.util.Arrays.binarySearch(r.idx, nj)), kj)) visit(i, kj)
              else lower = true
              j += 1
            }
            if (lower && q != s) to += i
            e += 1
          }
        }
        Some(to.result()).filter(_.nonEmpty)
      }.toVector
      // N⁺ as CSR: count, then fill and sort each list
      val starts = new Array[Int](n + 1)
      val sends = walk((i, _) => starts(i + 1) += 1)
      var k = 0
      while (k < n) { starts(k + 1) += starts(k); k += 1 }
      val nbrs = new Array[Long](starts(n))
      val fill = java.util.Arrays.copyOf(starts, n)
      walk { (i, kj) => nbrs(fill(i)) = kj; fill(i) += 1 }
      k = 0
      while (k < n) { java.util.Arrays.sort(nbrs, starts(k), starts(k + 1)); k += 1 }
      // the lists of `vs` (ascending) with at least one member
      def listsOf(vs: Iterator[Int]): Lists = {
        val ks = new mutable.ArrayBuilder.ofLong
        val offs = new mutable.ArrayBuilder.ofInt
        val ns = new mutable.ArrayBuilder.ofLong
        offs += 0
        vs.filter(i => starts(i + 1) > starts(i)).foreach { i =>
          ks += key(s, i)
          ns ++= nbrs.slice(starts(i), starts(i + 1))
          offs += ns.length
        }
        Lists(s, ks.result(), offs.result(), ns.result())
      }
      // keyed (target, source), the own lists sorting first
      (Iterator.single(((s, -1), listsOf(Iterator.range(0, n)))) ++
        sends.iterator.map { case (q, vs) => ((q, s), listsOf(vs.iterator)) })
        .filter(_._2.keys.nonEmpty)
    }

    // 3. Σ |N⁺(a) ∩ N⁺(b)| by sorted merge: the shuffle sorts a partition's
    // lists by source, its own first, so a task holds its own lists and one
    // other source partition's at a time
    lists.repartitionAndSortWithinPartitions(new Partitioner {
      def numPartitions: Int = p
      def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1
    }).mapPartitionsWithIndex { (t, it) =>
      val in = it.map(_._2).buffered
      var total = 0L
      // a partition with no list of its own has no a, and is sent none
      if (in.hasNext && in.head.from == t) {
        val own = in.next()
        val m = own.nbrs.length
        // own's entries b by b's partition (a counting sort), with the list holding each
        val owner = new Array[Int](m)
        var e = 0
        while (e < own.keys.length) { java.util.Arrays.fill(owner, own.offsets(e), own.offsets(e + 1), e); e += 1 }
        val starts = new Array[Int](p + 1)
        own.nbrs.foreach(b => starts((b >>> 32).toInt + 1) += 1)
        var q = 0
        while (q < p) { starts(q + 1) += starts(q); q += 1 }
        val order = new Array[Int](m)
        val fill = java.util.Arrays.copyOf(starts, p)
        var x = 0
        while (x < m) { val bq = (own.nbrs(x) >>> 32).toInt; order(fill(bq)) = x; fill(bq) += 1; x += 1 }
        def mergeWith(lb: Lists): Unit = {
          var y = starts(lb.from)
          while (y < starts(lb.from + 1)) {
            val a = owner(order(y))
            val k = java.util.Arrays.binarySearch(lb.keys, own.nbrs(order(y)))
            if (k >= 0) { // else N⁺(b) is empty
              var i = own.offsets(a)
              var j = lb.offsets(k)
              while (i < own.offsets(a + 1) && j < lb.offsets(k + 1)) {
                val c = java.lang.Long.compare(own.nbrs(i), lb.nbrs(j))
                if (c == 0) total += 1
                if (c <= 0) i += 1
                if (c >= 0) j += 1
              }
            }
            y += 1
          }
        }
        mergeWith(own)
        in.foreach(mergeWith)
      }
      Iterator.single(total)
    }.collect().sum
  }
}
