package graft.graph

/** Plain-Scala reference implementations (no Spark) used as test oracles —
  * the test suite the reference lacks (SURVEY.md §5): closed-form or
  * brute-force answers the engine must reproduce.
  */
object Oracles {

  /** Power-iteration PageRank with teleport and uniform dangling-mass
    * redistribution; the grid engine (CsrPageRank, which PageRank.run
    * forwards to) must match it to 1e-12 over a fixed superstep count.
    */
  def pageRank(
      edges: Seq[(Long, Long)],
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 500
  ): Map[Long, Double] = {
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = verts.size
    if (n == 0) return Map.empty
    val idx = verts.zipWithIndex.toMap
    val out = Array.fill(n)(List.empty[Int])
    val outdeg = Array.fill(n)(0)
    edges.distinct.foreach { case (s, d) =>
      out(idx(s)) ::= idx(d); outdeg(idx(s)) += 1
    }
    var r = Array.fill(n)(1.0 / n)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIter && delta >= tol) {
      val nr = Array.fill(n)(0.0)
      var dangling = 0.0
      var i = 0
      while (i < n) {
        if (outdeg(i) == 0) dangling += r(i)
        else out(i).foreach(j => nr(j) += r(i) / outdeg(i))
        i += 1
      }
      i = 0
      delta = 0.0
      while (i < n) {
        val v = (1.0 - alpha) / n + alpha * (nr(i) + dangling / n)
        delta += math.abs(v - r(i))
        nr(i) = v
        i += 1
      }
      r = nr
      it += 1
    }
    verts.zip(r).toMap
  }

  /** Union-find connected components over undirected edges; component id
    * = min vertex id in the component.
    */
  def connectedComponents(edges: Seq[(Long, Long)], isolated: Seq[Long] = Nil): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    isolated.foreach(find)
    // min-id labeling
    val groups = parent.keys.groupBy(find)
    groups.flatMap { case (_, vs) => val m = vs.min; vs.map(_ -> m) }.toMap
  }

  /** Synchronous label propagation over the undirected simple graph
    * (self-loops dropped, each neighbour counted once): labels start as
    * vertex ids, and every round each vertex takes its neighbours' most
    * frequent label, ties to the smallest. Stops after a round that
    * changes nothing or after `maxIter` rounds. Returns the labels of the
    * vertices that have a neighbour, the rounds run and whether the last
    * round changed nothing.
    */
  def labelPropagation(edges: Seq[(Long, Long)], maxIter: Int): (Map[Long, Long], Int, Boolean) = {
    val adj = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).map { case (u, ns) => u -> ns.map(_._2) }
    var label = adj.map { case (u, _) => u -> u }
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val next = adj.map { case (u, ns) =>
        u -> ns.groupBy(label).map { case (l, vs) => (l, vs.size) }.minBy { case (l, c) => (-c, l) }._1
      }
      changed = next != label
      label = next
      it += 1
    }
    (label, it, !changed)
  }

  /** Exact triangle count over the undirected simple graph. */
  def triangles(edges: Seq[(Long, Long)]): Long = {
    val und = edges.flatMap { case (a, b) => if (a == b) Nil else Seq((a min b, a max b)) }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    var t = 0L
    und.foreach { case (a, b) =>
      t += adj.getOrElse(a, Set.empty).intersect(adj.getOrElse(b, Set.empty)).size
    }
    t / 3
  }

  /** Seeded random edge list with Zipf-ish degree skew. */
  def randomGraph(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until m).map { _ =>
      val s = (n * math.pow(rnd.nextDouble(), 2)).toLong.min(n - 1)
      val d0 = (n * math.pow(rnd.nextDouble(), 3)).toLong.min(n - 1)
      val d = if (d0 == s) (d0 + 1) % n else d0
      (s, d)
    }.distinct
  }
}
