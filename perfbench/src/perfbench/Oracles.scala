package perfbench

import scala.collection.mutable

/** Plain-Scala reference answers, computed on the driver without Spark:
  * the benchmark's check that each timed engine call produced the right
  * output.
  */
object Oracles {

  /** Dense re-indexing of an edge list: sorted distinct vertex ids and the
    * edges as index pairs.
    */
  final class Indexed(edges: Array[(Long, Long)]) {
    val ids: Array[Long] = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n: Int = ids.length
    private def idx(v: Long) = java.util.Arrays.binarySearch(ids, v)
    val pairs: Array[(Int, Int)] = edges.distinct.map { case (s, d) => (idx(s), idx(d)) }

    /** Undirected simple-graph adjacency (self-loops dropped), sorted. */
    lazy val undirected: Array[Array[Int]] = {
      val adj = Array.fill(n)(mutable.SortedSet.empty[Int])
      pairs.foreach { case (a, b) => if (a != b) { adj(a) += b; adj(b) += a } }
      adj.map(_.toArray)
    }
  }

  /** Power-iteration PageRank: teleport (1 - alpha)/n, dangling mass spread
    * uniformly, rank_0 = 1/n, stop when the L1 delta drops below `tol` or
    * after `maxIter` iterations. Returns (ranks by vertex index, iterations).
    */
  def pageRank(g: Indexed, tol: Double, maxIter: Int, alpha: Double = 0.85): (Array[Double], Int) = {
    val n = g.n
    val outdeg = new Array[Int](n)
    g.pairs.foreach { case (s, _) => outdeg(s) += 1 }
    var r = Array.fill(n)(1.0 / n)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIter && delta >= tol) {
      val nr = new Array[Double](n)
      var dangling = 0.0
      var i = 0
      while (i < n) { if (outdeg(i) == 0) dangling += r(i); i += 1 }
      g.pairs.foreach { case (s, d) => nr(d) += r(s) / outdeg(s) }
      delta = 0.0
      i = 0
      while (i < n) {
        val v = (1.0 - alpha) / n + alpha * (nr(i) + dangling / n)
        delta += math.abs(v - r(i))
        nr(i) = v
        i += 1
      }
      r = nr
      it += 1
    }
    (r, it)
  }

  /** Union-find components; a component is named by its minimum vertex id. */
  def components(g: Indexed): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    g.pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // the root is the smallest index of its set, and ids are sorted
    Array.tabulate(g.n)(i => g.ids(find(i)))
  }

  /** Synchronous label propagation over the undirected graph: every vertex
    * with a neighbor takes its neighbors' most frequent label, ties to the
    * smallest label; stops when nothing changes or after `maxIter` rounds.
    * Returns labels of the vertices that have a neighbor.
    */
  def labelPropagation(g: Indexed, maxIter: Int): Map[Long, Long] = {
    val adj = g.undirected
    var label = g.ids.clone()
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val next = label.clone()
      changed = false
      var u = 0
      while (u < g.n) {
        if (adj(u).nonEmpty) {
          val votes = mutable.HashMap.empty[Long, Int]
          adj(u).foreach(v => votes(label(v)) = votes.getOrElse(label(v), 0) + 1)
          val best = votes.maxBy { case (l, c) => (c, -l) }._1
          if (best != label(u)) changed = true
          next(u) = best
        }
        u += 1
      }
      label = next
      it += 1
    }
    g.ids.indices.filter(adj(_).nonEmpty).map(i => g.ids(i) -> label(i)).toMap
  }

  /** Triangles of the undirected simple graph, by sorted-adjacency
    * intersection over edges oriented from the lower to the higher index.
    */
  def triangles(g: Indexed): Long = {
    val fwd = g.undirected.zipWithIndex.map { case (ns, u) => ns.filter(_ > u) }
    var t = 0L
    var u = 0
    while (u < g.n) {
      fwd(u).foreach { v =>
        val a = fwd(u)
        val b = fwd(v)
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          if (a(i) == b(j)) { t += 1; i += 1; j += 1 }
          else if (a(i) < b(j)) i += 1
          else j += 1
        }
      }
      u += 1
    }
    t
  }

  /** Corpus-to-edge derivation by plain regexes: each file's import lines
    * name modules; a module is defined by the files whose path stem is
    * its name (case-insensitive), the smallest file id winning; resolved
    * pairs without self-loops, distinct. A file's id is xxhash64 of
    * `repo/path@commit`, as the engine stamps it.
    */
  def corpusEdges(rows: Seq[(String, String, String, String, String)]): Set[(Long, Long)] = {
    val patterns = Map(
      "scala" -> """import graftmod\.(\w+)""".r,
      "py" -> """from graftmod import (\w+)""".r,
      "c" -> """#include "(\w+)\.h"""".r)
    val stem = """([A-Za-z0-9_]+)\.[a-z]+$""".r
    def fileId(repo: String, path: String, commit: String): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$repo/$path@$commit"), 42L)
    val ided = rows.map { case (repo, path, commit, lang, content) =>
      (fileId(repo, path, commit), path, lang, content)
    }
    val definer = mutable.HashMap.empty[String, Long]
    ided.foreach { case (id, path, _, _) =>
      stem.findFirstMatchIn(path).map(_.group(1).toLowerCase).foreach { m =>
        definer(m) = definer.get(m).fold(id)(_ min id)
      }
    }
    ided.flatMap { case (id, _, lang, content) =>
      patterns.get(lang).toSeq.flatMap(_.findAllMatchIn(content).map(_.group(1).toLowerCase))
        .flatMap(definer.get).filter(_ != id).map(d => (id, d))
    }.toSet
  }
}
