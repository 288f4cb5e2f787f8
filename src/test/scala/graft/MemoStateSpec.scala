package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `SparkEntry`'s in-session memo: the graph leaves of one session share
  * one part graph (and so its grids), and an entry is kept only while the
  * files it read are unchanged. Each case runs on its own copy of sf0.001.
  */
class MemoStateSpec extends SparkSpec {
  private val graphLeaves = Seq("q_cc_parts", "q_lpa_parts", "q_pagerank_csr", "q_pagerank_parts", "q_triangle_count")

  /** A temp copy of the sf0.001 tables. */
  private def sfCopy(): String = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("graft-memo")
    Files.walk(src).forEach((p: Path) => if (p != src) Files.copy(p, dst.resolve(src.relativize(p))))
    dst.toString
  }

  /** Replaces table `name` of `d` with `f` of its rows (new file names and mtimes). */
  private def rewrite(d: String, name: String)(f: DataFrame => DataFrame): Unit = {
    val path = s"$d/$name.parquet"
    f(spark.read.parquet(path)).write.parquet(s"$path.new")
    Files.walk(Paths.get(path)).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    Files.move(Paths.get(s"$path.new"), Paths.get(path))
  }

  test("the five graph leaves on one session share one part graph and its grids") {
    val d = sfCopy()
    val s = spark.newSession()
    val shared = graphLeaves.map(q => q -> runQuery(s, d, q)).toMap
    val (_, triJobs) = shared("q_triangle_count")
    val (_, prJobs) = shared("q_pagerank_parts")
    assert(triJobs <= 1, s"q_triangle_count ran $triJobs jobs after CC and LPA built the undirected grid")
    assert(prJobs <= 22, s"q_pagerank_parts ran $prJobs jobs after q_pagerank_csr built the directed grid")
    for (q <- graphLeaves) {
      val (rows, _) = shared(q)
      assert(rows.nonEmpty, q)
      assert(rows == runQuery(spark.newSession(), d, q)._1, s"$q: shared session vs its own session")
    }
  }

  /** Runs `q` on one session before and after `change`, and checks that the
    * second run gives a new session's rows, which differ from the first. */
  private def seesRewrite(q: String)(change: String => Unit): Unit = {
    val d = sfCopy()
    val s = spark.newSession()
    val (before, _) = runQuery(s, d, q)
    change(d)
    val (after, _) = runQuery(s, d, q)
    val (fresh, _) = runQuery(spark.newSession(), d, q)
    assert(fresh != before, s"$q: the rewrite did not change the rows")
    assert(after.size == fresh.size, s"$q: ${after.size} rows after the rewrite, a new session gives ${fresh.size}")
    assert(after == fresh, s"$q: rows after the rewrite differ from a new session's")
  }

  private def evenKeys(table: String, key: String): String => Unit =
    d => rewrite(d, table)(_.filter(col(key) % 2 === 0))

  test("an orders table rewritten on the session rebuilds the key-papers memo") {
    seesRewrite("q_key_papers")(evenKeys("orders", "o_orderkey"))
  }

  test("a lineitem table rewritten on the session rebuilds the link universe") {
    seesRewrite("q_export_graph")(evenKeys("lineitem", "l_orderkey"))
  }

  test("a lineitem table rewritten on the session rebuilds the part graph") {
    seesRewrite("q_cc_parts")(evenKeys("lineitem", "l_partkey"))
  }
}
