package graft

import org.apache.spark.sql.{Row, SparkSession}

/** The in-session link universe memo behind q_export_graph and the three
  * feature-consuming link leaves: `all_features` is built once per
  * session, whichever leaf asks first, and never shared across sessions.
  */
class LinkUniverseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val leaves = Seq("q_link_features", "q_link_prob", "q_link_prob_tree")

  /** Runs leaf `q` on session `s` (plan build and collect) and returns
    * its rows sorted, with the number of Spark jobs it started. */
  private def run(s: SparkSession, q: String): (Seq[Row], Int) = {
    var rows = Seq.empty[Row]
    val jobs = jobsOf { rows = SparkEntry.queries(q)(s, dir).collect().toSeq.sortBy(_.toString) }
    (rows, jobs)
  }

  private def runAll(s: SparkSession, order: Seq[String]): Map[String, Seq[Row]] =
    order.map(q => q -> run(s, q)._1).toMap

  test("link leaves give the same rows whichever runs first, and alone") {
    val forward = runAll(spark.newSession(), leaves)
    val backward = runAll(spark.newSession(), leaves.reverse)
    val alone = leaves.map(q => q -> run(spark.newSession(), q)._1).toMap
    for (q <- leaves) {
      assert(forward(q).nonEmpty, q)
      assert(forward(q) == backward(q), s"$q: features→prob→tree vs tree→prob→features")
      assert(forward(q) == alone(q), s"$q: shared session vs its own session")
    }
  }

  test("after q_link_features, q_link_prob and q_link_prob_tree only score the memoized table") {
    val s = spark.newSession()
    val (_, built) = run(s, "q_link_features")
    assert(built >= 10, s"q_link_features ran $built jobs; expected it to build the universe")
    for (q <- Seq("q_link_prob", "q_link_prob_tree")) {
      val (_, jobs) = run(s, q)
      assert(jobs <= 3, s"$q ran $jobs jobs after q_link_features on the same session")
    }
  }

  test("the memo stays in its session: a new session builds its own universe") {
    val s = spark.newSession()
    run(s, "q_link_features")
    val (_, jobs) = run(spark.newSession(), "q_link_prob")
    assert(jobs >= 10, s"q_link_prob on a new session ran $jobs jobs; the memo leaked across sessions")
  }
}
