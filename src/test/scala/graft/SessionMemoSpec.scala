package graft

import org.apache.spark.sql.{Row, SparkSession}

/** The in-session memo behind a group of declared queries: the builder
  * leaf materializes the shared `product` once per session, the readers
  * only `verb` it afterwards, whichever leaf asks first gets the same
  * rows, and the product is never shared across sessions.
  */
abstract class SessionMemoSpec(group: String, builder: String, readers: Seq[String],
                               verb: String, product: String) extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val leaves = builder +: readers

  /** Declared query `q` over the spec's sf dir on session `s`. */
  protected def run(s: SparkSession, q: String): (Seq[Row], Int) = runQuery(s, dir, q)

  private def runAll(s: SparkSession, order: Seq[String]): Map[String, Seq[Row]] =
    order.map(q => q -> runQuery(s, dir, q)._1).toMap

  test(s"$group leaves give the same rows whichever runs first, and alone") {
    val forward = runAll(spark.newSession(), leaves)
    val backward = runAll(spark.newSession(), leaves.reverse)
    val alone = leaves.map(q => q -> runQuery(spark.newSession(), dir, q)._1).toMap
    for (q <- leaves) {
      assert(forward(q).nonEmpty, q)
      assert(forward(q) == backward(q), s"$q: ${leaves.mkString("→")} vs ${leaves.reverse.mkString("→")}")
      assert(forward(q) == alone(q), s"$q: shared session vs its own session")
    }
  }

  test(s"after $builder, ${readers.mkString(" and ")} only $verb the memoized table") {
    val s = spark.newSession()
    val (_, built) = runQuery(s, dir, builder)
    assert(built >= 10, s"$builder ran $built jobs; expected it to build the $product")
    for (q <- readers) {
      val (_, jobs) = runQuery(s, dir, q)
      assert(jobs <= 3, s"$q ran $jobs jobs after $builder on the same session")
    }
  }

  test(s"the memo stays in its session: a new session builds its own $product") {
    runQuery(spark.newSession(), dir, builder)
    val (_, jobs) = runQuery(spark.newSession(), dir, readers.head)
    assert(jobs >= 10, s"${readers.head} on a new session ran $jobs jobs; the memo leaked across sessions")
  }
}

/** `all_features` behind q_link_features, q_link_prob and q_link_prob_tree. */
class LinkUniverseSpec extends SessionMemoSpec("link", "q_link_features",
  Seq("q_link_prob", "q_link_prob_tree"), "score", "universe") {

  test("all_features over a built universe runs at most 20 jobs") {
    val s = spark.newSession()
    run(s, "q_export_graph") // builds the universe's edges and papers
    val (rows, jobs) = run(s, "q_link_features")
    assert(rows.nonEmpty)
    assert(jobs <= 20, s"q_link_features ran $jobs jobs to build and read all_features")
  }
}

/** The isKeyPaper product behind q_key_papers and q_key_papers_dist. */
class KeyPapersMemoSpec extends SessionMemoSpec("key-paper", "q_key_papers",
  Seq("q_key_papers_dist"), "aggregates", "product")
