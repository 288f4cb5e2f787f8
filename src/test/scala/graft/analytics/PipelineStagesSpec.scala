package graft.analytics

import graft.SparkSpec
import graft.textops.Abstracts

/** X7 / X12 / venue-match / author-merge / M5 / export stages. */
class PipelineStagesSpec extends SparkSpec {
  import spark.implicits._

  // --- X7 scholar names ---------------------------------------------------

  test("formatName: reference cases (strip, parens, comma reorder, initials)") {
    import ScholarNames._
    assert(formatName("Knuth, Donald Ervin") == "Donald E. Knuth")
    assert(formatName("Lamport, Leslie") == "Leslie Lamport")
    assert(formatName("* Dijkstra, E W .") == "E. W. Dijkstra")
    assert(formatName("Turing, Alan (Mathison)") == "Alan Turing")
    assert(formatName("Hopper Grace") == "Hopper Grace") // no comma: unchanged
    assert(removeMiddleName("Donald E. Knuth") == "Donald Knuth")
    assert(removeMiddleName("Leslie Lamport") == "Leslie Lamport")
    assert(shortName("Donald Knuth", 2) == "Do Knuth")
    assert(shortName("Donald E. Knuth", 3) == "Don Knuth")
  }

  test("lookupKeys column forms agree with the pure functions") {
    val df = Seq("Knuth, Donald Ervin", "Lamport, Leslie").toDF("name")
    val got = ScholarNames.lookupKeys(df).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(got("Knuth, Donald Ervin") == (("Donald E. Knuth", "Donald Knuth", "Do Knuth", "Don Knuth")))
    assert(got("Lamport, Leslie") == (("Leslie Lamport", "Leslie Lamport", "Le Lamport", "Les Lamport")))
  }

  // --- X12 abstracts --------------------------------------------------------

  test("abstract prefix strip + dedup merge") {
    val abs = Seq(
      (1L, "Abstract We study graphs."),
      (1L, "We study graphs."),          // dup after strip
      (1L, "A second abstract."),
      (2L, "ABSTRACT    Lowered."),
      (3L, ""),                          // dropped
      (3L, "abstractive methods rock.")  // 'abstract' prefix NOT matched ('abstract' != 'abstrac' + 'tive'[0..8]='abstract'!)
    ).toDF("paperID", "abstract")
    val merged = Abstracts.mergedPerPaper(abs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged(1L) == "A second abstract.\nWe study graphs.")
    assert(merged(2L) == "Lowered.")
    // reference strips the first 8 chars whenever they equal 'abstract'
    // (import_abstract.py:54-56) — 'abstractive...' loses its prefix too.
    assert(merged(3L) == "ive methods rock.")
  }

  // --- venue fuzzy match ----------------------------------------------------

  test("venue cascade: exact beats contains beats rewrites; unmatched -> null") {
    val dim = Seq(
      (1L, "red widget"), (2L, "large anvil"), (3L, "small anvil"), (4L, "blue gear")
    ).toDF("id", "name")
    val req = Seq("red widget", "anvil", "blue/gear", "blue_bolt").toDF("original")
    val got = VenueMatch.resolve(req, dim).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(r =>
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toSet).toMap
    assert(got("red widget") == Set(1L))          // exact
    assert(got("anvil") == Set(2L, 3L))           // contains, all matches kept
    assert(got("blue/gear") == Set(4L))           // '/'->' ' rewrite
    assert(got("blue_bolt") == Set(-1L))          // unmatched -> null row
  }

  test("venue rewrite order: first matching rewrite wins") {
    val dim = Seq((1L, "a:b conference"), (2L, "a-b conference")).toDF("id", "name")
    // '_'->':' is tried before '_'->'-': only id 1 returned
    val got = VenueMatch.resolve(Seq("a_b").toDF("original"), dim).collect()
    assert(got.map(_.getLong(1)).toSet == Set(1L))
  }

  // --- author merge -----------------------------------------------------------

  test("author merge: chain resolution, remap, stats recompute") {
    val matches = Seq(("a", "b"), ("b", "c")).toDF("id1", "id2") // c->b->a
    val pa = Seq((10L, "a"), (11L, "b"), (12L, "c"), (11L, "c"), (13L, "d"))
      .toDF("paperID", "authorID")
    val papers = Seq((10L, 5L), (11L, 3L), (12L, 1L), (13L, 2L))
      .toDF("paperID", "citationCount")
    val (remapped, stats) = AuthorMerge(pa, papers, matches)
    val re = remapped.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(re == Set((10L, "a"), (11L, "a"), (12L, "a"), (13L, "d"))) // (11,c)+(11,b) collapse
    val st = stats.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // a: papers {10,11,12} cites {5,3,1} -> count 3, sum 9, h-index 2
    assert(st("a") == ((3L, 9L, 2L)))
    assert(st("d") == ((1L, 2L, 1L)))
  }

  // --- M5 topic words -----------------------------------------------------------

  test("topic word merge: lemma fold, substring absorption, filter rule") {
    import TopicWords._
    assert(lemma("visualisation") == "visualization")
    assert(lemma("graphs") == "graph")
    assert(lemma("queries") == "query")
    val merged = mergeTopic(Seq(
      ("graphs", 0.4), ("the", 0.3), ("graph", 0.2), ("graphics", 0.1)))
    // 'graphs'->'graph' inserts; 'the' dropped; 'graph' absorbed into
    // existing 'graph' (0.6); 'graphics'->'graphic' contains 'graph'? NO —
    // key 'graph' must CONTAIN lemma 'graphic': it does not -> new key.
    assert(merged == Seq(("graph", 0.6000000000000001), ("graphic", 0.1)) ||
      merged == Seq(("graph", 0.6), ("graphic", 0.1)))
    val filtered = filterTopic(Seq(
      ("a", 0.5), ("b", 0.2), ("c", 0.1), ("d", 0.05), ("e", 0.02), ("f", 0.015), ("g", 0.005)))
    assert(filtered.map(_._1) == Seq("a", "b", "c", "d", "e", "f")) // g < 0.01 and beyond first 5
  }

  test("mergeAndFilter DataFrame form") {
    val topics = Seq((0, Seq(("graphs", 0.5), ("of", 0.3), ("query", 0.2))))
      .toDF("topicID", "words")
    val got = TopicWords.mergeAndFilter(topics).collect()(0)
      .getSeq[org.apache.spark.sql.Row](1).map(r => (r.getString(0), r.getDouble(1)))
    assert(got == Seq(("graph", 0.5), ("query", 0.2)))
  }

  // --- export ---------------------------------------------------------------------

  test("per-author graph JSON export") {
    val links = Seq(("a1", "p2", "p1", 0.9), ("a1", "p3", "p1", 0.1))
      .toDF("authorID", "childrenID", "parentID", "extendsProb")
    val papers = Seq(("a1", "p1", 1.0), ("a1", "p2", 0.0), ("a2", "p9", 0.5))
      .toDF("authorID", "paperID", "isKeyPaper")
    val all = GraphExport.perAuthorJson(links, papers).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(all("a1").contains("\"source\":\"p2\"") && all("a1").contains("\"prob\":0.9"))
    assert(all("a2") == "{\"nodes\":{\"p9\":0.5},\"edges\":[]}")
    val thresholded = GraphExport.perAuthorJson(links, papers, minProb = 0.5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!thresholded("a1").contains("p3"))
  }
}
