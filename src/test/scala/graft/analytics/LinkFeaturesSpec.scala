package graft.analytics

import graft.SparkSpec
import graft.textops.Embedding
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class LinkFeaturesSpec extends SparkSpec {
  import spark.implicits._

  // Hand-built mini citation universe:
  //   papers 1..5; edges (citing -> cited):
  //     3->1, 3->2, 4->1, 4->2, 4->3, 5->3
  //   in-nbrs:  1:{3,4} 2:{3,4} 3:{4,5}
  //   out-nbrs: 3:{1,2} 4:{1,2,3} 5:{3}
  private def edges = Seq(
    (3L, 1L, "x"), (3L, 2L, "x"), (4L, 1L, "y"), (4L, 2L, "y"), (4L, 3L, "y"), (5L, 3L, "z")
  ).toDF("citingpaperID", "citedpaperID", "authorID")

  private def papers = Seq(
    (1L, 2000L, 10L), (2L, 2001L, 5L), (3L, 2005L, 3L), (4L, 2010L, 1L), (5L, 2003L, 2L)
  ).toDF("paperID", "year", "citationCount")

  private def paperAuthors = Seq(
    (1L, "a1"), (1L, "a2"), (2L, "a2"), (3L, "a1"), (4L, "a9") // paper 5: no authors
  ).toDF("paperID", "authorID")

  private def embeddings = Seq(
    (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)), (4L, Seq(2.0, 0.0))
    // paper 5: no embedding
  ).toDF("paperID", "embedding")

  private lazy val feats = LinkFeatures.allFeatures(
    edges, papers, paperAuthors, embeddings, spark.emptyDataFrame.select())
    .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap

  private def f(citing: Long, cited: Long): Row = feats((citing, cited))

  test("feature table has one row per edge row with all 17 features") {
    val df = LinkFeatures.allFeatures(edges, papers, paperAuthors, embeddings,
      spark.emptyDataFrame.select())
    assert(df.count() == 6)
    assert(df.columns.toSeq == Seq("citingpaperID", "citedpaperID", "authorID") ++ LinkFeatures.FeatureNames)
  }

  test("year_diff: citing - cited when citing >= cited, else null") {
    assert(f(3, 1).getAs[Long]("year_diff") == 5L)
    assert(f(4, 3).getAs[Long]("year_diff") == 5L)
    // 5 (2003) cites 3 (2005): citing < cited -> null
    assert(f(5, 3).isNullAt(f(5, 3).fieldIndex("year_diff")))
  }

  test("citation counts joined per side") {
    assert(f(3, 1).getAs[Long]("citing_paper_citationcount") == 3L)
    assert(f(3, 1).getAs[Long]("cited_paper_citationcount") == 10L)
  }

  test("self_cite: intersection size; null when either side has no authors") {
    // 3 {a1} vs 1 {a1,a2} -> 1
    assert(f(3, 1).getAs[Long]("self_cite") == 1L)
    // 4 {a9} vs 1 {a1,a2} -> 0
    assert(f(4, 1).getAs[Long]("self_cite") == 0L)
    // 5 has no author rows -> null
    assert(f(5, 3).isNullAt(f(5, 3).fieldIndex("self_cite")))
  }

  test("similarity: cosine of embeddings; null when one side missing") {
    // 3 (1,1) vs 1 (1,0): 1/sqrt(2)
    assert(math.abs(f(3, 1).getAs[Double]("similarity") - 1.0 / math.sqrt(2)) < 1e-12)
    // 4 (2,0) vs 1 (1,0): 1.0
    assert(math.abs(f(4, 1).getAs[Double]("similarity") - 1.0) < 1e-12)
    assert(f(5, 3).isNullAt(f(5, 3).fieldIndex("similarity")))
  }

  test("cocitation: shared in-neighbors of (citing, cited)") {
    // pair (3,1): in(3)={4,5}, in(1)={3,4} -> raw 1, cosine 1/2, jaccard 1/3
    val r = f(3, 1)
    assert(r.getAs[Long]("raw_cocitation") == 1L)
    assert(math.abs(r.getAs[Double]("cosine_cocitation") - 0.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("jaccard_cocitation") - 1.0 / 3) < 1e-12)
  }

  test("bibcoupling: shared out-neighbors of (citing, cited)") {
    // pair (4,3): out(4)={1,2,3}, out(3)={1,2} -> raw 2, cosine 2/sqrt(6), jaccard 2/3
    val r = f(4, 3)
    assert(r.getAs[Long]("raw_bibcoupling") == 2L)
    assert(math.abs(r.getAs[Double]("cosine_bibcoupling") - 2.0 / math.sqrt(6)) < 1e-12)
    assert(math.abs(r.getAs[Double]("jaccard_bibcoupling") - 2.0 / 3) < 1e-12)
  }

  test("correlation features flow through from citation events") {
    // Give papers 3 and 1 identical 6-year linear series (>= 5-year
    // overlap, means >= 2) -> cross_correlation 1.0 on edge (3,1).
    val ev = (2000 to 2005).flatMap { y =>
      val k = y - 1999 // 1,2,...,6 events in year y
      (1 to k * 2).flatMap(_ => Seq((3L, y), (1L, y)))
    }.toDF("paperID", "year")
    val df = LinkFeatures.allFeatures(edges, papers, paperAuthors, embeddings, ev)
      .filter(col("citingpaperID") === 3 && col("citedpaperID") === 1)
      .select("cross_correlation").collect()
    assert(df.length == 1 && math.abs(df(0).getDouble(0) - 1.0) < 1e-9)
  }
}

class LinkProbSpec extends SparkSpec {
  import spark.implicits._

  test("imputation: null and NaN both -> -2; proba is sigmoid of the linear score") {
    val row = Seq((
      "c1", "p1", "a1",
      Option.empty[Double], Double.NaN, 3L, 10L, 5L, 1L, 0.5, 0.25, 0.1
    )).toDF("citingpaperID", "citedpaperID", "authorID",
      "cross_correlation", "window_cross_correlation", "year_diff",
      "citing_paper_citationcount", "cited_paper_citationcount",
      "self_cite", "similarity", "jaccard_cocitation", "jaccard_bibcoupling")
    val w = LinkProb.DefaultWeights
    val z = LinkProb.DefaultBias +
      -2.0 * w("cross_correlation") + -2.0 * w("window_cross_correlation") +
      3 * w("year_diff") + 10 * w("citing_paper_citationcount") +
      5 * w("cited_paper_citationcount") + 1 * w("self_cite") +
      0.5 * w("similarity") + 0.25 * w("jaccard_cocitation") + 0.1 * w("jaccard_bibcoupling")
    val expected = 1.0 / (1.0 + math.exp(-z))
    val got = LinkProb.edgeProba(row).select("proba").first().getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
    assert(got >= 0.0 && got <= 1.0)
  }

  test("updateLinks: renames, attaches tab-joined contexts, keeps no-context rows") {
    val ep = Seq(("c1", "p1", "a1", 0.7), ("c2", "p2", "a1", 0.3))
      .toDF("citingpaperID", "citedpaperID", "authorID", "proba")
    val ctx = Seq(("c1", "p1", "zzz"), ("c1", "p1", "aaa"))
      .toDF("citingpaperID", "citedpaperID", "citation_context")
    val out = LinkProb.updateLinks(ep, ctx).collect()
      .map(r => r.getAs[String]("childrenID") -> r).toMap
    assert(out("c1").getAs[Double]("extendsProb") == 0.7)
    assert(out("c1").getAs[String]("citationContext") == "aaa\tzzz")
    assert(out("c2").isNullAt(out("c2").fieldIndex("citationContext")))
  }
}

class EmbeddingSpec extends SparkSpec {
  import spark.implicits._

  test("embedding is deterministic, fixed-dim, stopword/case-insensitive tokenization") {
    val docs = Seq(
      (1L, "The Quick Fox"), (2L, "quick the fox"), (3L, "quick fox"), (4L, "")
    ).toDF("doc_id", "text")
    val out = Embedding.embedDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.values.forall(_.length == 2))
    // stopword "the" removed + lowercased -> docs 1..3 identical
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(4L) == Seq(0.0, 0.0))
  }

  test("token frequency weights the sum (duplicate tokens double the vector)") {
    val docs = Seq((1L, "fox"), (2L, "fox fox")).toDF("doc_id", "text")
    val out = Embedding.embedDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(out(2L)(0) - 2 * out(1L)(0)) < 1e-12)
    assert(math.abs(out(2L)(1) - 2 * out(1L)(1)) < 1e-12)
  }

  test("author fanout feeds cosine denominators end-to-end (extract_link_features.py:30-31)") {
    // pair (3,1) written by two authors -> cited 1's neighbor LIST is
    // [2,3,3]; reference cosine for edge (2,1) divides by sqrt(1*3)
    val edges = Seq((2L, 1L, 7L), (3L, 1L, 7L), (3L, 1L, 8L), (3L, 2L, 7L))
      .toDF("citingpaperID", "citedpaperID", "authorID")
    val papers = Seq((1L, 2000L, 0L), (2L, 2001L, 0L), (3L, 2002L, 0L))
      .toDF("paperID", "year", "citationCount")
    val pa = edges.select(col("citingpaperID").as("paperID"), col("authorID"))
    val emb = papers.select(col("paperID"), array(lit(1.0), lit(0.0)).as("embedding"))
    val rows = LinkFeatures.allFeatures(edges, papers, pa, emb, spark.emptyDataFrame.select())
      .collect().map(r => (r.getAs[Long]("citingpaperID"), r.getAs[Long]("citedpaperID")) -> r).toMap
    val out = rows((2L, 1L))
    assert(math.abs(out.getAs[Double]("cosine_cocitation") - 1.0 / math.sqrt(1.0 * 3.0)) < 1e-12)
    assert(math.abs(out.getAs[Double]("jaccard_cocitation") - 0.5) < 1e-12) // sets: {3} vs {2,3}
    // the out-lists too: citing 3's list is [1,1,2], a set of two; edge
    // (3,2) shares out-neighbor 1 with cited 2's list [1]
    val bib = rows((3L, 2L))
    assert(bib.getAs[Long]("raw_bibcoupling") == 1L)
    assert(math.abs(bib.getAs[Double]("cosine_bibcoupling") - 1.0 / math.sqrt(3.0 * 1.0)) < 1e-12)
    assert(math.abs(bib.getAs[Double]("jaccard_bibcoupling") - 0.5) < 1e-12) // sets: {1,2} vs {1}
  }

  test("cosine: NaN on zero vectors (reference cos_sim), 1 on parallel, opposite sign") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(2.0, 0.0)),
      (Seq(1.0, 2.0), Seq(-1.0, -2.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0))
    ).toDF("a", "b")
    val vals = df.select(Embedding.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(vals(0) - 1.0) < 1e-12)
    assert(math.abs(vals(1) + 1.0) < 1e-12)
    // reference cos_sim has no zero guard: numpy 0/0 -> nan, which the
    // scorer's -2 imputation then absorbs (LinkProb.imputed)
    assert(vals(2).isNaN)
    val imputed = df.select(graft.analytics.LinkProb.imputed(
      Embedding.cosine(col("a"), col("b")))).collect().map(_.getDouble(0))
    assert(imputed(2) == -2.0)
  }
}
