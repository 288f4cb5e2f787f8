package graft.analytics

import graft.textops.Embedding
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference pipeline's principal feature product: the per-edge
  * `all_features` table (create_field/extract_link_features.py:218-289) —
  * 17 features per (citingpaperID, citedpaperID, authorID) edge row:
  *
  *   6 citation-series correlations      (TimeSeries, T2-T6)
  *   year_diff                           (extract_link_features.py:253)
  *   citing/cited_paper_citationcount    (:256-257)
  *   self_cite                           (:258 — |authors∩|, null if either empty)
  *   similarity                          (:259 — cosine of 2-d doc embeddings)
  *   raw/cosine/jaccard_cocitation       (:266 — shared in-neighbor metrics)
  *   raw/cosine/jaccard_bibcoupling      (:267 — shared out-neighbor metrics)
  *
  * Missing values stay NULL here (the reference carries np.nan); the
  * scorer (LinkProb) applies the -2 imputation.
  *
  * Plan (LMFAO-style shared aggregates, *A Layered Aggregate Engine for
  * Analytics Workloads*, SIGMOD 2019): every feature is computed once per
  * DISTINCT (citing, cited) pair, and the (possibly author-multiplied)
  * edge rows join back at the end. One union-aggregate over the edge rows,
  * the pairs and the author rows gives every per-paper count; one join of
  * the pairs with a kind-tagged neighbor table and one groupBy(a, b) give
  * both shared-neighbor counts; self-cite keeps its own author join
  * (`authorID` need not have the paper ids' type, and a union would cast
  * it). Join order: the (a, b)-keyed blocks, then every a-side per-paper
  * join, then every b-side one, then the edge rows. Joins on one key keep
  * its partitioning, so the wide pair rows shuffle once per key;
  * alternating a- and b-side joins would shuffle them at every switch.
  */
object LinkFeatures {

  /** The reference's 17 feature columns, in its declared order
    * (extract_link_features.py:218-224).
    */
  val FeatureNames: Seq[String] = Seq(
    "cross_correlation", "negativetimelagged_cross_correlation",
    "timelagged_cross_correlation", "window_cross_correlation",
    "window_negativetimelagged_cross_correlation",
    "window_timelagged_cross_correlation",
    "year_diff", "citing_paper_citationcount", "cited_paper_citationcount",
    "self_cite", "similarity",
    "raw_cocitation", "cosine_cocitation", "jaccard_cocitation",
    "raw_bibcoupling", "cosine_bibcoupling", "jaccard_bibcoupling")

  /** Assemble the all_features table.
    *
    * @param edges        (citingpaperID, citedpaperID, authorID) — rows may
    *                     repeat a pair for several authors
    * @param papers       (paperID, year, citationCount)
    * @param paperAuthors (paperID, authorID)
    * @param embeddings   (paperID, embedding: array<double>) — M1 output
    * @param citationEvents (paperID, year) one row per citation received —
    *                     feeds the gap-filled series for the 6 correlation
    *                     features; pass an empty frame to skip (nulls)
    */
  def allFeatures(
      edges: DataFrame,
      papers: DataFrame,
      paperAuthors: DataFrame,
      embeddings: DataFrame,
      citationEvents: DataFrame
  ): DataFrame = {
    val keys = Seq("a", "b")
    val pairs = edges.select(col("citingpaperID").as("a"), col("citedpaperID").as("b")).distinct()

    // --- per-paper counts, null where a paper has none. The reference's
    // neighbor lists keep author-fanout duplicates (extract_link_features.py
    // :30-31), so cosine denominators count edge rows while raw and jaccard
    // use sets (:189-201); self-cite reads only whether `auth` is null. -----
    val perPaper = edges.select(col("citedpaperID").as("paperID"), lit(0).as("kind"))
      .unionAll(edges.select(col("citingpaperID").as("paperID"), lit(1).as("kind")))
      .unionAll(pairs.select(col("b").as("paperID"), lit(2).as("kind")))
      .unionAll(pairs.select(col("a").as("paperID"), lit(3).as("kind")))
      .unionAll(paperAuthors.select(col("paperID"), lit(4).as("kind")))
      .groupBy(col("paperID"))
      .agg(
        sum(when(col("kind") === 0, 1L)).as("deg_in"),
        sum(when(col("kind") === 1, 1L)).as("deg_out"),
        sum(when(col("kind") === 2, 1L)).as("sdeg_in"),
        sum(when(col("kind") === 3, 1L)).as("sdeg_out"),
        sum(when(col("kind") === 4, 1L)).as("auth"))

    // --- shared in-neighbors (kind 0: co-citation) and out-neighbors
    // (kind 1: bibliographic coupling) of each pair -------------------------
    val member = pairs.select(col("b").as("node"), col("a").as("nbr"), lit(0).as("kind"))
      .unionAll(pairs.select(col("a").as("node"), col("b").as("nbr"), lit(1).as("kind")))
    val shared = pairs
      .join(member.withColumnRenamed("node", "a"), "a")
      .join(member.withColumnRenamed("node", "b"), Seq("b", "nbr", "kind"))
      .groupBy(col("a"), col("b"))
      .agg(count(when(col("kind") === 0, true)).as("raw_in"),
        count(when(col("kind") === 1, true)).as("raw_out"))

    // --- self-cite: |authors(citing) ∩ authors(cited)| --------------------
    val authorSet = paperAuthors.select(col("paperID"), col("authorID")).distinct()
    val common = pairs
      .join(authorSet.select(col("paperID").as("a"), col("authorID")), "a")
      .join(authorSet.select(col("paperID").as("b"), col("authorID")), Seq("b", "authorID"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))

    // --- the (a, b)-keyed blocks, then the 6 correlation features off the
    // gap-filled series (all null without citation events) ----------------
    val events = !citationEvents.isEmpty
    val narrow = pairs.join(shared, keys, "left").join(common, keys, "left")
    val withCorr =
      if (!events) narrow
      else narrow.join(
        TimeSeries.edgeFeatures(pairs.select(col("a").as("citing"), col("b").as("cited")),
          TimeSeries.gapFilledSeries(citationEvents))
          .withColumnsRenamed(Map("citing" -> "a", "cited" -> "b")),
        keys, "left")
    val noSeries = TimeSeries.featuresUdf(lit(0), lit(-1), lit(0), array().cast("array<int>"),
      lit(0), lit(-1), lit(0), array().cast("array<int>"))
    val corr = FeatureNames.take(6).map(c => if (events) col(c) else noSeries.getField(c).as(c))

    // --- per-paper joins, all a-side ones, then all b-side ones -----------
    val pSide = papers.select(col("paperID"), col("year"), col("citationCount"))
    val emb = embeddings.select(col("paperID"), col("embedding"))
    def side(df: DataFrame, k: String): DataFrame = df
      .join(pSide.select(col("paperID").as(k), col("year").as(s"y_$k"),
        col("citationCount").as(s"cc_$k")), Seq(k), "left")
      .join(emb.select(col("paperID").as(k), col("embedding").as(s"e_$k")), Seq(k), "left")
      .join(perPaper.select(perPaper.columns.toSeq.map(c =>
        col(c).as(if (c == "paperID") k else s"${c}_$k")): _*), Seq(k), "left")
    val perPair = side(side(withCorr, "a"), "b")
      .select(Seq(col("a"), col("b")) ++ corr ++ Seq(
        when(col("y_a").isNotNull && col("y_b").isNotNull && col("y_a") >= col("y_b"),
          col("y_a") - col("y_b")).otherwise(lit(null).cast("long")).as("year_diff"),
        col("cc_a").as("citing_paper_citationcount"), col("cc_b").as("cited_paper_citationcount"),
        // null if either side has no author rows (reference `if
        // citing_authors and cited_authors else None`)
        when(col("auth_a").isNull || col("auth_b").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("n_common"), lit(0L))).as("self_cite"),
        when(col("e_a").isNull || col("e_b").isNull, lit(null).cast("double"))
          .otherwise(Embedding.cosine(col("e_a"), col("e_b"))).as("similarity")) ++
        CommonNeighbors.scores(col("raw_in"), col("deg_in_a"), col("deg_in_b"),
          col("sdeg_in_a"), col("sdeg_in_b"), "_cocitation") ++
        CommonNeighbors.scores(col("raw_out"), col("deg_out_a"), col("deg_out_b"),
          col("sdeg_out_a"), col("sdeg_out_b"), "_bibcoupling"): _*)

    edges
      .join(perPair,
        edges("citingpaperID") === perPair("a") && edges("citedpaperID") === perPair("b"))
      .select(Seq(col("citingpaperID"), col("citedpaperID"), col("authorID")) ++
        FeatureNames.map(col): _*)
  }
}
