package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M2 — the edge-probability scorer: the engine analog of the reference's
  * `compute_link_prob.py`, which loads a pickled sklearn logistic model,
  * imputes missing features to the constant -2 (SimpleImputer,
  * compute_link_prob.py:22-23), scores `predict_proba[:,1]`, and emits
  * `edge_proba` rows (citingpaperID, citedpaperID, authorID, proba).
  *
  * The engine keeps the exact contract — the 9-feature input block
  * (compute_link_prob.py:17), the -2 imputation, proba ∈ [0,1] via the
  * logistic link — with the model weights as explicit parameters (the
  * reference's pickled weights are not public; `DefaultWeights` is a
  * deterministic stand-in and the seam where trained coefficients drop
  * in). Scoring is one codegen'd projection: no shuffle, no UDF.
  */
object LinkProb {

  /** The 9 model features, in the reference's order (compute_link_prob.py:17). */
  val ModelFeatures: Seq[String] = Seq(
    "cross_correlation", "window_cross_correlation", "year_diff",
    "citing_paper_citationcount", "cited_paper_citationcount",
    "self_cite", "similarity", "jaccard_cocitation", "jaccard_bibcoupling")

  /** Coefficients TRAINED by deterministic IRLS on a deterministic
    * synthetic labeled set of 20,000 rows, 10-fold CV acceptance macro-F1
    * 0.774 / ROC-AUC 0.877 — the engine analog of the reference's fitted
    * + pickled edge model (new_data_model.py:138-275). The trainer and its
    * golden spec live in the test tree (graft.training);
    * `sbt "Test/runMain graft.training.TrainLinkModel"` regenerates this
    * map bit for bit. Retraining on real labels replaces this one map.
    */
  val DefaultWeights: Map[String, Double] = Map(
    "cross_correlation" -> 0.7147594190,
    "window_cross_correlation" -> 0.4887992081,
    "year_diff" -> -0.0575021612,
    "citing_paper_citationcount" -> 0.0029536051,
    "cited_paper_citationcount" -> 0.0018523990,
    "self_cite" -> 1.1224279334,
    "similarity" -> 1.4096878214,
    "jaccard_cocitation" -> 2.2405487320,
    "jaccard_bibcoupling" -> 1.7499273485)

  val DefaultBias: Double = -0.8852803415

  /** Missing-value imputation: NULL or NaN -> -2 (exactly the reference's
    * SimpleImputer(strategy="constant", fill_value=-2)).
    */
  def imputed(c: Column): Column = {
    val d = c.cast("double")
    when(d.isNull || isnan(d), lit(-2.0)).otherwise(d)
  }

  /** Score a feature table (LinkFeatures.allFeatures output): appends
    * `proba` = sigmoid(bias + Σ w_f · impute(f)).
    */
  def score(
      features: DataFrame,
      weights: Map[String, Double] = DefaultWeights,
      bias: Double = DefaultBias
  ): DataFrame = {
    val z = ModelFeatures
      .map(f => imputed(col(f)) * lit(weights(f)))
      .foldLeft(lit(bias): Column)(_ + _)
    features.withColumn("proba", lit(1.0) / (lit(1.0) + exp(-z)))
  }

  /** Nonlinear backend — same scoring contract, proba from a trained
    * extra-trees ensemble (a TreeEnsemble.Model): the engine analog of the
    * reference's ExtraTrees edge model (new_data_model.py:159-161).
    * Like `score`, a single codegen'd projection (the model ships as
    * plan literals). It routes through the TreeEnsembleScore
    * Catalyst expression (one generated Java method per tree), so the
    * projection stays whole-stage-codegen'd at ANY ensemble size — the
    * round-5 nested-CASE scorer fell out of codegen past ~16x3. Numerics
    * are bit-identical to TreeEnsemble.predictCol.
    */
  def scoreTree(features: DataFrame, model: TreeEnsemble.Model): DataFrame =
    // bind by the MODEL's own feature list: node feature indexes are
    // positions in the training order, so a model trained on a subset or
    // permutation of ModelFeatures would silently test the wrong columns
    // if this bound a fixed list
    features.withColumn("proba",
      graft.functions.TreeEnsembleScore.score(model, model.features.map(f => imputed(col(f)))))

  /** The `edge_proba` product (compute_link_prob.py:29-31): key columns +
    * proba only.
    */
  def edgeProba(
      features: DataFrame,
      weights: Map[String, Double] = DefaultWeights,
      bias: Double = DefaultBias
  ): DataFrame =
    score(features, weights, bias)
      .select(col("citingpaperID"), col("citedpaperID"), col("authorID"), col("proba"))

  /** Citation-context enrichment — the reference's update_links.py:68-78
    * (SURVEY §3.2, the stage after compute_link_prob):
    * per scored edge, attach the tab-joined citation contexts and rename
    * to the consumer schema (childrenID, parentID, extendsProb,
    * citationContext). `contexts` has one row per (citingpaperID,
    * citedpaperID, citation_context); multiple contexts per pair are
    * '\t'-joined in deterministic (sorted) order.
    */
  def updateLinks(edgeProba: DataFrame, contexts: DataFrame): DataFrame = {
    val ctx = contexts
      .groupBy(col("citingpaperID"), col("citedpaperID"))
      .agg(array_join(array_sort(collect_list(col("citation_context"))), "\t").as("citationContext"))
    edgeProba
      .join(ctx, Seq("citingpaperID", "citedpaperID"), "left")
      .select(
        col("authorID"),
        col("citingpaperID").as("childrenID"),
        col("citedpaperID").as("parentID"),
        col("proba").as("extendsProb"),
        col("citationContext"))
  }
}
