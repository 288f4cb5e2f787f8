package graft.analytics

import graft.SparkSpec
import graft.training.LogisticTrainer
import org.apache.spark.sql.functions._

/** The edge-model training stage (predict_edge/new_data_model.py:138-275
  * analog): deterministic IRLS fit, 10-fold CV acceptance metrics, and
  * the guarantee that LinkProb.DefaultWeights ARE the trained
  * coefficients (golden values from graft.training.TrainLinkModel).
  */
class LogisticTrainerSpec extends SparkSpec {

  private lazy val labeled = LogisticTrainer.syntheticLabeled(spark, 20000L)
  private val regenerate = "; regenerate with sbt \"Test/runMain graft.training.TrainLinkModel\""

  test("IRLS recovers the ground-truth coefficients and converges") {
    val t = LogisticTrainer.train(labeled, LinkProb.ModelFeatures, "label")
    assert(t.converged, s"IRLS did not converge in ${t.iterations} steps")
    // ground truth used by the generator (LogisticTrainer.syntheticLabeled)
    val truth = Map(
      "cross_correlation" -> 0.7, "window_cross_correlation" -> 0.5,
      "year_diff" -> -0.06, "citing_paper_citationcount" -> 0.003,
      "cited_paper_citationcount" -> 0.002, "self_cite" -> 1.1,
      "similarity" -> 1.4, "jaccard_cocitation" -> 2.2,
      "jaccard_bibcoupling" -> 1.8)
    truth.foreach { case (f, w) =>
      val rel = math.abs(t.weights(f) - w) / math.max(0.01, math.abs(w))
      assert(rel < 0.2, f"$f: trained ${t.weights(f)}%.4f vs truth $w (rel $rel%.3f)")
    }
  }

  test("LinkProb.DefaultWeights are exactly the trained coefficients (golden)") {
    val t = LogisticTrainer.train(labeled, LinkProb.ModelFeatures, "label")
    LinkProb.ModelFeatures.foreach { f =>
      assert(math.abs(t.weights(f) - LinkProb.DefaultWeights(f)) < 1e-9,
        s"$f: ${t.weights(f)} != DefaultWeights ${LinkProb.DefaultWeights(f)}$regenerate")
    }
    assert(math.abs(t.bias - LinkProb.DefaultBias) < 1e-9, s"bias ${t.bias} != DefaultBias ${LinkProb.DefaultBias}$regenerate")
  }

  test("10-fold CV acceptance metrics (golden macro-F1 / ROC-AUC)") {
    val cv = LogisticTrainer.crossValidate(labeled, LinkProb.ModelFeatures, "label", "id")
    assert(cv.folds == 10)
    assert(math.abs(cv.macroF1 - 0.773658) < 1e-4, s"macroF1 ${cv.macroF1}")
    assert(math.abs(cv.rocAuc - 0.876604) < 1e-4, s"rocAuc ${cv.rocAuc}")
  }

  test("scoreMetrics: AUC 1.0 on perfectly separated scores, 0.5 on constant") {
    import spark.implicits._
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("p", "y")
    val (_, auc) = LogisticTrainer.scoreMetrics(perfect, "p", "y")
    assert(auc == 1.0)
    val constant = Seq((0.5, 1), (0.5, 0), (0.5, 1)).toDF("p", "y")
    val (_, aucC) = LogisticTrainer.scoreMetrics(constant, "p", "y")
    assert(math.abs(aucC - 0.5) < 1e-12) // ties get half credit
  }

  test("imputation path: nulls train identically to explicit -2") {
    val explicit = labeled.select(
      Seq(col("id"), col("label")) ++
        LinkProb.ModelFeatures.map(f => LinkProb.imputed(col(f)).as(f)): _*)
    val t1 = LogisticTrainer.train(labeled, LinkProb.ModelFeatures, "label")
    val t2 = LogisticTrainer.train(explicit, LinkProb.ModelFeatures, "label")
    LinkProb.ModelFeatures.foreach { f =>
      assert(t1.weights(f) == t2.weights(f))
    }
  }
}
