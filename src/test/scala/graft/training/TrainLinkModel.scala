package graft.training

import graft.analytics.LinkProb
import graft.core.Sessions

/** Fit the edge-probability model on the deterministic synthetic labeled
  * set and print the coefficients + 10-fold CV acceptance metrics (the
  * values hard-coded into LinkProb.DefaultWeights and asserted by
  * LogisticTrainerSpec).
  *
  * Usage: sbt "Test/runMain graft.training.TrainLinkModel [nRows]"
  */
object TrainLinkModel {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000L
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "train-link-model")
    val df = LogisticTrainer.syntheticLabeled(spark, n)
    val t = LogisticTrainer.train(df, LinkProb.ModelFeatures, "label")
    println(s"[train] iterations=${t.iterations} converged=${t.converged}")
    println(f"[train] bias = ${t.bias}%.10f")
    LinkProb.ModelFeatures.foreach { f =>
      println(f"[train] $f%-28s -> ${t.weights(f)}%.10f")
    }
    val cv = LogisticTrainer.crossValidate(df, LinkProb.ModelFeatures, "label", "id")
    println(f"[cv] folds=${cv.folds} macroF1=${cv.macroF1}%.6f rocAuc=${cv.rocAuc}%.6f")
    spark.stop()
  }
}
