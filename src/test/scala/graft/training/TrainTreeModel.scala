package graft.training

import graft.analytics.{LinkProb, TreeEnsemble}
import graft.core.Sessions

/** Fit the nonlinear (extra-trees) edge-model backend on the
  * deterministic XOR-structured labeled set and print the ensemble in the
  * compact "f:thr:prob;…|…" encoding hard-coded into TreeModel64 (64x5,
  * the defaults) and TreeTrainer.DefaultModelData (16x3) — the tree
  * analog of TrainLinkModel; golden-asserted by TreeEnsembleSpec. The
  * encoding is chunked into ≤48k-char string literals so no single JVM
  * string constant or class initializer blows the 64 KB limits.
  *
  * Usage: sbt "Test/runMain graft.training.TrainTreeModel [nRows [numTrees [maxDepth]]]"
  */
object TrainTreeModel {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 20000L
    val trees = if (args.length > 1) args(1).toInt else 64
    val depth = if (args.length > 2) args(2).toInt else 5
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "train-tree-model")
    val df = TreeTrainer.syntheticLabeledNonlinear(spark, n)
    val t0 = System.nanoTime()
    val m = TreeTrainer.train(df, LinkProb.ModelFeatures, "label",
      numTrees = trees, maxDepth = depth)
    println(f"[train] $trees trees depth $depth on $n rows: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val enc = TreeEnsemble.encodeModel(m)
    println(s"[enc] ${enc.length} chars")
    println("  // generated by graft.training.TrainTreeModel — do not hand-edit")
    println(s"  private val DefaultModelData: String =")
    val chunks = enc.grouped(48000).toVector
    chunks.zipWithIndex.foreach { case (c, i) =>
      println("    \"\"\"" + c + "\"\"\"" + (if (i < chunks.length - 1) " +" else ""))
    }
    val cv = TreeTrainer.crossValidate(df, LinkProb.ModelFeatures, "label", "id",
      numTrees = trees, maxDepth = depth)
    println(f"[cv] folds=${cv.folds} macroF1=${cv.macroF1}%.6f rocAuc=${cv.rocAuc}%.6f")
    spark.stop()
  }
}
