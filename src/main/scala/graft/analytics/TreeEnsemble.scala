package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Extremely-randomized-trees ensemble as the engine scores it: the
  * analog of the reference's nonlinear edge model (predict_edge/
  * new_data_model.py:159-161 fits an 800-tree ExtraTreesRegressor;
  * compute_link_prob.py scores the pickle). The engine ships frozen
  * models only (`TreeModel64`, scored by TreeEnsembleScore). The trainer
  * is the test tree's graft.training.TreeTrainer, and
  * `sbt "Test/runMain graft.training.TrainTreeModel"` regenerates a literal.
  */
object TreeEnsemble {

  /** split(f,thr): x(f) < thr goes left; f = -1 marks a leaf. `prob` is
    * the leaf's positive fraction (sklearn predict_proba averaging).
    * Nodes are heap-indexed: root 1, children 2i, 2i+1.
    */
  final case class Node(feature: Int, threshold: Double, prob: Double)

  final case class Model(features: Seq[String], trees: Array[Array[Node]]) {
    def numTrees: Int = trees.length
  }

  /** Compact wire form of a model: trees joined by '|', heap nodes by
    * ';', each node "feature:threshold:prob" (Double.toString round-trips
    * bit-exactly, so encode∘decode is the identity).
    */
  def encodeModel(m: Model): String =
    m.trees.map(_.map(nd => s"${nd.feature}:${nd.threshold}:${nd.prob}").mkString(";")).mkString("|")

  def decodeModel(features: Seq[String], enc: String): Model =
    Model(features, enc.split('|').map(_.split(';').map { s =>
      val Array(f, t, p) = s.split(':')
      Node(f.toInt, t.toDouble, p.toDouble)
    }))

  /** Scoring column via nested CASE WHEN on literal thresholds — fine
    * for SMALL models (<=~16 trees x depth 3); bigger ensembles must use
    * graft.functions.TreeEnsembleScore (bit-identical numerics, one
    * generated method per tree) or Janino's method limit drops the stage
    * out of codegen. Kept as the parity reference the expression is
    * asserted against.
    */
  def predictCol(m: Model): Column = {
    val fcols = m.features.map(f => LinkProb.imputed(col(f)))
    def treeCol(nodes: Array[Node], i: Int): Column = {
      val nd = nodes(i)
      if (nd.feature < 0) lit(nd.prob)
      else when(fcols(nd.feature) < lit(nd.threshold), treeCol(nodes, 2 * i))
        .otherwise(treeCol(nodes, 2 * i + 1))
    }
    m.trees.map(t => treeCol(t, 1)).reduce(_ + _) / lit(m.numTrees.toDouble)
  }
}
