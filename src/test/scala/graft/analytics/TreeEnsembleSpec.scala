package graft.analytics

import graft.SparkSpec
import graft.training.{LogisticTrainer, TreeTrainer}
import org.apache.spark.sql.functions._

/** The nonlinear edge-model backend (predict_edge/new_data_model.py:
  * 159-161 fits an 800-tree ExtraTreesRegressor; this engine's analog is
  * the deterministic extra-trees ensemble). Acceptance mirrors
  * LogisticTrainerSpec: same CV protocol, same metrics — plus the
  * capacity separation the reference's model choice implies: on an
  * XOR-structured ground truth the trees must beat the linear backend.
  */
class TreeEnsembleSpec extends SparkSpec {

  private val F = LinkProb.ModelFeatures
  private def regenerate(t: Int, d: Int) = s"; regenerate with sbt \"Test/runMain graft.training.TrainTreeModel 20000 $t $d\""

  test("training is bit-deterministic across partitionings") {
    val a = TreeTrainer.train(
      TreeTrainer.syntheticLabeledNonlinear(spark, 4000L, parts = 8), F, "label",
      numTrees = 16, maxDepth = 3)
    val b = TreeTrainer.train(
      TreeTrainer.syntheticLabeledNonlinear(spark, 4000L, parts = 3), F, "label",
      numTrees = 16, maxDepth = 3)
    assert(a.trees.length == b.trees.length)
    a.trees.zip(b.trees).zipWithIndex.foreach { case ((ta, tb), t) =>
      ta.zip(tb).zipWithIndex.foreach { case ((na, nb), i) =>
        assert(na == nb, s"tree $t node $i differs: $na vs $nb")
      }
    }
  }

  test("DefaultModel is exactly the trained literal (golden, TrainTreeModel)") {
    val t = TreeTrainer.train(
      TreeTrainer.syntheticLabeledNonlinear(spark, 20000L), F, "label",
      numTrees = 16, maxDepth = 3)
    val m = TreeTrainer.DefaultModel
    assert(t.trees.length == m.trees.length)
    t.trees.zip(m.trees).zipWithIndex.foreach { case ((ta, tb), i) =>
      assert(ta.sameElements(tb), s"tree $i differs from the shipped literal${regenerate(16, 3)}")
    }
  }

  test("compact wire codec round-trips a model bit-exactly") {
    val m = TreeTrainer.DefaultModel
    val rt = TreeEnsemble.decodeModel(m.features, TreeEnsemble.encodeModel(m))
    assert(rt.features == m.features)
    assert(rt.trees.length == m.trees.length)
    rt.trees.zip(m.trees).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"tree $i changed across encode/decode")
    }
  }

  test("trees express the XOR interaction a linear model cannot (CV)") {
    val data = TreeTrainer.syntheticLabeledNonlinear(spark, 8000L)
    val tree = TreeTrainer.crossValidate(data, F, "label", "id", folds = 5, numTrees = 32)
    val logit = LogisticTrainer.crossValidate(data, F, "label", "id", folds = 5)
    info(f"tree  AUC ${tree.rocAuc}%.4f macroF1 ${tree.macroF1}%.4f")
    info(f"logit AUC ${logit.rocAuc}%.4f macroF1 ${logit.macroF1}%.4f")
    assert(tree.rocAuc > 0.80, s"tree AUC ${tree.rocAuc} below acceptance bar")
    assert(tree.rocAuc > logit.rocAuc + 0.10,
      s"trees (${tree.rocAuc}) must clearly beat logistic (${logit.rocAuc}) on the XOR task")
    assert(tree.macroF1 > logit.macroF1,
      s"tree macroF1 ${tree.macroF1} vs logistic ${logit.macroF1}")
  }

  test("on the LINEAR ground truth the trees stay competitive (sanity)") {
    val data = LogisticTrainer.syntheticLabeled(spark, 8000L)
    val m = TreeTrainer.train(data, F, "label", numTrees = 32)
    val (f1, auc) = LogisticTrainer.scoreMetrics(
      data.withColumn("__p", TreeEnsemble.predictCol(m)), "__p", "label")
    info(f"tree in-sample AUC $auc%.4f macroF1 $f1%.4f on the linear task")
    assert(auc > 0.80, s"tree AUC $auc degenerate on the linear task")
  }

  test("TreeModel64 is exactly the trained 64x5 literal (golden, TrainTreeModel)") {
    val t = TreeTrainer.train(
      TreeTrainer.syntheticLabeledNonlinear(spark, 20000L), F, "label",
      numTrees = 64, maxDepth = 5)
    val m = TreeModel64.Model
    assert(t.trees.length == m.trees.length)
    t.trees.zip(m.trees).zipWithIndex.foreach { case ((ta, tb), i) =>
      assert(ta.sameElements(tb), s"tree $i differs from the shipped literal${regenerate(64, 5)}")
    }
  }

  test("TreeEnsembleScore expression matches predictCol bit-exactly (16x3)") {
    import graft.functions.TreeEnsembleScore
    val m = TreeTrainer.DefaultModel
    val df = TreeTrainer.syntheticLabeledNonlinear(spark, 2000L)
    val rows = df.select(
      TreeEnsemble.predictCol(m).as("a"),
      TreeEnsembleScore.score(m, F.map(f => LinkProb.imputed(col(f)))).as("b")
    ).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"expression diverges from predictCol: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("TreeEnsembleScore 64x5 matches an independent Scala routing (bit-exact)") {
    import graft.functions.TreeEnsembleScore
    val m = TreeModel64.Model
    val df = TreeTrainer.syntheticLabeledNonlinear(spark, 1000L)
    val got = df.select(
      (col("id")) +: F.map(f => col(f)) :+
        TreeEnsembleScore.score(m, F.map(f => LinkProb.imputed(col(f)))).as("p"): _*
    ).collect()
    got.foreach { r =>
      val f = F.indices.map(i => r.getDouble(1 + i)).toArray
      var acc = 0.0
      m.trees.foreach { nodes =>
        var n = 1
        while (nodes(n).feature >= 0)
          n = (n << 1) + (if (f(nodes(n).feature) < nodes(n).threshold) 0 else 1)
        acc += nodes(n).prob
      }
      val want = acc / m.trees.length.toDouble
      assert(r.getDouble(1 + F.size) == want, s"row ${r.getLong(0)}: ${r.getDouble(1 + F.size)} vs $want")
    }
  }

  test("TreeModel64 scoring stays inside whole-stage codegen (no Janino fallback)") {
    // spark.sql.codegen.fallback=false turns a whole-stage compile
    // failure into a thrown error instead of a silent interpreted
    // fallback — the round-5 ceiling (16x3) is asserted LIFTED here.
    val dir = java.nio.file.Files.createTempDirectory("tree64_score").toString
    TreeTrainer.syntheticLabeledNonlinear(spark, 500L).write.mode("overwrite").parquet(dir)
    val data = spark.read.parquet(dir)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val scored = LinkProb.scoreTree(data, TreeModel64.Model)
      val plan = scored.queryExecution.executedPlan.toString
      // the simple plan string marks a WholeStageCodegen span with "*(n)"
      assert(plan.contains("*("), s"no whole-stage span in:\n${plan.take(400)}")
      assert(!plan.contains("Exchange"), s"scoring plan shuffles:\n${plan.take(400)}")
      val probas = scored.select("proba").collect().map(_.getDouble(0))
      assert(probas.length == 500 && probas.forall(p => p >= 0.0 && p <= 1.0))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("scoring is a single codegen'd projection (no shuffle, no UDF)") {
    val gen = TreeTrainer.syntheticLabeledNonlinear(spark, 1000L)
    val m = TreeTrainer.train(gen, F, "label", numTrees = 8, maxDepth = 2)
    // score over a plain parquet scan so the plan under test is the
    // scoring projection itself, not the generator's repartition
    val dir = java.nio.file.Files.createTempDirectory("tree_score").toString
    gen.write.mode("overwrite").parquet(dir)
    val data = spark.read.parquet(dir)
    val scored = data.withColumn("proba", TreeEnsemble.predictCol(m))
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring plan shuffles:\n$plan")
    val probas = scored.select("proba").collect().map(_.getDouble(0))
    assert(probas.forall(p => p >= 0.0 && p <= 1.0))
  }
}
