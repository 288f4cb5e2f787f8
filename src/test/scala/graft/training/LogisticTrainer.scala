package graft.training

import graft.analytics.LinkProb
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic logistic-regression trainer (IRLS / Newton-Raphson) —
  * the engine analog of the reference's edge-model training stage
  * (predict_edge/new_data_model.py:138-275: fit a classifier over the 9
  * link features, accept on 10-fold cross-validated F1/ROC-AUC, pickle
  * the model that compute_link_prob.py later scores). The engine's
  * LinkProb.DefaultWeights are coefficients produced by THIS trainer on
  * the deterministic synthetic labeled set below (see
  * LogisticTrainerSpec), not invented constants; the engine only scores
  * them. `sbt "Test/runMain graft.training.TrainLinkModel"` prints them.
  *
  * Distribution + determinism: each Newton step needs only the k x k
  * Gram matrix X'WX and gradient X'(y - p) — per-partition primitive
  * accumulators are collected IN PARTITION ORDER and combined on the
  * driver, so for a fixed partitioning the fit is bit-reproducible at
  * any executor count (a treeAggregate would combine in racy order and
  * dither the last ulp). The per-step cost is one pass over the cached
  * feature rows; k = 9 features + bias, so driver work is trivial.
  *
  * Missing features are imputed to -2 exactly as at scoring time
  * (LinkProb.imputed / the reference's SimpleImputer).
  */
object LogisticTrainer {

  final case class Trained(
      weights: Map[String, Double], bias: Double,
      iterations: Int, converged: Boolean)

  final case class CvMetrics(macroF1: Double, rocAuc: Double, folds: Int)

  // StrictMath, not Math: Math.exp may use platform intrinsics whose last
  // bit differs across JVMs/hardware; StrictMath is bit-specified (fdlibm),
  // which is what makes the trained coefficients a cross-platform golden.
  private def sigmoid(z: Double): Double = 1.0 / (1.0 + StrictMath.exp(-z))

  /** Solve A x = b (k x k, symmetric positive definite up to the ridge)
    * by Gaussian elimination with partial pivoting. Driver-side, k <= ~20.
    */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val k = b.length
    val m = Array.tabulate(k)(i => a(i) :+ b(i))
    for (col0 <- 0 until k) {
      var piv = col0
      for (r <- col0 + 1 until k) if (math.abs(m(r)(col0)) > math.abs(m(piv)(col0))) piv = r
      val tmp = m(col0); m(col0) = m(piv); m(piv) = tmp
      val d = m(col0)(col0)
      require(math.abs(d) > 1e-300, "singular system in IRLS solve")
      for (r <- 0 until k if r != col0) {
        val f = m(r)(col0) / d
        if (f != 0.0) for (c <- col0 until k + 1) m(r)(c) -= f * m(col0)(c)
      }
    }
    Array.tabulate(k)(i => m(i)(k) / m(i)(i))
  }

  /** Fit weights + bias for `features` against binary `labelCol` (0/1).
    * Rows are read once into a cached primitive RDD; every IRLS step is
    * one deterministic aggregation job.
    */
  def train(
      df: DataFrame, features: Seq[String], labelCol: String,
      maxIter: Int = 25, tol: Double = 1e-9, ridge: Double = 1e-6
  ): Trained = {
    val k = features.length + 1 // + bias
    val cols = features.map(f => LinkProb.imputed(col(f))) :+ col(labelCol).cast("double")
    val rows = df.select(cols: _*).rdd
      .map { r =>
        val x = new Array[Double](k)
        x(0) = 1.0
        var i = 0
        while (i < features.length) { x(i + 1) = r.getDouble(i); i += 1 }
        (x, r.getDouble(features.length))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count()

    val w = new Array[Double](k)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val wB = rows.sparkContext.broadcast(w)
      // flat accumulator: k*k Gram + k gradient, per partition, combined
      // in PARTITION ORDER on the driver (deterministic)
      val partials = rows.mapPartitionsWithIndex { (pid, it) =>
        val acc = new Array[Double](k * k + k)
        val wv = wB.value
        it.foreach { case (x, y) =>
          var z = 0.0
          var i = 0
          while (i < k) { z += wv(i) * x(i); i += 1 }
          val p = sigmoid(z)
          val wt = p * (1.0 - p)
          i = 0
          while (i < k) {
            val xi = x(i)
            var j = 0
            while (j < k) { acc(i * k + j) += wt * xi * x(j); j += 1 }
            acc(k * k + i) += (y - p) * xi
            i += 1
          }
        }
        Iterator.single((pid, acc))
      }.collect().sortBy(_._1).map(_._2)
      val total = new Array[Double](k * k + k)
      partials.foreach { p => var i = 0; while (i < total.length) { total(i) += p(i); i += 1 } }
      wB.destroy()

      val gram = Array.tabulate(k, k)((i, j) => total(i * k + j) + (if (i == j) ridge else 0.0))
      val grad = Array.tabulate(k)(i => total(k * k + i))
      val delta = solve(gram, grad)
      var maxStep = 0.0
      var i = 0
      while (i < k) { w(i) += delta(i); maxStep = math.max(maxStep, math.abs(delta(i))); i += 1 }
      iter += 1
      converged = maxStep < tol
    }
    rows.unpersist(false)
    Trained(features.zipWithIndex.map { case (f, i) => f -> w(i + 1) }.toMap, w(0), iter, converged)
  }

  /** Score column sigmoid(bias + w·x) for a trained model. */
  def predictCol(t: Trained, features: Seq[String]): Column = {
    val z = features.map(f => LinkProb.imputed(col(f)) * lit(t.weights(f)))
      .foldLeft(lit(t.bias): Column)(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Macro-F1 (threshold 0.5, mean of per-class F1) + ROC-AUC for scored
    * rows. AUC is the rank statistic computed DISTRIBUTED: group by
    * score, cumulative negative count below each group (one window over
    * the score-sorted group table), ties get the 1/2 credit —
    * no per-row collect.
    */
  def scoreMetrics(scored: DataFrame, probCol: String, labelCol: String): (Double, Double) = {
    val cls = scored.select(
      (col(probCol) >= 0.5).cast("int").as("pred"),
      col(labelCol).cast("int").as("y"))
    val counts = cls.groupBy("pred", "y").count().collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap.withDefaultValue(0L)
    def f1(positive: Int): Double = {
      val tp = counts((positive, positive)).toDouble
      val fp = counts((positive, 1 - positive)).toDouble
      val fn = counts((1 - positive, positive)).toDouble
      if (tp == 0.0) 0.0 else 2 * tp / (2 * tp + fp + fn)
    }
    val macroF1 = (f1(1) + f1(0)) / 2.0

    import org.apache.spark.sql.expressions.Window
    val grp = scored.groupBy(col(probCol).as("s")).agg(
      sum(col(labelCol).cast("long")).as("np"),
      sum(lit(1L) - col(labelCol).cast("long")).as("nn"))
    val w = Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = grp.select(col("np"), col("nn"),
      (sum(col("nn")).over(w) - col("nn")).as("negBelow"))
    val agg = ranked.agg(
      sum(col("np") * (col("negBelow") + col("nn") / lit(2.0))).as("u"),
      sum(col("np")).as("pos"), sum(col("nn")).as("neg")).first()
    val auc =
      if (agg.getLong(1) == 0L || agg.getLong(2) == 0L) 0.5
      else agg.getDouble(0) / (agg.getLong(1).toDouble * agg.getLong(2).toDouble)
    (macroF1, auc)
  }

  /** k-fold CV in the reference's acceptance style
    * (new_data_model.py:159-275): fold = rowId % folds, train on the
    * rest, score the fold, mean macro-F1 / ROC-AUC over folds.
    */
  def crossValidate(
      df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
      folds: Int = 10, maxIter: Int = 25
  ): CvMetrics =
    kFold(df, labelCol, idCol, folds) { (rest, fold) =>
      fold.withColumn("__p", predictCol(train(rest, features, labelCol, maxIter = maxIter), features))
    }

  /** The CV loop of both trainers: `fitScore(rest, fold)` returns `fold` scored in `__p`. */
  private[training] def kFold(df: DataFrame, labelCol: String, idCol: String, folds: Int)(
      fitScore: (DataFrame, DataFrame) => DataFrame): CvMetrics = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    val metrics = (0 until folds).map { j =>
      val rest = cached.filter(pmod(col(idCol), lit(folds)) =!= j)
      val fold = cached.filter(pmod(col(idCol), lit(folds)) === j)
      scoreMetrics(fitScore(rest, fold), "__p", labelCol)
    }
    cached.unpersist(false)
    CvMetrics(metrics.map(_._1).sum / folds, metrics.map(_._2).sum / folds, folds)
  }

  /** Deterministic synthetic labeled set over the 9 model features:
    * feature values and the Bernoulli draw both come from md5-derived
    * uniforms (textops.Dedup.md5Hash60), labels from a ground-truth
    * linear model — so the trainer's recovered coefficients are stable
    * across machines and parallelism. ~10% of each feature is NULL to
    * exercise the -2 imputation path end-to-end.
    */
  def syntheticLabeled(spark: org.apache.spark.sql.SparkSession, n: Long, parts: Int = 8): DataFrame = {
    def maybeNull(c: Column, seed: Int): Column =
      when(uniform(seed) < 0.1, lit(null).cast("double")).otherwise(c)
    val feats = syntheticFeatures(selfCiteRate = 0.15).map { case (f, c) => f -> maybeNull(c, f.hashCode & 0xffff) }
    // ground truth: plausible signs/magnitudes for citation-link features
    val truth = Map(
      "cross_correlation" -> 0.7, "window_cross_correlation" -> 0.5,
      "year_diff" -> -0.06, "citing_paper_citationcount" -> 0.003,
      "cited_paper_citationcount" -> 0.002, "self_cite" -> 1.1,
      "similarity" -> 1.4, "jaccard_cocitation" -> 2.2,
      "jaccard_bibcoupling" -> 1.8)
    val truthBias = -0.9
    val z = truth.toSeq.sortBy(_._1)
      .map { case (f, wt) => LinkProb.imputed(col(f)) * lit(wt) }
      .foldLeft(lit(truthBias): Column)(_ + _)
    labeled(spark, n, parts, feats, z)
  }

  /** A uniform [0,1) per row `id` and `seed`, md5-derived. */
  private def uniform(seed: Int): Column =
    graft.textops.Dedup.md5Hash60(col("id").cast("string"), seed).cast("double") / lit(1.152921504606847e18)

  /** The 9 model features; self_cite is 1 with probability `selfCiteRate`. */
  private[training] def syntheticFeatures(selfCiteRate: Double): Map[String, Column] = Map(
    "cross_correlation" -> (uniform(11) * 2.0 - 1.0),
    "window_cross_correlation" -> (uniform(12) * 2.0 - 1.0),
    "year_diff" -> floor(uniform(13) * 30).cast("double"),
    "citing_paper_citationcount" -> floor(uniform(14) * 200).cast("double"),
    "cited_paper_citationcount" -> floor(uniform(15) * 500).cast("double"),
    "self_cite" -> (uniform(16) < selfCiteRate).cast("double"),
    "similarity" -> (uniform(17) * 2.0 - 1.0),
    "jaccard_cocitation" -> (uniform(18) * 0.5),
    "jaccard_bibcoupling" -> (uniform(19) * 0.5))

  /** Ids 0 until n in `parts` sorted partitions, `features` by name, label sigmoid(z) > uniform. */
  private[training] def labeled(spark: org.apache.spark.sql.SparkSession, n: Long, parts: Int,
                                 features: Map[String, Column], z: Column): DataFrame =
    spark.range(n).repartition(parts, col("id")).sortWithinPartitions("id")
      .select(col("id") +: features.toSeq.sortBy(_._1).map { case (f, c) => c.as(f) }: _*)
      .withColumn("label", (lit(1.0) / (lit(1.0) + exp(-z)) > uniform(99)).cast("int"))
}
