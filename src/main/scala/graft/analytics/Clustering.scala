package graft.analytics

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** M4 — seeded KMeans over 2-d topic coordinates
  * (topic/cluster_topic.py:16-25): assigns each (x, y) row a cluster
  * label; deterministic via fixed seed. Wraps MLlib's KMeans (on the
  * classpath with the Spark distribution).
  *
  * M3's topic/label assignment itself is served by the engine's Label
  * Propagation (graph.LabelPropagation); this roll-up groups label
  * centroids into root clusters like group_to_root.py:11-23.
  */
object Clustering {

  /** df(id, x, y) -> df(id, x, y, cluster). */
  def kmeansXY(df: DataFrame, k: Int, seed: Long = 42L, maxIter: Int = 50): DataFrame = {
    val assembler = udf((x: Double, y: Double) => Vectors.dense(x, y))
    val feats = df.withColumn("features", assembler(col("x").cast("double"), col("y").cast("double")))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter).fit(feats)
    model.transform(feats)
      .withColumnRenamed("prediction", "cluster")
      .drop("features")
  }

  /** Per-cluster roll-up: member count and summed weight
    * (group_to_root.py:15-21).
    */
  def rollUp(clustered: DataFrame, weightCol: String): DataFrame =
    clustered.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col(weightCol)).as("total"))

  /** M4, oracle-able variant — deterministic Lloyd k-means over
    * INTEGER-VALUED 2-d coordinates: init = the k rows with smallest
    * `id`, then `iters` fixed (assign, update) steps and a final
    * assignment under the converged-so-far centroids.
    *
    * Why this exists next to kmeansXY: MLlib's k-means|| init samples
    * per-partition, so its trajectory is partitioning-sensitive —
    * fine for topic roll-ups, untestable as a value-exact contract.
    * Here integer coordinates make each centroid update an EXACT
    * BIGINT sum (no float-order dependence at any partitioning), the
    * mean a single IEEE division, and every distance comparison a
    * fixed-shape double expression — the whole trajectory is
    * bit-reproducible and transcribes 1:1 to SQL (driver-checked by
    * q_kmeans against an unrolled DuckDB CTE twin).
    *
    * Scale: per iteration one codegen'd broadcast-literal argmin
    * projection over the data + one k-row exact aggregate to the
    * driver; k and iters are constants, so the loop costs
    * O(iters * scan) with no join or window.
    *
    * Assignment: argmin of squared L2; ties go to the lowest centroid
    * index. A cluster that loses all members keeps its previous
    * centroid.
    */
  /** N-dimensional sibling of lloydXY, returning the CENTROIDS instead of
    * an assignment — the bit-deterministic coarse quantizer behind the
    * driver-checked IVF path (Similarity.ivfSearch / q_ann_ivf).
    *
    * Input df(id, e: array&lt;double&gt;) with INTEGER-VALUED coordinates:
    * init = the k rows with smallest id, then `iters` (assign, update)
    * steps where each centroid update is an exact per-dimension BIGINT
    * sum (order-proof at any partitioning) followed by one IEEE division.
    * Assignment = argmin of the squared L2 distance, summed dimension-
    * ascending; ties to the lowest centroid index; an emptied cluster
    * keeps its previous centroid. The whole trajectory transcribes 1:1
    * to unrolled SQL CTEs (same pattern q_kmeans proved for 2-d).
    */
  def lloydND(df: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = df.orderBy(col("id")).limit(k).select(col("e"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(cents.length == k, s"need at least $k rows to seed $k clusters")
    val dims = cents(0).length
    def assignCol(cs: Array[Array[Double]]) =
      cs.zipWithIndex.map { case (c, i) =>
        val d = c.zipWithIndex.map { case (cj, j) =>
          val dj = element_at(col("e"), j + 1) - lit(cj)
          dj * dj
        }.reduce(_ + _) // dimension-ascending left fold, same as the SQL twin
        struct(d.as("d"), lit(i).as("i"))
      }.reduce((a, b) => least(a, b)).getField("i").as("cluster")
    var it = 0
    while (it < iters) {
      val aggs = (0 until dims).map(j =>
        sum(element_at(col("e"), j + 1).cast("long")).as(s"s$j")) :+ count(lit(1)).as("n")
      val sums = df.select(col("e"), assignCol(cents))
        .groupBy(col("cluster"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> ((0 until dims).map(j => r.getLong(1 + j)).toArray, r.getLong(1 + dims)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        sums.get(i).map { case (s, n) => s.map(_.toDouble / n) }.getOrElse(old)
      }
      it += 1
    }
    cents
  }

  def lloydXY(df: DataFrame, k: Int, iters: Int): DataFrame = {
    def assignCol(cents: Array[(Double, Double)]) = {
      val dx = col("x")
      val dy = col("y")
      cents.zipWithIndex.map { case ((cx, cy), i) =>
        struct(
          ((dx - lit(cx)) * (dx - lit(cx)) + (dy - lit(cy)) * (dy - lit(cy))).as("d"),
          lit(i).as("i"))
      }.reduce((a, b) => least(a, b)).getField("i").as("cluster")
    }
    var cents = df.orderBy(col("id")).limit(k).select(col("x"), col("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    require(cents.length == k, s"need at least $k rows to seed $k clusters")
    var it = 0
    while (it < iters) {
      val sums = df.select(col("id"), col("x"), col("y"), assignCol(cents))
        .groupBy(col("cluster"))
        .agg(sum(col("x").cast("long")).as("sx"), sum(col("y").cast("long")).as("sy"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        sums.get(i).map { case (sx, sy, n) => (sx.toDouble / n, sy.toDouble / n) }.getOrElse(old)
      }
      it += 1
    }
    df.select(col("id"), col("x"), col("y"), assignCol(cents))
  }
}
