package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tie-inclusive top-K selection.
  *
  * Reference semantics (create_field/utils.py:110-114; same pattern
  * match_author.py:187-202): sort descending, read the value at rank k,
  * keep ALL rows with value >= that cutoff — so the result can be larger
  * than k. NOT `limit(k)`.
  *
  * Scale: the cutoff is computed with `orderBy.limit(k)` (a per-partition
  * top-k TakeOrdered, no global sort) reduced to a 1-row aggregate that is
  * broadcast back — so the full table is never globally sorted and the
  * filter is a codegen'd scan.
  */
object TopK {

  /** Keep every row whose `orderCol` is >= the k-th largest value
    * (1-based k, duplicates counted).
    */
  def withTies(df: DataFrame, orderCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val cutoff = df
      .select(col(orderCol))
      .orderBy(col(orderCol).desc)
      .limit(k)
      .agg(min(col(orderCol)).as("__cutoff"))
    df.crossJoin(broadcast(cutoff))
      .filter(col(orderCol) >= col("__cutoff"))
      .drop("__cutoff")
  }

  /** Per-group variant: keep rows >= the k-th largest within each group
    * (reference W5-style, extract_scholar.py:266-268 uses head-k; this is
    * the tie-inclusive flavor). Uses rank() so ties at the boundary stay.
    */
  def withTiesPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(orderCol).desc)
    df.withColumn("__rk", rank().over(w)).filter(col("__rk") <= k).drop("__rk")
  }
}
