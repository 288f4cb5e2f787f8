package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distribution validation stats over a probability-like column — the
  * reference's last pipeline stage (create_field/analyse_distribution.py:
  * 22-42): bucket ratios at {=0, (0,1), =1, >=0.5} plus mean/variance/
  * median. Used as the engine's convergence/output sanity metrics.
  */
object Distribution {

  final case class Stats(
      n: Long,
      pZero: Double,
      pMiddle: Double,
      pOne: Double,
      pGeHalf: Double,
      mean: Double,
      variance: Double,
      median: Double
  )

  /** One aggregation pass + an exact median. Variance is population
    * variance (numpy default ddof=0, analyse_distribution.py:34).
    */
  def stats(df: DataFrame, colName: String): Stats = {
    val c = col(colName)
    val r: Row = df.agg(
      count(lit(1)).as("n"),
      avg(when(c === 0.0, 1.0).otherwise(0.0)).as("p0"),
      avg(when(c > 0.0 && c < 1.0, 1.0).otherwise(0.0)).as("pm"),
      avg(when(c === 1.0, 1.0).otherwise(0.0)).as("p1"),
      avg(when(c >= 0.5, 1.0).otherwise(0.0)).as("ph"),
      avg(c).as("mean"),
      var_pop(c).as("variance"),
      expr(s"percentile($colName, 0.5)").as("median")
    ).first()
    Stats(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
  }
}
