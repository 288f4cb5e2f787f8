package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Common-neighbor metrics for vertex pairs: co-citation (shared
  * in-neighbors) and bibliographic coupling (shared out-neighbors), with
  * raw / cosine / jaccard scores.
  *
  * Reference semantics (create_field/extract_link_features.py:189-201,
  * 266-267):
  *   raw     = |A ∩ B|
  *   cosine  = 0 if either list empty, else raw / sqrt(|A|·|B|)
  *   jaccard = 0 if union empty,       else raw / |A ∪ B|
  * where |A ∪ B| = |A| + |B| − raw on deduped neighbor lists.
  *
  * Scale design: computed as JOINS, never by collecting adjacency arrays —
  * the intersection count per pair is a self-join of the edge table on the
  * shared endpoint followed by a pair-count aggregation (this is the
  * triangle-count primitive, SURVEY.md §2.4 A10). Degree terms come from a
  * degree table broadcast/shuffled on the pair keys. A hub with 10^5
  * neighbors contributes O(deg²) wedge rows in the general all-pairs case;
  * restricted to the supplied candidate `pairs`, the semi-join on pairs
  * prunes first.
  */
object CommonNeighbors {

  /** adjacency(node, nbr) + pairs(a, b) -> (a, b, raw, cosine, jaccard).
    * Co-citation is the (dst, src) adjacency of a citation table,
    * bibliographic coupling the (src, dst) one.
    */
  def metrics(adjacency: DataFrame, pairs: DataFrame): DataFrame = {
    val adj = adjacency.distinct()
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))

    // raw = |N(a) ∩ N(b)|: join adjacency to itself through the pair list.
    val aSide = adj.select(col("node").as("a"), col("nbr"))
    val bSide = adj.select(col("node").as("b"), col("nbr"))
    val raw = pairs
      .join(aSide, "a")
      .join(bSide, Seq("b", "nbr"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("raw"))

    pairs
      .join(raw, Seq("a", "b"), "left")
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "deg_a"), Seq("a"), "left")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "deg_b"), Seq("b"), "left")
      .select(Seq(col("a"), col("b")) ++
        scores(col("raw"), col("deg_a"), col("deg_b"), col("deg_a"), col("deg_b"), ""): _*)
  }

  /** raw, cosine and jaccard (each name followed by `suffix`) from a
    * pair's shared-neighbor count and its endpoints' degrees, any of them
    * null when absent. The cosine takes list lengths `degA`/`degB`, the
    * jaccard union the set sizes `setDegA`/`setDegB`: they differ where
    * the lists keep duplicates (LinkFeatures' author fan-out).
    */
  def scores(raw: Column, degA: Column, degB: Column, setDegA: Column, setDegB: Column,
             suffix: String): Seq[Column] = {
    val r = coalesce(raw, lit(0L))
    val union = coalesce(setDegA, lit(0L)) + coalesce(setDegB, lit(0L)) - r
    Seq(
      r.as(s"raw$suffix"),
      when(coalesce(degA, lit(0L)) <= 0 || coalesce(degB, lit(0L)) <= 0, lit(0.0))
        .otherwise(r / sqrt(degA * degB)).as(s"cosine$suffix"),
      when(union <= 0, lit(0.0)).otherwise(r / union).as(s"jaccard$suffix"))
  }
}
