package graft.analytics

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** h-index with the reference's exact cutoff semantics: sort citations
  * descending, h = #{ i (0-based) : citations_i > i }
  * (create_field/extract_abstract.py:54-60; recomputed the same way at
  * update_papers.py:163-167 and merge_author.py:55-58).
  */
object HIndex {

  /** (groupCol, citationCol) -> (groupCol, h_index). `citation > i`
    * 0-based == `citation >= position` 1-based.
    *
    * Single hash-aggregation (r07): collect the group's citation counts,
    * sort descending in codegen, count positions with c_j >= j. One
    * exchange and no partition-wide sort — the previous window
    * (row_number) + re-aggregate form paid a full Tungsten sort of every
    * partition for a per-group ordering (guide §2.4: the window's
    * partitioning already matched the groupBy, but its SORT was the
    * cost). Each group's array is held in memory whole: its size is the
    * group's cardinality (papers per author).
    */
  def perGroup(df: DataFrame, groupCol: String, citationCol: String): DataFrame =
    df.select(col(groupCol), col(citationCol).cast("long").as("__c"))
      .groupBy(col(groupCol))
      .agg(hIndexOfList(collect_list(col("__c"))).as("h_index"))

  /** h-index of an (unsorted) citation-count array column, as a LongType
    * codegen expression: sort desc, then count 1-based positions with
    * c_j >= j (a prefix of the sorted array — counting all satisfying
    * positions equals the prefix length).
    */
  def hIndexOfList(counts: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sorted = reverse(array_sort(counts))
    size(filter(zip_with(sorted, sequence(lit(1), size(sorted)), (c, j) => c >= j),
      b => b)).cast("long")
  }

  /** Plain-Scala core of the cutoff, used by the specs. */
  def compute(citations: Seq[Long]): Int =
    citations.sortBy(-_).zipWithIndex.count { case (c, i) => c > i }
}
