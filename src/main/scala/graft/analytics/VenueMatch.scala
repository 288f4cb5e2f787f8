package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Venue (journal/conference) fuzzy resolution — the engine analog of
  * create_field/match_conference_journal.py:60-165: stage 1 of every
  * field build resolves requested venue names against the venue dimension
  * with a cascade of progressively fuzzier lookups:
  *
  *   stage 0: exact name equality;
  *   stage 1: substring containment (SQL LIKE '%name%');
  *   stage 2+: containment of each PATTERN REWRITE of the name, in the
  *     reference's fixed rewrite order (' and '->' & ', '_'->{':',' -',
  *     '-','–'}, '/'->' ', ' on '->' in ') — first rewrite producing any
  *     match wins;
  *   no stage matches -> one (original, NULL, NULL) row (the reference
  *     appends an explicit unmatched row).
  *
  * All matches of the WINNING stage are returned (the reference iterates
  * db_data.to_records()). Comparisons are case-insensitive (MySQL default
  * collation in the reference).
  *
  * Scale: the request list is tiny (a field's venue list) — it is
  * broadcast and the big venue dimension is scanned ONCE with an instr
  * predicate per (venue, variant); the per-original winner is a min-stage
  * aggregation, never a driver loop over SQL round-trips (the reference
  * issues one LIKE query per variant).
  */
object VenueMatch {

  /** The reference's rewrite table, in its iteration order. */
  val Rewrites: Seq[(String, String)] = Seq(
    " and " -> " & ",
    "_" -> ":", "_" -> " -", "_" -> "-", "_" -> "–",
    "/" -> " ",
    " on " -> " in ")

  /** requests(original) x dim(id, name) -> (original, id, name).
    * Unmatched originals yield a single null-id row.
    */
  def resolve(requests: DataFrame, dim: DataFrame,
              reqCol: String = "original", idCol: String = "id", nameCol: String = "name"): DataFrame = {
    // variant table (original, variant, stage), every stage from one
    // projection of the distinct requests; a rewrite whose `from` does not
    // occur yields a null variant, dropped here
    val reqs = requests.select(col(reqCol).as("original")).distinct()
    val o = col("original")
    def stage(variant: Column, i: Int): Column = struct(variant.as("variant"), lit(i).as("stage"))
    val stages = Seq(stage(o, 0), stage(o, 1)) ++ Rewrites.zipWithIndex.map { case ((from, to), i) =>
      stage(when(o.contains(from), regexp_replace(o, java.util.regex.Pattern.quote(from), to)), i + 2)
    }
    val variants = reqs
      .select(o, explode(array(stages: _*)).as("v"))
      .select(o, col("v.variant").as("variant"), col("v.stage").as("stage"))
      .filter(col("variant").isNotNull)

    val d = dim.select(col(idCol).as("__id"), col(nameCol).as("__name"))
    val matched = d
      .join(broadcast(variants),
        when(col("stage") === 0, lower(col("__name")) === lower(col("variant")))
          .otherwise(instr(lower(col("__name")), lower(col("variant"))) > 0))
      .select(col("original"), col("stage"), col("__id"), col("__name"))

    val w = Window.partitionBy(col("original"))
    val winners = matched
      .withColumn("best", min(col("stage")).over(w))
      .filter(col("stage") === col("best"))
      .select(col("original"), col("__id").as(idCol), col("__name").as(nameCol))
      .distinct()

    reqs.join(winners, Seq("original"), "left")
  }
}
