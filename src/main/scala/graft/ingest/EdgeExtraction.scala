package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A directed link-graph edge (src cites/imports dst). */
final case class Edge(src: Long, dst: Long)

/** Derives the edge Dataset from a stamped corpus DataFrame.
  *
  * This is the engine analog of the reference's edge-derivation query —
  * the 3-way join `paper_reference ⋈ paper_author ⋈ paper_author` with a
  * same-author equality filter and distinct (create_field/graph.py:28-33).
  * Here: explode per-lang import references out of `content` (projection +
  * generator), resolve each reference to its defining file by an equi join
  * on module name, keep resolved pairs, distinct.
  *
  * Scale notes (10^12-row corpus):
  *  - the import explode is a narrow map — no shuffle;
  *  - the resolution join shuffles on `module`; hub modules (imported by
  *    millions of files) are exactly the skew AQE's skew-join splitting
  *    handles (enabled in Sessions); the module-dimension side is
  *    per-module-unique so broadcasting applies whenever the definition
  *    table fits (Catalyst decides; at full scale it is a shuffled join);
  *  - `distinct` on (src,dst) is a shuffle on the edge key — the same
  *    partitioning PageRank wants, so the exchange is reused.
  */
object EdgeExtraction {

  /** Per-language import patterns. Group 1 captures the module name. */
  val importPatterns: Map[String, String] = Map(
    "scala" -> """import graftmod\.(\w+)""",
    "py" -> """from graftmod import (\w+)""",
    "c" -> """#include \"(\w+)\.h\""""
  )

  /** Module a file defines, from its path: `src/.../Mod_k.{scala,py,c}`.
    * Case-normalized so `mod_7` (py) and `Mod_7` (scala/c) unify.
    */
  def moduleOf: org.apache.spark.sql.Column =
    lower(regexp_extract(col("path"), """([A-Za-z0-9_]+)\.[a-z]+$""", 1))

  /** Exploded references: one row per (src file, referenced module). */
  def references(stamped: DataFrame): DataFrame = {
    // One RegExpExtractAll instance per language, each with a CONSTANT
    // pattern, dispatched by a when/otherwise on lang (r07): the previous
    // per-row pattern COLUMN defeated the expression's compiled-pattern
    // cache — langs interleave row-to-row, so java.util.regex recompiled
    // on most rows. Branch conditions are disjoint, only the matching
    // branch evaluates, results identical. Still one scan, no shuffle.
    val refs = when(col("lang") === "scala",
        regexp_extract_all(col("content"), lit(importPatterns("scala")), lit(1)))
      .when(col("lang") === "py",
        regexp_extract_all(col("content"), lit(importPatterns("py")), lit(1)))
      .when(col("lang") === "c",
        regexp_extract_all(col("content"), lit(importPatterns("c")), lit(1)))
    stamped
      .select(col("file_id").as("src"), explode(refs).as("ref_module"))
      .select(col("src"), lower(col("ref_module")).as("ref_module"))
  }

  /** The module-definition dimension: module name -> defining file id.
    * If several files define the same module (possible across commits),
    * resolution is deterministic: min file_id wins.
    */
  def moduleDim(stamped: DataFrame): DataFrame =
    stamped
      .select(moduleOf.as("module"), col("file_id"))
      .groupBy("module")
      .agg(min("file_id").as("dst"))

  /** Full derivation: stamped corpus -> distinct Edge dataset, self-loops
    * dropped (mirrors the reference's drop_duplicates after the edge
    * build, create_field/graph.py:33).
    */
  def edges(stamped: DataFrame): Dataset[Edge] = {
    val spark = stamped.sparkSession
    import spark.implicits._
    references(stamped)
      .join(moduleDim(stamped), col("ref_module") === col("module"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .as[Edge]
  }
}
