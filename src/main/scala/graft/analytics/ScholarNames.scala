package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X7 — scholar-name reformatting, mirroring the reference's award-list
  * ingestion (create_field/extract_scholar.py:33-50, 84-96):
  *
  *  - formatName: strip '* .' padding, drop parenthesised qualifiers,
  *    and rewrite "Last, First Middle" to "First M. Last" (first given
  *    token kept whole unless it is a single letter — then dotted; every
  *    later token becomes a dotted initial);
  *  - removeMiddleName: "A B C" -> "A C";
  *  - short2 / short3: first given-name prefix of 2/3 chars + last name
  *    (the reference's progressively fuzzier lookup keys).
  */
object ScholarNames {

  /** Pure function twin of extract_scholar.py:33-50. */
  def formatName(raw: String): String = {
    val stripped = raw.dropWhile(c => "* .".contains(c)).reverse.dropWhile(c => "* .".contains(c)).reverse
    val name = stripped.replaceAll("\\s*\\([^)]*\\)", "").trim
    val parts = name.split(",", -1)
    if (parts.length == 1) name
    else {
      val a = parts(0)
      val b = parts(1)
      val sb = new StringBuilder
      b.trim.split("\\s+").filter(_.nonEmpty).zipWithIndex.foreach { case (t, ix) =>
        if (ix >= 1) sb.append(t.charAt(0)).append(". ")
        else if (t.length == 1) sb.append(t).append(". ")
        else sb.append(t).append(' ')
      }
      sb.result() + a
    }
  }

  def removeMiddleName(name: String): String = {
    val parts = name.trim.split("\\s+")
    if (parts.length == 2) name else parts.head + " " + parts.last
  }

  /** First `k` letters of the first name, then the last name: the
    * reference's short lookup forms (extract_scholar.py:84-96, SURVEY X7).
    * `shortNameCol` is its column form. */
  def shortName(name: String, k: Int): String = {
    val parts = name.trim.split("\\s+")
    parts.head.take(k) + " " + parts.last
  }

  private val formatNameUdf = udf(formatName _)

  /** Column forms. removeMiddle/short are pure Catalyst; formatName keeps
    * the reference's token loop in a scalar UDF (cold path: award lists
    * are tiny driver-side tables).
    */
  def formatNameCol(c: Column): Column = formatNameUdf(c)

  def removeMiddleNameCol(c: Column): Column = {
    val parts = split(trim(c), "\\s+")
    when(size(parts) === 2, c)
      .otherwise(concat_ws(" ", element_at(parts, 1), element_at(parts, -1)))
  }

  def shortNameCol(c: Column, k: Int): Column = {
    val parts = split(trim(c), "\\s+")
    concat_ws(" ", substring(element_at(parts, 1), 1, k), element_at(parts, -1))
  }

  /** All lookup keys for an award-list name: formatted, middle-dropped,
    * 2- and 3-char short forms (extract_scholar.py:84-96).
    */
  def lookupKeys(names: DataFrame, nameCol: String = "name"): DataFrame = {
    val formatted = formatNameCol(col(nameCol))
    names.select(
      col(nameCol).as("original"),
      formatted.as("formatted"),
      removeMiddleNameCol(formatted).as("no_middle"),
      shortNameCol(formatted, 2).as("short2"),
      shortNameCol(formatted, 3).as("short3"))
  }
}
