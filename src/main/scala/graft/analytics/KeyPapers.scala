package graft.analytics

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** The isKeyPaper node-probability pipeline: per (top author, paper) a
  * score in [0,1] — the reference's per-vertex probability that PageRank
  * generalizes (create_field/compute_key_papers.py, create_mappings.py).
  *
  * Semantics:
  *   isKeyPaper = 1.0                      if the paper's first author IS the top author
  *              = 1/authorOrder            if the paper has no authorOrder==1 row
  *              = supervisorRate(first, top, year)  otherwise
  * where supervisorRate = maxSupervisedRate × supervisingRate over the
  * student's (first author's) publication-year window (coupled prefix
  * sums + O(Y²) windowed max + exponential decay modifiers,
  * compute_key_papers.py:107-206).
  *
  * The reference computes the four lookup maps in pandas dicts
  * (create_mappings.py); here two `yearMaps` aggregates build them as
  * MapType columns, fully distributed. The per-author one is read as the
  * first author (student years, weighted counts) and as the top author
  * (supervisor counts), the per-pair one gives both co-author maps: four
  * left joins after the (author, paper) pairs. The per-row rate is a pure
  * Scala function over those maps (arrays ≤ ~60 academic years).
  *
  * Note: the reference reloads its maps from JSON, which stringifies the
  * integer year keys; taken literally that makes `year in
  * student_academic_years` always false. We implement the intended
  * numeric-year semantics.
  */
object KeyPapers {

  // constants (compute_key_papers.py:62-70,80-83)
  val MinSupervisorRate = 0.3
  val MinSupervisedRate = 1.0
  val MinSupervisingRate = 1.0
  val MinSupervisedYearSpan = 2
  val MinSupervisedPaperSpan = 2.1
  val MaxSupervisedYear = 6
  val HalfSupervisedYear = 3.0
  val MaxSupervisedPaper = 10
  val HalfSupervisedPaper = 5.0
  val MinStudentAuthorOrder = 3

  val MaxAcademicYear: Int = (MaxSupervisedYear - 1 -
    math.log(MinSupervisorRate * MinSupervisedRate) * HalfSupervisedYear / math.log(2)).toInt

  def supervisedYearModifier(i: Int): Double =
    if (i < MaxSupervisedYear) 1.0
    else math.exp(-math.log(2) * (i - MaxSupervisedYear + 1) / HalfSupervisedYear)

  def supervisedPaperModifier(i: Int): Double =
    if (i < MaxSupervisedPaper) 1.0
    else math.exp(-math.log(2) * (i - MaxSupervisedPaper + 1) / HalfSupervisedPaper)

  /** W3: coupled prefix sums (compute_key_papers.py:107-115). count_list(i)
    * = Σ_{j<i} count(year_j), where with `startList` given each term is
    * weight-modified by min(yearModifier(j), paperModifier(startList(j)))
    * — the modifier depends on the RUNNING value of the other prefix sum,
    * which is why this is a sorted-array scan, not two windows.
    */
  def computeCountList(
      academicYears: IndexedSeq[Int],
      counts: Map[Int, Double],
      startList: Option[IndexedSeq[Double]] = None
  ): IndexedSeq[Double] = {
    val out = Array.ofDim[Double](academicYears.length.max(1))
    out(0) = 0.0
    var i = 1
    while (i < academicYears.length) {
      var c = counts.getOrElse(academicYears(i - 1), 0.0)
      startList.foreach { sl =>
        c *= math.min(supervisedYearModifier(i - 1), supervisedPaperModifier(sl(i - 1).toInt))
      }
      out(i) = out(i - 1) + c
      i += 1
    }
    out.toIndexedSeq.take(academicYears.length)
  }

  /** Σ counts over years strictly before `year` in sorted key order
    * (compute_key_papers.py:118-124).
    */
  def computeTotalCount(counts: Map[Int, Double], year: Int): Double = {
    val years = counts.keys.toIndexedSeq.sorted
    val idx = years.indexOf(year)
    if (idx < 0) return years.filter(_ < year).map(counts).sum // year absent: all earlier
    years.take(idx).map(counts).sum
  }

  /** compute_supervisor_rate (compute_key_papers.py:127-206). */
  def supervisorRate(
      studentYears0: IndexedSeq[Int],        // sorted years the student published
      faWeighted: Map[Int, Double],          // student's weighted counts by year
      caWeighted: Map[Int, Double],          // pair's weighted co-counts by year
      supervisorCounts: Map[Int, Double],    // supervisor's paper counts by year
      coCounts: Map[Int, Double],            // pair's co-paper counts by year
      year: Int
  ): Double = {
    if (studentYears0.isEmpty) return 0.0
    val studentYears = studentYears0.sorted.take(MaxAcademicYear + 1)
    val yearIndex = studentYears.indexOf(year)
    if (yearIndex < 0) return 0.0
    if (caWeighted.isEmpty) return 0.0

    val startStudent = computeCountList(studentYears, faWeighted)
    val endStudent = computeCountList(studentYears.reverse, faWeighted).reverse
    val totalStudent = startStudent(yearIndex) + endStudent(yearIndex) +
      faWeighted.getOrElse(year, 0.0)

    val startCo = computeCountList(studentYears, caWeighted, Some(startStudent))
    val endCo = computeCountList(studentYears.reverse, caWeighted, Some(startStudent)).reverse
    val totalCo = startCo(yearIndex) + endCo(yearIndex) +
      caWeighted.getOrElse(year, 0.0) *
        math.min(supervisedYearModifier(yearIndex), supervisedPaperModifier(startStudent(yearIndex).toInt))

    var maxSupervisedRate = 0.0
    var s = 0
    while (s <= yearIndex) {
      var e = yearIndex
      while (e < studentYears.length) {
        if (e - s + 1 >= MinSupervisedYearSpan) {
          val denominator = totalStudent - startStudent(s) - endStudent(e)
          if (denominator >= MinSupervisedPaperSpan) {
            val numerator = totalCo - startCo(s) - endCo(e)
            val rate = numerator / denominator
            if (rate > maxSupervisedRate) maxSupervisedRate = rate
          }
        }
        e += 1
      }
      s += 1
    }
    maxSupervisedRate = math.min(1.0, maxSupervisedRate / MinSupervisedRate)

    val totalSupervisor = computeTotalCount(supervisorCounts, year)
    val totalCoPlain = computeTotalCount(coCounts, year)
    val numerator = totalSupervisor - totalCoPlain
    val supervisingRate =
      if (numerator < 0) 0.0
      else if (numerator == 0) 0.0
      else if (totalCoPlain == 0) MinSupervisingRate
      else numerator / totalCoPlain
    val supervising = math.min(1.0, supervisingRate / MinSupervisingRate)

    maxSupervisedRate * supervising
  }

  // --------------------------------------------------------------------
  // Spark map construction (create_mappings.py)
  // --------------------------------------------------------------------

  /** (top author, first-author) pair counts — J4 join with theta filter
    * (create_mappings.py:8-13): the TOP-author rows with authorOrder>1
    * are paired against the authorOrder==1 row of the SAME paper drawn
    * from the full paper_author table (filtered ⋈ unfiltered, as in the
    * reference's merge of df_paper_author_filtered with df_paper_author).
    */
  def firstAuthorPairs(paperAuthorFiltered: DataFrame, paperAuthorAll: DataFrame): DataFrame = {
    val first = paperAuthorAll.filter(col("authorOrder") === 1)
      .select(col("paperID"), col("authorID").as("authorID_first"))
    paperAuthorFiltered
      .filter(col("authorOrder") > 1)
      .join(first, "paperID")
      .groupBy(col("authorID"), col("authorID_first"))
      .agg(count(lit(1)).as("count"))
  }

  /** The year maps of create_mappings.py:37-110 over (keys…, authorOrder,
    * year) rows, one row per key group: `counts` (year → rows), `weighted`
    * (year → Σ 1/authorOrder over the rows with authorOrder ≤ 3; a year
    * without such a row is absent) and `years` (sorted).
    */
  def yearMaps(rows: DataFrame, keys: String*): DataFrame = {
    val k = keys.map(col)
    rows
      .groupBy(k :+ col("authorOrder") :+ col("year"): _*)
      .agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy(k :+ col("year"): _*)
      // Weighted counts are summed in SIXTHS (cnt*6/authorOrder is an exact
      // integer for authorOrder <= 3) and divided once: a float sum of
      // 1/3s is shuffle-order-dependent in its last ulp, and supervisorRate
      // TRUNCATES running sums of these values — a near-integer sum would
      // otherwise flip a decay modifier with the partition count.
      .agg(sum("cnt").as("c"), (sum(when(col("authorOrder") <= MinStudentAuthorOrder,
        col("cnt") * lit(6.0) / col("authorOrder"))) / lit(6.0)).as("w"))
      .groupBy(k: _*)
      .agg(
        map_from_entries(collect_list(struct(col("year"), col("c")))).as("counts"),
        map_from_entries(collect_list(when(col("w").isNotNull, struct(col("year"), col("w"))))).as("weighted"),
        sort_array(collect_list(col("year"))).as("years"))
  }

  /** (first author, co-author, paper, first's order, year) rows of the
    * pair maps (create_mappings.py:59-110): papers where the first author
    * (order ≤ 3) and the co-author both appear, with first's order <
    * co's order.
    */
  def coAuthored(paperAuthor: DataFrame, papers: DataFrame, pairs: DataFrame): DataFrame = {
    val pa1 = paperAuthor
      .filter(col("authorOrder") <= MinStudentAuthorOrder)
      .select(col("paperID"), col("authorID").as("authorID_first"), col("authorOrder").as("order1"))
    val pa2 = paperAuthor.select(col("paperID"), col("authorID"), col("authorOrder").as("order2"))
    pairs.select(col("authorID"), col("authorID_first"))
      .join(pa1, "authorID_first")
      .join(pa2, Seq("authorID", "paperID"))
      .filter(col("order1") < col("order2"))
      .join(papers.select(col("paperID"), col("year")), "paperID")
      .select(col("authorID_first"), col("authorID"), col("paperID"), col("order1").as("authorOrder"), col("year"))
      .distinct()
  }

  private val rateUdf = udf {
    (studentYears: Seq[Int], faW: Map[Int, Double], caW: Map[Int, Double],
     supC: Map[Int, Double], coC: Map[Int, Double], year: Int) =>
      supervisorRate(
        Option(studentYears).map(_.toIndexedSeq).getOrElse(IndexedSeq.empty),
        Option(faW).getOrElse(Map.empty),
        Option(caW).getOrElse(Map.empty),
        Option(supC).getOrElse(Map.empty),
        Option(coC).getOrElse(Map.empty),
        year)
  }

  /** Full isKeyPaper table for the given top authors.
    *
    * Inputs: papers(paperID, title, year), paperAuthor(paperID, authorID,
    * authorOrder), topAuthors(authorID). Output: (authorID, paperID,
    * title, year, authorOrder, isKeyPaper).
    */
  def isKeyPaper(papers: DataFrame, paperAuthor: DataFrame, topAuthors: DataFrame): DataFrame = {
    val pairsAll = paperAuthor
      .join(topAuthors.select(col("authorID")), Seq("authorID"), "left_semi")
      .join(papers.select(col("paperID"), col("title"), col("year")), "paperID")
      .groupBy(col("authorID"), col("paperID"), col("title"), col("year"))
      .agg(min(col("authorOrder")).as("authorOrder"))

    val firstAuthor = paperAuthor.filter(col("authorOrder") === 1)
      .select(col("paperID"), col("authorID").as("firstAuthorID"))

    val faPairs = firstAuthorPairs(
      paperAuthor.join(topAuthors.select(col("authorID")), Seq("authorID"), "left_semi"),
      paperAuthor)
    val perAuthor = yearMaps(paperAuthor.join(papers.select(col("paperID"), col("year")), "paperID"), "authorID")
    val perPair = yearMaps(coAuthored(paperAuthor, papers, faPairs), "authorID_first", "authorID")

    pairsAll
      .join(firstAuthor, Seq("paperID"), "left")
      .join(perAuthor.select(col("authorID").as("firstAuthorID"), col("years").as("studentYears"),
        col("weighted").as("faWeighted")), Seq("firstAuthorID"), "left")
      .join(perAuthor.select(col("authorID"), col("counts").as("supCounts")), Seq("authorID"), "left")
      .join(perPair.select(col("authorID_first").as("firstAuthorID"), col("authorID"),
        col("weighted").as("coWeighted"), col("counts").as("coCounts")), Seq("firstAuthorID", "authorID"), "left")
      .select(
        col("authorID"), col("paperID"), col("title"), col("year"), col("authorOrder"),
        when(col("firstAuthorID").isNull, lit(1.0) / col("authorOrder"))
          .when(col("firstAuthorID") === col("authorID"), lit(1.0))
          .otherwise(rateUdf(
            col("studentYears"), col("faWeighted"), col("coWeighted"),
            col("supCounts"), col("coCounts"), col("year")))
          .as("isKeyPaper")
      )
  }
}
