package graft.analytics

import graft.{SparkEntry, SparkSpec}
import graft.analytics.KeyPapers._
import org.apache.spark.sql.functions.{col, year}

class KeyPapersSpec extends SparkSpec {
  import spark.implicits._

  test("constants derived like the reference") {
    assert(MaxAcademicYear == 10) // int(6 - 1 - log(0.3)*3/log 2)
    assert(supervisedYearModifier(0) == 1.0)
    assert(supervisedYearModifier(5) == 1.0)
    assert(math.abs(supervisedYearModifier(6) - math.exp(-math.log(2) / 3)) < 1e-12)
    assert(supervisedPaperModifier(9) == 1.0)
    assert(math.abs(supervisedPaperModifier(10) - math.exp(-math.log(2) / 5)) < 1e-12)
  }

  test("computeCountList: prefix sums with coupled modifier") {
    val years = IndexedSeq(2000, 2001, 2002, 2003)
    val counts = Map(2000 -> 2.0, 2001 -> 3.0, 2002 -> 1.0)
    assert(computeCountList(years, counts) == IndexedSeq(0.0, 2.0, 5.0, 6.0))
    // with startList: each term scaled by min(yearMod(i-1), paperMod(start(i-1)))
    // here indices < 6 and starts < 10 so modifiers are all 1 -> same result
    val withMod = computeCountList(years, counts, Some(IndexedSeq(0.0, 2.0, 5.0, 6.0)))
    assert(withMod == IndexedSeq(0.0, 2.0, 5.0, 6.0))
  }

  test("computeTotalCount sums strictly-earlier years") {
    val counts = Map(2000 -> 1.0, 2002 -> 2.0, 2004 -> 4.0)
    assert(computeTotalCount(counts, 2004) == 3.0)
    assert(computeTotalCount(counts, 2000) == 0.0)
  }

  test("supervisorRate: year outside student window -> 0") {
    assert(supervisorRate(IndexedSeq(2000, 2001), Map(2000 -> 1.0), Map(2000 -> 1.0),
      Map(2005 -> 1.0), Map.empty, 2005) == 0.0)
    assert(supervisorRate(IndexedSeq.empty, Map.empty, Map.empty, Map.empty, Map.empty, 2000) == 0.0)
  }

  test("supervisorRate: dense co-authorship with senior supervisor -> high rate") {
    // student publishes 2000-2004, all papers co-authored with supervisor
    val years = IndexedSeq(2000, 2001, 2002, 2003, 2004)
    val faW = years.map(_ -> 2.0).toMap
    val caW = years.map(_ -> 2.0).toMap
    // supervisor has a long history before 2002
    val supC = (1990 to 2004).map(_ -> 3.0).toMap
    val coC = years.map(_ -> 2.0).toMap
    val r = supervisorRate(years, faW, caW, supC, coC, 2002)
    assert(r > 0.9 && r <= 1.0, s"got $r")
  }

  test("supervisorRate: no co-authorship -> 0") {
    val years = IndexedSeq(2000, 2001, 2002, 2003, 2004)
    val faW = years.map(_ -> 2.0).toMap
    val r = supervisorRate(years, faW, Map.empty, Map(1999 -> 5.0), Map.empty, 2002)
    assert(r == 0.0)
  }

  test("isKeyPaper pipeline: first-author / fallback / supervisor paths") {
    val papers = Seq(
      (101L, "p101", 2000), (102L, "p102", 2001), (103L, "p103", 2002),
      (104L, "p104", 2001), (105L, "p105", 2003)
    ).toDF("paperID", "title", "year")
    // author 1 = top author; author 2 = student (first author of 103);
    // 104 has NO authorOrder==1 row (fallback), author 1 has order 3 there.
    val pa = Seq(
      (101L, 1L, 1), (101L, 2L, 2),
      (102L, 1L, 1),
      (103L, 2L, 1), (103L, 1L, 2),
      (104L, 1L, 3), (104L, 2L, 2),
      (105L, 2L, 1), (105L, 1L, 3)
    ).toDF("paperID", "authorID", "authorOrder")
    val top = Seq(Tuple1(1L)).toDF("authorID")

    val got = isKeyPaper(papers, pa, top).collect()
      .map(r => r.getAs[Long]("paperID") -> r.getAs[Double]("isKeyPaper")).toMap

    assert(got(101L) == 1.0) // first author
    assert(got(102L) == 1.0)
    assert(got(104L) == 1.0 / 3) // no first author -> 1/authorOrder
    // 103/105: supervisor path -- value in [0,1], computed not crashed
    assert(got(103L) >= 0.0 && got(103L) <= 1.0)
    assert(got(105L) >= 0.0 && got(105L) <= 1.0)

    // cross-check the supervisor path against the pure function directly
    val studentYears = IndexedSeq(2000, 2001, 2002, 2003) // author 2 publishes 101,103,104,105
    val faW = Map(2000 -> 0.5, 2001 -> 0.5, 2002 -> 1.0, 2003 -> 1.0) // 1/order for order<=3
    // co-papers of (first=2, co=1) with order(2) < order(1): 103 (1<2, 2002),
    // 104 (2<3, 2001, weight 1/2), 105 (1<3, 2003)
    val caW = Map(2001 -> 0.5, 2002 -> 1.0, 2003 -> 1.0)
    // supervisor (author 1) papers: 101,102,103,104,105
    val supC = Map(2000 -> 1.0, 2001 -> 2.0, 2002 -> 1.0, 2003 -> 1.0)
    val coC = Map(2001 -> 1.0, 2002 -> 1.0, 2003 -> 1.0)
    val want103 = supervisorRate(studentYears, faW, caW, supC, coC, 2002)
    assert(want103 > 0.0, s"fixture should exercise a nonzero rate, got $want103")
    assert(math.abs(got(103L) - want103) < 1e-12, s"got ${got(103L)} want $want103")
  }

  test("isKeyPaper over sf0.001 runs at most 19 jobs on a new session") {
    // SparkEntry's key-paper inputs; `t` reads with a known schema, so
    // only the build and collect run jobs
    val (s, d) = (spark.newSession(), "/root/testdata/sf0.001")
    val papers = SparkEntry.t(s, d, "orders").select(col("o_orderkey").as("paperID"),
      col("o_orderpriority").as("title"), year(col("o_orderdate")).cast("int").as("year"))
    val pa = SparkEntry.t(s, d, "lineitem")
      .filter(!(col("l_linenumber") === 1 && col("l_orderkey") % 7 === 0))
      .select(col("l_orderkey").as("paperID"), col("l_suppkey").as("authorID"), col("l_linenumber").as("authorOrder"))
    val top = SparkEntry.t(s, d, "supplier").filter(col("s_suppkey") <= 25).select(col("s_suppkey").as("authorID"))
    var n = 0
    val jobs = jobsOf { n = isKeyPaper(papers, pa, top).collect().length }
    assert(n == 5740)
    assert(jobs <= 19, s"isKeyPaper ran $jobs jobs")
  }
}
