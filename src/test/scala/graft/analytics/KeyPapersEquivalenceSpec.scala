package graft.analytics

import graft.SparkSpec

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** `KeyPapers.isKeyPaper` against a plain-Scala oracle that builds the
  * four year maps and the student years from the input rows and calls
  * `supervisorRate`. Every row must match exactly, doubles bitwise, at 1
  * partition and at 8 with broadcast joins off. The
  * universes hold an author with no order-≤ 3 paper, students whose
  * publication years have gaps and a year in which they write only at
  * order ≥ 4, first authors who are the top author, papers without an
  * order-1 row or missing from `papers`, order-4+ co-authors, and authors
  * listed twice on one paper.
  */
class KeyPapersEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private case class Universe(papers: Seq[(Long, String, Int)], pa: Seq[(Long, Long, Int)], top: Seq[Long])

  private val top = Seq(1L, 2L, 3L, 4L)

  private def universe(seed: Int): Universe = {
    val rng = new Random(seed)
    val papers = ArrayBuffer.empty[(Long, String, Int)]
    val pa = ArrayBuffer.empty[(Long, Long, Int)]
    def others(n: Int): Seq[Long] = rng.shuffle((5L to 24L).toList).take(n)
    var next = 0L
    def paper(year: Int, authors: Seq[Long]): Unit = {
      val id = next
      next += 1
      if (rng.nextDouble() < 0.95) papers += ((id, s"t$id", year)) // some papers are missing from `papers`
      val listed = if (rng.nextDouble() < 0.05) authors :+ authors.head else authors
      listed.zipWithIndex.foreach { case (a, i) =>
        if (i > 0 || rng.nextDouble() >= 0.1) pa += ((id, a, i + 1)) // some papers lose their order-1 row
      }
    }
    // background: authors 1-3 anywhere, author 4 only at order 4 or later
    for (_ <- 1 to 70) {
      val authors = rng.shuffle(top.take(3).filter(_ => rng.nextDouble() < 0.3) ++ others(1 + rng.nextInt(4)))
      paper(1990 + rng.nextInt(23), if (authors.size >= 3 && rng.nextDouble() < 0.4) authors :+ 4L else authors)
    }
    // a student per supervisor: first-author papers with them over a window with gaps,
    // the supervisor's earlier papers, and one late paper at order 5
    for (a <- top.take(3)) {
      val s = 100L + a
      val start = 1995 + rng.nextInt(8)
      val years = (start until start + 5 + rng.nextInt(5)).filter(_ => rng.nextDouble() < 0.75)
      for (y <- years; _ <- 0 to rng.nextInt(3)) paper(y, Seq(s, a) ++ others(rng.nextInt(3)))
      for (_ <- 0 to 2 + rng.nextInt(4)) paper(start - 1 - rng.nextInt(6), a +: others(rng.nextInt(3)))
      paper(years.lastOption.getOrElse(start) + 2, others(4) :+ s)
    }
    Universe(papers.toSeq, pa.toSeq, top)
  }

  /** The isKeyPaper formulas, one row per (top author, paper) and first-author row. */
  private def oracle(u: Universe): Seq[Seq[Any]] = {
    val yearOf = u.papers.map(p => p._1 -> p._3).toMap
    val titleOf = u.papers.map(p => p._1 -> p._2).toMap
    val topSet = u.top.toSet
    // (authorOrder, year) rows → (year → rows, year → Σ 1/order over order ≤ 3)
    def maps(rows: Seq[(Int, Int)]): (Map[Int, Double], Map[Int, Double]) = (
      rows.groupBy(_._2).map { case (y, g) => y -> g.size.toDouble },
      rows.filter(_._1 <= 3).groupBy(_._2).map { case (y, g) => y -> g.map(6.0 / _._1).sum / 6.0 })
    val perAuthor = u.pa.flatMap { case (p, a, o) => yearOf.get(p).map(y => (a, (o, y))) }
      .groupBy(_._1).map { case (a, g) => a -> maps(g.map(_._2)) }
    val firstsOf = u.pa.filter(_._3 == 1).groupBy(_._1).map { case (p, g) => p -> g.map(_._2) }
    val faPairs = (for ((p, a, o) <- u.pa if topSet(a) && o > 1; f <- firstsOf.getOrElse(p, Nil)) yield (a, f)).toSet
    val ordersOn = u.pa.groupBy(r => (r._1, r._2)).map { case (k, g) => k -> g.map(_._3) }
    def pairMaps(f: Long, a: Long): (Map[Int, Double], Map[Int, Double]) =
      if (!faPairs((a, f))) (Map.empty, Map.empty)
      else maps(ordersOn.toSeq.flatMap { case ((p, x), os) =>
        for (y <- yearOf.get(p).toSeq if x == f; o1 <- os.distinct
             if o1 <= 3 && ordersOn.getOrElse((p, a), Nil).exists(_ > o1)) yield (o1, y)
      })
    val pairsAll = u.pa.filter(r => topSet(r._2) && yearOf.contains(r._1))
      .groupBy(r => (r._2, r._1)).map { case ((a, p), g) => (a, p, g.map(_._3).min) }.toSeq
    pairsAll.flatMap { case (a, p, o) =>
      firstsOf.get(p).map(_.map(Option(_))).getOrElse(Seq(None)).map { f =>
        val v = f match {
          case None => 1.0 / o
          case Some(x) if x == a => 1.0
          case Some(x) =>
            val (studentCounts, studentWeighted) = perAuthor(x)
            val (coCounts, coWeighted) = pairMaps(x, a)
            KeyPapers.supervisorRate(studentCounts.keys.toIndexedSeq.sorted, studentWeighted, coWeighted,
              perAuthor.get(a).map(_._1).getOrElse(Map.empty), coCounts, yearOf(p))
        }
        Seq(a, p, titleOf(p), yearOf(p), o, v)
      }
    }
  }

  private def check(seed: Int): Unit = {
    val u = universe(seed)
    val o = oracle(u)
    onOneAndEightPartitions { parts =>
      val df = KeyPapers.isKeyPaper(
        spark.sparkContext.parallelize(u.papers, 3).toDF("paperID", "title", "year"),
        spark.sparkContext.parallelize(u.pa, 3).toDF("paperID", "authorID", "authorOrder"),
        u.top.toDF("authorID"))
      assert(df.columns.toSeq == Seq("authorID", "paperID", "title", "year", "authorOrder", "isKeyPaper"))
      assertSameRows(df.collect().toSeq.map(_.toSeq), o, s"seed $seed, $parts partitions")
    }
    // the universe reaches the cases it is there for
    val rate = o.filter(r => r(5).asInstanceOf[Double] > 0.0 && r(5).asInstanceOf[Double] < 1.0)
    assert(rate.nonEmpty, "no supervisor rate strictly between 0 and 1")
    assert(u.pa.exists(_._2 == 4L) && !u.pa.exists(r => r._2 == 4L && r._3 <= 3), "no author without an order-≤ 3 paper")
    assert(o.exists(r => r(0) == 4L), "the order-4+ top author has no rows")
    val yearOf = u.papers.map(p => p._1 -> p._3).toMap
    assert(u.pa.groupBy(_._1).exists { case (p, rs) =>
      yearOf.contains(p) && rs.forall(_._3 != 1) && rs.exists(r => u.top.contains(r._2))
    }, "no top author's paper without an order-1 row")
    assert(u.pa.exists(r => r._3 == 1 && u.top.contains(r._2) && yearOf.contains(r._1)), "no top author is a first author")
    for (a <- u.top.take(3)) {
      val rows = u.pa.filter(_._2 == 100L + a).flatMap(r => yearOf.get(r._1).map(r._3 -> _))
      val years = rows.map(_._2).distinct.sorted
      assert(years.zip(years.drop(1)).exists { case (x, y) => y > x + 1 }, s"student ${100 + a}: no year gap")
      assert(years.exists(y => rows.forall(r => r._2 != y || r._1 > 3)), s"student ${100 + a}: no order-≥ 4-only year")
    }
  }

  for (seed <- Seq(1, 2, 3)) test(s"isKeyPaper equals the oracle: seed $seed") { check(seed) }
}
