package graft.analytics

import graft.SparkSpec
import graft.analytics.TimeSeries.Series
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.util.Random

/** `LinkFeatures.allFeatures` against a plain-Scala oracle of its formulas
  * on seeded random universes. Every row must match exactly: doubles
  * bitwise (NaN equal to NaN), nulls in the same places, one output row
  * per edge row. The universes hold author fan-out and exact duplicate
  * edge rows, pairs cited both ways, papers missing from `papers`,
  * `embeddings` or `paperAuthors`, and zero embeddings (NaN similarity).
  */
class LinkFeaturesEquivalenceSpec extends SparkSpec {
  import LinkFeaturesEquivalenceSpec.Universe

  private def universe(seed: Int, stringAuthors: Boolean, withEvents: Boolean): Universe = {
    val rng = new Random(seed)
    val ids = (1L to 24L).toSeq
    def author(): Any = { val a = rng.nextInt(8).toLong; if (stringAuthors) s"au$a" else a }
    val pairs = for (x <- ids; y <- ids if x != y && rng.nextDouble() < 0.12) yield (x, y)
    val edges = pairs.flatMap { case (x, y) => Seq.fill(1 + rng.nextInt(3))((x, y, author())) }
    val papers = ids.filter(_ => rng.nextDouble() < 0.85)
      .map(p => p -> ((1990 + rng.nextInt(21)).toLong, rng.nextInt(50).toLong)).toMap
    val authors = ids.filter(_ => rng.nextDouble() < 0.8).flatMap(p => Seq.fill(1 + rng.nextInt(3))(p -> author()))
    val emb = ids.filter(_ => rng.nextDouble() < 0.85).map { p =>
      p -> (if (rng.nextDouble() < 0.15) Seq(0.0, 0.0) else Seq(rng.nextGaussian(), rng.nextGaussian()))
    }.toMap
    val events =
      if (!withEvents) Nil
      else ids.filter(_ => rng.nextDouble() < 0.7).flatMap { p =>
        val start = 1995 + rng.nextInt(8)
        (start until start + 4 + rng.nextInt(9)).flatMap(y => Seq.fill(rng.nextInt(7))(p -> y))
      }
    Universe(edges, papers, authors, emb, events)
  }

  private def frame(rows: Seq[Seq[Any]], fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private def features(u: Universe, authorType: DataType): DataFrame = LinkFeatures.allFeatures(
    frame(u.edges.map { case (c, d, a) => Seq(c, d, a) },
      "citingpaperID" -> LongType, "citedpaperID" -> LongType, "authorID" -> authorType),
    frame(u.papers.toSeq.map { case (p, (y, n)) => Seq(p, y, n) },
      "paperID" -> LongType, "year" -> LongType, "citationCount" -> LongType),
    frame(u.authors.map { case (p, a) => Seq(p, a) }, "paperID" -> LongType, "authorID" -> authorType),
    frame(u.emb.toSeq.map { case (p, e) => Seq(p, e) },
      "paperID" -> LongType, "embedding" -> ArrayType(DoubleType)),
    frame(u.events.map { case (p, y) => Seq[Any](p, y) }, "paperID" -> LongType, "year" -> IntegerType))

  /** The formulas of `allFeatures`, one row per edge row, in
    * `FeatureNames` order after the three key columns. */
  private def oracle(u: Universe): Seq[Seq[Any]] = {
    val inList = u.edges.groupBy(_._2).map { case (p, rs) => p -> rs.map(_._1) }
    val outList = u.edges.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2) }
    val authorsOf = u.authors.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).toSet }
    def shared(la: Seq[Long], lb: Seq[Long]): Seq[Any] = {
      val raw = la.toSet.intersect(lb.toSet).size.toLong
      val (da, db) = (la.size.toLong, lb.size.toLong)
      val union = la.toSet.size + lb.toSet.size - raw
      Seq(raw,
        if (da <= 0 || db <= 0) 0.0 else raw.toDouble / math.sqrt((da * db).toDouble),
        if (union <= 0) 0.0 else raw.toDouble / union.toDouble)
    }
    def dot(x: Seq[Double], y: Seq[Double]): Double = x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
    val series: Map[Long, Series] = u.events.groupBy(_._1).map { case (p, es) =>
      val byYear = es.groupBy(_._2).map { case (y, e) => y -> e.size }
      val (lo, hi) = (byYear.keys.min, byYear.keys.max)
      p -> Series(lo, hi, es.size, (lo to hi).map(byYear.getOrElse(_, 0)).toArray)
    }
    def correlations(x: Series, y: Series): Seq[Option[Double]] =
      TimeSeries.features(x, y).productIterator.map(_.asInstanceOf[Option[Double]]).toSeq
    val noSeries = Series(0, -1, 0, Array.empty[Int])
    u.edges.map { case (c, d, a) =>
      val corr =
        if (u.events.isEmpty) correlations(noSeries, noSeries)
        else (series.get(c), series.get(d)) match {
          case (Some(sc), Some(sd)) => correlations(sc, sd)
          case _ => Seq.fill(6)(None)
        }
      val byName = TimeSeries.EmptyFeatures.productElementNames.toSeq.zip(corr).toMap
      val (pc, pd) = (u.papers.get(c), u.papers.get(d))
      val yearDiff = for ((yc, _) <- pc; (yd, _) <- pd if yc >= yd) yield yc - yd
      val selfCite = (authorsOf.get(c), authorsOf.get(d)) match {
        case (Some(x), Some(y)) => x.intersect(y).size.toLong
        case _ => null
      }
      val similarity = (u.emb.get(c), u.emb.get(d)) match {
        case (Some(x), Some(y)) =>
          val norm = math.sqrt(dot(x, x) * dot(y, y))
          if (norm == 0.0) Double.NaN else dot(x, y) / norm
        case _ => null
      }
      Seq(c, d, a) ++ LinkFeatures.FeatureNames.take(6).map(byName(_).getOrElse(null)) ++
        Seq(yearDiff.getOrElse(null), pc.map(_._2).getOrElse(null), pd.map(_._2).getOrElse(null),
          selfCite, similarity) ++
        shared(inList.getOrElse(c, Nil), inList.getOrElse(d, Nil)) ++
        shared(outList.getOrElse(c, Nil), outList.getOrElse(d, Nil))
    }
  }

  private def check(seed: Int, stringAuthors: Boolean, withEvents: Boolean): Unit = {
    val u = universe(seed, stringAuthors, withEvents)
    val o = oracle(u)
    onOneAndEightPartitions { parts =>
      val df = features(u, if (stringAuthors) StringType else LongType)
      assert(df.columns.toSeq == Seq("citingpaperID", "citedpaperID", "authorID") ++ LinkFeatures.FeatureNames)
      val got = df.collect().toSeq.map(_.toSeq)
      assert(got.size == u.edges.size, s"seed $seed, $parts partitions: row count")
      assertSameRows(got, o, s"seed $seed, $parts partitions")
    }
    // the universe reaches the cases it is there for
    assert(u.edges.distinct.size < u.edges.size, "no duplicate edge rows")
    assert(u.edges.exists { case (c, d, _) => u.edges.exists(e => e._1 == d && e._2 == c) }, "no pair cited both ways")
    assert(o.exists(_(11) == null) && o.exists(_(12) == null), "no paper missing from papers or paperAuthors")
    assert(o.exists(_(13) == null) && o.exists(r => r(13).isInstanceOf[Double] &&
      r(13).asInstanceOf[Double].isNaN), "no missing or zero embedding")
    if (withEvents) assert(o.exists(_(3) != null), "no correlation feature computed")
  }

  test("allFeatures equals the oracle: long authors, no citation events") {
    check(seed = 3, stringAuthors = false, withEvents = false)
  }

  test("allFeatures equals the oracle: string authors, no citation events") {
    check(seed = 5, stringAuthors = true, withEvents = false)
  }

  test("allFeatures equals the oracle: long authors, with citation events") {
    check(seed = 7, stringAuthors = false, withEvents = true)
  }

  test("allFeatures equals the oracle: string authors, with citation events") {
    check(seed = 11, stringAuthors = true, withEvents = true)
  }
}

object LinkFeaturesEquivalenceSpec {
  private final case class Universe(
      edges: Seq[(Long, Long, Any)],
      papers: Map[Long, (Long, Long)], // paperID -> (year, citationCount)
      authors: Seq[(Long, Any)],
      emb: Map[Long, Seq[Double]],
      events: Seq[(Long, Int)])
}
