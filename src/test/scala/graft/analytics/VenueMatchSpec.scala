package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** VenueMatch.resolve against a plain-Scala run of the same cascade, and
  * a guard that the request table is read once per use, not once per
  * cascade stage.
  */
class VenueMatchSpec extends SparkSpec {
  import spark.implicits._

  private val dim = Seq(
    1L -> "Journal of Data & Systems",
    2L -> "Proc:Graph Mining",
    3L -> "Conf -Vision Letters",
    4L -> "Web-Science Review",
    5L -> "Bio–Informatics Today",
    6L -> "IEEE Signal Processing",
    7L -> "IEEE Signal Processing Letters",
    8L -> "Advances in Learning Systems",
    9L -> "a:b conference",
    10L -> "a-b conference")

  // duplicates, a null, every rewrite, case differences, a request with no
  // match and one with several winners
  private val requests: Seq[String] = Seq(
    "Data and Systems",       // ' and ' -> ' & '
    "Proc_Graph",             // '_' -> ':'
    "Proc_Graph",
    "Conf_Vision",            // '_' -> ' -'
    "web_science",            // '_' -> '-', lower case
    "BIO_INFORMATICS",        // '_' -> '–', upper case
    "Signal/Processing",      // '/' -> ' '
    "advances on learning",   // ' on ' -> ' in '
    "IEEE SIGNAL PROCESSING", // exact (case-insensitive) beats contains
    "Signal Processing",      // contains: two winners
    "a_b",                    // ':' and '-' both match; ':' comes first
    "Nonexistent Venue",
    "Nonexistent Venue",
    null)

  /** The cascade, one request at a time: exact, contains, then each
    * rewrite in order; every match of the lowest matching stage, or one
    * unmatched row. */
  private def cascade(reqs: Seq[String], dim: Seq[(Long, String)]): Seq[(String, Option[Long], Option[String])] =
    reqs.distinct.flatMap { r =>
      val variants =
        if (r == null) Seq.empty
        else Seq(r -> 0, r -> 1) ++ VenueMatch.Rewrites.zipWithIndex.collect {
          case ((from, to), i) if r.contains(from) => r.replace(from, to) -> (i + 2)
        }
      val matches = for {
        (v, stage) <- variants
        (id, name) <- dim
        if (if (stage == 0) name.toLowerCase == v.toLowerCase else name.toLowerCase.contains(v.toLowerCase))
      } yield (stage, id, name)
      if (matches.isEmpty) Seq((r, None, None))
      else {
        val best = matches.map(_._1).min
        matches.filter(_._1 == best).map { case (_, id, name) => (r, Some(id), Some(name)) }.distinct
      }
    }

  test("resolve equals the plain-Scala cascade") {
    val got = VenueMatch.resolve(requests.toDF("original"), dim.toDF("id", "name")).collect().toSeq
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.getString(2))))
    val want = cascade(requests, dim)
    assert(want.exists(_._3.isEmpty) && want.count(_._1 == "Signal Processing") == 2)
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
  }

  test("the optimized plan scans a parquet request table at most twice") {
    val reqDir = java.nio.file.Files.createTempDirectory("venue_requests").resolve("requests").toString
    requests.toDF("original").write.parquet(reqDir)
    val plan = VenueMatch.resolve(spark.read.parquet(reqDir), dim.toDF("id", "name"))
      .queryExecution.optimizedPlan
    val scans = plan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.rootPaths.exists(_.toString.endsWith("/requests")) => fs
    }
    assert(scans.nonEmpty && scans.size <= 2, s"${scans.size} scans of the request table:\n$plan")
  }
}
