package graft.tools

import graft.SparkEntry
import graft.core.Sessions
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}

/** Dev-only driver over a subset of SparkEntry.queries (every query when
  * none is named):
  *
  *   runMain graft.tools.Dev verify <sfDir> <outDir> [query ...]
  *     result parquet per query plus the full oracle_sql.json — the
  *     layout graft.Verify writes — for `devtools/compare.py`;
  *   runMain graft.tools.Dev explain <sfDir> [query ...]
  *     formatted physical plans (plan audit: broadcasts where expected,
  *     PushedFilters/ReadSchema, WholeStageCodegen spans).
  *
  * Both modes share one session (the engine's standard `Sessions.local`)
  * and one name filter. Profiling is perfbench's job:
  * `python3 perfbench/run.py --workload <w> --seed N --seconds 1 --trace 1`.
  */
object Dev {
  private val usage =
    "usage: Dev verify <sfDir> <outDir> [query ...] | Dev explain <sfDir> [query ...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "verify" :: sfDir :: outDir :: names =>
      run(sfDir, names) { (name, query) =>
        try {
          query().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          println(s"[dev] wrote $name")
        } catch { case e: Throwable => System.err.println(s"[dev] $name failed: ${e.getMessage}") }
      }
      Files.writeString(Files.createDirectories(Paths.get(outDir)).resolve("oracle_sql.json"), oracleJson)
    case "explain" :: sfDir :: names =>
      run(sfDir, names) { (name, query) =>
        println(s"\n===================== $name =====================")
        try query().explain("formatted")
        catch { case e: Throwable => println(s"(failed to plan: ${e.getMessage})") }
      }
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  /** Calls `each` with the name and plan builder of every named query (all
    * when `names` is empty) over `sfDir`, on one session; an unknown name
    * stops before the session starts. */
  private def run(sfDir: String, names: Seq[String])(each: (String, () => DataFrame) => Unit): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(" ")}\n$usage")
      sys.exit(2)
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-dev")
    try queries.filter(q => names.isEmpty || names.contains(q._1))
      .foreach { case (name, query) => each(name, () => query(spark, sfDir)) }
    finally spark.stop()
  }

  /** `SparkEntry.oracleSql` as JSON, escaped exactly as graft.Verify does
    * (quote, backslash and every control character). */
  private def oracleJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
