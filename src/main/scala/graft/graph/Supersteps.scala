package graft.graph

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** One committed superstep's `_METRICS.json`: the loop's own figures
  * (`metrics`) plus the snapshot's lineage — its row count and an
  * order-insensitive checksum, the XOR of every row's 64-bit hash.
  */
final case class StepMetrics(step: Int, rows: Long, checksum: Long, metrics: Map[String, Double]) {
  def converged: Boolean = metrics.get("converged").contains(1.0)
}

/** Checkpointed superstep manager — the engine's resumable-iteration seam.
  *
  * Reference precedent: every pipeline stage writes its output file and
  * later runs skip work whose output exists (create_field/graph.py:21,82,
  * 106,153; compute_key_papers.py:231-232). Generalized here: each
  * superstep k writes
  *
  *   {runDir}/step=k/state/      (parquet snapshot of iteration state)
  *   {runDir}/step=k/_METRICS.json  (iteration metrics + the snapshot's
  *                                   row count and checksum = lineage)
  *   {runDir}/step=k/_COMMIT     (atomic commit marker, written last)
  *
  * A commit is ONE parquet write: the lineage is observed on the write
  * job itself (`Dataset.observe`), and the loop keeps its in-memory
  * state — nothing is re-read. `readState` checks the snapshot against
  * the recorded lineage once per resume, so a snapshot replaced or
  * corrupted behind an intact `_COMMIT` fails loudly instead of
  * resuming from the wrong state.
  *
  * A step without `_COMMIT` is invisible — `lastCommitted` skips it — so
  * a job killed mid-write resumes from the previous step and produces
  * results identical to an uninterrupted run (property-tested).
  *
  * Uses the Hadoop FileSystem API throughout so the same code runs on
  * HDFS/S3A on a real cluster; Iceberg snapshot commits are a drop-in
  * replacement for the marker file when the runtime jar is present.
  */
object Supersteps {

  private val json = new ObjectMapper()

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stepDir(runDir: String, step: Int) = new Path(runDir, f"step=$step%05d")

  /** (rows, checksum) aggregates over every column of `df`. bit_xor is
    * order-insensitive and overflow-free, so the checksum is stable under
    * partitioning and shuffle order but catches any row-level drift.
    */
  private def lineage(df: DataFrame): (Column, Column) = (
    count(lit(1)).as("rows"),
    coalesce(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*)), lit(0L)).as("checksum"))

  /** Write one superstep atomically: the snapshot in a single parquet
    * write whose job also yields the lineage, then the metrics, then the
    * commit marker.
    */
  def commit(
      spark: SparkSession,
      runDir: String,
      step: Int,
      state: DataFrame,
      metrics: Map[String, Double]
  ): Unit = {
    val dir = stepDir(runDir, step)
    val f = fs(spark, runDir)
    if (f.exists(dir)) f.delete(dir, true)
    val observed = Observation()
    val (rows, checksum) = lineage(state)
    state.observe(observed, rows, checksum)
      .write.mode("overwrite").parquet(new Path(dir, "state").toString)
    val seen = observed.get

    val node = json.createObjectNode()
    node.put("step", step)
    node.put("rows", seen("rows").asInstanceOf[Long])
    node.put("checksum", seen("checksum").asInstanceOf[Long])
    val m = node.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }

    val mOut = f.create(new Path(dir, "_METRICS.json"), true)
    mOut.write(json.writeValueAsBytes(node))
    mOut.close()
    val cOut = f.create(new Path(dir, "_COMMIT"), true)
    cOut.write("ok".getBytes(StandardCharsets.UTF_8))
    cOut.close()
  }

  /** Highest committed step in runDir, if any. */
  def lastCommitted(spark: SparkSession, runDir: String): Option[Int] = {
    val f = fs(spark, runDir)
    val root = new Path(runDir)
    if (!f.exists(root)) return None
    val steps = f
      .listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("step=") => s.stripPrefix("step=").toInt }
      .filter(k => f.exists(new Path(stepDir(runDir, k), "_COMMIT")))
    if (steps.isEmpty) None else Some(steps.max)
  }

  /** The committed snapshot of `step`, checked (one aggregate) against
    * the rows and checksum its commit recorded.
    */
  def readState(spark: SparkSession, runDir: String, step: Int): DataFrame = {
    val state = spark.read.parquet(new Path(stepDir(runDir, step), "state").toString)
    val want = readMetrics(spark, runDir, step)
    val (rows, checksum) = lineage(state)
    val got = state.agg(rows, checksum).first()
    if (got.getLong(0) != want.rows || got.getLong(1) != want.checksum)
      throw new IllegalStateException(
        s"superstep $step in $runDir does not match its commit: the snapshot has " +
          s"${got.getLong(0)} rows (checksum ${got.getLong(1)}), _METRICS.json recorded " +
          s"${want.rows} rows (checksum ${want.checksum})")
    state
  }

  def readMetrics(spark: SparkSession, runDir: String, step: Int): StepMetrics = {
    val in = fs(spark, runDir).open(new Path(stepDir(runDir, step), "_METRICS.json"))
    val node = try json.readTree(in) finally in.close()
    StepMetrics(node.get("step").asInt(), node.get("rows").asLong(), node.get("checksum").asLong(),
      node.get("metrics").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap)
  }
}
