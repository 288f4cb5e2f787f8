package graft.graph

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructType}
import org.apache.spark.util.SerializableConfiguration

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutionException, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** One committed superstep's `_METRICS.json`: the loop's own figures
  * (`metrics`) plus the snapshot's lineage — its row count and an
  * order-insensitive checksum, the XOR of every row's 64-bit hash — and
  * its schema (absent in run dirs written before schemas were recorded).
  */
final case class StepMetrics(step: Int, rows: Long, checksum: Long, metrics: Map[String, Double],
                             schema: Option[StructType] = None) {
  def converged: Boolean = metrics.get("converged").contains(1.0)
}

/** Checkpointed superstep manager — the engine's resumable-iteration seam.
  *
  * Reference precedent: every pipeline stage writes its output file and
  * later runs skip work whose output exists (create_field/graph.py:21,82,
  * 106,153; compute_key_papers.py:231-232). Generalized here: each
  * superstep k writes
  *
  *   {runDir}/step=k/state/part-NNNNN.parquet  (one file per partition of
  *                                              the iteration state)
  *   {runDir}/step=k/_METRICS.json  (iteration metrics + the snapshot's
  *                                   row count, checksum and schema)
  *   {runDir}/step=k/_COMMIT     (atomic commit marker, written last)
  *
  * The snapshot is written by the tasks that hold the state, as Pregel
  * workers checkpoint their own partitions: `writePart` writes a hidden
  * `.part-NNNNN-<attempt>.parquet`, renames it into place and returns the
  * partition's rows and checksum, so the lineage comes from the write
  * itself. `GridLoop`, the superstep loop of PageRank, connected
  * components and label propagation, runs it inside its one job per
  * round (`stepJob`), so a commit adds no job. `commit` runs it as one
  * job over any DataFrame; only specs call it, to write run dirs of their
  * own or of retired formats.
  * `seal` then writes `_METRICS.json` and `_COMMIT` on the driver. The
  * loop keeps its in-memory state — nothing is re-read. `readState`
  * checks the snapshot against the recorded lineage once per resume, so
  * a snapshot replaced or corrupted behind an intact `_COMMIT` fails
  * loudly instead of resuming from the wrong state.
  *
  * What a commit costs a run (`Committer`): one snapshot file per
  * partition, written inside the round's own job; two driver files,
  * `_METRICS.json` and `_COMMIT`, sealed in step order on the run's
  * committer while the next round runs (the run returns once every seal
  * is on disk); and the Hadoop conf, broadcast once per run rather than
  * carried in every due step's closure, where each task deserialized its
  * thousand-odd entries. What remains is a floor of the local file
  * system: without native Hadoop, `RawLocalFileSystem` sets permissions
  * by forking `chmod`, once per new file (and its `.crc`) and directory,
  * about eight forks per commit.
  *
  * A step without `_COMMIT` is invisible — `lastCommitted` skips it — so
  * a job killed mid-write, or a kill that drops a queued seal, resumes
  * from the previous step and produces results identical to an
  * uninterrupted run (property-tested). Hidden temp files left by a
  * killed task are ignored by the parquet reader.
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

  /** The parquet schema of a snapshot: every loop's state is long, int
    * and double columns, which Spark reads back as bigint/int/double.
    */
  private def parquetSchema(schema: StructType): MessageType = {
    val fields: Seq[Type] = schema.fields.toSeq.map { f =>
      val prim = f.dataType match {
        case LongType    => PrimitiveTypeName.INT64
        case IntegerType => PrimitiveTypeName.INT32
        case DoubleType  => PrimitiveTypeName.DOUBLE
        case other => throw new IllegalArgumentException(
          s"superstep snapshot column ${f.name} has type ${other.simpleString}; " +
            "only bigint, int and double are supported")
      }
      Types.primitive(prim, if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED)
        .named(f.name)
    }
    new MessageType("spark_schema", fields.asJava)
  }

  /** Clear `step`'s directory before its snapshot is written; returns the
    * state directory the tasks write into.
    */
  def prepare(spark: SparkSession, runDir: String, step: Int): String = {
    val dir = stepDir(runDir, step)
    val f = fs(spark, runDir)
    if (f.exists(dir)) f.delete(dir, true)
    val state = new Path(dir, "state")
    f.mkdirs(state) // a snapshot with no partitions still reads back empty
    state.toString
  }

  /** Task side: write one partition of a snapshot to `stateDir` as
    * `part-NNNNN.parquet` and return its (rows, checksum), the checksum
    * being the XOR of Spark's `xxhash64` (seed 42) over each row — the
    * lineage `readState` recomputes. The rows go to a hidden temp file
    * first and are renamed into place; a duplicate attempt that loses the
    * rename drops its temp file (both wrote the same rows).
    */
  def writePart(stateDir: String, schema: StructType, conf: SerializableConfiguration,
                ctx: TaskContext, rows: Iterator[InternalRow]): (Long, Long) = {
    val pType = parquetSchema(schema)
    val fields = schema.fields.zipWithIndex.toSeq
    val hash = new XxHash64(fields.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    val pid = ctx.partitionId()
    val tmp = new Path(stateDir, f".part-$pid%05d-${ctx.taskAttemptId()}.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf.value))
      .withType(pType)
      .withConf(conf.value)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(pType)
    var n = 0L
    var checksum = 0L
    try {
      rows.foreach { row =>
        val g = groups.newGroup()
        fields.foreach { case (f, i) =>
          if (!row.isNullAt(i)) f.dataType match {
            case LongType    => g.add(i, row.getLong(i))
            case IntegerType => g.add(i, row.getInt(i))
            case DoubleType  => g.add(i, row.getDouble(i))
          }
        }
        writer.write(g)
        checksum ^= hash.eval(row).asInstanceOf[Long]
        n += 1
      }
    } finally writer.close()
    val f = tmp.getFileSystem(conf.value)
    if (!f.rename(tmp, new Path(stateDir, f"part-$pid%05d.parquet"))) f.delete(tmp, false)
    (n, checksum)
  }

  /** Driver side: record the snapshot's lineage — the sum and XOR of
    * `writePart`'s per-partition (rows, checksum) — its schema and
    * `metrics` in `_METRICS.json`, then write the `_COMMIT` marker that
    * makes the step visible.
    */
  def seal(spark: SparkSession, runDir: String, step: Int, parts: Seq[(Long, Long)],
           schema: StructType, metrics: Map[String, Double]): Unit = {
    val dir = stepDir(runDir, step)
    val f = fs(spark, runDir)
    val node = json.createObjectNode()
    node.put("step", step)
    node.put("rows", parts.map(_._1).sum)
    node.put("checksum", parts.foldLeft(0L)(_ ^ _._2))
    val m = node.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    node.set[JsonNode]("schema", json.readTree(schema.json))

    val mOut = f.create(new Path(dir, "_METRICS.json"), true)
    mOut.write(json.writeValueAsBytes(node))
    mOut.close()
    val cOut = f.create(new Path(dir, "_COMMIT"), true)
    cOut.write("ok".getBytes(StandardCharsets.UTF_8))
    cOut.close()
  }

  /** The state dir that step `step`'s job writes its snapshot into, when
    * `policy` has the step on its commit schedule (cleared here).
    */
  private[graph] def dueDir(spark: SparkSession, policy: CheckpointPolicy, step: Int): Option[String] =
    policy match {
      case Durable(runDir, every) if step % every == 0 => Some(prepare(spark, runDir, step))
      case _ => None
    }

  /** ONE job over a grid loop's block state: each task reduces its blocks
    * (at most one) with `partial` and, given `stateDir`, writes their
    * `rows` as its partition of the snapshot with the run's broadcast conf.
    * Returns the partials in partition order — a driver-side sum over them
    * is the same number on every run, where an accumulator counts a re-run
    * task twice — and each partition's (rows, checksum).
    */
  private[graph] def stepJob[B, R: ClassTag](state: RDD[B], stateDir: Option[String], schema: StructType,
                                             commits: Committer)(
      partial: Seq[B] => R, rows: B => Iterator[InternalRow]): (Array[R], Seq[(Long, Long)]) = {
    val conf = stateDir.map(_ => commits.conf)
    val parts = state.sparkContext.runJob(state, (ctx: TaskContext, it: Iterator[B]) => {
      val bs = it.toVector
      (partial(bs), stateDir.fold((0L, 0L))(writePart(_, schema, conf.get.value, ctx, bs.iterator.flatMap(rows))))
    })
    (parts.map(_._1), parts.toSeq.map(_._2))
  }

  /** Commits step `step` of a grid loop when `policy` has it on the
    * schedule or the run has converged: queues the seal of the snapshot
    * the step's job wrote (`written`, present when `dueDir` gave a dir)
    * or, for a run converging off the schedule, writes it now with
    * `write` (one job).
    */
  private[graph] def commitStep(spark: SparkSession, policy: CheckpointPolicy, step: Int,
                                converged: Boolean, written: Option[Seq[(Long, Long)]],
                                schema: StructType, metrics: => Map[String, Double], commits: Committer)(
      write: String => Seq[(Long, Long)]): Unit = policy match {
    case Durable(runDir, every) if step % every == 0 || converged =>
      commits.seal(spark, runDir, step, written.getOrElse(write(prepare(spark, runDir, step))), schema, metrics)
    case _ => ()
  }

  /** A run's commit path, set up the first time one of its steps is due (a
    * LocalOnly run sets up nothing): the Hadoop conf, broadcast once for
    * every snapshot task of the run instead of travelling in each task's
    * closure, and one ordered committer that seals step k while the run
    * goes on to round k+1. Seals run in step order; after one fails, no
    * later step is sealed, and the next `seal` or `await` throws its
    * exception.
    */
  private[graph] final class Committer(sc: SparkContext) {
    private var shipped: Option[Broadcast[SerializableConfiguration]] = None
    private var queued: Future[Unit] = Future.unit

    def conf: Broadcast[SerializableConfiguration] = shipped.getOrElse {
      val b = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
      shipped = Some(b)
      b
    }

    /** Queues `step`'s seal (`Supersteps.seal`) after every earlier one. */
    def seal(spark: SparkSession, runDir: String, step: Int, parts: Seq[(Long, Long)],
             schema: StructType, metrics: Map[String, Double]): Unit = {
      queued.value.foreach(_.get) // a failed seal ends the run here
      queued = queued.map { _ =>
        // a Future never completes on a fatal error: fail it instead, so the run cannot hang
        try Supersteps.seal(spark, runDir, step, parts, schema, metrics)
        catch { case e: Throwable if !NonFatal(e) => throw new ExecutionException(s"sealing step $step failed", e) }
      }(sealers)
    }

    /** Waits for every queued seal; `await` throws a failed one's exception. */
    private[Supersteps] def await(): Unit = Await.result(queued, Duration.Inf)
    private[Supersteps] def settle(): Unit = Await.ready(queued, Duration.Inf)

    private[Supersteps] def close(): Unit = shipped.foreach(_.destroy())
  }

  /** The committers' threads: each run chains its seals, so they stay in
    * step order whichever thread runs them.
    */
  private lazy val sealers = ExecutionContext.fromExecutorService(Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-superstep-seal")
    t.setDaemon(true)
    t
  })

  /** `body` with a run's `Committer`; returns once every seal it queued is
    * on disk, failing with a failed seal's exception. When `body` throws,
    * the seals it queued finish first, then its exception is rethrown. The
    * broadcast conf is destroyed either way.
    */
  private[graph] def committing[T](sc: SparkContext)(body: Committer => T): T = {
    val commits = new Committer(sc)
    try {
      val out = try body(commits) catch { case e: Throwable => commits.settle(); throw e }
      commits.await()
      out
    } finally commits.close()
  }

  /** Write one superstep atomically: one job in which every task writes
    * its partition of `state` with a broadcast conf, as a loop's round
    * does, then the metrics, then the commit marker.
    */
  def commit(
      spark: SparkSession,
      runDir: String,
      step: Int,
      state: DataFrame,
      metrics: Map[String, Double]
  ): Unit = {
    val schema = state.schema
    parquetSchema(schema) // unsupported column types fail here, before the job
    val dir = prepare(spark, runDir, step)
    committing(spark.sparkContext) { commits =>
      val (_, parts) = stepJob(state.queryExecution.toRdd.map(_.copy()), Some(dir), schema, commits)(
        _ => (), Iterator.single)
      commits.seal(spark, runDir, step, parts, schema, metrics)
    }
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

  /** The committed snapshot of `step`, read with its recorded schema (or
    * inferred, for run dirs that did not record one) and checked (one
    * aggregate) against the rows and checksum its commit recorded.
    */
  def readState(spark: SparkSession, runDir: String, step: Int): DataFrame = {
    val want = readMetrics(spark, runDir, step)
    val state = want.schema.fold(spark.read)(spark.read.schema(_))
      .parquet(new Path(stepDir(runDir, step), "state").toString)
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
      node.get("metrics").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap,
      Option(node.get("schema")).map(s => DataType.fromJson(s.toString).asInstanceOf[StructType]))
  }
}
