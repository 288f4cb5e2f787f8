package graft.graph

import graft.core.IterationConf
import graft.graph.CsrPageRank.Grid
import graft.ingest.Edge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** A vertex program on the CSR grid, the unit `GridLoop` runs (Pregel's
  * model, Malewicz et al., SIGMOD 2010; GraphX's `Pregel` is the Spark
  * precedent). `B` is one vertex partition's state block, `P` one
  * partition's partial of a round's job and `A` a step's aggregate, made
  * from the partials in partition order (Pregel's aggregator). The
  * programs are PageRank (`CsrPageRank`) and the label programs of
  * connected components and label propagation (`LabelProgram`).
  */
private[graph] trait GridProgram[B, P, A] extends Serializable {
  /** The committed snapshot, one row per vertex (`rows`): `id`, then the
    * result's value column, then any other state.
    */
  val schema: StructType
  /** The snapshot column resume requires: it marks the program's run dirs. */
  val column: String
  /** Grid rows per input edge (they size P), and whether repeated rows are one edge. */
  val rowsPerEdge: Int
  val dedupe: Boolean
  /** Whether a grid with no vertex gets one round, changing nothing, and its aggregate. */
  val emptyRound: Boolean
  val empty: A

  /** The grid's (src, dst) rows and vertex table (None: the rows'
    * endpoints and out-degrees), from the input edges and, on resume, the
    * committed snapshot.
    */
  def gridInputs(edges: DataFrame, snapshot: Option[DataFrame]): (DataFrame, Option[DataFrame])
  /** The first round's (lazy) input blocks and aggregate: fresh, or from
    * the committed snapshot and its `StepMetrics`.
    */
  def start(grid: Grid, from: Option[(DataFrame, StepMetrics)]): (RDD[B], A)
  /** One round: the last step's blocks and aggregate to the next (lazy)
    * blocks, and the RDDs the round persisted for its own job.
    */
  def round(grid: Grid, state: RDD[B], last: A): (RDD[B], Seq[RDD[_]])
  /** Task side: one partition's partial of the round's job. */
  def partial(bs: Seq[B]): P
  def aggregate(last: A, parts: Array[P]): A
  /** A step's `_METRICS` ("converged" = 1.0 ends the run), and back. */
  def metrics(step: Int, a: A): Map[String, Double]
  def recorded(m: StepMetrics): A
  /** Task side: a block's snapshot rows. */
  def rows(b: B): Iterator[InternalRow]
  /** The blocks' (id, value) frame, on the loop session. */
  def values(spark: SparkSession, state: RDD[B]): DataFrame
}

/** The engine's one superstep loop: every grid program runs here.
  *
  * The loop sizes the grid dimension P to the program's grid rows and
  * runs on an isolated cloned session (`IterationConf.withLoopSession`),
  * whose result is re-bound to the caller's. It builds the grid
  * (`CsrPageRank.prepareGrid`), then runs ONE job per round: the round's
  * blocks are persisted, checkpointed locally and materialized by
  * `Supersteps.stepJob`, which returns each partition's partial (a re-run
  * task cannot add twice, unlike an accumulator) and, for a round due for
  * a commit, writes the snapshot from the same tasks. A Durable run
  * therefore runs the LocalOnly jobs; only a run converging off the
  * commit schedule adds one write job. The run ends at the step whose
  * metrics say "converged", or after `maxIter` steps; the grid and every
  * round's blocks are released, so only the result stays persisted.
  */
private[graph] object GridLoop {

  /** A run's end: the (id, value) frame, the last step, whether it
    * converged, the last aggregate, and the wall seconds of the prepare
    * (grid build and `start`) and of the rounds.
    */
  final case class Outcome[A](values: DataFrame, step: Int, converged: Boolean, last: A,
                              prepareSeconds: Double = 0.0, loopSeconds: Double = 0.0)

  /** Runs steps after `from`'s (the first, when None) up to `maxIter`. */
  def run[B, P: ClassTag, A](edges: Dataset[Edge], program: GridProgram[B, P, A], maxIter: Int,
                             checkpoint: CheckpointPolicy,
                             from: Option[(DataFrame, StepMetrics)] = None): Outcome[A] = {
    val callerSpark = edges.sparkSession
    val prepT0 = System.nanoTime()
    // parquet-backed inputs answer count() from footer statistics
    val p = IterationConf.sizedPartitions(callerSpark.conf.get("spark.sql.shuffle.partitions").toInt,
      program.rowsPerEdge * edges.toDF().count())
    IterationConf.withLoopSession(callerSpark, p) { spark =>
      val snapshot = from.map(f => IterationConf.rebind(f._1, spark))
      val (rows, vertexTable) = program.gridInputs(IterationConf.rebind(edges.toDF(), spark), snapshot)
      val step0 = from.fold(0)(_._2.step)
      val grid = CsrPageRank.prepareGrid(spark, rows, p, vertexTable, program.dedupe).getOrElse {
        // no vertex: converged, after the program's empty round if it has one and one is left
        val ran = program.emptyRound && step0 < maxIter
        val step = if (ran) step0 + 1 else step0
        if (ran) Supersteps.commitStep(spark, checkpoint, step, converged = true, None, program.schema,
          program.metrics(step, program.empty))(_ => Nil)
        val none = spark.createDataFrame(java.util.Collections.emptyList[Row](), program.schema)
          .select(valueColumns(program): _*)
        return Outcome(IterationConf.rebind(none, callerSpark), step, ran || !program.emptyRound,
          program.empty)
      }
      // ONE job over a round's blocks: each partition's partial and, given
      // a step's state dir, its snapshot (rows, checksum)
      def stepJob(blocks: RDD[B], dir: Option[String]) =
        Supersteps.stepJob(blocks, dir, program.schema)(program.partial, program.rows)
      var (state, agg) = program.start(grid, snapshot.zip(from.map(_._2)))
      val prepareSeconds = (System.nanoTime() - prepT0) / 1e9
      val loopT0 = System.nanoTime()
      var step = step0
      var converged = false

      while (step < maxIter && !converged) {
        val (next, scratch) = program.round(grid, state, agg)
        next.persist(StorageLevel.MEMORY_AND_DISK)
        next.localCheckpoint()
        val due = Supersteps.dueDir(spark, checkpoint, step + 1)
        val (parts, written) = stepJob(next, due)
        scratch.foreach(_.unpersist(false))
        state.unpersist(false)
        state = next
        step += 1
        agg = program.aggregate(agg, parts)
        val metrics = program.metrics(step, agg)
        converged = metrics("converged") == 1.0
        Supersteps.commitStep(spark, checkpoint, step, converged, due.map(_ => written),
          program.schema, metrics)(dir => stepJob(state, Some(dir))._2)
      }
      val values = program.values(spark, state).localCheckpoint(true)
      grid.unpersist()
      state.unpersist(false)
      Outcome(IterationConf.rebind(values, callerSpark), step, converged, agg, prepareSeconds,
        (System.nanoTime() - loopT0) / 1e9)
    }
  }

  /** Resume from the last committed step in `runDir` (a fresh run under
    * `checkpoint` if none), identical to an uninterrupted run: a snapshot
    * is a step's complete state, and a converged one is the result. A
    * snapshot without the program's `column` is rejected before any job
    * runs when its commit recorded the schema, else once read back.
    */
  def resume[B, P: ClassTag, A](edges: Dataset[Edge], program: GridProgram[B, P, A], runDir: String,
                                maxIter: Int, checkpoint: Durable): Outcome[A] = {
    val spark = edges.sparkSession
    Supersteps.lastCommitted(spark, runDir) match {
      case None => run(edges, program, maxIter, checkpoint)
      case Some(step) =>
        val recorded = Supersteps.readMetrics(spark, runDir, step)
        def requireColumn(schema: StructType): Unit =
          if (!schema.fieldNames.contains(program.column))
            throw new IllegalStateException(
              s"superstep $step in $runDir has no ${program.column} column (snapshot columns: " +
                s"${schema.fieldNames.mkString(", ")}); it was not written by this program " +
                "and cannot be resumed — start a fresh run")
        recorded.schema.foreach(requireColumn)
        val snap = Supersteps.readState(spark, runDir, step)
        requireColumn(snap.schema) // also covers run dirs that recorded no schema
        if (recorded.converged)
          Outcome(snap.select(valueColumns(program): _*), step, converged = true, program.recorded(recorded))
        else run(edges, program, maxIter, checkpoint, Some((snap, recorded)))
    }
  }

  /** The (id, value) columns of a program's snapshot. */
  private def valueColumns(program: GridProgram[_, _, _]): Seq[Column] =
    program.schema.fieldNames.toSeq.take(2).map(col)
}
