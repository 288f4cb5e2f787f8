package graft.graph

import graft.core.IterationConf
import graft.graph.CsrPageRank.Grid
import graft.ingest.Edge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import java.lang.ref.{Cleaner, WeakReference}
import scala.collection.mutable
import scala.reflect.ClassTag

/** How an input's edges become a grid (`CsrPageRank.prepareGrid`): its
  * (src, dst) rows and vertex table (None: the rows' endpoints and
  * out-degrees), the grid rows per input edge (they size P), and whether
  * repeated rows are one edge. Each input gets at most one grid per shape.
  */
private[graph] sealed abstract class GridShape(val rowsPerEdge: Int, val dedupe: Boolean) {
  def inputs(edges: DataFrame): (DataFrame, Option[DataFrame])
}

private[graph] object GridShape {

  /** PageRank's grid: the edges as they are, each vertex with its out-degree. */
  case object Directed extends GridShape(rowsPerEdge = 1, dedupe = false) {
    def inputs(edges: DataFrame): (DataFrame, Option[DataFrame]) = (edges, None)
  }

  /** The grid of connected components, label propagation and the triangle
    * count: every edge that is not a self-loop, in both directions, a
    * repeated one once. The vertices are every endpoint; a vertex's
    * `outdeg` counts its rows, so it is 0 when its only edges are
    * self-loops.
    */
  case object Undirected extends GridShape(rowsPerEdge = 2, dedupe = true) {
    def inputs(all: DataFrame): (DataFrame, Option[DataFrame]) = {
      val e = all.filter(col("src") =!= col("dst"))
      val link = (col("src") =!= col("dst")).cast("int")
      // (ranks are PageRank's, unused here)
      val vertices = all.select(col("src").as("id"), link.as("c"))
        .unionAll(all.select(col("dst").as("id"), link.as("c")))
        .groupBy(col("id")).agg(sum(col("c")).cast("int").as("outdeg"))
        .withColumn("rank", lit(0.0))
      (e.select(col("src"), col("dst")).unionAll(e.select(col("dst").as("src"), col("src").as("dst"))),
        Some(vertices))
    }
  }
}

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
  val shape: GridShape
  /** Whether a grid with no vertex gets one round, changing nothing, and its aggregate. */
  val emptyRound: Boolean
  val empty: A

  /** The first round's (lazy) input blocks and aggregate: fresh, or from
    * the committed snapshot and its `StepMetrics`. Never the grid's own
    * blocks: the loop releases its state, and the grid outlives the run.
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
  * A run takes its input's grid of the program's shape (`withGrid`) and
  * then runs ONE job per round: the round's blocks are persisted,
  * checkpointed locally and materialized by `Supersteps.stepJob`, which
  * returns each partition's partial (a re-run task cannot add twice,
  * unlike an accumulator) and, for a round due for a commit, writes the
  * snapshot from the same tasks. A Durable run therefore runs the
  * LocalOnly jobs; only a run converging off the commit schedule adds one
  * write job. The run ends at the step whose metrics say "converged", or
  * after `maxIter` steps; every round's blocks are released, so the run
  * leaves its result and its input's grid persisted.
  *
  * One grid per input and shape: the reference derives one citation edge
  * table and runs every analysis over it, and so does a pass over one
  * `Dataset[Edge]` here (PageRank, its durable run and resume on the
  * directed grid; CC, LPA and `TriangleCount` on the undirected one). A
  * grid is built (`CsrPageRank.prepareGrid`) on an isolated cloned
  * session (`IterationConf.withLoopSession`) at the dimension P sized
  * from the input's row count, and kept for the input — the `Dataset`
  * object itself, compared by identity — when its plan is deterministic.
  * A later run on the same object at the same P runs no prepare job: no
  * sizing count, no vertex blocks, no cells, no edge count. Only the most
  * recent input's grids are kept: a run on another input releases them
  * first, and so does a `Cleaner` once the input is unreachable (nothing
  * here holds it strongly). A grid that a running loop reads is released
  * when that run ends.
  */
private[graph] object GridLoop {

  /** A run's end: the (id, value) frame, the last step, whether it
    * converged, the last aggregate, and the wall seconds of the prepare
    * (grid build and `start`) and of the rounds.
    */
  final case class Outcome[A](values: DataFrame, step: Int, converged: Boolean, last: A,
                              prepareSeconds: Double = 0.0, loopSeconds: Double = 0.0)

  /** A grid (None: no vertex) on its loop session at dimension `p`, with
    * the runs reading it; a released grid is unpersisted when the last of
    * them ends.
    */
  private final class Prepared(val spark: SparkSession, val p: Int, val grid: Option[Grid]) {
    var users = 0
    var released = false
  }

  /** The most recent input's grids by shape and its row count, once
    * counted. The input is held weakly; `cleanable` releases the grids.
    */
  private final class Slot(val input: WeakReference[Dataset[Edge]]) {
    val grids = mutable.Map.empty[GridShape, Prepared]
    var rows: Option[Long] = None
    var cleanable: Cleaner.Cleanable = _
  }

  private val cleaner = Cleaner.create()
  private var current: Option[Slot] = None // guarded by GridLoop

  /** `body` on `edges`' grid of `shape` and its loop session: the kept
    * grid when there is one at the P the session sizes now, else a new one
    * (kept when `edges` is deterministic).
    */
  def withGrid[T](edges: Dataset[Edge], shape: GridShape)(body: (SparkSession, Option[Grid]) => T): T = {
    val callerSpark = edges.sparkSession
    val sessionParts = callerSpark.conf.get("spark.sql.shuffle.partitions").toInt
    def sized(rows: Long): Int = IterationConf.sizedPartitions(sessionParts, shape.rowsPerEdge * rows)
    val slot = if (edges.queryExecution.analyzed.deterministic) Some(slotOf(edges)) else None
    val (hit, known) = synchronized {
      val rows = slot.flatMap(_.rows)
      (for (s <- slot; n <- rows; k <- s.grids.get(shape) if k.p == sized(n)) yield { k.users += 1; k },
        rows)
    }
    val prepared = hit.getOrElse {
      // parquet-backed inputs answer count() from footer statistics
      val rows = known.getOrElse(edges.toDF().count())
      val p = sized(rows)
      val k = IterationConf.withLoopSession(callerSpark, p) { spark =>
        val (gridRows, vertexTable) = shape.inputs(IterationConf.rebind(edges.toDF(), spark))
        new Prepared(spark, p, CsrPageRank.prepareGrid(spark, gridRows, p, vertexTable, shape.dedupe))
      }
      synchronized {
        k.users = 1
        slot match {
          case Some(s) if current.contains(s) =>
            s.rows = Some(rows)
            s.grids.put(shape, k).foreach(release)
          case _ => k.released = true // not kept: freed when this run ends
        }
      }
      k
    }
    try body(prepared.spark, prepared.grid)
    finally synchronized {
      prepared.users -= 1
      if (prepared.released) release(prepared)
    }
  }

  /** `edges`' slot, made current: another input's grids are released first. */
  private def slotOf(edges: Dataset[Edge]): Slot = synchronized {
    current.filter(_.input.get eq edges).getOrElse {
      current.foreach(_.cleanable.clean())
      val s = new Slot(new WeakReference(edges))
      s.cleanable = cleaner.register(edges, () => free(s))
      current = Some(s)
      s
    }
  }

  /** Releases a slot's grids; the Cleaner's action, or run when another input's run begins. */
  private def free(s: Slot): Unit = synchronized {
    s.grids.values.foreach(release)
    s.grids.clear()
    if (current.contains(s)) current = None
  }

  private def release(k: Prepared): Unit = synchronized {
    k.released = true
    if (k.users == 0) k.grid.foreach(_.unpersist())
  }

  /** The RDD ids of the kept grids (for specs). */
  private[graph] def keptRdds: Set[Int] = synchronized {
    current.toSeq.flatMap(_.grids.values).flatMap(_.grid).flatMap(g => Seq(g.vertices.id, g.cells.id)).toSet
  }

  /** Runs steps after `from`'s (the first, when None) up to `maxIter`;
    * `from` is a resumed run's directory, snapshot and `StepMetrics`.
    */
  def run[B, P: ClassTag, A](edges: Dataset[Edge], program: GridProgram[B, P, A], maxIter: Int,
                             checkpoint: CheckpointPolicy,
                             from: Option[(String, DataFrame, StepMetrics)] = None): Outcome[A] = {
    val callerSpark = edges.sparkSession
    val prepT0 = System.nanoTime()
    withGrid(edges, program.shape) { (spark, prepared) =>
      // the edges must give the grid the committed step ran on (a run dir
      // that recorded no counts is not checked)
      for ((runDir, _, recorded) <- from if counted.forall(recorded.metrics.contains)) {
        val got = counts(prepared)
        if (counted.exists(k => got(k) != recorded.metrics(k))) {
          def told(m: Map[String, Double]) = s"${m("n_vertices").toLong} vertices and ${m("n_edges").toLong} edges"
          throw new IllegalStateException(s"the edges do not match the run in $runDir: superstep " +
            s"${recorded.step} recorded ${told(recorded.metrics)}, the edges give ${told(got)}")
        }
      }
      val step0 = from.fold(0)(_._3.step)
      prepared match {
        case None =>
          // no vertex: converged, after the program's empty round if it has one and one is left
          val ran = program.emptyRound && step0 < maxIter
          val step = if (ran) step0 + 1 else step0
          if (ran) Supersteps.commitStep(spark, checkpoint, step, converged = true, None, program.schema,
            program.metrics(step, program.empty) ++ counts(None))(_ => Nil)
          val none = spark.createDataFrame(java.util.Collections.emptyList[Row](), program.schema)
            .select(valueColumns(program): _*)
          Outcome(IterationConf.rebind(none, callerSpark), step, ran || !program.emptyRound, program.empty)
        case Some(grid) =>
          // ONE job over a round's blocks: each partition's partial and, given
          // a step's state dir, its snapshot (rows, checksum)
          def stepJob(blocks: RDD[B], dir: Option[String]) =
            Supersteps.stepJob(blocks, dir, program.schema)(program.partial, program.rows)
          var (state, agg) = program.start(grid,
            from.map { case (_, snap, m) => (IterationConf.rebind(snap, spark), m) })
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
              program.schema, metrics ++ counts(Some(grid)))(dir => stepJob(state, Some(dir))._2)
          }
          val values = program.values(spark, state).localCheckpoint(true)
          state.unpersist(false)
          Outcome(IterationConf.rebind(values, callerSpark), step, converged, agg, prepareSeconds,
            (System.nanoTime() - loopT0) / 1e9)
      }
    }
  }

  /** Resume from the last committed step in `runDir` (a fresh run under
    * `checkpoint` if none), identical to an uninterrupted run: a snapshot
    * is a step's complete state, and a converged one is the result. It
    * runs on the input's grid, the one its other runs use. A snapshot
    * without the program's `column` is rejected before any job runs when
    * its commit recorded the schema, else once read back. Edges whose
    * grid does not have the commit's `n_vertices` and `n_edges` are
    * rejected with an IllegalStateException naming `runDir` before any
    * round (on a kept grid, before any job).
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
        else run(edges, program, maxIter, checkpoint, Some((runDir, snap, recorded)))
    }
  }

  /** The `_METRICS` keys of the grid's size, which every commit records. */
  private val counted = Seq("n_vertices", "n_edges")

  /** The grid's vertex and edge counts (0 and 0: no vertex). */
  private def counts(grid: Option[Grid]): Map[String, Double] = {
    val (n, m) = grid.fold((0L, 0L))(g => (g.n, g.edges))
    Map("n_vertices" -> n.toDouble, "n_edges" -> m.toDouble)
  }

  /** The (id, value) columns of a program's snapshot. */
  private def valueColumns(program: GridProgram[_, _, _]): Seq[Column] =
    program.schema.fieldNames.toSeq.take(2).map(col)
}
