package graft.graph

import graft.core.IterationConf
import graft.graph.CsrPageRank.Grid
import graft.ingest.Edge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.util.Arrays

/** The superstep loop that label propagation and connected components
  * share: one `long` label per vertex of the undirected grid, and a
  * round that turns one round's labels into the next.
  *
  * Prepare: the input's edges, self-loops dropped, in both directions, go
  * through `CsrPageRank.prepareGrid` with `dedupe`, so a vertex hears each
  * neighbour once. The vertices are the endpoints of the edges that are
  * not self-loops or, with `selfLoopVertices`, of every edge. Labels are
  * one `long` array per vertex partition (`LBlock`), aligned with the
  * partition's sorted ids; they start as the ids, or as a committed
  * (id, `column`) snapshot on resume.
  *
  * ONE job per round: the round's blocks are persisted, checkpointed
  * locally and materialized by `Supersteps.stepJob`, which returns each
  * partition's count of changed labels, summed on the driver (a re-run
  * task cannot add twice, so it cannot change the round count), and, for
  * a round due for a commit, writes the (id, `column`) snapshot from the
  * same tasks. A Durable run therefore runs the LocalOnly jobs; only a
  * run converging off the commit schedule adds one write job. The run
  * ends after a round that changes no label, or after `maxIter` rounds.
  *
  * @param column   the snapshot's label column
  * @param stepKey  the `_METRICS` key of the round number
  */
private[graph] final class LabelLoop(column: String, stepKey: String, selfLoopVertices: Boolean) {
  import LabelLoop._

  /** The committed snapshot: one (id, `column`) row per vertex. */
  private val snapshotSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField(column, LongType, nullable = false)))

  /** Runs rounds `iter0 + 1 ..` up to `maxIter` from `labels0` (the ids
    * when None). Returns the (id, `column`) labels, the last round and
    * whether it changed nothing. The loop runs on an isolated cloned
    * session (IterationConf.withLoopSession) sized to the grid; the
    * result is re-bound to the caller's session.
    */
  def run(edges: Dataset[Edge], labels0: Option[DataFrame], iter0: Int, maxIter: Int,
          checkpoint: CheckpointPolicy)(round: Round): (DataFrame, Int, Boolean) = {
    val callerSpark = edges.sparkSession
    val sessionParts = callerSpark.conf.get("spark.sql.shuffle.partitions").toInt
    // Sized by the symmetrized rows, two per input edge, at the library
    // default of 250k rows per partition: r07 measured it against 65k
    // (P 10 -> 32 at sf0.1), where the extra task launches and the 32x32
    // shuffle blocks cost more than the added cores returned.
    val P = IterationConf.sizedPartitions(sessionParts, 2 * edges.toDF().count())
    IterationConf.withLoopSession(callerSpark, P) { spark =>
      import spark.implicits._
      val all = IterationConf.rebind(edges.toDF(), spark)
      val e = all.filter(col("src") =!= col("dst"))
      val sym = e.select(col("src"), col("dst"))
        .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val ends = if (selfLoopVertices) all else e
      // (out-degrees and ranks are PageRank's, unused here)
      val vertices = ends.select(col("src").as("id")).unionAll(ends.select(col("dst").as("id")))
        .distinct().select(col("id"), lit(0).as("outdeg"), lit(0.0).as("rank"))
      val grid = CsrPageRank.prepareGrid(spark, sym, P, Some(vertices), dedupe = true).getOrElse {
        // no vertex: one round, if any is left, that changes nothing
        val converged = iter0 < maxIter
        val iters = if (converged) iter0 + 1 else iter0
        if (converged)
          Supersteps.commitStep(spark, checkpoint, iters, converged, None, snapshotSchema,
            metrics(iters, 0L))(_ => Nil)
        val none = IterationConf.rebind(Seq.empty[(Long, Long)].toDF("id", column), callerSpark)
        return (none, iters, converged)
      }

      var state: RDD[LBlock] = labels0 match {
        case None => grid.vertices.map(b => LBlock(b.ids, b.ids, 0)) // labels never written in place
        case Some(snap) =>
          CsrPageRank.byPid(IterationConf.rebind(snap, spark).select(col("id"), col(column)), col("id"), P)
            .as[(Long, Long)].rdd
            .zipPartitions(grid.vertices, preservesPartitioning = false) { (rows, vs) =>
              vs.map { vb =>
                val labels = vb.ids.clone()
                rows.foreach { case (id, l) =>
                  val k = Arrays.binarySearch(vb.ids, id)
                  if (k >= 0) labels(k) = l
                }
                LBlock(vb.ids, labels, 0)
              }
            }
      }
      var iter = iter0
      var converged = false

      while (iter < maxIter && !converged) {
        val (next, scratch) = round(grid, state)
        next.persist(StorageLevel.MEMORY_AND_DISK)
        next.localCheckpoint()
        val due = Supersteps.dueDir(spark, checkpoint, iter + 1)
        val (changed, written) = stepJob(next, due)
        scratch.foreach(_.unpersist(false))
        state.unpersist(false)
        state = next
        iter += 1
        converged = changed == 0
        Supersteps.commitStep(spark, checkpoint, iter, converged, due.map(_ => written),
          snapshotSchema, metrics(iter, changed))(dir => stepJob(state, Some(dir))._2)
      }
      val result = state
        .flatMap(b => b.ids.indices.iterator.map(k => (b.ids(k), b.labels(k))))
        .toDF("id", column).localCheckpoint(true)
      grid.unpersist()
      state.unpersist(false)
      (IterationConf.rebind(result, callerSpark), iter, converged)
    }
  }

  /** Resume from the last committed round in `runDir` (a fresh Durable
    * run if none). A label snapshot is the complete state of a round, so
    * the result is identical to an uninterrupted run; a converged one is
    * the result. A snapshot without `column` — another loop's, or a
    * format this loop no longer writes — is rejected before any job runs
    * when its commit recorded the schema.
    */
  def resume(edges: Dataset[Edge], runDir: String, maxIter: Int)(round: Round): (DataFrame, Int, Boolean) = {
    val spark = edges.sparkSession
    Supersteps.lastCommitted(spark, runDir) match {
      case None => run(edges, None, 0, maxIter, Durable(runDir))(round)
      case Some(step) =>
        val recorded = Supersteps.readMetrics(spark, runDir, step)
        def requireColumn(schema: StructType): Unit =
          if (!schema.fieldNames.contains(column))
            throw new IllegalStateException(
              s"superstep $step in $runDir has no $column column (snapshot columns: " +
                s"${schema.fieldNames.mkString(", ")}); it was not written by this loop " +
                "and cannot be resumed — start a fresh run")
        recorded.schema.foreach(requireColumn)
        val snap = Supersteps.readState(spark, runDir, step)
        requireColumn(snap.schema) // also covers run dirs that recorded no schema
        if (recorded.converged) (snap.select(col("id"), col(column)), step, true)
        else run(edges, Some(snap), step, maxIter, Durable(runDir))(round)
    }
  }

  /** The `_METRICS` of a committed round. */
  private def metrics(iter: Int, changed: Long): Map[String, Double] =
    Map(stepKey -> iter.toDouble, "changed" -> changed.toDouble,
      "converged" -> (if (changed == 0) 1.0 else 0.0))

  /** ONE job over `state` (Supersteps.stepJob): the number of labels the
    * round changed and, given a step's state dir, each partition's
    * snapshot. Returns the count and each partition's (rows, checksum).
    */
  private def stepJob(state: RDD[LBlock], stateDir: Option[String]): (Long, Seq[(Long, Long)]) = {
    val schema = snapshotSchema // the task closure must not capture this loop
    val (changed, written) = Supersteps.stepJob(state, stateDir, schema)(
      _.map(_.changed.toLong).sum, { b =>
        val row = new SpecificInternalRow(schema)
        b.ids.indices.iterator.map { k =>
          row.setLong(0, b.ids(k)); row.setLong(1, b.labels(k))
          row: InternalRow
        }
      })
    (changed.sum, written)
  }
}

private[graph] object LabelLoop {

  /** One vertex partition's labels, aligned with its sorted ids, and how
    * many of them the round that made the block changed.
    */
  final case class LBlock(ids: Array[Long], labels: Array[Long], changed: Int)

  /** One round: the grid and the previous round's labels to the next
    * round's (lazy) labels, and the RDDs the round persisted for its own
    * job, released once that job has run.
    */
  type Round = (Grid, RDD[LBlock]) => (RDD[LBlock], Seq[RDD[_]])
}
