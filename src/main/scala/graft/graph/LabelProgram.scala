package graft.graph

import graft.graph.CsrPageRank.Grid
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One vertex partition's labels, aligned with its sorted ids and the
  * grid's out-degrees (shared by reference; 0: only self-loops), and how
  * many of them the round that made the block changed.
  */
private[graph] final case class LBlock(ids: Array[Long], outdeg: Array[Int], labels: Array[Long],
                                       changed: Int)

/** The grid program of label propagation and connected components: one
  * `long` label per vertex of the input's undirected grid
  * (`GridShape.Undirected`, which the triangle count reads too), so a
  * vertex hears each neighbour once. Both programs run on one grid per
  * input, whose vertices are the endpoints of every edge; a vertex whose
  * only edges are self-loops hears nothing and keeps its label. Without
  * `selfLoopVertices` such vertices have no row in the snapshot or the
  * result. Labels start as the ids, or as a committed (id, `column`)
  * snapshot (a vertex without a row keeps its id). A round's partial is
  * its partition's count of changed labels; the run ends after a round
  * that changes none, and a grid with no vertex gets one such round.
  *
  * @param stepKey  the `_METRICS` key of the round number
  * @param next     the round (`GridProgram.round`), which reads no aggregate
  */
private[graph] final class LabelProgram(val column: String, stepKey: String, selfLoopVertices: Boolean)(
    next: (Grid, RDD[LBlock]) => (RDD[LBlock], Seq[RDD[_]]))
    extends GridProgram[LBlock, Long, Long] {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField(column, LongType, nullable = false)))
  val shape: GridShape = GridShape.Undirected
  val emptyRound = true
  val empty = 0L

  def start(grid: Grid, from: Option[(DataFrame, StepMetrics)]): (RDD[LBlock], Long) = from match {
    // labels are never written in place; every fresh label is new
    case None => (grid.vertices.map(b => LBlock(b.ids, b.outdeg, b.ids, 0)), grid.n)
    case Some((snap, m)) =>
      (CsrPageRank.withSnapshot(grid, snap, column, Encoders.scalaLong)(_.ids.clone())
        .map { case (vb, labels) => LBlock(vb.ids, vb.outdeg, labels, 0) }, recorded(m))
  }

  def round(grid: Grid, state: RDD[LBlock], last: Long): (RDD[LBlock], Seq[RDD[_]]) = next(grid, state)

  def partial(bs: Seq[LBlock]): Long = bs.map(_.changed.toLong).sum

  def aggregate(last: Long, parts: Array[Long]): Long = parts.sum

  def metrics(step: Int, changed: Long): Map[String, Double] =
    Map(stepKey -> step.toDouble, "changed" -> changed.toDouble,
      "converged" -> (if (changed == 0) 1.0 else 0.0))

  def recorded(m: StepMetrics): Long = m.metrics("changed").toLong

  /** The indexes of a block's vertices that have rows. */
  private def listed(b: LBlock): Iterator[Int] =
    if (selfLoopVertices) b.ids.indices.iterator else b.ids.indices.iterator.filter(b.outdeg(_) > 0)

  def rows(b: LBlock): Iterator[InternalRow] = {
    val row = new SpecificInternalRow(schema)
    listed(b).map { k =>
      row.setLong(0, b.ids(k)); row.setLong(1, b.labels(k))
      row: InternalRow
    }
  }

  def values(spark: SparkSession, state: RDD[LBlock]): DataFrame = {
    import spark.implicits._
    state.flatMap(b => listed(b).map(k => (b.ids(k), b.labels(k)))).toDF("id", column)
  }
}
