package graft.graph

import graft.graph.CsrPageRank.Grid
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.util.Arrays

/** One vertex partition's labels, aligned with its sorted ids, and how
  * many of them the round that made the block changed.
  */
private[graph] final case class LBlock(ids: Array[Long], labels: Array[Long], changed: Int)

/** The grid program of label propagation and connected components: one
  * `long` label per vertex of the undirected grid — the input's edges,
  * self-loops dropped, in both directions, with `dedupe`, so a vertex
  * hears each neighbour once. The vertices are the endpoints of the edges
  * that are not self-loops or, with `selfLoopVertices`, of every edge.
  * Labels start as the ids, or as a committed (id, `column`) snapshot. A
  * round's partial is its partition's count of changed labels; the run
  * ends after a round that changes none, and a grid with no vertex gets
  * one such round.
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
  val rowsPerEdge = 2
  val dedupe = true
  val emptyRound = true
  val empty = 0L

  def gridInputs(all: DataFrame, snapshot: Option[DataFrame]): (DataFrame, Option[DataFrame]) = {
    val e = all.filter(col("src") =!= col("dst"))
    val ends = if (selfLoopVertices) all else e
    // (out-degrees and ranks are PageRank's, unused here)
    val vertices = ends.select(col("src").as("id")).unionAll(ends.select(col("dst").as("id")))
      .distinct().select(col("id"), lit(0).as("outdeg"), lit(0.0).as("rank"))
    (e.select(col("src"), col("dst")).unionAll(e.select(col("dst").as("src"), col("src").as("dst"))),
      Some(vertices))
  }

  def start(grid: Grid, from: Option[(DataFrame, StepMetrics)]): (RDD[LBlock], Long) = from match {
    // labels are never written in place; every fresh label is new
    case None => (grid.vertices.map(b => LBlock(b.ids, b.ids, 0)), grid.n)
    case Some((snap, m)) =>
      val labels = CsrPageRank.byPid(snap.select(col("id"), col(column)), col("id"), grid.partSizes.length)
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).rdd
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
      (labels, recorded(m))
  }

  def round(grid: Grid, state: RDD[LBlock], last: Long): (RDD[LBlock], Seq[RDD[_]]) = next(grid, state)

  def partial(bs: Seq[LBlock]): Long = bs.map(_.changed.toLong).sum

  def aggregate(last: Long, parts: Array[Long]): Long = parts.sum

  def metrics(step: Int, changed: Long): Map[String, Double] =
    Map(stepKey -> step.toDouble, "changed" -> changed.toDouble,
      "converged" -> (if (changed == 0) 1.0 else 0.0))

  def recorded(m: StepMetrics): Long = m.metrics("changed").toLong

  def rows(b: LBlock): Iterator[InternalRow] = {
    val row = new SpecificInternalRow(schema)
    b.ids.indices.iterator.map { k =>
      row.setLong(0, b.ids(k)); row.setLong(1, b.labels(k))
      row: InternalRow
    }
  }

  def values(spark: SparkSession, state: RDD[LBlock]): DataFrame = {
    import spark.implicits._
    state.flatMap(b => b.ids.indices.iterator.map(k => (b.ids(k), b.labels(k)))).toDF("id", column)
  }
}
