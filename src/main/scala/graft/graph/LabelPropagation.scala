package graft.graph

import graft.ingest.Edge
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous label propagation for community assignment, DataFrame-only.
  *
  * Reference precedent: per-paper topic assignment with fallback
  * propagation (topic/bertopic_title_abstract.py:94-106) and KMeans root
  * grouping (topic/cluster_topic.py:16-25) — the engine's community/label
  * algorithm generalizes both ("top-author topic analysis").
  *
  * Determinism (parallelism-invariance, SURVEY.md §7.6): every tie is
  * broken by the MIN label id — both the per-vertex majority vote
  * (count desc, label asc) and initialization (label = vertex id). The
  * iteration is synchronous (all vertices update from the previous
  * round's labels), so results are identical at any partition count.
  *
  * Scale: one shuffle for the message groupBy((id,label)) and one for the
  * per-vertex argmax; hub skew absorbed by partial aggregation. maxIter
  * caps oscillation (sync LPA can 2-cycle on bipartite structures).
  */
object LabelPropagation {

  final case class LpaResult(labels: DataFrame, iterations: Int, converged: Boolean)

  def run(edges: Dataset[Edge], maxIter: Int = 20,
          checkpoint: CheckpointPolicy = LocalOnly()): LpaResult =
    iterate(edges, None, 0, maxIter, checkpoint)

  /** Resume from the last committed label state in runDir (fresh run if
    * none). Identical final labels to an uninterrupted run: a committed
    * label snapshot is the complete iteration state of the synchronous
    * vote.
    */
  def resume(edges: Dataset[Edge], runDir: String, maxIter: Int = 20): LpaResult = {
    val spark = edges.sparkSession
    Supersteps.lastCommitted(spark, runDir) match {
      case None => run(edges, maxIter, Durable(runDir))
      case Some(step) =>
        if (Supersteps.readMetrics(spark, runDir, step).converged)
          LpaResult(Supersteps.readState(spark, runDir, step), step, converged = true)
        else
          iterate(edges, Some(Supersteps.readState(spark, runDir, step)), step, maxIter,
            Durable(runDir))
    }
  }

  /** The whole loop runs on an isolated cloned session
    * (IterationConf.withLoopSession): loop shuffles AND the cached bidir
    * adjacency are sized to the loop data (a 20k-vertex graph must not
    * pay P near-empty tasks per stage per round — the cached join side's
    * partition count sets the scan-stage task count every iteration; at
    * scale Pr == P and nothing changes), and the caller's session conf is
    * never mutated (thread-safe under concurrent queries). The result is
    * re-bound to the caller's session.
    */
  private def iterate(edges: Dataset[Edge], labels0: Option[DataFrame], iter0: Int,
                      maxIter: Int, checkpoint: CheckpointPolicy): LpaResult = {
    val callerSpark = edges.sparkSession
    val sessionParts = callerSpark.conf.get("spark.sql.shuffle.partitions").toInt

    // Self-loops are dropped before symmetrizing, as CC and the oracles
    // do: a vertex never hears its own label, and one whose only edge is
    // a self-loop gets no row.
    val e = edges.toDF().filter(col("src") =!= col("dst"))
    val bidir0 = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = bidir0.count()
    // Partition sizing: the library default (250k rows/partition) is the
    // measured optimum here — r07 tried 65k (Pr 10 -> 32 at sf0.1) and
    // the extra task launches + 32x32 shuffle blocks cost more than the
    // added cores returned (9.6 s vs 6.0 s warm), unlike CC whose rounds
    // are dominated by one large repartition.
    val Pr = graft.core.IterationConf.sizedPartitions(sessionParts, nEdges)
    graft.core.IterationConf.withLoopSession(callerSpark, Pr) { spark =>
    val bidir = graft.core.IterationConf.rebind(bidir0, spark)
      .repartition(Pr, col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = bidir.select(col("u").as("id")).distinct()
      .repartition(Pr, col("id")).persist(StorageLevel.MEMORY_AND_DISK)
    verts.count()
    bidir0.unpersist(false)

    // Wide state (id, label, old): the previous label rides in the
    // checkpoint so the per-iteration `changed` check is a pure scan
    // instead of a state-to-state join (guide §2.4 — and the old
    // trailing repartition was a full exchange of the state per
    // iteration that the left join's preserved hash(id) partitioning
    // makes redundant).
    var labels = labels0
      .map(graft.core.IterationConf.rebind(_, spark))
      .getOrElse(verts.select(col("id"), col("id").as("label")))
      .select(col("id"), col("label"), col("label").as("old"))
      .repartition(Pr, col("id"))
      .localCheckpoint(true)

    var iter = iter0
    var converged = false
    while (iter < maxIter && !converged) {
      val lbl = labels.select(col("id"), col("label"))
      // neighbor labels: edge (u <- label(v)). shuffle_hash on the
      // (small) label-state side: the join is co-partitioned, so the
      // hint yields a zero-exchange hash join and — unlike the default
      // sort-merge — skips re-sorting the cached 2x|E| bidir side every
      // iteration.
      val votes = bidir
        .join(lbl.hint("shuffle_hash"), bidir("v") === lbl("id"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("n"))
      // Per-vertex argmax as an aggregation (count desc, label asc): hub
      // vertices get map-side partial combine instead of funneling all
      // their (label, n) rows through one window-sort task. The ordering
      // struct (n, -label) has no ties (labels are distinct per group),
      // so max_by is deterministic.
      val picked = votes
        .groupBy(col("u"))
        .agg(max_by(col("label"), struct(col("n"), negate(col("label")))).as("newLabel"))
        .select(col("u").as("id"), col("newLabel"))

      // LAZY localCheckpoint per iteration: the changed-count action
      // below materializes the new state (all partitions cached, lineage
      // truncated after the job) AND returns the count — one job per
      // iteration instead of checkpoint-then-count (r07; CsrPageRank's
      // step job has the same single-action design). The left
      // join keeps the state's hash(id) partitioning, so no repartition
      // is needed to preserve the co-partitioned joins of the next
      // iteration.
      val newLabels = lbl
        .join(picked.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), coalesce(col("newLabel"), col("label")).as("label"),
          col("label").as("old"))
        .localCheckpoint(false)

      val changed = newLabels.filter(col("label") =!= col("old")).count()
      Supersteps.releaseCheckpoint(labels)
      labels = newLabels
      iter += 1
      converged = changed == 0

      checkpoint match {
        case Durable(runDir, every) if iter % every == 0 || converged =>
          // Durable snapshots stay (id, label) — the resume/consumer
          // contract is unchanged; the loop keeps its wide state.
          Supersteps.commit(spark, runDir, iter, labels.select(col("id"), col("label")),
            Map("iter" -> iter.toDouble, "changed" -> changed.toDouble,
              "converged" -> (if (converged) 1.0 else 0.0)))
        case _ => ()
      }
    }
    // labels is a self-contained checkpointed LogicalRDD: release inputs.
    bidir.unpersist(false)
    verts.unpersist(false)
    LpaResult(graft.core.IterationConf.rebind(labels.select(col("id"), col("label")), callerSpark),
      iter, converged)
    }
  }
}
