package graft.graph

import graft.ingest.Edge
import org.apache.spark.sql.{DataFrame, Dataset}

/** Where iteration state is checkpointed. */
sealed trait CheckpointPolicy
/** State kept as eager localCheckpoint blocks (lineage truncated every
  * iteration). Fast, NOT resumable — bench mode.
  */
final case class LocalOnly() extends CheckpointPolicy
/** Durable resumable checkpoints: every `every` iterations a committed
  * superstep (parquet + metrics + snapshot rows and checksum + atomic
  * marker) lands in `runDir` — the production mode. A commit costs one
  * snapshot file per partition, written by the tasks holding the state
  * inside the round's job, and two driver files (`_METRICS.json`, then
  * `_COMMIT`) sealed while the next round runs; the Hadoop conf the
  * tasks write with is broadcast once per run. The loop keeps its
  * in-memory state. Without native Hadoop, each new local file or
  * directory also forks a `chmod`: the remaining floor.
  */
final case class Durable(runDir: String, every: Int = 1) extends CheckpointPolicy

final case class PageRankConfig(
    alpha: Double = 0.85,
    tol: Double = 1e-6,
    maxIter: Int = 200,
    checkpoint: CheckpointPolicy = LocalOnly()
)

/** A PageRank run's outcome. `iterations` is the absolute superstep the
  * ranks are at, counted from step 0 across any interruption; `deltas`
  * holds the L1 deltas of the rounds this call ran: after a resume from
  * step k, `deltas.size == iterations - k` and `deltas(i)` is step k+i+1's. */
final case class PageRankResult(
    ranks: DataFrame, // (id: long, rank: double), sum(rank) == 1
    iterations: Int,
    converged: Boolean,
    deltas: Seq[Double],
    edgeCount: Long,
    vertexCount: Long,
    // wall-clock split: one-time graph prepare (the CSR grid build) vs
    // the superstep loop — the north metric (edges/sec per
    // iteration) and its scaling gate are properties of the LOOP; prepare
    // amortizes over the life of an iterative computation.
    prepareSeconds: Double = 0.0,
    loopSeconds: Double = 0.0
)

/** PageRank with teleport (1-alpha) and dangling-mass redistribution.
  *
  * Reference precedent: the per-vertex importance score in [0,1]
  * (isKeyPaper node probability, create_field/compute_key_papers.py:210-259)
  * and citation-count ranking, generalized over the derived citation edge
  * table (create_field/graph.py:28-43).
  *
  * There is one engine, `CsrPageRank`'s grid loop; these are its
  * library-facing names.
  */
object PageRank {

  def run(edges: Dataset[Edge], cfg: PageRankConfig = PageRankConfig()): PageRankResult =
    CsrPageRank.run(edges, cfg)

  /** Resume from the last committed superstep in runDir (see `CsrPageRank.resume`). */
  def resume(edges: Dataset[Edge], runDir: String, cfg: PageRankConfig): PageRankResult =
    CsrPageRank.resume(edges, runDir, cfg)
}
