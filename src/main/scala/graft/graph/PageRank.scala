package graft.graph

import graft.ingest.Edge
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Where iteration state is checkpointed. */
sealed trait CheckpointPolicy
/** State kept as eager localCheckpoint blocks (lineage truncated every
  * iteration). Fast, NOT resumable — bench mode.
  */
final case class LocalOnly(every: Int = 1) extends CheckpointPolicy
/** Durable resumable checkpoints: every `every` iterations a committed
  * superstep (parquet + metrics + snapshot rows and checksum + atomic
  * marker) lands in `runDir` — the production mode. A commit is one
  * write by the tasks holding the state; the loop keeps its in-memory
  * state.
  */
final case class Durable(runDir: String, every: Int = 1) extends CheckpointPolicy

final case class PageRankConfig(
    alpha: Double = 0.85,
    tol: Double = 1e-6,
    maxIter: Int = 200,
    checkpoint: CheckpointPolicy = LocalOnly()
)

final case class PageRankResult(
    ranks: DataFrame, // (id: long, rank: double), sum(rank) == 1
    iterations: Int,
    converged: Boolean,
    deltas: Seq[Double],
    edgeCount: Long,
    vertexCount: Long,
    // wall-clock split: one-time graph prepare (partition/sort/cache or
    // CSR build) vs the superstep loop — the north metric (edges/sec per
    // iteration) and its scaling gate are properties of the LOOP; prepare
    // amortizes over the life of an iterative computation.
    prepareSeconds: Double = 0.0,
    loopSeconds: Double = 0.0
)

/** PageRank with teleport (1-alpha) and dangling-mass redistribution,
  * expressed purely as DataFrame joins + aggregations (no RDD/GraphX).
  *
  * Reference precedent: the per-vertex importance score in [0,1]
  * (isKeyPaper node probability, create_field/compute_key_papers.py:210-259)
  * and citation-count ranking, generalized over the derived citation edge
  * table (create_field/graph.py:28-43).
  *
  * Shuffle discipline (one shuffle per iteration at steady state):
  *  - `edges` is hash-partitioned by `src` once and cached;
  *  - rank state is hash-partitioned by `id`; the contribution join
  *    (edges.src == ranks.id) is then co-partitioned → no exchange;
  *  - the message aggregation `groupBy(dst)` is the single per-iteration
  *    shuffle; its output partitioning hash(dst) matches the vertex
  *    state's hash(id), so the finalize join needs no exchange either;
  *  - dangling mass is recovered by conservation (dangling = 1 − Σ
  *    contribs) as a 1-row aggregate broadcast back in — no extra pass;
  *  - skew: hub dst vertices make groupBy(dst) skewed; HashAggregate's
  *    partial (map-side) combine is exactly the two-phase salted
  *    aggregation plan, done natively by Spark.
  */
object PageRank {

  /** Cached, co-partitioned graph inputs shared across iterations.
    * `danglingCount` = #vertices with no out-edges (for the closed-form
    * initial dangling mass).
    */
  private final case class Prepared(
      e: DataFrame, vdeg: DataFrame, n: Long, m: Long, parts: Int, danglingCount: Long)

  /** Build the cached co-partitioned graph inputs ON the loop session
    * (`e0` must already be re-bound to it). Cached PRE-SORTED on the join
    * keys: InMemoryRelation preserves outputOrdering, so the
    * per-iteration sort-merge joins skip their Sort on the big (edge)
    * side every iteration.
    */
  private def prepare(e0: DataFrame, Pr: Int, m: Long): Prepared = {
    val e = e0
      .repartition(Pr, col("src"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    // verts/outdeg both come out hash(id, Pr)-partitioned (the loop
    // session's shuffle partitions ARE Pr), so the left join is
    // co-partitioned and its output needs no further repartition; the
    // within-partition sort keeps the cached state order deterministic.
    val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val vdeg = verts
      .join(outdeg, Seq("id"), "left")
      .na.fill(0, Seq("outdeg"))
      .sortWithinPartitions("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vertex count + dangling count in ONE pass (also materializes the
    // cache) instead of two driver actions
    val r = vdeg.agg(count(lit(1)), coalesce(sum(when(col("outdeg") === 0, 1L)), lit(0L))).first()
    Prepared(e, vdeg, r.getLong(0), m, Pr, r.getLong(1))
  }

  /** Shared run/resume driver. The whole loop (prepare + iterate) runs on
    * an isolated cloned session (IterationConf.withLoopSession) with
    * shuffle partitions sized to the loop data — the caller's session
    * conf is never mutated (thread-safe under concurrent queries); the
    * result is re-bound to the caller's session so downstream work keeps
    * its AQE/broadcast settings. At scale Pr == the session default.
    */
  private def runLoop(
      edges: Dataset[Edge], cfg: PageRankConfig,
      startIter: Int, state0: Option[DataFrame]
  ): PageRankResult = {
    val spark = edges.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val t0 = System.nanoTime()
    // No persist of the raw edge projection: it is read exactly twice
    // (the sizing count and prepare's repartition scan) and caching a
    // full copy of the edge table cost more than the second scan saves.
    val e0 = edges.toDF().select(col("src"), col("dst"))
    val m = e0.count()
    val Pr = graft.core.IterationConf.sizedPartitions(sessionParts, math.max(m, 1L))
    graft.core.IterationConf.withLoopSession(spark, Pr) { loop =>
      val g = prepare(graft.core.IterationConf.rebind(e0, loop), Pr, m)
      val prepSecs = (System.nanoTime() - t0) / 1e9
      if (g.n == 0)
        PageRankResult(spark.emptyDataFrame, startIter, converged = true, Nil, 0L, 0L)
      else {
        // Iteration state is (id, outdeg, rank): outdeg rides in the state
        // so the loop never joins vdeg again (guide §2.4 — one fewer join
        // per iteration plan). A resumed narrow snapshot is widened once.
        val ranks0 = state0
          .map(graft.core.IterationConf.rebind(_, loop)
            .join(g.vdeg, Seq("id"))
            .select(col("id"), col("outdeg"), col("rank"))
            .repartition(g.parts, col("id")))
          .getOrElse(g.vdeg.select(col("id"), col("outdeg"), lit(1.0 / g.n).as("rank")))
        // closed-form initial dangling mass only for the uniform start
        val dangling0 = if (state0.isEmpty) Some(g.danglingCount.toDouble / g.n) else None
        val res = iterate(g, ranks0, startIter, cfg, dangling0)
        res.copy(
          ranks = graft.core.IterationConf.rebind(res.ranks, spark),
          prepareSeconds = prepSecs)
      }
    }
  }

  def run(edges: Dataset[Edge], cfg: PageRankConfig = PageRankConfig()): PageRankResult =
    runLoop(edges, cfg, 0, None)

  /** Resume from the last committed superstep in runDir (or start fresh
    * if none). Final state is identical to an uninterrupted run because
    * each superstep snapshot is the complete iteration state.
    */
  def resume(edges: Dataset[Edge], runDir: String, cfg: PageRankConfig): PageRankResult = {
    val spark = edges.sparkSession
    val durableCfg = cfg.checkpoint match {
      case d: Durable => cfg
      case _          => cfg.copy(checkpoint = Durable(runDir, 1))
    }
    Supersteps.lastCommitted(spark, runDir) match {
      case None => run(edges, durableCfg)
      case Some(step) =>
        val state = Supersteps.readState(spark, runDir, step)
        // Already-converged runs return the committed state as-is.
        val metrics = Supersteps.readMetrics(spark, runDir, step)
        if (metrics.converged)
          PageRankResult(state, step, converged = true, Seq(metrics.metrics("l1_delta")), -1L,
            metrics.rows)
        else runLoop(edges, durableCfg, step, Some(state))
    }
  }

  /** Iteration loop: exactly ONE job per iteration — the scalar
    * aggregate (L1 delta + next dangling mass) runs over the LAZILY
    * locally-checkpointed new state, so the same job materializes the
    * state (contribution join + single groupBy(dst) shuffle + finalize
    * join, all co-partitioned), truncates its lineage, and returns the
    * scalars. Dangling mass enters the next update as a driver-local
    * 1-row broadcast (no executor job to build it).
    *
    * Eager localCheckpoint truncates lineage EVERY iteration: the new
    * state becomes a materialized LogicalRDD with no plan dependency on
    * the previous iteration. (Chained persist/unpersist instead causes
    * Spark's CacheManager to invalidate+rebuild dependent cache entries
    * on every unpersist — measured exponential recompute.)
    */
  private def iterate(
      g: Prepared,
      ranks0: DataFrame, // (id, outdeg, rank), co-partitioned by id
      startIter: Int,
      cfg: PageRankConfig,
      initialDangling: Option[Double] = None
  ): PageRankResult = {
    // g and ranks0 are bound to the loop session (withLoopSession): AQE
    // off, broadcast off, shuffle partitions = g.parts — nothing here
    // touches the caller's session conf.
    val spark = g.e.sparkSession
    val loopT0 = System.nanoTime()
    // Wide state (id, outdeg, rank, old): outdeg makes the contribution
    // join self-sufficient and `old` (previous rank) turns the L1-delta
    // into a pure scan of the checkpointed state — two joins per
    // iteration instead of four, which shrinks both the executed plan
    // and the per-iteration Catalyst planning time that dominates small
    // rounds (guide §1.2 step 1, §2.4).
    // No eager checkpoint of the initial state: it is a projection of the
    // cached vdeg (or the resumed snapshot), already co-partitioned —
    // iteration 1 reads it directly and produces the first checkpointed
    // state itself (Supersteps.releaseCheckpoint is a no-op on it).
    var ranks = ranks0
      .select(col("id"), col("outdeg"), col("rank"), col("rank").as("old"))

    val durable = cfg.checkpoint match { case _: Durable => true; case _ => false }
    // With tol <= 0 and local-only checkpointing the loop runs a fixed
    // iteration count and the L1 delta is observable nowhere — the
    // per-iteration stats read skips it (the dangling sum alone is
    // needed, and it rides the same action either way).
    val needStats = cfg.tol > 0 || durable

    // Dangling mass of the CURRENT state as a driver-local 1-row
    // DataFrame (LocalRelation): its broadcast is built on the driver
    // with no executor job, and because the value lives in the relation
    // DATA — not the generated code — the update plan stays byte-
    // identical across iterations, so the codegen cache hits instead of
    // recompiling. (r07: this replaces a per-iteration broadcast-agg
    // scan of the previous state — guide §1.2 step 1, one job per
    // iteration instead of two.)
    def danglingLit(d: Double): DataFrame = {
      import spark.implicits._; Seq(d).toDF("danglingMass")
    }
    var danglingVal = initialDangling.getOrElse {
      // resumed snapshot: one scan of the rebuilt state
      ranks.agg(coalesce(sum(when(col("outdeg") === 0, col("rank"))), lit(0.0)))
        .first().getDouble(0)
    }

    var iter = startIter
    var converged = false
    var deltas = Vector.empty[Double]

    while (iter < cfg.maxIter && !converged) {
      // shuffle_hash hints: both joins are co-partitioned, so the hint
      // yields a zero-exchange hash join with the hash map built on the
      // vertex-state side — avoiding the per-iteration SMJ sorts of the
      // edge table (measured: sort spill/GC churn dominates otherwise).
      val contribs = g.e
        .join(ranks.select(col("id"), col("outdeg"), col("rank")).hint("shuffle_hash"),
          g.e("src") === col("id"))
        .select(col("dst"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("dst")
        .agg(sum("c").as("contrib"))

      // LAZY local checkpoint: the stats action below both MATERIALIZES
      // the new state (all partitions cached, lineage truncated after
      // the job) and returns the scalars — exactly ONE job per
      // iteration, the same single-action design as CsrPageRank's
      // dangling fold.
      val newRanks = ranks.select(col("id"), col("outdeg"), col("rank").as("old"))
        .join(contribs.hint("shuffle_hash"), col("id") === contribs("dst"), "left")
        .crossJoin(broadcast(danglingLit(danglingVal)))
        .select(
          col("id"), col("outdeg"),
          (lit((1.0 - cfg.alpha) / g.n) +
            lit(cfg.alpha) * (coalesce(col("contrib"), lit(0.0)) +
              col("danglingMass") / g.n)).as("rank"),
          col("old")
        )
        .localCheckpoint(false)

      // L1 delta + next iteration's dangling mass in one scan fused into
      // the materializing job (no joins: old/outdeg ride in the state).
      val row = newRanks
        .agg(
          (if (needStats) sum(abs(col("rank") - col("old"))) else lit(0.0)).as("delta"),
          coalesce(sum(when(col("outdeg") === 0, col("rank"))), lit(0.0)).as("dangling")
        )
        .first()
      val delta = row.getDouble(0)
      danglingVal = row.getDouble(1)
      if (needStats) deltas :+= delta

      Supersteps.releaseCheckpoint(ranks)
      ranks = newRanks
      iter += 1
      converged = needStats && delta < cfg.tol

      cfg.checkpoint match {
        case Durable(runDir, every) if iter % every == 0 || converged =>
          // Durable snapshots stay (id, rank) — the resume/consumer
          // contract is unchanged; the loop keeps its wide state.
          Supersteps.commit(
            spark, runDir, iter, ranks.select(col("id"), col("rank")),
            Map(
              "l1_delta" -> delta,
              "n_vertices" -> g.n.toDouble,
              "n_edges" -> g.m.toDouble,
              "dangling_mass" -> danglingVal,
              "converged" -> (if (converged) 1.0 else 0.0)
            )
          )
        case _ => ()
      }
    }
    // ranks is a self-contained checkpointed LogicalRDD: release the
    // cached graph inputs so repeated runs in one JVM don't bloat storage.
    g.e.unpersist(false)
    g.vdeg.unpersist(false)
    PageRankResult(ranks.select(col("id"), col("rank")), iter, converged, deltas, g.m, g.n,
      loopSeconds = (System.nanoTime() - loopT0) / 1e9)
  }
}
