package graft.graph

import graft.ingest.Edge
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components via alternating large-star / small-star hash-to-min
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
  * — public algorithm), expressed as DataFrame joins/aggregations.
  *
  * Reference precedent: the induced connected-subgraph computation in
  * vis/process.py:28-31 and the isolated-vs-connected node split in
  * create_field/graph.py:56-62 — generalized to full CC with component id
  * = min vertex id (deterministic tie-break, parallelism-invariant).
  *
  * Scale: converges in O(log n) rounds on any graph (vs O(diameter) for
  * plain min propagation — a 10^12-edge web-ish graph has long chains).
  * Each round is two groupBy shuffles; hub-vertex skew in the neighborhood
  * grouping is absorbed by map-side partial aggregation of `min`.
  *
  * Durable mode: each round's edge frontier is a committed superstep
  * (Supersteps.commit — one job whose tasks write their partitions and
  * return rows/checksum, then the atomic marker);
  * `resume` restarts from the last committed frontier and produces the
  * same fixpoint as an uninterrupted run (the frontier IS the complete
  * iteration state; the round signature is recomputed from it).
  */
object ConnectedComponents {

  final case class CcResult(components: DataFrame, rounds: Int) // (id, component)

  /** large-star: connect every strictly-greater neighbor of u to m(u),
    * the min of u's neighborhood including itself (partial-aggregated
    * min: hub skew absorbed map-side). The result is deduped AFTER a
    * repartition by the new key u — hash(u) clusters (u, v), so the
    * dedup adds no exchange of its own and the output is partitioned
    * exactly as `smallStarOriented` consumes it.
    *
    * Output invariant: every emitted row has v < u (m ≤ old-u < old-v).
    */
  private def largeStar(bidir: DataFrame, parts: Int): DataFrame = {
    val m = bidir.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
    // shuffle_hash with the per-vertex min as build side: skips the
    // sort-merge's per-round sort of the full frontier (PageRank's
    // contribution-join reasoning)
    bidir
      .join(m.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .repartition(parts, col("u"))
      .dropDuplicates()
  }

  /** small-star over an ALREADY-ORIENTED frontier — every row v < u,
    * which is exactly largeStar's output form: for each u, connect its
    * ≤-neighbors and u itself to the min among them.
    *
    * Equivalence with the textbook smallStar(afterLarge ∪ swap): the
    * swap rows all have v > u, so the ≤-filter keeps precisely the
    * un-swapped rows — the symmetrized union only doubled the work
    * (measured r07: each union branch re-ran the whole large-star
    * subtree because exchange reuse does not fire across the
    * filter-divergent copies). Taking the oriented frontier directly,
    * with `le` checkpointed hash(u), the min aggregation and the
    * re-attach join need NO exchange at all; the single exchange left
    * is the re-keying dedup, which again doubles as next-round
    * partitioning.
    */
  private def smallStarOriented(le: DataFrame, parts: Int): DataFrame = {
    val m = le.groupBy(col("u")).agg(min(col("v")).as("m"))
    val reattached = le
      .join(m.hint("shuffle_hash"), "u")
      .select(col("v").as("u"), col("m").as("v"))
    val selfEdge = m.select(col("u"), col("m").as("v"))
    reattached.union(selfEdge).filter(col("u") =!= col("v"))
      .repartition(parts, col("u"))
      .dropDuplicates()
  }

  /** Run to fixpoint. Returns (id, component) for every vertex that
    * appears in the edge set; `component` is the min vertex id of the
    * component. Isolated vertices (if supplied) map to themselves.
    */
  def run(edges: Dataset[Edge], maxRounds: Int = 50,
          checkpoint: CheckpointPolicy = LocalOnly()): CcResult = {
    val e0 = edges.toDF()
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    iterate(edges, e0, 0, maxRounds, checkpoint)
  }

  /** Resume from the last committed round in runDir (fresh run if none).
    * Result is identical to an uninterrupted run: the committed frontier
    * is the complete iteration state.
    */
  def resume(edges: Dataset[Edge], runDir: String, maxRounds: Int = 50): CcResult = {
    val spark = edges.sparkSession
    Supersteps.lastCommitted(spark, runDir) match {
      case None => run(edges, maxRounds, Durable(runDir))
      case Some(step) =>
        val e = Supersteps.readState(spark, runDir, step)
        iterate(edges, e, step, maxRounds, Durable(runDir))
    }
  }

  /** The whole loop runs on an isolated cloned session
    * (IterationConf.withLoopSession) with per-round shuffles sized to the
    * loop data — ~20 rounds x 2 shuffles over a tiny frontier must not
    * pay `P` empty-task overheads each, and the caller's session conf is
    * never mutated (thread-safe under concurrent queries). The result is
    * re-bound to the caller's session.
    */
  private def iterate(edges: Dataset[Edge], e0: DataFrame, round0: Int,
                      maxRounds: Int, checkpoint: CheckpointPolicy): CcResult = {
    val callerSpark = edges.sparkSession
    val sessionParts = callerSpark.conf.get("spark.sql.shuffle.partitions").toInt

    val allVerts = edges.toDF()
      .select(col("src").as("id"))
      .union(edges.toDF().select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nVerts = allVerts.count()
    // Materialize e0 HERE, on the caller's session: its normalize +
    // distinct is the one full-edge-table shuffle of the algorithm and
    // must run at the session's partition count, not the loop's (Pr can
    // be 1 for a small component graph while the raw edge table is huge).
    val e0c = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val m0 = e0c.count()
    // loop shuffles sized to the LOOP data: the round-1 frontier is m0
    // edges, so size to the larger of vertex and initial-edge count.
    // CC's early rounds push the FULL bidirectional frontier through
    // every star exchange, so the per-partition row target is lower than
    // the library default (65k vs 250k): at sf0.1 the 250k target left
    // round 1 (2.4M rows) on 5 of 32 cores — measured 2.8 s for that one
    // round — while the late tiny-frontier rounds still collapse to one
    // partition either way (the empty-task concern the cap exists for).
    val ccTargetRows = 65536L
    val Pr = graft.core.IterationConf.sizedPartitions(
      sessionParts, math.max(nVerts, m0), ccTargetRows)
    graft.core.IterationConf.withLoopSession(callerSpark, Pr) { spark =>

    // Eager localCheckpoint per round: truncates lineage and avoids the
    // CacheManager invalidate-rebuild trap of persist/unpersist chains
    // (see PageRank.iterate).
    var e = graft.core.IterationConf.rebind(e0c, spark)
      .repartition(Pr, col("u"))
      .localCheckpoint(true)
    e0c.unpersist(false)
    var rounds = round0
    var stable = false
    var prevSig: (Long, Long) = signature(e)

    while (!stable && rounds < maxRounds) {
      // CC's frontier SHRINKS as stars collapse: re-size this round's
      // shuffles (the groupBy/joins inside large/small-star read the
      // session conf) to the previous round's measured frontier. The
      // loop session is private to this call, so the per-round conf.set
      // races with nothing.
      val PrRound = graft.core.IterationConf.sizedPartitions(
        sessionParts, math.max(prevSig._1, nVerts), ccTargetRows)
      spark.conf.set("spark.sql.shuffle.partitions", PrRound.toString)
      val bidirL = e.union(e.select(col("v").as("u"), col("u").as("v")))
      // Materialize the large-star frontier between the phases: the
      // small-star phase reads it (and its own two consumers read blocks,
      // not recomputations), and largeStar's output orientation (v < u)
      // feeds smallStarOriented directly — no symmetrize-then-refilter.
      // LAZY checkpoints throughout the round: the ONE signature action
      // below computes large-star (cached at its checkpoint boundary —
      // small-star's two consumers, the min aggregate and the re-attach
      // probe, run in the same zero-exchange stage, so the second read
      // hits the block computed by the first), then the new frontier, and
      // the fixpoint signature — a single job per round (r07;
      // PageRank.iterate has the same single-action design). afterLarge
      // may only be released AFTER that job — its lineage is truncated,
      // so dropping its blocks earlier would make the lazy frontier
      // irrecoverable.
      val afterLarge = largeStar(bidirL, PrRound).localCheckpoint(false)
      val next = smallStarOriented(afterLarge, PrRound)
        .localCheckpoint(false)
      val sig = signature(next)
      releaseCheckpoint(afterLarge)
      rounds += 1
      stable = sig == prevSig
      prevSig = sig

      checkpoint match {
        case Durable(runDir, every) if rounds % every == 0 || stable =>
          Supersteps.commit(spark, runDir, rounds, next,
            Map("round" -> rounds.toDouble, "frontier_edges" -> sig._1.toDouble,
              "stable" -> (if (stable) 1.0 else 0.0)))
        case _ => ()
      }
      releaseCheckpoint(e)
      e = next
    }

    // At fixpoint the edge set is a star forest: every non-root points at
    // its component min. Roots (and isolated vertices) map to themselves.
    val mapping = e.select(col("u").as("id"), col("v").as("component"))
    val components = graft.core.IterationConf.rebind(allVerts, spark)
      .join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint(true) // self-contained result; release inputs below
    allVerts.unpersist(false)
    CcResult(graft.core.IterationConf.rebind(components, callerSpark), rounds)
    }
  }

  // Direct top-level LogicalRDD only — a deep collectFirst could reach a
  // CALLER-supplied checkpointed RDD through the round-0 frontier's plan
  // and unpersist it (see PageRank.checkpointRdd, r07 fix).
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  private def signature(e: DataFrame): (Long, Long) = {
    // bit_xor: order-insensitive, overflow-free (edge set is distinct).
    val r = e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }
}
