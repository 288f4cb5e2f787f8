package graft.core

import org.apache.spark.sql.{DataFrame, GraftSessionBridge, SparkSession}

/** Loop-scoped session conf for iterative algorithms.
  *
  * Inside a superstep loop the join inputs are already co-partitioned by
  * the iteration key, so the planner's adaptive tricks only hurt:
  *  - auto-broadcast would collect the full vertex state to the driver
  *    EVERY iteration (measured: ~3s/iteration on a 100k-vertex state);
  *  - AQE partition coalescing changes partition counts mid-loop, breaking
  *    the co-partitioning reuse and re-introducing per-iteration shuffles;
  *  - `spark.sql.shuffle.partitions` must be sized to the LOOP data
  *    (sizedPartitions), not the session default.
  *
  * `withLoopSession` runs the loop body on a CLONED session — isolated
  * conf over the same SparkContext, shared CacheManager — so concurrent
  * queries on the caller's session can never observe loop confs and the
  * loop can never clobber a concurrent loop's partition sizing. Nothing
  * to restore.
  */
object IterationConf {

  /** Run `body` against a loop-tuned clone of `spark`: AQE off,
    * auto-broadcast off, shuffle partitions = `loopParts`. The caller's
    * session conf is never touched (thread-safe by construction).
    * Re-bind loop inputs into the clone with `rebind(df, loopSpark)` and
    * results back with `rebind(result, spark)` so downstream caller
    * queries keep the caller's conf (AQE, broadcast) — checkpointed /
    * cached fragments are shared through SharedState either way.
    *
    * Lifecycle: a clone cannot be stop()ed (that would stop the shared
    * SparkContext); its SessionState and listener-bus registration are
    * reclaimed when the clone is GC'd (Spark holds them weakly), so a
    * loop-per-call service retains at most the clones created since the
    * last GC — bounded, but worth knowing in a long-lived driver.
    */
  def withLoopSession[A](spark: SparkSession, loopParts: Int)(body: SparkSession => A): A = {
    val loop = GraftSessionBridge.cloneSession(spark)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    loop.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    body(loop)
  }

  /** Re-bind a DataFrame's plan to another session (same SparkContext). */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    GraftSessionBridge.ofRows(to, df.queryExecution.logical)

  /** Partition count sized to the LOOP data, not the session default.
    * With AQE coalescing off inside a superstep loop (see above), a tiny
    * frontier would otherwise pay `spark.sql.shuffle.partitions` empty
    * tasks per stage, per round — pure scheduler fixed cost that at
    * sf0.1 made connected components 34% of the whole query sweep. The
    * loop's work per round is O(rows), so cap partitions at rows / 250k
    * (floor 1, ceiling the session default: a 10^12-row frontier keeps
    * every partition). r07 measured 250k against 65k for the label
    * loops (P 10 -> 32 at sf0.1): the extra task launches and P x P
    * shuffle blocks cost more than the added cores returned. The system
    * property `graft.loop.target.rows` overrides the 250k (specs force
    * P > 1 with it).
    */
  def sizedPartitions(sessionParts: Int, rows: Long): Int = {
    val target = sys.props.get("graft.loop.target.rows").map(_.toLong).getOrElse(250000L)
    math.max(1L, math.min(sessionParts.toLong, (rows + target - 1) / target)).toInt
  }
}
