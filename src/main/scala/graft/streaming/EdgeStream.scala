package graft.streaming

import graft.ingest.{Edge, EdgeExtraction}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming ingest: the batch edge-derivation semantics
  * (ingest.EdgeExtraction) over an UNBOUNDED corpus stream — the shape a
  * continuously-crawled corpus lands in (`readStream` over a landing
  * directory → these transforms → `writeStream`).
  *
  * Design:
  *  - the per-language reference explode is stateless, so the exact
  *    batch projection/generator is reused verbatim;
  *  - resolution is a STREAM-STATIC join against a broadcast module
  *    dimension snapshot (module definitions change slowly and a snapshot
  *    refresh is a restart with the same checkpoint); stream-STREAM
  *    correlation exists only in the interval-bounded form
  *    (`edgeScoreJoin`), where both watermarks give the engine a state
  *    eviction horizon;
  *  - event-time analytics use watermarked windowed aggregation (late
  *    rows beyond the watermark are dropped deterministically);
  *  - running per-source totals keep custom state via
  *    mapGroupsWithState — O(#distinct sources) state, each group a
  *    single long; gap-based sessions use flatMapGroupsWithState with
  *    event-time timeouts (`sourceSessions`).
  *
  * Every operator here is checkpointable through the engine's normal
  * `writeStream.option("checkpointLocation", ...)` path; resume
  * semantics come from Spark's offset/state store, complementing the
  * batch engine's Supersteps commits.
  */
object EdgeStream {

  /** A resolved edge with its arrival event time — the input contract of
    * the event-time operators (interval join, sessionization).
    */
  final case class TimedEdge(src: Long, dst: Long, ts: java.sql.Timestamp)

  /** A closed per-source activity session (gap-based). */
  final case class SourceSession(
      src: Long, start: java.sql.Timestamp, end: java.sql.Timestamp, n: Long)

  /** Unresolved (src, ref_module) reference stream — stateless. */
  def references(corpusStream: DataFrame): DataFrame =
    EdgeExtraction.references(corpusStream)

  /** Resolved edge stream via the broadcast module-dimension snapshot.
    * Append-mode safe: no streaming state at all.
    */
  def edges(corpusStream: DataFrame, moduleDim: DataFrame): DataFrame =
    references(corpusStream)
      .join(broadcast(moduleDim), col("ref_module") === col("module"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))

  /** Edge arrivals per (event-time window, dst): watermarked windowed
    * aggregation — the streaming twin of the in-degree histogram. Rows
    * later than `lateness` past the watermark are dropped.
    */
  def windowedInDegree(
      edgesWithTime: DataFrame,
      windowLength: String = "10 minutes",
      lateness: String = "5 minutes"
  ): DataFrame =
    edgesWithTime
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("dst"))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup — the streaming face of the batch dedup
    * family (textops.Dedup.exact): drop repeats of `keyCols` arriving
    * within the watermark horizon. dropDuplicatesWithinWatermark keeps
    * state only for `lateness` of event time (bounded state — the 100 TB
    * answer; an unbounded dropDuplicates would grow state forever), so a
    * duplicate arriving later than the horizon is deliberately re-kept:
    * the contract is "exactly-once within the lateness window", and the
    * batch exact-dedup pass downstream remains the global guarantee.
    */
  def dedupWithinWatermark(
      withTime: DataFrame,
      keyCols: Seq[String],
      lateness: String = "10 minutes"
  ): DataFrame =
    withTime
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream INTERVAL join: pair each resolved edge
    * with the destination's score events arriving within `bound` of the
    * edge's own event time. Both sides carry watermarks and the join
    * condition bounds event-time distance in BOTH directions, so the
    * engine can compute a state-eviction horizon — buffered state stays
    * bounded by (rate × (lateness + bound)), never by stream length
    * (the 100 TB answer; an unconstrained stream-stream join buffers
    * forever). Inner join: an edge with no score event inside the bound
    * is dropped — the batch-side join remains the all-time answer.
    *
    * edges: (src, dst, ts); scores: (score_dst, score, score_ts).
    */
  def edgeScoreJoin(
      edges: DataFrame,
      scores: DataFrame,
      lateness: String = "10 minutes",
      bound: String = "5 minutes"
  ): DataFrame = {
    val e = edges.withWatermark("ts", lateness)
    val s = scores.withWatermark("score_ts", lateness)
    e.join(s,
      col("dst") === col("score_dst") &&
        col("score_ts") >= col("ts") - expr(s"INTERVAL $bound") &&
        col("score_ts") <= col("ts") + expr(s"INTERVAL $bound"))
      .select(col("src"), col("dst"), col("ts"), col("score"), col("score_ts"))
  }

  /** Gap-based per-source sessionization via flatMapGroupsWithState —
    * the custom-state shape mapGroupsWithState can't express (a closing
    * session and a fresh one must BOTH leave the same invocation, so the
    * output is an iterator). A session is a maximal run of a source's
    * edges with consecutive gaps <= `gapMs` of EVENT time. A session is
    * emitted only once it is FINAL — when the watermark has passed
    * end+gap, so no event the watermark still admits can extend or merge
    * it (the same closure rule as Spark's session_window). Until then it
    * stays in state, even if a later same-key event has already opened a
    * newer session: an in-`lateness` straggler must be able to land in
    * the session it belongs to, not be mis-attached to the newest one
    * (ADVICE r6 — eager closure of non-latest sessions split sessions
    * across batches). State per key is the list of not-yet-final
    * sessions — bounded by the distinct ACTIVE key count times the few
    * sessions per key inside one lateness horizon, because final
    * sessions leave the store. Late rows older than the watermark
    * `lateness` are dropped before grouping (deterministic, same rule as
    * the windowed aggregates).
    */
  def sourceSessions(
      edges: Dataset[TimedEdge],
      gapMs: Long = 600000L,
      lateness: String = "10 minutes"
  ): Dataset[SourceSession] = {
    val spark = edges.sparkSession
    import spark.implicits._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    edges
      .withWatermark("ts", lateness)
      .groupByKey(_.src)
      .flatMapGroupsWithState[List[(Long, Long, Long)], SourceSession](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (src: Long, rows: Iterator[TimedEdge], state: GroupState[List[(Long, Long, Long)]]) =>
          // One body serves both the data and the timeout invocation: on
          // timeout `rows` is empty and the merge is the identity.
          //
          // Rows are unordered within a micro-batch, and an event
          // admitted by the watermark may even precede an open session's
          // start (out-of-order arrival across batches). So: sort
          // (start, start, 1) singletons together with the kept state
          // sessions by start and coalesce any neighbors within `gapMs`
          // — an order-insensitive fold (a naive "tm - end <= gap"
          // absorbs any BACKWARD event, however far before the session).
          val wm = state.getCurrentWatermarkMs()
          val pieces = state.getOption.getOrElse(Nil) ++ rows.map(r => (r.ts.getTime, r.ts.getTime, 1L))
          val merged = pieces.sortBy(_._1).foldLeft(List.empty[(Long, Long, Long)]) {
            case (h :: rest, s) if s._1 <= h._2 + gapMs =>
              (h._1, math.max(h._2, s._2), h._3 + s._3) :: rest
            case (acc, s) => s :: acc
          }.reverse
          // Final = the watermark passed end+gap, so no admissible event
          // (ts >= wm can still merge when ts == end+gap, hence strict <)
          // can reach it. Everything else — including sessions older than
          // the newest — stays in state for in-lateness stragglers.
          val (fin, open) = merged.partition(se => se._2 + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // fire when the earliest kept session becomes final; the API
            // requires the timeout strictly past the current watermark
            // (`open` is start-sorted, sessions > gapMs apart: head ends first)
            state.setTimeoutTimestamp(math.max(open.head._2 + gapMs, wm + 1))
          }
          fin.iterator.map { case (s0, e0, n0) => SourceSession(src, t(s0), t(e0), n0) }
      }
  }

  /** Cumulative out-degree per source across batches — explicit keyed
    * state via mapGroupsWithState (update output mode). State is one long
    * per distinct source.
    *
    * TTL is an explicit OPT-IN (ADVICE r5 — a defaulted TTL silently
    * turned all-time totals into per-activity-epoch totals for existing
    * callers, and re-emitted a duplicate (src, total) row on timeout):
    *  - `ttl = None` (the default): classic all-time cumulative counts,
    *    `NoTimeout`, state never dropped — bounded only by the distinct
    *    key count;
    *  - `ttl = Some(d)`: the key set is unbounded on a crawled corpus, so
    *    each group carries a processing-time TTL — a source idle for `d`
    *    has its state dropped (the timed-out invocation re-emits the
    *    final total, then removes), and a source that reappears later
    *    counts from zero. The contract becomes "cumulative within an
    *    activity epoch"; the batch degree aggregation remains the
    *    all-time answer.
    *
    * Deployment note (TTL mode): processing-time timers make the engine
    * schedule a micro-batch EVERY trigger even with no new data (timers
    * are wall-clock driven), so run that sink with an explicit
    * `Trigger.ProcessingTime(...)` interval — under the default
    * zero-interval trigger the query busy-loops empty batches, and
    * `processAllAvailable()` never observes a quiescent stream.
    */
  def cumulativeOutDegree(edges: Dataset[Edge], ttl: Option[String] = None): Dataset[(Long, Long)] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val timeoutConf = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    edges
      .groupByKey(_.src)
      .mapGroupsWithState[Long, (Long, Long)](timeoutConf) {
        (src: Long, rows: Iterator[Edge], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.getOrElse(0L)
            state.remove()
            (src, last)
          } else {
            val total = state.getOption.getOrElse(0L) + rows.size
            state.update(total)
            ttl.foreach(state.setTimeoutDuration)
            (src, total)
          }
      }
  }
}
