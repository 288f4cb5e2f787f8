package graft.functions

import graft.textops.Dedup.md5Hash60
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed sketches — the approximate primitives a
  * 100 TB training-data pipeline runs instead of exact global
  * aggregations (cardinality per shard, uniform samples for eval sets).
  *
  * Two departures from the stock implementations
  * (`approx_count_distinct` = HyperLogLog++, `TABLESAMPLE`), both
  * deliberate:
  *
  *   1. **Deterministic and engine-portable by construction.** The hash
  *      is the engine's md5-derived 60-bit uniform (textops.Dedup
  *      .md5Hash60), register ranks are exact integer/string ops
  *      (`length(bin(w))` — no float log), and the register sum is kept
  *      as a BIGINT (Σ 2^(53-M_j) scaled by 2^53, ≤ 256·2^52 < 2^63) so
  *      no floating-point addition order exists anywhere in the
  *      pipeline: the same input yields the bit-identical estimate at
  *      any parallelism, on any engine — which is what lets the DuckDB
  *      oracle (q_hll_distinct) hash-match the estimate itself, not just
  *      eyeball it.
  *   2. **Mergeable state is first-class.** `hllRegisters` exposes the
  *      256-register vector (one tiny row per register) so per-shard /
  *      per-day sketches union + `max` into a global one — the sketch
  *      algebra (Flajolet et al., "HyperLogLog", AofA 2007) that makes
  *      cardinality a map-side-combinable aggregation at any scale.
  *
  * Estimator: raw HLL E = alpha_m · m² / Σ 2^(−M_j) with the standard
  * small-range linear-counting correction (E ≤ 2.5m and empty registers
  * → m·ln(m/V)) applied in `hllEstimate`; the oracle query targets the
  * raw regime (n ≫ 2.5m) where both branches coincide, so no
  * platform-`ln` enters the checked value.
  */
object Sketches {

  /** Register count m = 2^P. P = 8 → 256 registers, ~6.5% std error. */
  val P: Int = 8
  val M: Int = 1 << P

  /** alpha_256 = 0.7213 / (1 + 1.079/256) — Flajolet et al.'s bias
    * constant, written as the exact double literal both engines parse.
    */
  val Alpha: Double = 0.7213 / (1.0 + 1.079 / 256.0)

  /** Per-row (bucket, rank): bucket = top P bits of the 60-bit hash,
    * rank = 1 + leading zeros of the remaining 52 bits (in [1, 53]).
    * `length(bin(w))` is the integer bit-length — rank math never
    * touches floats.
    */
  def bucketRank(key: Column, seed: Int = 0): (Column, Column) = {
    val h = md5Hash60(key.cast("string"), seed)
    val bucket = shiftright(h, 60 - P)
    val w = h.bitwiseAND(lit((1L << (60 - P)) - 1)).bitwiseAND(lit((1L << 52) - 1))
    val rank = when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w)).cast("int"))
    (bucket, rank)
  }

  /** Sketch state: one row per occupied register, (bucket, r = max rank).
    * Mergeable: union register tables from any number of shards and
    * re-aggregate with `max(r)`.
    */
  def hllRegisters(df: DataFrame, key: Column, seed: Int = 0): DataFrame = {
    val (bucket, rank) = bucketRank(key, seed)
    df.select(bucket.as("bucket"), rank.as("rank"))
      .groupBy(col("bucket")).agg(max(col("rank")).as("r"))
  }

  /** One-row summary from a register table:
    * (occupied, s_scaled = Σ 2^(53−M_j) over occupied registers as
    * BIGINT, estimate). Empty registers contribute 2^53 each to the
    * scaled sum — added as exact integers on the driver side of the
    * expression. The division and multiplication by Alpha are the ONLY
    * float ops, applied once to integer-exact operands in a fixed
    * expression order.
    */
  def hllEstimate(registers: DataFrame): DataFrame = {
    val agg = registers.agg(
      count(lit(1)).as("occupied"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - r)")).as("s_occupied"))
    val sScaled = col("s_occupied") + (lit(M.toLong) - col("occupied")) * lit(1L << 53)
    val raw = lit(Alpha * M.toDouble * M.toDouble * 9007199254740992.0) / sScaled.cast("double")
    val zeros = lit(M.toLong) - col("occupied")
    val est = when(raw <= lit(2.5 * M) && zeros > 0L,
      lit(M.toDouble) * log(lit(M.toDouble) / zeros.cast("double"))).otherwise(raw)
    agg.select(col("occupied"), sScaled.cast("long").as("s_scaled"),
      round(est, 6).as("estimate"))
  }

  /** Deterministic uniform sample: the k rows with the smallest
    * md5Hash60(key) — a distributed, reproducible, engine-portable
    * bottom-k "reservoir" (order statistics of a uniform hash are a
    * uniform sample; bottom-k sketches per Cohen & Kaplan 2007).
    * TopK-style: a per-partition bottom-k then a global bottom-k, all
    * expressed as one ORDER BY + LIMIT that Spark executes as
    * TakeOrderedAndProject (no full sort, no shuffle of non-winners).
    */
  def deterministicSample(df: DataFrame, key: Column, k: Int, seed: Int = 0): DataFrame =
    df.withColumn("__h", md5Hash60(key.cast("string"), seed))
      .orderBy(col("__h"), key.cast("string"))
      .limit(k)
      .drop("__h")
}
