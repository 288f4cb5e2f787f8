package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew-taming primitives (north rule: "explicit range/degree-
  * aware repartitioning and salting to tame hub-paper skew") — the
  * manual fallbacks for when AQE's runtime skew split can't apply
  * (first-shuffle skew, deterministic-layout requirements) or a dim side
  * is too big to broadcast but hub keys have 10^6+ fanout.
  *
  * All salts are DETERMINISTIC functions of row content (never rand()):
  * results are identical at any parallelism, per SURVEY.md §7.6.4.
  */
object Skew {

  /** Two-phase (salted) aggregation: sum `valueCol` per `key` by first
    * combining within (key, salt) groups, then across salts. Equivalent
    * to groupBy(key).sum but a 10^7-row hot key is reduced by S parallel
    * tasks before the final (tiny) per-key combine.
    *
    * (HashAggregate's map-side partial combine already does this when
    * upstream partitioning is random; the explicit form matters when the
    * input is pre-partitioned BY KEY — then partial aggregation is a
    * no-op and one task owns the whole hot key.)
    */
  def saltedSum(df: DataFrame, key: Column, valueCol: Column, salts: Int,
                saltSource: Column): DataFrame = {
    require(salts >= 1)
    df.groupBy(key.as("key"), pmod(xxhash64(saltSource), lit(salts.toLong)).as("__salt"))
      .agg(sum(valueCol).as("__partial"))
      .groupBy(col("key"))
      .agg(sum(col("__partial")).as("sum"))
  }

  /** Salted equi join for a skewed fact side: fact rows get a
    * deterministic salt in [0, S); each dim row is replicated S ways; the
    * join key becomes (key, salt) — a hot fact key spreads over S tasks.
    * Result == fact.join(dim, key) exactly (inner join, dim unique-keyed
    * or not — replication is by salt, not by row multiplication).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
                 saltSource: Column): DataFrame = {
    require(salts >= 1)
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(salts.toLong)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
