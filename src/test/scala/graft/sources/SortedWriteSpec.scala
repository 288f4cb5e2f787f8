package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** S6 — index-build parity: the engine's write paths sort within
  * partitions before writing parquet (the analog of the reference's
  * post-load index build, extract_scigene_field.py:143-153) so that
  * per-row-group min/max statistics actually PRUNE selective reads.
  * This spec measures the pruning: the same data written sorted vs
  * scattered, read back with the same pushed-down point filter, must
  * touch a small fraction of the rows (recordsRead task metric).
  */
class SortedWriteSpec extends SparkSpec {

  /** Total records read by parquet scans while running `action`. */
  private def recordsRead(action: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) acc.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // listener bus is async: wait for the metric to go quiet
      var last = -1L
      var spins = 0
      while (acc.get() != last && spins < 50) { last = acc.get(); Thread.sleep(100); spins += 1 }
      acc.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sortWithinPartitions write yields row-group stats that prune a point read") {
    val n = 1000000L
    val df = spark.range(n).select(col("id"), pmod(col("id") * 37, lit(999983)).as("v"))
    val base = java.nio.file.Files.createTempDirectory("graft-s6").toString
    val sortedPath = s"$base/sorted"
    val scatteredPath = s"$base/scattered"
    // small row groups so a selective filter CAN skip most of them
    val rowGroupBytes = (64 * 1024).toString
    df.repartition(4, pmod(col("id"), lit(4)))
      .sortWithinPartitions("id")
      .write.option("parquet.block.size", rowGroupBytes).mode("overwrite").parquet(sortedPath)
    // a bare hash repartition still leaves ids locally ascending (ordered
    // upstream streams merge) and parquet page stats prune anyway — sort
    // by the unrelated column to truly scatter ids across row groups
    df.repartition(4, pmod(col("v"), lit(4)))
      .sortWithinPartitions("v")
      .write.option("parquet.block.size", rowGroupBytes).mode("overwrite").parquet(scatteredPath)

    def pointRead(path: String): (Long, Long) = {
      var out = 0L
      val read = recordsRead {
        out = spark.read.parquet(path).filter(col("id") === 123456L).count()
      }
      (out, read)
    }
    val (hitSorted, readSorted) = pointRead(sortedPath)
    val (hitScattered, readScattered) = pointRead(scatteredPath)
    assert(hitSorted == 1L && hitScattered == 1L)
    // the scattered layout must scan (almost) everything; the sorted one
    // only the row groups whose [min,max] straddle the key
    assert(readScattered > n / 2, s"scattered read only $readScattered of $n?")
    assert(readSorted < readScattered / 5,
      s"sorted layout did not prune: read $readSorted vs scattered $readScattered")
  }
}
