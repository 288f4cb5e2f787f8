package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S5 — keyed upsert ("MERGE") into a parquet table with an atomic
  * version swap: the engine analog of the reference's MySQL
  * `REPLACE INTO` upserts (update_links.py:84-90, the per-author row
  * replacement; extract_scigene_field.py's table reloads), re-expressed
  * for an object-store table layout where rows cannot be mutated in
  * place.
  *
  * == Layout (partition-scoped merge — 100 TB-sane) ==
  * Rows live in `bucket=hash(key)%B` subdirectories, each at its own
  * committed version:
  *
  *   table/_current            pointer: table version + bucket→version map
  *   table/bucket=3/v7/  (parquet files)
  *   table/_lock_v8            in-flight version claim (removed on commit)
  *
  * An upsert merges ONLY the buckets its update batch touches:
  *
  *   merged  = updates UNION (current[touched buckets] ANTI-JOIN updates)
  *   commit  = one job writes merged partitioned by bucket into a staging
  *             dir; each staged bucket is renamed to `bucket=b/v<N>/`;
  *             the `_current` pointer (bucket→version map) swaps
  *             atomically
  *
  * Untouched buckets' files are never opened, rewritten, or moved — a
  * commit's I/O is proportional to the update batch, not the table.
  *
  * Readers resolve through `_current`, so they see the previous version
  * until the instant the pointer moves — key-wise last-writer-wins with
  * all-or-nothing visibility, which is exactly the observable contract
  * of the reference's transactional REPLACE. A crashed writer leaves a
  * dangling staging dir / lock marker and an untouched pointer: the
  * table is unchanged (same commit protocol as graph.Supersteps; this is
  * also precisely the seam where an Iceberg `MERGE INTO` drops in when
  * its runtime jar is on the classpath).
  *
  * == Concurrency ==
  * A writer CLAIMS its version number before writing by atomically
  * creating `_lock_v<N>` (create with overwrite=false — atomic on HDFS;
  * a conditional put on object stores), retrying on the next number if
  * taken; a FAILED attempt keeps its lock so its version number (and any
  * partial `bucket=<b>/v<N>` leftovers) can never be re-claimed. Two
  * racing writers therefore write disjoint version directories, and each
  * re-reads the freshest pointer just before its swap so commits to
  * DISJOINT buckets compose in practice. The swap itself is still a
  * whole-file last-writer-wins (plain filesystems have no compare-and-
  * swap): truly concurrent commits can lose the earlier pointer in the
  * re-read→rename window, so strict serialization needs a single writer
  * per table (or the Iceberg seam's optimistic commit protocol) — the
  * same operational contract as the reference's single MySQL writer.
  *
  * Scale: one shuffle (the anti join on the key) over only the touched
  * buckets' data; the update side is broadcast when small. No
  * driver-side row handling (the per-bucket rename loop moves
  * directories, never rows).
  */
object TableUpsert {

  /** Committed state: table version, bucket count fixed at creation,
    * and each data-bearing bucket's owning version.
    */
  final case class TableState(version: Long, numBuckets: Int, bucketVersions: Map[Int, Long])

  private def fs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Parse the committed pointer, if any. */
  def readState(spark: SparkSession, tableDir: String): Option[TableState] = {
    val (f, p) = fs(spark, tableDir)
    val ptr = new org.apache.hadoop.fs.Path(p, "_current")
    if (!f.exists(ptr)) None
    else {
      val in = f.open(ptr)
      val lines =
        try scala.io.Source.fromInputStream(in).getLines().map(_.trim).filter(_.nonEmpty).toVector
        finally in.close()
      if (lines.isEmpty) None
      else {
        // Pre-bucketed-state pointers were a single line like "v3"; any
        // line without '=' is that legacy layout (or corruption). Fail
        // with an explicit message instead of a MatchError — the legacy
        // layout stored one flat dir per version and cannot be mapped
        // onto bucketed state without a rewrite.
        lines.find(!_.contains("=")).foreach { bad =>
          throw new IllegalStateException(
            s"unsupported legacy/corrupt _current pointer in $tableDir (line '$bad'): " +
              "pre-bucketed tables must be re-written via a fresh upsert into a new tableDir")
        }
        val kv = lines.map { l => val Array(k, v) = l.split("=", 2); (k, v) }.toMap
        Some(TableState(
          kv("version").toLong,
          kv("buckets").toInt,
          lines.collect { case l if l.startsWith("b:") =>
            val Array(b, v) = l.stripPrefix("b:").split("=", 2)
            b.toInt -> v.toLong
          }.toMap))
      }
    }
  }

  /** The committed table contents — ONE parquet scan over every bucket's
    * committed version directory (None if nothing is committed yet).
    */
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] =
    readState(spark, tableDir).flatMap { st =>
      val paths = st.bucketVersions.toSeq.sortBy(_._1)
        .map { case (b, v) => s"$tableDir/bucket=$b/v$v" }
      if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
    }

  /** Upsert `updates` by `keyCols`: rows whose key exists in `updates`
    * are replaced, all other current rows are kept, new keys are
    * inserted. Returns the newly committed version's DataFrame. If
    * `updates` carries several rows per key they are all kept (mirror
    * the reference: REPLACE INTO with a multi-row VALUES keeps each
    * inserted row); dedupe upstream if last-one-wins within the batch is
    * wanted. `numBuckets` fixes the layout at table creation and is
    * ignored afterwards.
    */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
             keyCols: Seq[String], numBuckets: Int = 16): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val (f, root) = fs(spark, tableDir)
    f.mkdirs(root)
    val st = readState(spark, tableDir)
    val B = st.map(_.numBuckets).getOrElse(numBuckets)
    val bucketOf = pmod(xxhash64(keyCols.map(col): _*), lit(B.toLong)).cast("int")
    val upd = updates.withColumn("__bucket", bucketOf)

    // ---- claim the version: atomic create of a lock marker -------------
    var n = st.map(_.version + 1).getOrElse(1L)
    var lock: org.apache.hadoop.fs.Path = null
    var attempts = 0
    while (lock == null && attempts < 10000) {
      val cand = new org.apache.hadoop.fs.Path(root, s"_lock_v$n")
      try {
        val out = f.create(cand, false) // overwrite=false: atomic claim
        out.close()
        lock = cand
      } catch {
        case _: java.io.IOException => n += 1; attempts += 1
      }
    }
    require(lock != null, s"could not claim a version for $tableDir after $attempts attempts")

    // pin the updates plan: the touched-bucket collect and the staging
    // write must see the SAME rows even for nondeterministic inputs
    // (sample/limit/rand), or the touched set and staged dirs diverge
    upd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var committed = false
    try {
      val merged = st match {
        case None => upd // creation: every staged bucket is new — no
        // current rows to merge, so the touched-bucket collect job is
        // skipped entirely (r07)
        case Some(s) =>
          // touched buckets: at most B driver-side ints, never data rows
          val touched = upd.select(col("__bucket")).distinct()
            .collect().map(_.getInt(0)).sorted.toSeq
          val curPaths = touched.flatMap(b => s.bucketVersions.get(b)
            .map(v => s"$tableDir/bucket=$b/v$v"))
          if (curPaths.isEmpty) upd
          else {
            val current = spark.read.parquet(curPaths: _*).withColumn("__bucket", bucketOf)
            // column-pruned anti join; Catalyst broadcasts small update sides
            upd.unionByName(
              current.join(upd.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti"))
          }
      }
      // ONE write job for every touched bucket (partitionBy drops the
      // synthetic __bucket column from the data files), then a per-bucket
      // directory rename — metadata ops, no data movement. The rename
      // source of truth is what was actually STAGED (listed back), and a
      // failed rename aborts the commit rather than silently committing a
      // pointer to a missing directory.
      val staging = s"$tableDir/_staging_v$n"
      // Cluster by bucket before the staged write (guide §6 output
      // sizing): each bucket's version dir gets ONE file instead of one
      // per (write task x bucket) — B files per commit, not tasks x B,
      // which keeps the rename loop, the pointer-resolved read's listing,
      // and long-term file counts proportional to the touched buckets.
      // Bucket sizing (numBuckets at creation) controls file size.
      merged.repartition(col("__bucket"))
        .write.mode("overwrite").partitionBy("__bucket").parquet(staging)
      val staged = f.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("__bucket="))
        .map(p => p.getName.stripPrefix("__bucket=").toInt -> p)
        .sortBy(_._1)
      staged.foreach { case (b, src) =>
        val dstDir = new org.apache.hadoop.fs.Path(s"$tableDir/bucket=$b")
        f.mkdirs(dstDir)
        val dst = new org.apache.hadoop.fs.Path(dstDir, s"v$n")
        require(f.rename(src, dst), s"rename $src -> $dst failed; aborting commit")
      }
      f.delete(new org.apache.hadoop.fs.Path(staging), true)

      // ---- atomic pointer swap -----------------------------------------
      // Re-read the freshest committed map and overlay ONLY this commit's
      // staged buckets, so a concurrent writer's commit to DISJOINT
      // buckets is not reverted by our stale snapshot. (The swap itself
      // is whole-file last-writer-wins — see the concurrency note above.)
      val base = readState(spark, tableDir).map(_.bucketVersions)
        .getOrElse(st.map(_.bucketVersions).getOrElse(Map.empty[Int, Long]))
      val newMap = base ++ staged.map(_._1 -> n)
      val body = (Seq(s"version=$n", s"buckets=$B") ++
        newMap.toSeq.sortBy(_._1).map { case (b, v) => s"b:$b=$v" }).mkString("\n")
      val tmp = new org.apache.hadoop.fs.Path(root, s"_current.tmp$n")
      val out = f.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val ptr = new org.apache.hadoop.fs.Path(root, "_current")
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        root.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      committed = true
      // empty-batch upsert of a fresh table commits an empty map: return
      // an empty frame with the updates' schema rather than throwing
      read(spark, tableDir).getOrElse(updates.limit(0))
    } finally {
      upd.unpersist(false)
      // release the claim ONLY on success: a failed attempt keeps its
      // lock so the version number is burned and no later writer can
      // rename over this attempt's partial bucket=*/v<n> leftovers
      if (committed) f.delete(lock, false)
    }
  }
}
