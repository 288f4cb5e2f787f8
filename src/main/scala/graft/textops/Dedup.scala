package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * All hashing is md5/crc32-based and expressed in Catalyst built-ins, so
  * results are reproducible by any engine (and oracle-checkable in SQL).
  *
  * Scale notes:
  *  - exact dedup is one hash-groupBy (shuffle on the digest);
  *  - candidate generation is always an inverted-index equi join
  *    (shingle → doc, band-bucket → doc) followed by exact verification —
  *    never an all-pairs cross join;
  *  - extremely common shingles become join hot keys: `maxShingleDf`
  *    drops shingles whose document frequency exceeds a cap (stop-shingle
  *    filter), the standard skew-killer for near-dup mining.
  */
object Dedup {

  /** Exact duplicates by content digest: one row per distinct text with
    * the representative (min id) and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** n-gram Jaccard similarity for all pairs sharing >= 1 shingle, with
    * exact |A∩B| / |A∪B| on the distinct shingle sets; keeps pairs with
    * jaccard >= threshold, a < b.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxShingleDf: Int = 1000
  ): DataFrame = {
    val sh = shingleTable(docs, n, idCol, textCol)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // stop-shingle filter: drop join hot keys
    val rare = sh
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select("shingle")
    val pruned = sh.join(rare, "shingle")
    val inter = pruned.select(col("id").as("a"), col("shingle"))
      .join(pruned.select(col("id").as("b"), col("shingle")), "shingle")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("raw"))
    inter
      .join(sizes.select(col("id").as("a"), col("sz").as("sz_a")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("sz_b")), "b")
      .select(
        col("a"), col("b"),
        (col("raw") / (col("sz_a") + col("sz_b") - col("raw"))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** (id, shingle) distinct character-n-gram table: text lowercased,
    * whitespace runs collapsed, shingle i = substr(text, i, n).
    */
  def shingleTable(docs: DataFrame, n: Int, idCol: String, textCol: String): DataFrame = {
    val norm = regexp_replace(lower(col(textCol)), "\\s+", " ")
    // Spread the docs across the session's partitions BEFORE shingling
    // (guide §2.5, input skew): the per-doc shingle transform is the
    // CPU-heavy interpreted step and a small/single-file doc source
    // otherwise runs it on one core (measured at sf0.1: 1.45 s on 1 of
    // 32 tasks for 200 docs). This is the cheapest spread point — one
    // exchange of the raw text bytes, before the n-fold shingle blow-up.
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(parts, col(idCol))
      .select(col(idCol).as("id"), norm.as("__t"))
      .filter(length(col("__t")) >= n)
      .select(
        col("id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("__t")) - (n - 1)),
          i => col("__t").substr(i, lit(n))
        ))).as("shingle")
      )
  }

  /** 64-bit-ish deterministic hash of a string with a seed, as a Catalyst
    * column: first 15 hex chars of md5(seed || ':' || s) parsed as a long
    * (60 bits, non-negative). Reproducible in any SQL engine with md5.
    */
  def md5Hash60(s: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), s).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** MinHash signatures: for each doc, minhash_k = min over shingles of
    * md5Hash60(shingle, k). Returns (id, sig: array<long>) with
    * `numHashes` entries.
    */
  def minhashSignatures(
      docs: DataFrame, n: Int = 5, numHashes: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"
  ): DataFrame = {
    // Repartition the shingle table before the hash projection (guide
    // §2.5, input skew): computing numHashes md5s per shingle is the
    // CPU-heavy step of the whole pipeline, and a small or single-file
    // doc source otherwise leaves it on one core (measured at sf0.1:
    // the 200-doc signature stage ran 3.1 s on 1 of 32 tasks; spread, it
    // is ~0.3 s). The exchange moves only (id, shingle) pairs — always a
    // fraction of the md5 work it unlocks.
    // shingleTable already spreads the docs across partitions, so the
    // hash projection below inherits that parallelism with no further
    // exchange (the (id, k) aggregation partial-combines before its own)
    val sh = shingleTable(docs, n, idCol, textCol)
    // One (shingle, k) row per hash instead of a 32-wide hash-array
    // projection: the md5 value per (shingle, seed) is IDENTICAL
    // (seed.toString == k as string), but the generated code compiles a
    // single hash chain instead of numHashes copies — the wide form's
    // one-time Janino cost dominated the cold query (measured at sf0.1:
    // 4.4 s cold / 1.2 s warm). min per (id, k) then reassembles the
    // signature array ordered by k.
    val hashed = sh
      .select(col("id"), col("shingle"), explode(sequence(lit(0), lit(numHashes - 1))).as("k"))
      .select(col("id"), col("k"),
        conv(substring(md5(concat(col("k").cast("string"), lit(":"), col("shingle"))
          .cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
    hashed
      .groupBy(col("id"), col("k"))
      .agg(min(col("h")).as("mh"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("k"), col("mh")))),
        x => x.getField("mh")).as("sig"))
  }

  /** MinHash + LSH near-dup pairs: band the signature, bucket-join docs
    * sharing any band, verify with the signature-estimated Jaccard
    * (fraction of equal minhashes) >= threshold.
    */
  def minhashLshPairs(
      docs: DataFrame, n: Int = 5, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, idCol: String = "doc_id", textCol: String = "text"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = minhashSignatures(docs, n, numHashes, idCol, textCol).localCheckpoint(true)
    val banded = sigs.select(
      col("id"),
      posexplode(array((0 until bands).map(b =>
        md5(concat_ws("_", (lit(b.toString) +: (0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1).cast("string"))): _*).cast("binary"))
      ): _*)).as(Seq("band", "bucket"))
    )
    val cand = banded.select(col("id").as("a"), col("band"), col("bucket"))
      .join(banded.select(col("id").as("b"), col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(sigs.select(col("id").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sig_b")), "b")
      .select(
        col("a"), col("b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x
        ).cast("double") / lit(numHashes)).as("est_jaccard")
      )
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash signature (`bits` <= 32): tokenize on whitespace, hash each
    * token with md5Hash60 (SQL-reproducible — any engine with md5 can
    * recompute the signature bit-for-bit), sum +/-1 per bit position
    * weighted by token count, sign -> bit. Returns (id, simhash: long).
    */
  def simhash(docs: DataFrame, bits: Int = 32, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bits >= 1 && bits <= 32)
    val toks = docs
      .select(col(idCol).as("id"), explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("w"))
      .withColumn("h", md5Hash60(col("tok"), 0))
    val bitSums = toks
      .groupBy(col("id"))
      .agg(array((0 until bits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("w")).otherwise(-col("w")))
      ): _*).as("sums"))
    bitSums.select(
      col("id"),
      aggregate(
        zip_with(col("sums"), sequence(lit(0), lit(bits - 1)),
          (s, b) => when(s > 0, pow(lit(2.0), b)).otherwise(lit(0.0))),
        lit(0.0), (acc, x) => acc + x
      ).cast("long").as("simhash")
    )
  }

}
