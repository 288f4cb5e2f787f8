package graft.sources

import graft.SparkSpec

/** S5 — keyed upsert + atomic commit semantics (the reference's
  * REPLACE INTO contract: update_links.py:84-90), over the
  * partition-scoped bucket layout.
  */
class TableUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/t"

  test("insert, replace-by-key, keep-unmatched") {
    val dir = freshDir()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    TableUpsert.upsert(spark, dir, base, Seq("k"))
    val upd = Seq((2L, "B"), (4L, "d")).toDF("k", "v")
    TableUpsert.upsert(spark, dir, upd, Seq("k"))
    val got = TableUpsert.read(spark, dir).get.as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("versions advance and the pointer resolves the newest") {
    val dir = freshDir()
    TableUpsert.upsert(spark, dir, Seq((1L, 1)).toDF("k", "n"), Seq("k"))
    TableUpsert.upsert(spark, dir, Seq((1L, 2)).toDF("k", "n"), Seq("k"))
    assert(TableUpsert.readState(spark, dir).map(_.version).contains(2L))
    assert(TableUpsert.read(spark, dir).get.select("n").as[Int].collect().toSeq == Seq(2))
  }

  test("a crashed writer (orphan staging + lock, pointer untouched) leaves the table unchanged") {
    val dir = freshDir()
    TableUpsert.upsert(spark, dir, Seq((1L, "ok")).toDF("k", "v"), Seq("k"))
    // simulate a torn v2 commit: staged data + claimed lock, pointer never moved
    Seq((1L, "torn")).toDF("k", "v").write.parquet(s"$dir/_staging_v2/__bucket=0")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_lock_v2"))
    assert(TableUpsert.readState(spark, dir).map(_.version).contains(1L))
    assert(TableUpsert.read(spark, dir).get.select("v").as[String].collect().toSeq == Seq("ok"))
    // the next successful upsert SKIPS the claimed number (lock v2 held)
    TableUpsert.upsert(spark, dir, Seq((2L, "x")).toDF("k", "v"), Seq("k"))
    assert(TableUpsert.readState(spark, dir).map(_.version).contains(3L))
    val got = TableUpsert.read(spark, dir).get.as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "ok"), (2L, "x")))
  }

  test("absent table reads as None; first upsert creates v1") {
    val dir = freshDir()
    assert(TableUpsert.read(spark, dir).isEmpty)
    TableUpsert.upsert(spark, dir, Seq((9L, 9)).toDF("k", "n"), Seq("k"))
    assert(TableUpsert.readState(spark, dir).map(_.version).contains(1L))
  }

  test("partition-scoped merge: untouched buckets' files are byte-identical across a commit") {
    val dir = freshDir()
    // 200 keys spread over 8 buckets
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    TableUpsert.upsert(spark, dir, base, Seq("k"), numBuckets = 8)
    val st1 = TableUpsert.readState(spark, dir).get
    assert(st1.bucketVersions.values.forall(_ == 1L))

    def bucketFiles(b: Int, v: Long): Map[String, Array[Byte]] = {
      val d = java.nio.file.Paths.get(dir, s"bucket=$b", s"v$v")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> java.nio.file.Files.readAllBytes(p))
        .toMap
    }
    val before = (0 until 8).map(b => b -> bucketFiles(b, 1L)).toMap

    // a single-key update touches exactly one bucket
    TableUpsert.upsert(spark, dir, Seq((7L, "SEVEN")).toDF("k", "v"), Seq("k"))
    val st2 = TableUpsert.readState(spark, dir).get
    val touched = st2.bucketVersions.filter(_._2 == 2L).keys.toSeq
    assert(touched.size == 1, s"one bucket should move to v2, got $touched")

    // every untouched bucket still points at v1 and its files are the SAME BYTES
    st2.bucketVersions.filter(_._2 == 1L).keys.foreach { b =>
      val after = bucketFiles(b, 1L)
      assert(after.keySet == before(b).keySet, s"bucket $b file set changed")
      after.foreach { case (name, bytes) =>
        assert(java.util.Arrays.equals(bytes, before(b)(name)), s"bucket $b/$name bytes changed")
      }
    }
    // and the merged read is still key-wise correct
    val got = TableUpsert.read(spark, dir).get.as[(Long, String)].collect().toMap
    assert(got(7L) == "SEVEN" && got(8L) == "v8" && got.size == 200)
  }

  test("empty update batch commits cleanly and returns an empty frame") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_empty").toString
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    // fresh table: nothing to read back yet -> empty frame, no throw
    assert(TableUpsert.upsert(spark, dir, empty, Seq("k")).count() == 0L)
    // populated table: an empty batch must not disturb committed rows
    TableUpsert.upsert(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    val after = TableUpsert.upsert(spark, dir, empty, Seq("k"))
    assert(after.as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b"))
  }
}
