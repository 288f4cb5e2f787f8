package graft.textops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  // --- Dedup ------------------------------------------------------------

  test("exact dedup: planted duplicates collapse to min id") {
    val d = Seq((1L, "hello world"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    val got = Dedup.exact(d).collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("shingleTable: distinct character n-grams, normalized") {
    val d = Seq((1L, "ab  Ab")).toDF("doc_id", "text") // normalizes to "ab ab"
    val got = Dedup.shingleTable(d, 2, "doc_id", "text").collect().map(_.getString(1)).toSet
    assert(got == Set("ab", "b ", " a"))
  }

  test("ngram jaccard finds near-dups and skips unrelated") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog!"),
      (3L, "completely unrelated content with nothing shared at all zzz")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash LSH: near-identical docs bucket together with high est jaccard") {
    val base = "spark is a unified analytics engine for large scale data processing "
    val d = Seq(
      (1L, base * 3),
      (2L, base * 3 + "tiny tail"),
      (3L, "entirely different words live here and none of them repeat the corpus above")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(d, n = 5, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)), s"got $got")
    assert(got((1L, 2L)) > 0.5)
  }

  test("simhash: near-identical docs within hamming distance; unrelated far") {
    // Near-dup pair shares a heavily-weighted base (repeated tokens give
    // each bit-sum a wide margin, so one differing token flips few bits —
    // hamming 2 with the md5-based token hash); doc 3 is unrelated (17).
    val base = Array.fill(4)("alpha beta gamma delta epsilon zeta eta theta iota kappa").mkString(" ")
    val d = Seq(
      (1L, s"$base lambda"),
      (2L, s"$base mu"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) <= 3, s"near dup hamming=${ham(sig(1L), sig(2L))}")
    assert(ham(sig(1L), sig(3L)) > 3, s"unrelated hamming=${ham(sig(1L), sig(3L))}")
  }

  // --- Similarity --------------------------------------------------------

  test("brute-force cosine top-k: exact against in-test computation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().groupBy(_.getLong(0))

    // oracle: plain Scala
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0 else dot / (na * nb)
    }
    for (q <- Seq(0L, 1L, 2L)) {
      val want = all.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(all(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val gotIds = got(q).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      assert(gotIds == want, s"query $q: $gotIds vs $want")
    }
  }

  test("LSH top-k: candidates are a subset re-ranked exactly; recall sane") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Similarity.lshTopK(emb, queries, 3, dim, numPlanes = 16, bands = 8)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = (0L until 5L).map { q =>
      val e = exact.getOrElse(q, Set.empty)
      if (e.isEmpty) 1.0 else approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }.sum / 5
    assert(recall >= 0.4, s"LSH recall $recall suspiciously low")
  }

  test("IVF top-k: recall >= 0.9 vs brute force at nprobe=4, with a SAMPLE-fit quantizer") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // fitSampleCap below the corpus size forces the bounded-sample fit
    // path (the 100 TB shape): the quantizer trains on ~cap rows, the
    // full corpus is assigned via the broadcast-centroid projection.
    val corpusN = emb.count()
    val cap = math.max(32L, corpusN / 2)
    assert(cap < corpusN, "test needs a corpus bigger than the fit cap")
    val approx = Similarity.ivfTopK(emb, queries, 3, nlist = 5, nprobe = 4, fitSampleCap = cap)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = (0L until 5L).map { q =>
      val e = exact.getOrElse(q, Set.empty)
      if (e.isEmpty) 1.0 else approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }.sum / 5
    assert(recall >= 0.9, s"IVF recall $recall below the 0.9 bar at nprobe=4")
  }

  test("IVF fit sample: partitionHeads keeps each partition's first rows, as rdd.mapPartitions(_.take(n)) did") {
    // the RDD form is kept here only as the reference
    def perPartition(df: org.apache.spark.sql.DataFrame) = df.rdd.glom().collect().map(_.toSeq).toSeq
    def reference(df: org.apache.spark.sql.DataFrame, n: Int) =
      df.rdd.mapPartitions(_.take(n)).glom().collect().map(_.toSeq).toSeq
    val ranged = spark.range(0, 103, 1, 5).select(col("id"), (col("id") * 7 % 11).as("v"))
    for (n <- Seq(1, 4, 20, 30)) {
      val got = perPartition(Similarity.partitionHeads(ranged, n))
      assert(got == reference(ranged, n), s"n=$n")
      assert(got.map(_.size) == Seq(20, 21, 20, 21, 21).map(math.min(_, n)), s"n=$n")
    }
    val dir = java.nio.file.Files.createTempDirectory("heads").resolve("t").toString
    ranged.write.parquet(dir)
    val scanned = spark.read.parquet(dir)
    assert(scanned.rdd.getNumPartitions > 1)
    assert(perPartition(Similarity.partitionHeads(scanned, 3)) == reference(scanned, 3))
  }

  test("IVF top-k: clustered data, query's own cluster is always found with nprobe=1") {
    // 4 well-separated unit-axis clusters in 8-d, 10 members each
    val rows = for (c <- 0 until 4; j <- 0 until 10) yield {
      val v = Array.fill(8)(0.01f * ((c * 10 + j) % 3))
      v(c * 2) = 1.0f
      ((c * 10 + j).toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0) // one per cluster
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.ivfTopK(emb, queries, k = 3, nlist = 4, nprobe = 1)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    for ((q, ids) <- got) {
      assert(ids.size == 3)
      // neighbors come from the query's own cluster (same decade of ids)
      assert(ids.forall(id => id / 10 == q / 10), s"query $q got cross-cluster $ids")
    }
  }

  test("embedding near-dup pairs: planted duplicate found") {
    val base = Seq.tabulate(8)(i => i.toFloat / 10)
    val d = Seq(
      (1L, base), (2L, base.updated(7, 0.701f)), (3L, Seq.tabulate(8)(i => (8 - i).toFloat))
    ).toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(d, threshold = 0.999, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists(p => p._2 == 3L))
  }

  // --- Text analysis -------------------------------------------------------

  test("token counts: whitespace and BPE-ish") {
    val d = Seq(Tuple1("Hello world, it's 2024!")).toDF("text")
    val r = d.select(
      TextAnalysis.wsTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe")).first()
    assert(r.getInt(0) == 4)
    // Hello| world|,| it|'s| 2024|! -> 7
    assert(r.getInt(1) == 7, s"bpe=${r.getInt(1)}")
  }

  test("language id picks the stopword-dominant language") {
    val d = Seq(
      ("the cat is in the house and it is warm", "en"),
      ("der hund ist nicht mit der katze und das ist gut", "de"),
      ("le chat est dans la maison et il est pour les chats", "fr"),
      ("xyzzy qwerty plugh", "und")
    ).toDF("text", "want")
    val bad = d.withColumn("got", TextAnalysis.languageId(col("text")))
      .filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("fingerprint: whitespace-insensitive, content-sensitive") {
    val d = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "hello worle")).toDF("id", "text")
    val fp = d.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  // --- Multimodal -------------------------------------------------------------

  test("multimodal: stub decode plumbing — schema, determinism, balance") {
    val media = Multimodal.synthetic(spark, 60)
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() == 60)
    val rows = feats.collect()
    assert(rows.forall(_.feature.length == 8))
    assert(rows.filter(_.kind == "image").forall(f => f.width > 0 && f.duration_ms == -1))
    assert(rows.filter(_.kind == "audio").forall(f => f.width == -1 && f.duration_ms > 0))
    assert(rows.filter(_.kind == "video").forall(f => f.width > 0 && f.duration_ms > 0))
    // determinism across runs
    val again = Multimodal.extractFeatures(Multimodal.synthetic(spark, 60)).collect()
    assert(rows.sortBy(_.media_id).map(_.sha).toSeq == again.sortBy(_.media_id).map(_.sha).toSeq)
  }

  test("multimodal: REAL image decode — synthetic PNGs yield pixel-true width/height and luminance features") {
    // two in-test PNGs: 20x10 half-black/half-white, and a 7x5 solid gray
    def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "png", bos)
      bos.toByteArray
    }
    val split = png(20, 10)((x, _) => if (x < 10) 0x000000 else 0xffffff)
    val gray = png(7, 5)((_, _) => 0x808080)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", split, "test://split"),
      Multimodal.MediaRow(2L, "image", gray, "test://gray"),
      Multimodal.MediaRow(3L, "image", Array[Byte](1, 2, 3), "test://poison"),
      Multimodal.MediaRow(4L, "audio", split, "test://audio")
    ).toDF()
    val out = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    // pixel-true dimensions
    assert(out(1L).width == 20 && out(1L).height == 10)
    assert(out(2L).width == 7 && out(2L).height == 5)
    // 4x2 luminance grid: left half dark (~0), right half bright (~1)
    val f1 = out(1L).feature
    assert(f1(0) < 0.1f && f1(1) < 0.1f && f1(2) > 0.9f && f1(3) > 0.9f, f1.mkString(","))
    assert(out(2L).feature.forall(v => math.abs(v - 128f / 255f) < 0.02f))
    // resize: bilinear down to maxDim, re-decodable, aspect preserved
    val resized = Multimodal.resizeImage(split, 10)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back.getWidth == 10 && back.getHeight == 5)
    // poison bytes and non-image kinds fall back to the stub (never throw)
    assert(out(3L).width > 0 && out(3L).sha.nonEmpty)
    assert(out(4L).width == -1 && out(4L).duration_ms > 0)
  }

  test("multimodal: REAL WAV PCM decode — exact duration and closed-form RMS windows") {
    val wav = Multimodal.syntheticWav(7L, frames = 1600)
    val f = Multimodal.decodeWav(Multimodal.MediaRow(7L, "audio", wav, "test://wav"))
    assert(f.duration_ms == 200, s"duration=${f.duration_ms}") // 1600 frames @ 8 kHz
    assert(f.width == -1 && f.height == -1)
    // closed form: window w covers frames [w*200, (w+1)*200); rms is the
    // left-assoc fold of (s/32768)^2 — every partial sum exact in double
    // (numerators < 2^52), so plain summation reproduces it
    val s = (0 until 1600).map(i => ((7L * 31 + i.toLong * 17) % 2001) - 1000)
    val want = (0 until 8).map { w =>
      var sum = 0.0
      s.slice(w * 200, (w + 1) * 200).foreach { v => val d = v / 32768.0; sum += d * d }
      math.sqrt(sum / 200).toFloat
    }
    assert(f.feature.toSeq == want, s"${f.feature.toSeq} != $want")
    // stereo 16-bit: channels mix to mono
    val st = {
      val frames = 80
      val buf = java.nio.ByteBuffer.allocate(44 + frames * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + frames * 4).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2).putInt(8000)
        .putInt(32000).putShort(4).putShort(16)
      buf.put("data".getBytes).putInt(frames * 4)
      (0 until frames).foreach { _ => buf.putShort(1000); buf.putShort(-1000) }
      buf.array()
    }
    val fs = Multimodal.decodeWav(Multimodal.MediaRow(8L, "audio", st, "test://stereo"))
    assert(fs.duration_ms == 10)
    assert(fs.feature.forall(_ == 0.0f)) // +1000/-1000 mixes to exactly 0
    // non-WAV bytes fall back to the stub (never throw)
    val stub = Multimodal.decodeWav(Multimodal.MediaRow(9L, "audio", Array[Byte](1, 2, 3), "t"))
    assert(stub.duration_ms > 0 && stub.width == -1)
  }

  test("multimodal: WAV decode handles 8/24/32-bit PCM and float32 at full scale") {
    // one full-scale constant per format: RMS must read 1.0 in every window
    def wav(fmt: Int, bits: Int, body: java.nio.ByteBuffer => Unit, frames: Int): Array[Byte] = {
      val dataLen = frames * bits / 8
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(fmt.toShort).putShort(1).putInt(8000)
        .putInt(8000 * bits / 8).putShort((bits / 8).toShort).putShort(bits.toShort)
      buf.put("data".getBytes).putInt(dataLen)
      body(buf)
      buf.array()
    }
    val n = 80
    val cases = Seq(
      // 8-bit unsigned: 0 -> (0-128)/128 = -1.0
      "u8" -> wav(1, 8, b => (0 until n).foreach(_ => b.put(0.toByte)), n),
      // 24-bit signed: -2^23 -> -1.0 (LE bytes 00 00 80)
      "s24" -> wav(1, 24, b => (0 until n).foreach { _ =>
        b.put(0.toByte); b.put(0.toByte); b.put(0x80.toByte) }, n),
      // 32-bit signed: Int.MinValue -> -1.0
      "s32" -> wav(1, 32, b => (0 until n).foreach(_ => b.putInt(Int.MinValue)), n),
      // float32: literal -1.0f
      "f32" -> wav(3, 32, b => (0 until n).foreach(_ => b.putFloat(-1.0f)), n))
    cases.foreach { case (name, bytes) =>
      val f = Multimodal.decodeWav(Multimodal.MediaRow(1L, "audio", bytes, s"t://$name"))
      assert(f.duration_ms == 10, s"$name duration=${f.duration_ms}")
      assert(f.feature.forall(v => math.abs(v - 1.0f) < 1e-6f), s"$name rms=${f.feature.toSeq}")
    }
    // unsupported compressed format code (e.g. 85 = MP3) falls to the stub
    val mp3ish = wav(85, 16, b => (0 until n).foreach(_ => b.putShort(0)), n)
    val fb = Multimodal.decodeWav(Multimodal.MediaRow(2L, "audio", mp3ish, "t://mp3"))
    assert(fb.width == -1 && fb.duration_ms > 0 && fb.feature.length == 8)
  }

  test("DotProduct: fold-identical values, null/mismatch semantics, codegen'd (no fallback)") {
    import graft.functions.VectorOps
    // go through parquet so the plan under test is a real scan+project
    // (a local Seq folds into LocalTableScan with no codegen stage)
    val dir = java.nio.file.Files.createTempDirectory("vec_dot").toString
    Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (3L, Seq.empty[Double], Seq.empty[Double])
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = d.select(col("id"), VectorOps.dot(col("a"), col("b")).as("dot"))
      // whole-stage span present — the expression must not be CodegenFallback
      assert(out.queryExecution.executedPlan.toString.contains("*("), "no whole-stage span")
      val got = out.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      // left-to-right fold identity, same as the old aggregate(zip_with(...)) form
      assert(got(1L) == ((0.0 + 1.0 * 4.0) + 2.0 * 5.0) + 3.0 * 6.0)
      assert(got(2L) == (0.0 + 0.1 * 0.3) + -0.2 * 0.7)
      assert(got(3L) == 0.0)
      // interpreted eval path (no codegen for a literal-only Project on one row) agrees
      val mism = d.filter(col("id") === 1L)
        .select(VectorOps.dot(col("a"), slice(col("b"), 1, 2)).as("dot")).collect()
      assert(mism.head.isNullAt(0), "mismatched lengths must yield null")
      val withNull = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0)))).toDF("a", "b")
        .select(VectorOps.dot(col("a"), col("b")).as("dot")).collect()
      assert(withNull.head.isNullAt(0), "a null element must yield null")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("multimodal: REAL animated-GIF decode — frame count, metadata delays, exact palette colors") {
    val gif = Multimodal.syntheticGif(5L, frames = 6, w = 8, h = 8, cs = 12)
    val f = Multimodal.decodeGif(Multimodal.MediaRow(5L, "video", gif, "test://gif"))
    assert(f.width == 8 && f.height == 8)
    assert(f.duration_ms == 6 * 120, s"duration=${f.duration_ms}") // 6 frames x 12 cs
    // solid frames survive the GIF palette exactly; the decoder's sum is
    // a 64-term left-assoc fold of one luma value — replicate the fold
    val want = (0 until 6).map { fr =>
      val r = ((5L * 31 + fr * 97) % 256).toInt
      val g = ((5L * 57 + fr * 13) % 256).toInt
      val b = ((5L * 89 + fr * 41) % 256).toInt
      val luma = 0.299 * r + 0.587 * g + 0.114 * b
      var sum = 0.0
      (0 until 64).foreach(_ => sum += luma)
      (sum / (64 * 255.0)).toFloat
    }
    assert(f.feature.slice(0, 6).toSeq == want, s"${f.feature.toSeq} != $want")
    assert(f.feature(6) == -1.0f && f.feature(7) == -1.0f) // no-frame slots, not black
    // >8 frames: 8 evenly-sampled slots, idx = s*n/8
    val g10 = Multimodal.decodeGif(Multimodal.MediaRow(6L, "video",
      Multimodal.syntheticGif(6L, frames = 10), "test://gif10"))
    assert(g10.duration_ms == 1000 && g10.feature.forall(_ >= 0.0f))
    // non-GIF bytes fall back to the stub (never throw)
    val stub = Multimodal.decodeGif(Multimodal.MediaRow(9L, "video", Array[Byte](1, 2, 3), "t"))
    assert(stub.duration_ms > 0 && stub.width > 0)
  }
}
