package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 additions: the interleaved pipeline's text-dedup chain +
  * numeric-id contract, and the video-fingerprint allocation caps. */
class Round15Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------- interleaved pipeline: text-dedup chain

  private def blockImg(id: Long): Array[Byte] =
    graft.llm.Multimodal.encodeBlockImage(id)

  test("curateInterleaved: byte-copies die at exact_dedup, +1-token near-copies at near_dedup, eval overlap at decontaminate — slots die with the doc") {
    val baseText = "the quick brown fox jumps over the lazy dog " +
      "it was good that it is here and now doc"
    // 5 docs x 2 slots. Doc 1 = byte-copy of doc 0's text; doc 2 = doc 0's
    // text + one token (19/20 shingles shared, J = 0.95); docs 3, 4 unique;
    // doc 4 shares a 13-token window with the eval corpus.
    val rows = Seq(
      (0L, baseText + "0", Seq(blockImg(100), blockImg(101))),
      (1L, baseText + "0", Seq(blockImg(102), blockImg(103))),
      (2L, baseText + "0 extra", Seq(blockImg(104), blockImg(105))),
      (3L, baseText + "3 three even more distinct words here now", Seq(blockImg(106), blockImg(107))),
      (4L, "w4a unique opening line that only this document carries onward " +
        baseText + "4", Seq(blockImg(108), blockImg(109))))
    val docs = rows.toDF("doc_id", "text", "images")
    val eval = Seq((900L,
      "w4a unique opening line that only this document carries onward the quick brown"))
      .toDF("doc_id", "text")
    val r = graft.llm.Pipeline.curateInterleaved(docs, "doc_id", "text",
      "images", evalDocs = Some(eval))
    val survivors = r.docs.select("doc_id").as[Long].collect().sorted
    assert(survivors === Array(0L, 3L), s"got ${survivors.toSeq}")
    val stats = r.stats.collect()
      .map(row => row.getString(1) -> (row.getLong(2), row.getLong(3))).toMap
    assert(stats("quality_filter") === ((5L, 10L)))
    assert(stats("line_dedup") === ((5L, 10L)))
    assert(stats("exact_dedup") === ((4L, 8L)), "doc 1 (byte copy) dies here")
    assert(stats("near_dedup") === ((3L, 6L)), "doc 2 (+1 token) dies here")
    assert(stats("decontaminate") === ((2L, 4L)), "doc 4 (eval 13-gram) dies here")
    assert(stats("reassemble")._1 === 2L)
    // Stage order is the curate contract: dedup chain strictly between
    // quality_filter and img_explode.
    val order = r.stats.orderBy("ord").collect().map(_.getString(1)).toSeq
    assert(order.indexOf("line_dedup") > order.indexOf("quality_filter"))
    assert(order.indexOf("decontaminate") < order.indexOf("img_explode"))
    assert(r.stats.columns.toSeq ===
      Seq("ord", "stage", "docs_out", "images_out", "wall_sec", "capped_rows"))
  }

  test("curateInterleaved: numeric-string ids work; non-numeric ids fail fast with a named error") {
    val img = Seq(blockImg(1L))
    val ok = Seq(("0", "the quick brown fox jumps over the lazy dog now", Seq(blockImg(1L))),
      ("1", "it was good that it is here and now again today", Seq(blockImg(2L))))
      .toDF("doc_id", "text", "images")
    val r = graft.llm.Pipeline.curateInterleaved(ok, "doc_id", "text", "images")
    assert(r.docs.count() == 2L &&
      r.docs.agg(min(col("n_images"))).collect()(0).getInt(0) == 1)
    val bad = Seq(("doc-x", "the quick brown fox jumps over the lazy dog", img))
      .toDF("doc_id", "text", "images")
    val e = intercept[IllegalArgumentException] {
      graft.llm.Pipeline.curateInterleaved(bad, "doc_id", "text", "images")
    }
    assert(e.getMessage.contains("numeric doc ids"), e.getMessage)
    val withNull = Seq((java.lang.Long.valueOf(1L), "a b c d e f g h", img),
      (null.asInstanceOf[java.lang.Long], "i j k l m n o p", img))
      .toDF("doc_id", "text", "images")
    val e2 = intercept[IllegalArgumentException] {
      graft.llm.Pipeline.curateInterleaved(withNull, "doc_id", "text", "images")
    }
    assert(e2.getMessage.contains("numeric doc ids"), e2.getMessage)
  }

  // ------------------------------------------- persisted-index writer lock

  private def lockDocs(lo: Int, hi: Int) = spark.range(lo, hi).toDF("id")
    .withColumn("text", concat_ws(" ",
      (0 until 12).map(k => concat(lit("t"),
        pmod(xxhash64(col("id"), lit(k)), lit(50)).cast("string"))): _*))

  test("WriterLock: a second live writer fails fast with a named error; stale locks self-break; heal skips under a held lock") {
    import graft.io.WriterLock
    val dir = java.nio.file.Files.createTempDirectory("r15_bm25_lock")
    val path = dir.toString + "/idx"
    try {
      graft.llm.Retrieval.buildAndWriteIndex(lockDocs(0, 200), "id", "text",
        path, nBuckets = 8)
      // Simulate a LIVE concurrent writer: hold the lock, then append.
      val e = intercept[WriterLock.ConcurrentWriterException] {
        WriterLock.withLock(spark, path, "simulated-writer") {
          graft.llm.Retrieval.appendToBm25Index(lockDocs(200, 250), "id",
            "text", path)
        }
      }
      assert(e.getMessage.contains("another writer holds"), e.getMessage)
      assert(e.getMessage.contains("appendToBm25Index"), e.getMessage)
      // The lock released with the simulated writer: the append now lands.
      val idx = graft.llm.Retrieval.appendToBm25Index(lockDocs(200, 250),
        "id", "text", path)
      assert(idx.nDocs == 250L)
      // Crashed-writer recovery: a stale lock (old mtime) breaks and the
      // writer proceeds.
      val lock = WriterLock.lockPath(path)
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(lock, false).close()
      fs.setTimes(lock, System.currentTimeMillis() - 3600L * 1000L, -1)
      val (nB, nA) = graft.llm.Retrieval.compactBm25Index(spark, path, dlFiles = 2)
      assert(nA < nB)
      assert(!fs.exists(lock), "compaction must release the broken-then-held lock")
      // loadIndex under a HELD lock must skip healing (not hang, not
      // throw) and still read the consistent index.
      WriterLock.withLock(spark, path, "held-for-load") {
        assert(graft.llm.Retrieval.loadIndex(spark, path).nDocs == 250L)
      }
      // IVF+PQ side: compaction under a held lock fails fast too.
      val ivfDir = dir.toString + "/ivf"
      val vecs = spark.range(0, 500).toDF("id").withColumn("v",
        array((0 until 8).map(k =>
          (pmod(xxhash64(col("id"), lit(k)), lit(100)) / 50.0 - 1.0)): _*))
      val (_, meta) = graft.llm.Similarity.buildIvfPqIndex(vecs, "id", "v",
        nCentroids = 4, m = 2, ksub = 8)
      graft.llm.Similarity.appendToIvfPqIndex(vecs, "id", "v", meta, ivfDir)
      val e2 = intercept[WriterLock.ConcurrentWriterException] {
        WriterLock.withLock(spark, ivfDir, "simulated-writer") {
          graft.llm.Similarity.compactIvfPqIndex(spark, ivfDir)
        }
      }
      assert(e2.getMessage.contains("compactIvfPqIndex"), e2.getMessage)
      val (ivfB, ivfA) = graft.llm.Similarity.compactIvfPqIndex(spark, ivfDir)
      assert(ivfA <= ivfB)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("healIvfCompactSwap: crashed compaction states finish forward or restore on next read") {
    val dir = java.nio.file.Files.createTempDirectory("r15_ivf_heal")
    val idx = dir.toString + "/ivf"
    try {
      val vecs = spark.range(0, 400).toDF("id").withColumn("v",
        array((0 until 8).map(k =>
          (pmod(xxhash64(col("id"), lit(k)), lit(100)) / 50.0 - 1.0)): _*))
      val (_, meta) = graft.llm.Similarity.buildIvfPqIndex(vecs, "id", "v",
        nCentroids = 4, m = 2, ksub = 8)
      graft.llm.Similarity.appendToIvfPqIndex(vecs, "id", "v", meta, idx)
      val before = graft.llm.Similarity.readIvfPqIndex(spark, idx)._1.count()
      val p = new org.apache.hadoop.fs.Path(idx)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "._graft_compact_tmp")
      val old = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".__old")
      // State 1: crash BETWEEN the renames with a COMPLETE rewrite — dir
      // gone, old = original, tmp = finished compaction (sidecar present).
      // Heal must finish forward.
      assert(fs.rename(p, tmp))
      fs.mkdirs(old)
      val (dfF, _) = graft.llm.Similarity.readIvfPqIndex(spark, idx)
      assert(dfF.count() == before)
      assert(fs.exists(p) && !fs.exists(tmp) && !fs.exists(old))
      // State 2: crash with an INCOMPLETE rewrite — dir gone, old =
      // original, tmp lacks the sidecar. Heal must restore the original.
      assert(fs.rename(p, old))
      fs.mkdirs(tmp) // sidecar-less shell
      val (dfR, _) = graft.llm.Similarity.readIvfPqIndex(spark, idx)
      assert(dfR.count() == before)
      assert(fs.exists(p) && !fs.exists(tmp) && !fs.exists(old))
      // State 3: crash AFTER the swap, before cleanup — both present.
      fs.mkdirs(old)
      fs.mkdirs(tmp)
      assert(graft.llm.Similarity.readIvfPqIndex(spark, idx)._1.count() == before)
      assert(!fs.exists(tmp) && !fs.exists(old))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // --------------------------------------------- video allocation bounds

  test("videoHashOne: compact stsz at uniform=1 with cnt ~ file length nulls (absolute sample cap)") {
    import graft.llm.Multimodal
    // A file big enough that cnt = len clears the len/uniform bound at
    // uniform=1 AND exceeds MaxSamples (2^24): 320 frames x 65536 = ~21 MB.
    val f = Multimodal.encodeMp4Media(5L, Seq.fill(320)(65536), Seq.fill(32)(10))
    assert(f.length > (1 << 24))
    assert(Multimodal.videoHashOne(f) != null)
    var i = 0
    var crafted: Array[Byte] = null
    while (i + 8 <= f.length && crafted == null) {
      if (new String(f, i, 4, "US-ASCII") == "stsz") {
        val c = f.clone()
        val bb = java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.BIG_ENDIAN)
        bb.putInt(i + 4 + 4, 1) // compact form, uniform = 1 byte
        bb.putInt(i + 4 + 8, f.length) // cnt = file length: passes len/uniform
        crafted = c
      }
      i += 1
    }
    assert(crafted != null, "stsz box not found")
    assert(Multimodal.videoHashOne(crafted) == null)
  }

  test("encodeMp4Media: total payload past the mdat Int bound fails with a named require") {
    import graft.llm.Multimodal
    val e = intercept[IllegalArgumentException] {
      Multimodal.encodeMp4Media(1L, Seq.fill(40000)(65536), Seq(40000))
    }
    assert(e.getMessage.contains("total media payload"), e.getMessage)
  }

  // ------------------------------- re-encode-tolerant video signature

  private def vpChunks(n: Int): Seq[Int] =
    Seq.fill(n / 64)(64) ++ (if (n % 64 > 0) Seq(n % 64) else Nil)

  test("videoSizeProfileHashOne: re-mux identical, monotone-scale identical, degenerate inputs null") {
    import graft.llm.Multimodal
    val sz = Multimodal.bitrateProfileFrameSizes(7L, 640, 1.0, gop = 12, noiseSeed = 1L)
    val orig = Multimodal.videoSizeProfileHashOne(
      Multimodal.encodeMp4Media(70L, sz, vpChunks(640)))
    assert(orig != null)
    // A re-mux rewrites chunking/timescale/payload but not stsz — the
    // signature is a pure function of stsz, so it is EXACTLY preserved.
    val remux = Multimodal.videoSizeProfileHashOne(
      Multimodal.encodeMp4Media(71L, sz, Seq.fill(20)(32), timescale = 90000))
    assert(remux == orig)
    // The bit rule is a rank test: any monotone per-frame size transform
    // (here exact 2x bitrate) preserves every bucket-median ordering.
    val doubled = Multimodal.videoSizeProfileHashOne(
      Multimodal.encodeMp4Media(72L, sz.map(s => math.min(65536, s * 2)), vpChunks(640)))
    assert(doubled == orig)
    // Flat profile (compact uniform stsz), < 64 samples, junk, null: all
    // null — a flat profile would otherwise pair every CBR file with
    // every other.
    assert(Multimodal.videoSizeProfileHashOne(
      Multimodal.encodeMp4Media(1L, Seq.fill(128)(100), Seq.fill(4)(32))) == null)
    assert(Multimodal.videoSizeProfileHashOne(
      Multimodal.encodeMp4Media(1L, (0 until 24).map(i => 32 + i), Seq.fill(6)(4))) == null)
    assert(Multimodal.videoSizeProfileHashOne("junk".getBytes("UTF-8")) == null)
    assert(Multimodal.videoSizeProfileHashOne(null) == null)
  }

  // The q_dedup_video_profile corpus verbatim.
  private def vpPlant = {
    import graft.llm.Multimodal
    spark.range(0, 200).select(col("id")).as[Long]
      .map { id =>
        val fam = id / 5
        val bytes = (id % 5) match {
          case 0L => Multimodal.encodeMp4Media(fam * 10L,
            Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
            Seq.fill(10)(64))
          case 1L =>
            if (fam % 3 == 2) s"not-an-mp4-$id".getBytes("UTF-8")
            else Multimodal.encodeMp4Media(fam * 10L + 1,
              Multimodal.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L),
              Seq.fill(10)(64))
          case 2L => Multimodal.encodeMp4Media(fam * 10L + 2,
            Multimodal.bitrateProfileFrameSizes(fam, 480, 1.8, gop = 15, noiseSeed = 3L),
            Seq.fill(7)(64) :+ 32, durationUnits = 640L * 20L)
          case 3L => Multimodal.encodeMp4Media(fam * 10L,
            Multimodal.bitrateProfileFrameSizes(fam, 640, 1.0, gop = 12, noiseSeed = 1L),
            Seq.fill(20)(32), timescale = 90000,
            durationUnits = 640L * 20L * 150L)
          case _ => Multimodal.encodeMp4Media(fam * 10L + 4,
            Multimodal.bitrateProfileFrameSizes(fam + 9000L, 640, 1.0, gop = 12, noiseSeed = 4L),
            Seq.fill(10)(64))
        }
        (id, bytes)
      }.toDF("doc_id", "payload")
  }

  private val vpExpected = (for {
    f <- 0 until 40
    slots = if (f % 3 == 2) Seq(0, 2, 3) else Seq(0, 1, 2, 3)
    a <- slots
    b <- slots
    if a < b
  } yield (5L * f + a, 5L * f + b)).toSet

  test("video size-profile plant: pair set is exactly the id-arithmetic expectation") {
    import graft.llm.Multimodal
    // Asserting the full pair set here pins the oracle's arithmetic
    // before the DuckDB replay runs.
    val got = Multimodal.videoProfilePairs(vpPlant, "doc_id", "payload")
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == vpExpected,
      s"missing=${(vpExpected -- got).toSeq.sorted.take(10)} extra=${(got -- vpExpected).toSeq.sorted.take(10)}")
  }

  test("videoProfilePairs: MIH index path (single and multi-shard) is pair-identical to the banded join path") {
    import graft.llm.Multimodal
    // maxBucket 10 puts the switch threshold (16·maxBucket = 160) under
    // the 200-row plant → single-index MIH path; a 50-row byte budget
    // (50·104 B — r16, caps are sized in bytes now) then forces
    // ceil(187·1.02/50) = 4 hash-range shards. Both must produce the
    // default banded path's exact pair set, and the probes must never
    // report a cap drop.
    var drops = List.empty[(Long, Long)]
    val single = Multimodal.videoProfilePairs(vpPlant, "doc_id", "payload",
        maxBucket = 10, onCapDrops = (k, r) => drops = (k, r) :: drops)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single == vpExpected,
      s"single-index: missing=${(vpExpected -- single).toSeq.sorted.take(10)} " +
        s"extra=${(single -- vpExpected).toSeq.sorted.take(10)}")
    assert(drops == List((0L, 0L)), s"index path must report zero drops, got $drops")
    val sharded = Multimodal.videoProfilePairs(vpPlant, "doc_id", "payload",
        maxBucket = 10, maxIndexBytes = 50L *
          graft.functions.HammingIndexKernel.indexBytesPerRow(4, hasIds = true, rankLen = 64))
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sharded == vpExpected,
      s"multi-shard: missing=${(vpExpected -- sharded).toSeq.sorted.take(10)} " +
        s"extra=${(sharded -- vpExpected).toSeq.sorted.take(10)}")
  }
}
