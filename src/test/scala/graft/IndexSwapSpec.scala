package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The crash-safe directory swap behind the persisted BM25 and IVF+PQ
  * indexes ([[graft.io.DirSwap]]): every crash state of an append's df
  * merge and of both compactions heals on the next touch, and the IVF
  * initial write takes the writer lock like every other index writer. */
class IndexSwapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(lo: Int, hi: Int) = spark.range(lo, hi).toDF("id")
    .withColumn("text", concat_ws(" ",
      (0 until 12).map(k => concat(lit("t"),
        pmod(xxhash64(col("id"), lit(k)), lit(50)).cast("string"))): _*))

  private def scoreMap(idx: graft.llm.Retrieval.Bm25Index,
      qs: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    graft.llm.Retrieval.scores(idx, qs, "qid", "qtext")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def vecs(n: Int) = spark.range(0, n).toDF("id").withColumn("v",
    array((0 until 8).map(k =>
      (pmod(xxhash64(col("id"), lit(k)), lit(100)) / 50.0 - 1.0)): _*))

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------ BM25


  test("BM25 df swap: a crash between the renames heals forward") {
    val qs = Seq((1L, "t1 t7 t13 t25")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_heal_fwd")
    val dirR = java.nio.file.Files.createTempDirectory("r14_bm25_heal_ref")
    try {
      graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id", "text",
        dir.toString, nBuckets = 8)
      graft.llm.Retrieval.appendToBm25Index(docs(300, 400), "id", "text",
        dir.toString)
      val want = scoreMap(graft.llm.Retrieval.buildAndWriteIndex(
        docs(0, 400), "id", "text", dirR.toString, nBuckets = 8), qs)
      // Simulate the crash window between rename(df, __old) and
      // rename(tmp, df): the COMPLETE merged df sits at the tmp name
      // (with its _SUCCESS), the previous df at __old, nothing at df.
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df = new org.apache.hadoop.fs.Path(s"$dir/df")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/df._graft_append_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/df.__old")
      assert(fs.rename(df, tmp))
      assert(fs.mkdirs(old)) // stale pre-append df (content irrelevant)
      // loadIndex must finish the swap and score exactly like the rebuild.
      val healed = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      assert(fs.exists(df) && !fs.exists(tmp) && !fs.exists(old))
      val got = scoreMap(healed, qs)
      assert(got.keySet === want.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dirR.toFile)
    }
  }

  test("BM25 df swap: an incomplete merged df restores the original") {
    val qs = Seq((1L, "t1 t7 t13 t25")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_heal_back")
    try {
      val built = graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id",
        "text", dir.toString, nBuckets = 8)
      val want = scoreMap(built, qs)
      // Simulate a crash DURING the merged-df write: df moved aside,
      // tmp exists but has no _SUCCESS marker.
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df = new org.apache.hadoop.fs.Path(s"$dir/df")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/df._graft_append_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/df.__old")
      assert(fs.rename(df, old))
      assert(fs.mkdirs(tmp)) // partial write, no _SUCCESS
      val healed = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      assert(fs.exists(df) && !fs.exists(tmp) && !fs.exists(old))
      val got = scoreMap(healed, qs)
      assert(got.keySet === want.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("BM25 tf compaction crash heals before load OR append") {
    val qs = Seq((1L, "t1 t7 t13 t25")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("r14_bm25_heal_tf")
    try {
      graft.llm.Retrieval.buildAndWriteIndex(docs(0, 300), "id", "text",
        dir.toString, nBuckets = 8)
      val want = scoreMap(graft.llm.Retrieval.loadIndex(spark, dir.toString), qs)
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tf = new org.apache.hadoop.fs.Path(s"$dir/tf")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/tf._graft_compact_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/tf.__old")
      // Crash window A: between the two renames with a COMPLETE rewrite
      // at the tmp name — heal must finish forward.
      assert(fs.rename(tf, tmp)) // the rewrite is complete (has _SUCCESS)
      assert(fs.mkdirs(old))
      val healed = graft.llm.Retrieval.loadIndex(spark, dir.toString)
      assert(fs.exists(tf) && !fs.exists(tmp) && !fs.exists(old))
      val got = scoreMap(healed, qs)
      assert(got.keySet === want.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
      // Crash window B: rewrite incomplete (no _SUCCESS), tf moved aside.
      // Without healing, the subsequent APPEND would recreate tf holding
      // only its delta — the silent-corpus-drop path the heal closes.
      assert(fs.rename(tf, old))
      assert(fs.mkdirs(tmp))
      graft.llm.Retrieval.appendToBm25Index(docs(300, 350), "id", "text",
        dir.toString)
      assert(fs.exists(tf) && !fs.exists(tmp) && !fs.exists(old))
      val full = scoreMap(graft.llm.Retrieval.loadIndex(spark, dir.toString), qs)
      val dirR = java.nio.file.Files.createTempDirectory("r14_bm25_heal_tf_ref")
      try {
        val ref = scoreMap(graft.llm.Retrieval.buildAndWriteIndex(
          docs(0, 350), "id", "text", dirR.toString, nBuckets = 8), qs)
        assert(full.keySet === ref.keySet)
        full.foreach { case (k, v) => assert(math.abs(v - ref(k)) < 1e-9, s"$k") }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dirR.toFile)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // ---------------------------------------------------------- IVF+PQ

  test("IVF compaction crash states finish forward or restore on read") {
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

  test("IVF rewrite with _SUCCESS but no sidecar restores the original") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_heal_nosidecar")
    val idx = dir.toString + "/ivf"
    try {
      val (_, meta) = graft.llm.Similarity.buildIvfPqIndex(vecs(400), "id", "v",
        nCentroids = 4, m = 2, ksub = 8)
      graft.llm.Similarity.appendToIvfPqIndex(vecs(400), "id", "v", meta, idx)
      val before = graft.llm.Similarity.readIvfPqIndex(spark, idx)._1.count()
      val p = new org.apache.hadoop.fs.Path(idx)
      val fs = fsOf(p)
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "._graft_compact_tmp")
      val old = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".__old")
      // Crash after the rewrite's parquet commit, before its sidecar: the
      // tmp carries `_SUCCESS` and a partial cell directory, no sidecar.
      assert(fs.rename(p, old))
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "centroid_idx=0")))
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
      val (df, meta2) = graft.llm.Similarity.readIvfPqIndex(spark, idx)
      assert(df.count() == before)
      assert(graft.llm.Similarity.IvfPqMeta.mismatch(meta, meta2).isEmpty)
      assert(fs.exists(p) && !fs.exists(tmp) && !fs.exists(old))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("writeIvfPqIndex fails fast under a held writer lock") {
    import graft.io.WriterLock
    val dir = java.nio.file.Files.createTempDirectory("ivf_write_lock")
    val idx = dir.toString + "/ivf"
    try {
      val (indexed, meta) = graft.llm.Similarity.buildIvfPqIndex(vecs(200),
        "id", "v", nCentroids = 4, m = 2, ksub = 8)
      val e = intercept[WriterLock.ConcurrentWriterException] {
        WriterLock.withLock(spark, idx, "simulated-writer") {
          graft.llm.Similarity.writeIvfPqIndex(indexed, meta, idx)
        }
      }
      assert(e.getMessage.contains("writeIvfPqIndex"), e.getMessage)
      assert(!fsOf(new org.apache.hadoop.fs.Path(idx)).exists(
        new org.apache.hadoop.fs.Path(idx)))
      // Free again: the write lands and releases its lock.
      graft.llm.Similarity.writeIvfPqIndex(indexed, meta, idx)
      assert(graft.llm.Similarity.readIvfPqIndex(spark, idx)._1.count() == 200L)
      assert(!fsOf(WriterLock.lockPath(idx)).exists(WriterLock.lockPath(idx)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  // -------------------------------------------------------- DirSwap

  test("replace: a throwing write leaves dir intact and no .__old") {
    val dir = java.nio.file.Files.createTempDirectory("dirswap_throw")
    val live = dir.toString + "/live"
    try {
      Seq(1L, 2L, 3L).toDF("x").write.parquet(live)
      val e = intercept[IllegalStateException] {
        graft.io.DirSwap.replace(spark, live, "._graft_compact_tmp", "test") { tmp =>
          Seq(9L).toDF("x").write.parquet(tmp)
          throw new IllegalStateException("write failed")
        }
      }
      assert(e.getMessage == "write failed")
      val p = new org.apache.hadoop.fs.Path(live)
      assert(!fsOf(p).exists(new org.apache.hadoop.fs.Path(p.getParent, "live.__old")))
      assert(spark.read.parquet(live).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // The tmp residue is inert: a later replace drops it and swaps in.
      graft.io.DirSwap.replace(spark, live, "._graft_compact_tmp", "test") { tmp =>
        Seq(7L).toDF("x").write.parquet(tmp)
      }
      assert(spark.read.parquet(live).as[Long].collect().toSeq == Seq(7L))
      assert(fsOf(p).listStatus(p.getParent).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSeq == Seq("live"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
