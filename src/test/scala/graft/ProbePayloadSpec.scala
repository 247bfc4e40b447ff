package graft

import graft.functions.{HammingIndexKernel, Payload, SetKernels}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSql
import org.scalatest.funsuite.AnyFunSuite

/** The probe payload handle ([[graft.functions.Payload]]): every probe kind
  * gives the same rows on the embedded and the broadcast arm, the
  * broadcast arm's expression tree carries a `Broadcast` and never the
  * structure, and the arm is picked by byte size alone. */
class ProbePayloadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Every value reachable through the expression's case-class fields. */
  private def tree(c: Column): Seq[Any] = {
    def walk(x: Any): Seq[Any] = x match {
      case p: Product => p +: p.productIterator.toSeq.flatMap(walk)
      case other => Seq(other)
    }
    walk(GraftSql.expression(c))
  }

  private def sameRows(a: Array[Row], b: Array[Row], what: String): Unit = {
    assert(a.length == b.length, what)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$what: $x vs $y") }
  }

  /** Run `probe` on both arms of `value`, assert identical rows, and
    * return them. The broadcast arm's tree must hold a Broadcast and no
    * instance of the structure's class. */
  private def bothArms[T <: Payload.Sized: scala.reflect.ClassTag](value: T,
      df: org.apache.spark.sql.DataFrame, what: String)(probe: Payload[T] => Column)
      : Array[Row] = {
    val bc = Payload.broadcast(value)
    try {
      val emb = df.select(probe(Payload.Embedded(value))).collect()
      val brd = df.select(probe(bc)).collect()
      sameRows(emb, brd, what)
      val t = tree(probe(bc))
      assert(t.exists(_.isInstanceOf[Broadcast[_]]), what)
      assert(!t.exists(x => value.getClass.isInstance(x)), what)
      emb
    } finally bc.release()
  }

  // ----------------------------------------------------------- set probes

  test("anyInSet / countInSet identical on both arms, handle-only tree") {
    val members = Array(3L, 17L, 99L, -5L, 1234567L)
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("arr", array(
        pmod(xxhash64(col("id")), lit(200)).cast("long"),
        col("id") % 7,
        when(col("id") % 13 === 0, lit(null).cast("long")).otherwise(lit(98L))))
    val set = SetKernels.LongSortedSet.of(members)
    val any = bothArms(set, df, "anyInSet")(p => SetKernels.anyInSet(col("arr"), p))
    bothArms(set, df, "countInSet")(p => SetKernels.countInSet(col("arr"), p))
    // Sanity on content: the set must actually hit sometimes.
    assert(any.exists(r => !r.isNullAt(0) && r.getBoolean(0)))
    assert(any.exists(r => !r.isNullAt(0) && !r.getBoolean(0)))
  }

  test("stripLinesIn / anyInBloom identical on both arms") {
    val texts = Seq("keep a\ndrop me\nkeep b", "drop me", "all kept\nlines here",
      null, "", "drop me\ndrop me")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .withColumn("arr", array(col("id") % 5, lit(99L)))
    val lineHashes = Seq("drop me").toDF("l")
      .select(xxhash64(col("l"))).collect().map(_.getLong(0))
    val strip = bothArms(SetKernels.LongSortedSet.of(lineHashes), df, "strip")(p =>
      SetKernels.stripLinesIn(col("text"), p))
    assert(strip.exists(r => !r.isNullAt(0) && !r.getString(0).contains("drop me")))
    bothArms(SetKernels.LongBloomSet.build(Array(3L, 17L, 99L), 20), df, "bloom")(p =>
      SetKernels.anyInBloom(col("arr"), p))
  }

  test("threshold: threshold/8 - 1 longs embed, threshold/8 longs broadcast") {
    val n = (Payload.BroadcastThresholdBytes / 8L).toInt
    val below = Payload(SetKernels.LongSortedSet.of(Array.tabulate(n - 1)(_.toLong)))
    assert(below.isInstanceOf[Payload.Embedded[_]])
    assert(tree(SetKernels.anyInSet(col("a"), below))
      .exists(_.isInstanceOf[SetKernels.LongSortedSet]))
    // 1M longs = exactly the 8 MB threshold: must take the broadcast arm.
    val at = Payload(SetKernels.LongSortedSet.of(Array.tabulate(n)(_.toLong)))
    try {
      assert(at.isInstanceOf[Payload.Broadcasted[_]])
      val t = tree(SetKernels.countInSet(col("a"), at))
      assert(t.exists(_.isInstanceOf[Broadcast[_]]))
      assert(!t.exists(_.isInstanceOf[SetKernels.LongSortedSet]))
    } finally at.release()
  }

  // ----------------------------------------------------------- MIH probes

  test("MIH anyWithin / minIdWithin identical on both arms, row for row") {
    val hashes = (0L until 500L).map(i => i * 0x9E3779B97F4A7C15L ^ (i << 23))
    val idx = new HammingIndexKernel.MihIndex(hashes.toArray, 4,
      hashes.indices.map(_.toLong).toArray)
    // Probe set: every corpus hash, near-misses at d=2, and far points.
    val probes = hashes ++ hashes.map(_ ^ 0x0000010000000100L) ++
      hashes.map(~_)
    val df = probes.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("pid", "h")
    val any = bothArms(idx, df, "anyWithin")(p =>
      HammingIndexKernel.anyWithin(col("h"), p, 2))
    bothArms(idx, df, "minIdWithin")(p =>
      HammingIndexKernel.minIdWithin(col("h"), p, 2))
    assert(any.exists(_.getBoolean(0)) && any.exists(!_.getBoolean(0)))
  }

  test("MIH pair probes (ids-below, rank-dot, cell) identical on both arms") {
    val M = graft.llm.Multimodal
    // 100 families of 3 near-identical sketches; each family shares one
    // rank profile, so within-family pairs pass the rank-dot verify.
    val n = 300
    val fam = Array.tabulate(n)(_ / 3)
    val hs = Array.tabulate(n)(i => fam(i) * 0x9E3779B97F4A7C15L ^ ((i % 3).toLong << 5))
    val ids = Array.tabulate(n)(_.toLong)
    val r2 = Array.tabulate(n)(i =>
      Array.tabulate(64)(k => (2 * ((k * 37 + fam(i)) % 64)).toByte))
    val inv = r2.map(M.profileRankInvOf)
    val cells = Array.tabulate(n)(i => (fam(i) % 5).toLong)
    val idx = new HammingIndexKernel.MihIndex(hs, 4, ids, r2.flatten, inv)
    val cellIdx = new HammingIndexKernel.MihCellIndex(cells, hs, 4, ids,
      r2.flatten, inv)
    val df = (0 until n).map(i => (ids(i), hs(i), M.profileRanksOfR2(r2(i)).toSeq,
        Seq(cells(i), cells(i) + 1)))
      .toDF("id", "h", "r", "cells")
    val below = bothArms(idx, df, "idsBelowWithin")(p =>
      HammingIndexKernel.idsBelowWithin(col("h"), col("id"), p, 2))
    val rankDot = bothArms(idx, df, "idsBelowWithinRankDot")(p =>
      HammingIndexKernel.idsBelowWithinRankDot(col("h"), col("id"), col("r"), p,
        2, 0.85))
    val pairs = bothArms(cellIdx, df, "pairsBelowRankDotCell")(p =>
      HammingIndexKernel.pairsBelowRankDotCell(col("h"), col("id"), col("r"),
        col("cells"), p, 2, 0.85))
    // Every family's two larger members find their smaller siblings.
    Seq(below, rankDot, pairs).foreach(rows =>
      assert(rows.count(_.getSeq[Any](0).nonEmpty) == 2 * (n / 3)))
  }

  test("videoProfileVerified identical on both arms") {
    val M = graft.llm.Multimodal
    def chunksFor(nf: Int): Seq[Int] =
      Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)
    val corpus = (0L until 4L).map(f => (f, M.encodeMp4Media(f * 100L,
        M.bitrateProfileFrameSizes(f, 640, 1.0, gop = 12, noiseSeed = 1L),
        chunksFor(640))))
      .toDF("family", "payload")
    val idx = M.videoProfileIndex(corpus, "family", "payload")
    val rows = (0 until 12).map { i =>
      val fam = (i / 3).toLong
      val bytes = (i % 3) match {
        // re-encode: new payload bytes, 0.6× bitrate, different GOP/noise
        case 0 => M.encodeMp4Media(fam * 100L + 1,
          M.bitrateProfileFrameSizes(fam, 640, 0.6, gop = 8, noiseSeed = 2L),
          chunksFor(640))
        // independent content
        case 1 => M.encodeMp4Media(fam * 100L + 3,
          M.bitrateProfileFrameSizes(fam + 5000L, 640, 1.0, gop = 12, noiseSeed = 4L),
          chunksFor(640))
        // unprofiled: null
        case _ => s"junk-$i".getBytes("UTF-8")
      }
      (i.toLong, bytes)
    }.toDF("id", "payload")
    val out = bothArms(idx, rows, "videoProfileVerified")(p =>
      M.videoProfileVerified(col("payload"), p, 14, 0.85))
    assert(out.zipWithIndex.forall { case (r, i) =>
      if (i % 3 == 2) r.isNullAt(0) else r.getBoolean(0) == (i % 3 == 0)
    }, out.toSeq.toString)
  }
}
