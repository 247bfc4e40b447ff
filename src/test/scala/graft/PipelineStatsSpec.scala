package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-stage stats frames of `llm.Pipeline`'s curators. Every count
  * rides as an `observe` on the stage checkpoint's own materialize job;
  * each test pins the planted per-stage drops and checks the final stage's
  * row against a reference computed from the curated output itself. The
  * last test pins that [[graft.llm.Pipeline.curate]] and
  * [[graft.llm.Pipeline.curateInterleavedMm]] run one text chain. */
class PipelineStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  import VideoPlant.{vid, vidRemux}

  private def enGood(i: Long) =
    s"w${i}a the quick brown fox jumps over the lazy dog w${i}b " +
      s"it was good that it is here and now w${i}c"

  // ------------------------------------------------ curateInterleavedMm

  /** 24-doc interleaved plant, one media slot per doc across all three
    * modalities, with a planted drop for every media stage (garbage /
    * byte-copy / near-copy / video re-encode). */
  private lazy val mmPlant = {
    val M = graft.llm.Multimodal
    val rows = (0L until 24L).map { id =>
      val img: Seq[Array[Byte]] =
        if (id % 3 != 0) Nil
        else if (id == 6L) Seq(M.encodeBlockImage(0L))
        else if (id == 9L) Seq(M.resizeOne(M.encodeBlockImage(3L), 48, 48, "png"))
        else if (id == 12L) Seq(s"junk-img-$id".getBytes("UTF-8"))
        else Seq(M.encodeBlockImage(id))
      val aud: Seq[Array[Byte]] =
        if (id % 3 != 1) Nil
        else if (id == 7L) Seq(M.encodeToneWav(1L, toneFrames = 2048))
        else if (id == 10L) Seq(M.encodeToneWav(4L, scaleShift = 1, toneFrames = 2048))
        else if (id == 13L) Seq(s"junk-aud-$id".getBytes("UTF-8"))
        else Seq(M.encodeToneWav(id, toneFrames = 2048))
      val vd: Seq[Array[Byte]] =
        if (id % 3 != 2) Nil
        else if (id == 8L) Seq(vid(2L, 200L, reenc = false)) // byte copy of id 2
        else if (id == 11L) Seq(vidRemux(5L)) // re-mux of id 5
        else if (id == 14L) Seq(vid(2L, 1400L, reenc = true)) // re-encode of id 2
        else if (id == 17L) Seq(s"junk-vid-$id".getBytes("UTF-8"))
        else Seq(vid(id, id * 100L, reenc = false))
      (id, img, aud, vd)
    }
    val base = rows.toDF("doc_id", "images", "audios", "videos")
    val fam = col("doc_id").cast("string")
    base.withColumn("text", concat(lit("w"), fam,
      lit("a the quick brown fox jumps over the lazy dog w"), fam,
      lit("b it was good that it is here and now w"), fam, lit("c")))
  }

  private def runMm(payloadLevel: org.apache.spark.storage.StorageLevel =
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) = {
    val P = graft.llm.Pipeline
    P.curateInterleavedMm(mmPlant, "doc_id", "text",
      Seq("image" -> "images", "audio" -> "audios", "video" -> "videos"),
      P.InterleavedConfig(image = P.ImageConfig(maxDistance = 2),
        payloadLevel = payloadLevel),
      audioCfg = P.MediaConfig(maxDistance = 0, pieces = 4),
      videoCfg = P.MediaConfig(maxDistance = 4, pieces = 8, profilePairs = true))
  }

  private def statsRows(r: graft.llm.Pipeline.Result): Seq[(Int, String, Long, Long, Long)] =
    r.stats.orderBy("ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3), x.getLong(5)))
      .toSeq

  private def survivors(r: graft.llm.Pipeline.Result): Set[(Long, Seq[Seq[Byte]])] =
    r.docs.select(col("doc_id"),
        concat(col("images"), col("audios"), col("videos")).as("m"))
      .collect()
      .map(x => (x.getLong(0), x.getSeq[Array[Byte]](1).map(_.toSeq)))
      .toSet

  test("curateInterleavedMm: planted slot drops; reassemble matches curated docs") {
    val r = runMm()
    val se = statsRows(r)
    // 24 docs and 24 slots in, every planted class drops exactly one slot
    // at its own stage.
    val byStage = se.map(x => x._2 -> (x._3, x._4)).toMap
    assert(byStage("input") == ((24L, 24L)))
    assert(byStage("img_decode")._2 == byStage("img_explode")._2 - 1)
    assert(byStage("img_exact_dedup")._2 == byStage("img_decode")._2 - 1)
    assert(byStage("img_near_dedup")._2 == byStage("img_exact_dedup")._2 - 1)
    assert(byStage("aud_decode")._2 == byStage("img_resize")._2 - 1)
    assert(byStage("aud_exact_dedup")._2 == byStage("aud_decode")._2 - 1)
    assert(byStage("aud_near_dedup")._2 == byStage("aud_exact_dedup")._2 - 1)
    assert(byStage("vid_decode")._2 == byStage("aud_near_dedup")._2 - 1)
    assert(byStage("vid_exact_dedup")._2 == byStage("vid_decode")._2 - 1)
    assert(byStage("vid_near_dedup")._2 == byStage("vid_exact_dedup")._2 - 1)
    assert(byStage("vid_profile_dedup")._2 == byStage("vid_near_dedup")._2 - 1)
    // 24 slots minus the ten planted losers (img: garbage + byte copy +
    // resize copy; aud: garbage + byte copy + rescale; vid: garbage +
    // byte copy + re-mux + re-encode).
    assert(byStage("reassemble") == ((24L, 14L)))
    val ref = r.docs.agg(count(lit(1)),
      coalesce(sum(size(col("images")) + size(col("audios")) + size(col("videos"))),
        lit(0L))).collect()(0)
    assert(byStage("reassemble") == ((ref.getLong(0), ref.getLong(1))),
      s"reassemble stats ${byStage("reassemble")} vs curated docs $ref")
  }

  test("curateInterleavedMm: DISK_ONLY payload level matches the default level") {
    val dflt = runMm()
    val disk = runMm(payloadLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    assert(statsRows(disk) == statsRows(dflt))
    assert(survivors(disk) == survivors(dflt))
  }

  test("curateInterleavedMm: each rewrite-then-filter stage runs its kernel once") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"plan_marker_${System.nanoTime()}"
    spark.listenerManager.register(listener)
    try {
      runMm()
      // Listener events arrive in order: once the marker query's plan is
      // in, so is every stage checkpoint's before it.
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!plans.asScala.exists(_.output.exists(_.name == marker)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val kernels: Seq[(String, Expression => Boolean)] = Seq(
      "html_extract" -> (_.prettyName == "graft_html_text"),
      "line_dedup" -> (e => e.prettyName == "array_join" &&
        e.children.headOption.exists(_.prettyName == "array_distinct")),
      "aud_decode" -> (_.prettyName == "graft_media_sketch64_audio_spectral"),
      "vid_decode" -> (_.prettyName == "graft_media_sketch64_video_payload"))
    // The most copies of each stage's kernel in any one plan.
    val copies = kernels.map { case (stage, is) =>
      stage -> plans.asScala.map(RewriteSpec.kernelCount(_, is)).max
    }.toMap
    assert(copies.values.forall(_ == 1), copies)
  }

  // -------------------------------------------------------------- curate

  test("curate: planted drops, token sums > 0, final stage matches the curated docs") {
    val P = graft.llm.Pipeline
    // 38 docs on the proven 3-marker template (near-dup-safe between
    // distinct ids): one exact dupe, one +1-token near dupe, one doc
    // decontaminated against the eval set, and a token budget that trims
    // the tail.
    val body = (i: Long) =>
      if (i == 36) enGood(0) // exact duplicate of doc 0
      else if (i == 37) enGood(1) + " extra" // near-dup of doc 1
      else enGood(i)
    val docs = (0L until 38L).map(i => (i, body(i))).toDF("id", "text")
    val ev = Seq((100L, enGood(3))).toDF("id", "text")
    val r = P.curate(docs, "id", "text", evalDocs = Some(ev),
      cfg = P.Config(budgetTokens = 300L))
    val se = r.stats.orderBy("ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3), x.getLong(5)))
      .toSeq
    // The stages that must have dropped rows did (the plant is live).
    val m = se.map(x => x._2 -> x._3).toMap
    assert(m("exact_dedup") == m("line_dedup") - 1, m.toString)
    assert(m("near_dedup") == m("exact_dedup") - 1, m.toString)
    assert(m("decontaminate") == m("near_dedup") - 1, m.toString)
    assert(m("token_budget") < m("decontaminate"), m.toString)
    // Token sums are real numbers, not zeros (the observed metrics must
    // aggregate the token expression).
    assert(se.forall(x => x._4 > 0))
    val ref = r.docs.agg(count(lit(1)), coalesce(
      sum(graft.llm.TextAnalysis.tokenCount(col("text")).cast("long")), lit(0L)))
      .collect()(0)
    assert(se.last._2 == "token_budget")
    assert((se.last._3, se.last._4) == ((ref.getLong(0), ref.getLong(1))),
      s"token_budget stats ${se.last} vs curated docs $ref")
  }

  // -------------------------------------------------------- curateImages

  test("curateImages: planted drops; resize matches the curated rows and bytes") {
    val M = graft.llm.Multimodal
    val P = graft.llm.Pipeline
    val imgs = (0L until 12L).map { i =>
      val bytes =
        if (i == 5L) M.encodeBlockImage(0L) // byte copy
        else if (i == 7L) M.resizeOne(M.encodeBlockImage(1L), 48, 48, "png")
        else if (i == 9L) s"junk-$i".getBytes("UTF-8")
        else M.encodeBlockImage(i)
      (i, bytes)
    }.toDF("id", "img")
    val r = P.curateImages(imgs, "id", "img", P.ImageConfig(maxDistance = 2))
    val se = r.stats.orderBy("ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
    val m = se.map(x => x._2 -> x._3).toMap
    assert(m("decode_phash") == 11L && m("exact_dedup") == 10L &&
      m("near_dedup") == 9L && m("resize") == 9L, m.toString)
    val ref = r.docs.agg(count(lit(1)),
      coalesce(sum(length(col("resized")).cast("long")), lit(0L))).collect()(0)
    assert(se.last._2 == "resize")
    assert((se.last._3, se.last._4) == ((ref.getLong(0), ref.getLong(1))),
      s"resize stats ${se.last} vs curated docs $ref")
  }

  // ------------------------------------------------- one text chain

  test("curate and curateInterleavedMm run one text chain: equal per-stage counts") {
    val P = graft.llm.Pipeline
    val cooking = (i: Column) => concat(lit("w"), i,
      lit("a stir the fresh garlic and onion in warm oil w"), i,
      lit("b simmer the tomato sauce with basil and sea salt w"), i, lit("c"))
    val sports = (i: Column) => concat(lit("w"), i,
      lit("a kick the fast ball across the green field now w"), i,
      lit("b the team ran hard and won the final game w"), i, lit("c"))
    val promo = (i: Column) => concat(lit("w"), i,
      lit("a click the best casino bonus offer here for you w"), i,
      lit("b you can win the big prize and cash now w"), i, lit("c"))
    val ti = concat(lit("t"), col("id").cast("string"))
    val labeled = spark.range(0, 300).toDF("id")
      .select(
        when(pmod(col("id"), lit(3)) === 0, cooking(ti))
          .when(pmod(col("id"), lit(3)) === 1, sports(ti))
          .otherwise(promo(ti)).as("text"),
        (pmod(col("id"), lit(3)) =!= 2).as("label"))
    val model = graft.llm.QualityClassifier.train(labeled, "text", "label")
    val qi = concat(lit("q"), col("id").cast("string"))
    val target = spark.range(0, 20).toDF("id")
      .select(col("id").as("doc_id"), cooking(qi).as("text"))
    // A planted drop for every text stage: cooking docs 0-19 survive,
    // promo 20-25 die at the model, French 26 at langid, punctuation spam
    // 27 at quality, a PII dump 28 at the density gate, sports 29-30 at
    // DSIR (no target bigrams), an exact copy 31 of doc 0, a +1-token
    // near copy 32 of doc 1, and doc 3 against the eval set; doc 33 is
    // HTML-wrapped and survives its extraction.
    val i = col("id").cast("string")
    val body = when(col("id") < 20, cooking(i))
      .when(col("id") < 26, promo(i))
      .when(col("id") === 26, concat(lit("le chat et le chien sont dans la " +
        "maison avec les amis et la famille w"), i))
      .when(col("id") === 27, lit("the it was " +
        Seq("!", "?", "@", "#", "$", "%", "^").map(c => c * 20).mkString(" ")))
      .when(col("id") === 28, concat(lit("w"), i, lit("a reach a@x.io b@x.io " +
        "c@x.io d@x.io https://x.io/1 https://y.io/2 from 10.0.0.1 and 10.0.1.2 w"),
        i, lit("b")))
      .when(col("id") < 31, sports(i))
      .when(col("id") === 31, cooking(lit("0")))
      .when(col("id") === 32, concat(cooking(lit("1")), lit(" extra")))
      .otherwise(concat(lit("<p>"), cooking(i), lit("</p><script>var x = 1;</script>")))
    val docs = spark.range(0, 34).toDF("id")
      .select(col("id").as("doc_id"), body.as("text"),
        array().cast("array<binary>").as("images"))
    val ev = Seq((100L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), cooking(lit("3")).as("text"))
    val cfg = P.Config(piiMaxDensity = Some(0.2), qualityModel = Some(model),
      dsirTarget = Some(target), dsirN = 23)
    def counts(stats: org.apache.spark.sql.DataFrame) =
      stats.orderBy("ord").collect().map(x => x.getString(1) -> x.getLong(2)).toSeq
    val text = counts(P.curate(docs.drop("images"), "doc_id", "text",
      evalDocs = Some(ev), cfg = cfg).stats)
    val mm = counts(P.curateInterleavedMm(docs, "doc_id", "text",
      Seq("image" -> "images"), P.InterleavedConfig(text = cfg),
      evalDocs = Some(ev)).stats)
    assert(text.map(_._1) == Seq("input", "fix_encoding", "html_extract",
      "langid_filter", "quality_filter", "pii_filter", "model_quality_filter",
      "dsir_resample", "line_dedup", "exact_dedup", "near_dedup",
      "decontaminate"), text.toString)
    assert(mm.take(text.size) == text,
      s"interleaved text stages diverged from curate:\n$mm\n$text")
    // The plant is live: every filtering stage dropped its planted rows.
    val m = text.toMap
    assert(m("input") == 34L)
    assert(m("langid_filter") == 33L && m("quality_filter") == 32L &&
      m("pii_filter") == 31L && m("model_quality_filter") == 25L &&
      m("dsir_resample") == 23L, m.toString)
    assert(m("exact_dedup") == m("line_dedup") - 1, m.toString)
    assert(m("near_dedup") == m("exact_dedup") - 1, m.toString)
    assert(m("decontaminate") == m("near_dedup") - 1, m.toString)
  }
}
