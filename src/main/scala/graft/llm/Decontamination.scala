package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the eval-overlap pass a training-data
  * pipeline runs before training: a training document is contaminated when
  * it shares at least one token n-gram with any document of an evaluation
  * corpus (the 13-gram matching discipline of the published LM dataset
  * reports; n = 13 is the customary default).
  *
  * Beyond-reference surface: builds on the same fused shingle kernel and
  * hashed-n-gram semantics as the dedup family ([[Dedup.shingleSets]] —
  * grams are compared as xxhash64 fingerprints, the family's standing
  * collision-negligible assumption; short documents contribute their
  * single whole-text window, `max(1, tokens - n + 1)` grams).
  *
  * Scale shape: the evaluation corpus is benchmark-sized by construction,
  * so its distinct gram set broadcasts; the training side is one narrow
  * projection + explode feeding a broadcast hash join — no shuffle of
  * training data except the per-id hit aggregation, which only carries
  * MATCHED grams (a tiny fraction of the corpus). A 100 TB train corpus
  * streams through map-side; nothing fans in until after the join filter.
  */
object Decontamination {

  /** Per-training-document contamination report.
    *
    * @return (id, n_grams, n_hits, contaminated): total distinct n-grams
    *   of the document, how many of them appear anywhere in `eval`, and
    *   whether any did. Rows with null `textCol` are dropped (no grams).
    */
  def contaminationReport(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val trainGrams = Dedup.shingleSets(train, idCol, textCol, n)
    val evalGrams = Dedup.shingleSets(eval, idCol, textCol, n)
      .select(explode(col("sh")).as("gram")).distinct()
    val hits = trainGrams.select(col("id"), explode(col("sh")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    trainGrams.select(col("id"), size(col("sh")).cast("long").as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= 1L)
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * memorization-risk complement of [[contaminationReport]]: instead of
    * "how much of this doc appears in the eval set" (contamination),
    * "how much of this doc does NOT appear in the reference corpus"
    * (novelty — the standard proxy for verbatim-memorization exposure
    * and for how much new signal a candidate document carries).
    * Grams are DISTINCT whitespace-token windows of width `n` (the
    * token rule shared corpus-wide); novelty is their unseen fraction.
    *
    * Scale shape: one distinct-gram aggregation per side (map-side
    * combined, keyed on the gram), one LEFT join on the gram key —
    * never all-pairs, nothing driver-side. Unlike the fused guards
    * (broadcast eval set), the reference here may be arbitrarily large:
    * the join shuffles on gram keys, the unbounded-reference path.
    *
    * @return (id, n_grams, n_novel, novelty_fp) per score doc with ≥ n
    *   tokens — novelty_fp = floor(n_novel·1e6 / n_grams). */
  def ngramNovelty(reference: DataFrame, score: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    def grams(df: DataFrame) = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("t"))
      .where(size(col("t")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))"))
        .as("gram"))
      .distinct()
    val ref = grams(reference).select("gram").distinct()
      .withColumn("__seen", lit(true))
    grams(score)
      .join(ref, Seq("gram"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("id").as(idCol), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000L div n_grams").as("novelty_fp"))
  }

  /** The keep-side: training rows sharing fewer than `minHits` n-grams
    * with the evaluation corpus (rows with null text carry no grams and
    * are always kept). One left_anti against the flagged id set.
    *
    * Unlike [[contaminationReport]] (which must emit every id with its
    * total gram count), the keep/drop decision needs only the HIT
    * aggregate — ids with zero hits are decided by their absence. So the
    * flagged set is built directly from one shingle pass feeding the
    * broadcast gram join: the report's second shingle pass (the
    * `n_grams` side) and its corpus-wide id-join are skipped. At the
    * 30M-doc pipeline bench that second pass + join were most of the
    * decontaminate stage's wall; the hit aggregate itself only ever
    * carries MATCHED grams, so the flagged frame stays benchmark-sized
    * and the final left_anti broadcasts under AQE. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minHits: Long = 1L): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    require(minHits >= 1,
      s"minHits must be >= 1, got $minHits (0 would flag EVERY document — " +
        "n_hits >= 0 is vacuously true — and drop the whole corpus)")
    val evalGrams = Dedup.shingleSets(eval, idCol, textCol, n)
      .select(explode(col("sh")).as("gram")).distinct()
    val flagged = Dedup.shingleSets(train, idCol, textCol, n)
      .select(col("id"), explode(col("sh")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
      .select(col("id").as(idCol))
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] with automatic plan selection (r14): the eval
    * corpus is benchmark-sized by contract, and at that size the
    * join-based keep side is beatable — its gram explode materializes
    * `~tokens` rows per corpus pass just to probe a set that fits in one
    * array. When the eval gram set is within `maxFusedGrams` (counted
    * first — one tiny job over the eval pipeline), the drop compiles to
    * the [[graft.functions.SetKernels]] membership probe over the fused
    * shingle sketch: ONE corpus pass, a pure projection+filter, zero
    * joins, zero shuffles — the [[streamDecontaminate]] kernel applied
    * batch-side (measured ~2× the join plan at 30M docs). Past the cap it
    * falls back to [[decontaminate]], which never collects. Fused
    * semantics are the `minHits = 1` contract (any shared gram drops the
    * document); callers needing a higher hit threshold use
    * [[decontaminate]] directly. */
  def decontaminateAuto(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13,
      maxFusedGrams: Long = 50000000L): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    require(!eval.isStreaming, "eval corpus must be a static frame")
    // ONE Spark job decides the plan AND feeds the fused path.
    evalGramsUpTo(eval, idCol, textCol, n, maxFusedGrams) match {
      case Some(grams) => applyGramGuard(train, grams, textCol, n)
      case None => decontaminate(train, eval, idCol, textCol, n)
    }
  }

  /** `limit` takes an Int: larger caps clamp to just below Int.MaxValue. */
  private def boundedCap(cap: Long): Int =
    math.min(cap, Int.MaxValue.toLong - 8L).toInt

  /** The eval corpus's distinct grams, or None when there are more than
    * `cap`. ONE job collects at most cap + 1 grams: overflow means "too
    * big" without a separate count job (a count-then-collect runs the eval
    * shingle/distinct pipeline twice), and the limit bounds driver memory
    * to the cap regardless of the true gram count. */
  private def evalGramsUpTo(eval: DataFrame, idCol: String, textCol: String,
      n: Int, cap: Long): Option[Array[Long]] = {
    val c = boundedCap(cap)
    val grams = Dedup.shingleSets(eval, idCol, textCol, n)
      .select(explode(col("sh")).as("gram")).distinct()
      .limit(c + 1).collect().map(_.getLong(0))
    if (grams.length <= c) Some(grams) else None
  }

  /** The fused keep side shared by [[decontaminateAuto]] and
    * [[streamDecontaminate]]: drop rows sharing any gram with the
    * driver-known eval set — a pure projection+filter over the fused
    * shingle sketch (minHits = 1 semantics; null-text rows kept). */
  private def applyGramGuard(df: DataFrame, evalGrams: Array[Long],
      textCol: String, n: Int): DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val sh = graft.functions.ShingleSketch.sketch(toks, n, 0).getField("sh")
    val contaminated = graft.functions.SetKernels.anyInSet(sh,
      graft.functions.Payload(graft.functions.SetKernels.LongSortedSet.of(evalGrams)))
    df.where(col(textCol).isNull || !coalesce(contaminated, lit(false)))
  }

  /** Streaming decontamination: drop in-flight documents sharing an
    * n-gram with a STATIC evaluation corpus — the ingest-time guard that
    * keeps fresh benchmark material out of a continuously-built training
    * set. Entirely STATELESS: the eval gram set is collected once at plan
    * build (benchmark-sized by definition — 8 bytes per gram) and probed
    * per row by the fused [[graft.functions.SetKernels]] membership
    * kernel, so the operator is a pure projection+filter that composes
    * with any downstream watermark/stateful stage. (The relational
    * spelling — explode + join + reassemble per-doc verdicts — needs an
    * aggregation, which under streaming means watermarked state, and
    * anti-joining a stream against its own derived hits is unsupported.)
    *
    * Refresh the eval corpus by restarting the query — the standard
    * stream-static contract. Works identically on batch frames. Rows with
    * null text carry no grams and are kept, like [[decontaminate]].
    *
    * `maxEvalGrams` guards the driver collect: "benchmark-sized by
    * definition" is a contract, not an enforcement — a caller handing a
    * training-corpus-sized frame as `eval` would otherwise OOM the driver
    * at plan build. The bounded collect fails fast with the knob named
    * instead; the default cap (~50M grams ≈ 400 MB of longs) is far above
    * any real benchmark suite. Mirrors the union-find ≤1M-edge gate in [[Dedup]]. */
  def streamDecontaminate(stream: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13, maxEvalGrams: Long = 50000000L): DataFrame = {
    require(!eval.isStreaming, "eval corpus must be a static frame")
    val evalGrams = evalGramsUpTo(eval, idCol, textCol, n, maxEvalGrams)
      .getOrElse(throw new IllegalArgumentException(
        s"streamDecontaminate would collect more than $maxEvalGrams distinct " +
        s"eval grams to the driver (cap maxEvalGrams=$maxEvalGrams, ~8 bytes " +
        "each). An eval corpus this large is usually a swapped argument; if " +
        "intended, raise maxEvalGrams, or use the join-based batch path " +
        "Decontamination.decontaminate, which never collects grams."))
    applyGramGuard(stream, evalGrams, textCol, n)
  }

  /** [[streamDecontaminate]] with a BLOOM-FILTER gram set: `bitsPerKey`
    * bits per eval gram instead of 64, pushing the driver/broadcast
    * ceiling ~3-6x higher before the join-based batch path becomes
    * mandatory. The tradeoff is one-directional by construction: a bloom
    * has NO false negatives, so every genuinely contaminated document is
    * still dropped; a per-gram false-positive rate of ~0.6185^bitsPerKey
    * (~6e-5 at the default 20) additionally drops that fraction of clean
    * GRAMS' documents — acceptable where the guard's job is "never ship
    * eval material", lossy-intolerable callers use [[streamDecontaminate]]
    * or the batch join. Stateless and stream-safe like its exact twin. */
  def bloomStreamDecontaminate(stream: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13, bitsPerKey: Int = 20,
      maxEvalGrams: Long = 200000000L): DataFrame = {
    require(!eval.isStreaming, "eval corpus must be a static frame")
    val evalGrams = evalGramsUpTo(eval, idCol, textCol, n, maxEvalGrams)
      .getOrElse(throw new IllegalArgumentException(
        "bloomStreamDecontaminate would build a bloom over more than " +
        s"$maxEvalGrams distinct eval grams (cap maxEvalGrams=$maxEvalGrams, " +
        s"~$bitsPerKey bits each). An eval corpus this large is usually a " +
        "swapped argument; if intended, raise maxEvalGrams, or use the " +
        "join-based Decontamination.decontaminate."))
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val sh = graft.functions.ShingleSketch.sketch(toks, n, 0).getField("sh")
    val contaminated = graft.functions.SetKernels.anyInBloom(sh,
      graft.functions.Payload(
        graft.functions.SetKernels.LongBloomSet.build(evalGrams, bitsPerKey)))
    stream.where(col(textCol).isNull || !coalesce(contaminated, lit(false)))
  }

  /** SEMANTIC decontamination: drop training rows whose embedding sits
    * within cosine `threshold` of ANY evaluation embedding — the
    * paraphrase-robust complement of the n-gram guards (a reworded
    * benchmark item shares no 13-gram but keeps its embedding
    * neighborhood). The eval matrix is driver-collected (benchmark-sized
    * by contract, capped like the gram collect) and probed per row by the
    * fused [[graft.functions.CentroidKernels]] max-cosine kernel — a pure
    * projection+filter, zero shuffle, zero join, stream-safe at any plan
    * position. Rows with null or unscoreable (null-element/ragged)
    * embeddings are KEPT, mirroring the null-text convention of the gram
    * guards.
    *
    * `maxEvalVectors` bounds driver/executor memory: the matrix costs
    * 8·dim bytes per vector (~50 MB at the default cap with dim 64;
    * size the cap to the dimension at hand). */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame, vecCol: String,
      threshold: Double = 0.9, maxEvalVectors: Long = 100000L): DataFrame = {
    require(!eval.isStreaming, "eval corpus must be a static frame")
    require(threshold > 0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val cap = boundedCap(maxEvalVectors)
    val vecs = eval.select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull).limit(cap + 1).collect()
    require(vecs.length <= cap,
      s"semanticDecontaminate would collect more than $maxEvalVectors eval " +
        s"embeddings to the driver (cap maxEvalVectors=$maxEvalVectors, 8*dim " +
        "bytes each). An eval corpus this large is usually a swapped argument; " +
        "if intended, raise maxEvalVectors, or bucket with " +
        "Dedup.nearDupCosineAgainst-style joins.")
    val matrix = vecs.map(_.getSeq[Double](0).toArray)
    val mc = graft.functions.CentroidKernels.maxCosine(col(vecCol), matrix)
    train.where(col(vecCol).isNull || coalesce(mc < threshold, lit(true)))
  }
}
