package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale evidence for the round-10 pipeline operators: runs each over a
  * synthesized 10M–100M-row input on local[32] and reports marginal
  * operator cost (input synthesis is measured separately and subtracted),
  * writing one JSON line per bench to `bench_ops_scale.json`.
  *
  * The inputs are synthesized with the same deterministic xxhash64 idiom
  * the engine uses everywhere, so runs are reproducible; the operators
  * under test are the narrow/zero-shuffle paths whose claim to 100 TB
  * readiness is exactly that their cost is a constant factor on the scan.
  * Run: `sbt "runMain graft.tools.DriveOpsScale"`. */
object DriveOpsScale {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def mat(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    /** Min wall over 2 attempts + the winning attempt's steal (the bench
      * artifact's own contention policy) — shared by the action-shaped
      * benches that cannot go through `bench()`. */
    def minTimedBest(body: => Unit): (Double, Double) = {
      var best = Double.MaxValue; var steal = 0.0
      for (_ <- 0 until 2) {
        val (st0, _) = boxTicks()
        val t = secs(body)
        val (st1, _) = boxTicks()
        if (t < best) { best = t; steal = (st1 - st0) / 100.0 }
      }
      (best, steal)
    }

    /** ~`nTok`-token text from the row id — vocabulary of 5000 words. */
    def text(nTok: Int): Column = array_join(
      transform(sequence(lit(0), lit(nTok - 1)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(5000)).cast("string"))),
      " ")
    /** 64-dim pseudo-embedding in [-0.5, 0.5) from the row id. */
    def vec(dim: Int): Column = transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double") / 1e6 - 0.5)

    /** Steal + neighbor-CPU ticks from /proc/stat (whole box). */
    def boxTicks(): (Long, Long) = try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next().trim
        .split("\\s+").drop(1).map(_.toLong)
      // user+nice+system are OUR ticks too; steal(7) is unambiguous.
      (l(7), l.sum)
    } catch { case _: Throwable => (0L, 0L) }

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }

    // Optional bench-name filter (args): re-measure a subset, keeping the
    // other lines of an existing bench_ops_scale.json untouched.
    val only: Set[String] = args.toSet
    val out = new StringBuilder
    def bench(name: String, rows: Long, synth: => DataFrame,
        op: DataFrame => DataFrame): Unit = if (only.isEmpty || only(name)) {
      // Warm at 1/10 scale (codegen + JIT), then measure synthesis alone
      // and synthesis+operator; the difference is the operator's marginal
      // cost on a warm pipeline. The box is multi-tenant and contention
      // comes in bursts (measured 25x swings on identical code), so apply
      // the bench artifact's own policy: re-measure while the line carries
      // steal or looks contaminated, keep the minimum.
      mat(op(synth.limit((rows / 10).toInt)))
      val hz = 100.0 // USER_HZ ticks/sec
      // Contention is bursty, so take several attempts — but publish the
      // (base, full) PAIR from the single attempt with the lowest full:
      // independent minima across attempts could manufacture a marginal no
      // run exhibited (ADVICE r10). The lowest-full attempt is the
      // cleanest observed window, and its pair is a real measurement.
      var best: (Double, Double, Double) = (Double.MaxValue, Double.MaxValue, 0.0)
      for (_ <- 0 until 3) {
        val (st0, _) = boxTicks()
        val base = secs(mat(synth))
        val full = secs(mat(op(synth)))
        val (st1, _) = boxTicks()
        if (full < best._2) best = (base, full, (st1 - st0) / hz)
      }
      val (bBase, bFull, bSteal) = best
      val marginal = math.max(0.0, bFull - bBase)
      // A marginal below ~50ms is inside run-to-run noise on this box —
      // publishing a rate from it would be fiction; null says "operator
      // cost unmeasurable against its input synthesis".
      val rps =
        if (marginal < 0.05) "null"
        else f"${rows / marginal / 1e6}%.1f"
      val line = f"""{"bench":"$name","rows":$rows,"base_sec":$bBase%.2f,"full_sec":$bFull%.2f,"marginal_sec":$marginal%.2f,"marginal_mrows_per_sec":$rps,"steal_sec":$bSteal%.2f}"""
      println(s"CHECK $line")
      out.append(line).append('\n')
    }

    val docs10m = spark.range(10000000L).toDF("id").withColumn("text", text(32))
    bench("chunk_10m_docs", 10000000L, docs10m,
      df => graft.llm.Chunking.chunkByTokens(df, "id", "text",
        chunkTokens = 16, overlapTokens = 4))

    val emb10m = spark.range(10000000L).toDF("id").withColumn("embedding", vec(64))
    bench("quantize_10m_vecs", 10000000L, emb10m,
      df => graft.llm.Similarity.quantizeInt8(df, "embedding"))

    val weighted100m = spark.range(100000000L).toDF("id")
      .withColumn("w", (pmod(xxhash64(col("id")), lit(9L)) + 1L).cast("double"))
    bench("weighted_sample_100m_top100k", 100000000L, weighted100m,
      df => graft.llm.Sampling.sampleWeightedN(df, Seq("id"), "w", 100000))

    // Bloom guard: 1M-gram eval set (built once, ~2.5 MB at 20 bits/key)
    // probed by every document's 13-gram windows.
    val evalGrams: Array[Long] = Array.tabulate(1000000) { i =>
      var z = i.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    bench("bloom_guard_10m_docs_1m_grams", 10000000L, docs10m, { df =>
      val toks = split(trim(lower(col("text"))), "\\s+")
      val sh = graft.functions.ShingleSketch.sketch(toks, 13, 0).getField("sh")
      df.where(!coalesce(
        graft.functions.SetKernels.anyInBloom(sh, graft.functions.Payload(
          graft.functions.SetKernels.LongBloomSet.build(evalGrams, 20))), lit(false)))
    })

    // PQ encode: codebook trained once on a 2000-row sample (training cost
    // is amortized over the corpus in any real deployment), then the fused
    // per-row encode over 10M vectors. Training stays inside the filter
    // guard — a subset re-measure must not pay for excluded benches.
    if (only.isEmpty || only("pq_encode_10m_vecs")) {
      val pqBook = graft.llm.Similarity.pqTrain(
        emb10m.limit(2000), "id", "embedding", m = 16, ksub = 64, refineIterations = 2)
      bench("pq_encode_10m_vecs", 10000000L, emb10m,
        df => df.select(graft.functions.PqKernels.encode(col("embedding"), pqBook).as("c")))
    }

    // LUT-ADC scoring vs the old decode+dot shape: codebook trained once,
    // corpus pre-encoded to codes in the BASE (so each marginal isolates
    // the per-candidate scoring path — the hot loop of a PQ index probe),
    // one fixed query whose LUT constant-folds into the plan. The PAIR of
    // lines is the evidence: O(m) lookups vs O(dim) decode+dot+norm with
    // a per-candidate allocation.
    if (only.isEmpty || only("pq_adc_10m_codes") || only("pq_decode_dot_10m_codes")) {
      val adcBook = graft.llm.Similarity.pqTrain(
        emb10m.limit(2000), "id", "embedding", m = 16, ksub = 64, refineIterations = 2)
      // Codes MATERIALIZED to parquet: the base is then a stable scan (the
      // 10M-vector encode's run-to-run variance would otherwise drown the
      // O(m) scoring marginal), and it models the real deployment — the
      // code table IS the persisted index a probe reads.
      val codesDir = "/tmp/graft_ops_adc_codes"
      emb10m.select(col("id"),
        graft.functions.PqKernels.encode(col("embedding"), adcBook).as("codes"))
        .write.mode("overwrite").parquet(codesDir)
      val codes10m = spark.read.parquet(codesDir)
      val qv = Array.tabulate(64)(i => i / 64.0 - 0.5)
      if (only.isEmpty || only("pq_adc_10m_codes"))
        bench("pq_adc_10m_codes", 10000000L, codes10m,
          df => df.select(graft.functions.PqKernels.adcScore(col("codes"),
            graft.functions.PqKernels.lut(lit(qv), adcBook), adcBook).as("s")))
      if (only.isEmpty || only("pq_decode_dot_10m_codes"))
        bench("pq_decode_dot_10m_codes", 10000000L, codes10m, { df =>
          val deq = graft.functions.PqKernels.decode(col("codes"), adcBook)
          df.select((graft.functions.VectorKernels.dot(lit(qv), deq) /
            graft.functions.VectorKernels.norm(deq)).as("s"))
        })
      rm(new java.io.File(codesDir))
    }

    // ANN training wall (r12): Lloyd refinement with the bounded-sample
    // knob must be FLAT from 10M -> 100M rows (per-iteration cost bound by
    // the materialized ~1M-row sample; the only O(N) residue is the one
    // count+sample scan), while full-corpus training pays every iteration
    // at corpus bandwidth. The corpora are MATERIALIZED parquet (32-dim
    // float32 — 12.8 GB at 100M), the form a real training job reads: an
    // in-flight synthesis expression would run interpreted (higher-order
    // `transform` is CodegenFallback) and drown the training cost it
    // feeds. 64 centroids, 2 Lloyd iterations per measurement.
    val trainNames = Seq("ivf_train_full_10m", "ivf_train_bounded_10m",
      "ivf_train_bounded_100m")
    if (only.isEmpty || trainNames.exists(only)) {
      import org.apache.spark.sql.functions.col
      def corpusDir(rows: Long): String = {
        val dir = s"/tmp/graft_ops_train_$rows"
        if (!new java.io.File(dir, "_SUCCESS").exists()) {
          spark.range(rows).toDF("id")
            .withColumn("cv", vec(32).cast("array<float>"))
            .write.mode("overwrite").parquet(dir)
        }
        dir
      }
      def trainLine(name: String, rows: Long, maxTrain: Long): Unit =
        if (only.isEmpty || only(name)) {
          val c = spark.read.parquet(corpusDir(rows))
          val seed = graft.llm.Similarity.sampleCentroids(c, "id", "cv", 64)
          // warm (codegen/JIT) at 1/10 scale, 1 iteration — a narrow id
          // filter, NOT limit() (GlobalLimit would run the warm pass on a
          // single partition/core).
          graft.llm.Similarity.refineCentroids(
            c.where(col("id") < rows / 10), "cv", seed, 1, maxTrain)
          var bestT = Double.MaxValue; var bestSteal = 0.0
          for (_ <- 0 until 2) {
            val (st0, _) = boxTicks()
            val t = secs {
              graft.llm.Similarity.refineCentroids(c, "cv", seed, 2, maxTrain); ()
            }
            val (st1, _) = boxTicks()
            if (t < bestT) { bestT = t; bestSteal = (st1 - st0) / 100.0 }
          }
          val line = f"""{"bench":"$name","rows":$rows,"train_sec":$bestT%.2f,"max_train_rows":$maxTrain,"steal_sec":$bestSteal%.2f}"""
          println(s"CHECK $line")
          out.append(line).append('\n')
        }
      trainLine("ivf_train_full_10m", 10000000L, 0L)
      trainLine("ivf_train_bounded_10m", 10000000L, 1000000L)
      trainLine("ivf_train_bounded_100m", 100000000L, 1000000L)
      Seq(10000000L, 100000000L).foreach(r => rm(new java.io.File(s"/tmp/graft_ops_train_$r")))
    }

    // Streaming minhash guard at realistic corpus scale (r12): 10M-doc
    // corpus -> bloom band index (numHashes=128, bands=16 => up to 160M
    // distinct band keys, streamed into a ~400 MB bloom — the documented
    // ceiling path), then the stateless probe over a 1M-doc stream.
    if (only.isEmpty || only("stream_guard_bloom_build_10m_docs")
        || only("stream_guard_probe_1m_docs")) {
      val corpusDocs = spark.range(10000000L).toDF("id").withColumn("text", text(16))
      var bloom: graft.functions.SetKernels.LongBloomSet = null
      val (st0, _) = boxTicks()
      val buildSec = secs {
        bloom = graft.llm.Dedup.minHashBandBloom(corpusDocs, "id", "text",
          numHashes = 128, bands = 16, shingleWidth = 3, bitsPerKey = 20,
          maxCorpusKeys = 400000000L)
      }
      val (st1, _) = boxTicks()
      if (only.isEmpty || only("stream_guard_bloom_build_10m_docs")) {
        val line = f"""{"bench":"stream_guard_bloom_build_10m_docs","rows":10000000,"build_sec":$buildSec%.2f,"bloom_mb":${bloom.words.length * 8 / 1e6}%.1f,"steal_sec":${(st1 - st0) / 100.0}%.2f}"""
        println(s"CHECK $line")
        out.append(line).append('\n')
      }
      if (only.isEmpty || only("stream_guard_probe_1m_docs")) {
        val streamDocs = spark.range(1000000L).toDF("id").withColumn("text", text(16))
        bench("stream_guard_probe_1m_docs", 1000000L, streamDocs,
          df => graft.llm.Dedup.streamMinHashGuardWith(df, bloom, "text",
            numHashes = 128, bands = 16))
      }
    }

    // IVF+PQ index compaction (r12): a 10M-row index written once, then 8
    // append batches of 500k — the small-files growth path a production
    // ingest pays. Measures the file-count shrink, the compaction wall
    // (one shuffled rewrite of the CODES table: ~m+4 bytes/row, never the
    // raw vectors), and the probe wall before/after (footer-open +
    // listing overhead reclaimed). Corpora are materialized parquet for
    // the same CodegenFallback reason as the training lines.
    if (only.isEmpty || only("index_compact_10m")) {
      import org.apache.spark.sql.functions.col
      val baseDir = "/tmp/graft_ops_compact_base"
      if (!new java.io.File(baseDir, "_SUCCESS").exists()) {
        spark.range(14000000L).toDF("id")
          .withColumn("cv", vec(32).cast("array<float>"))
          .write.mode("overwrite").parquet(baseDir)
      }
      val all = spark.read.parquet(baseDir)
      val idxDir = "/tmp/graft_ops_compact_idx"
      rm(new java.io.File(idxDir))
      val (indexed, meta) = graft.llm.Similarity.buildIvfPqIndex(
        all.where(col("id") < 10000000L), "id", "cv",
        nCentroids = 64, m = 8, ksub = 16, refineIterations = 1,
        maxTrainRows = 1000000L)
      graft.llm.Similarity.writeIvfPqIndex(indexed, meta, idxDir)
      (0 until 8).foreach { b =>
        val lo = 10000000L + b * 500000L
        graft.llm.Similarity.appendToIvfPqIndex(
          all.where(col("id") >= lo && col("id") < lo + 500000L),
          "id", "cv", meta, idxDir)
      }
      val queries = all.where(col("id") < 32)
        .select(col("id").as("qid"), col("cv").as("qv"))
      val raw = all.select(col("id").as("neighbor_id"),
        col("cv").cast("array<double>").as("cv"))
      def probeSec(): Double = {
        val (idx, m2) = graft.llm.Similarity.readIvfPqIndex(spark, idxDir)
        secs {
          mat(graft.llm.Similarity.probeIvfPqIndex(idx, m2, raw,
            queries, "qid", "qv", k = 10, nProbe = 8, rerank = 4))
        }
      }
      val probeBefore = probeSec()
      val (st0, _) = boxTicks()
      var nBefore = 0L; var nAfter = 0L
      val compactSec = secs {
        val r = graft.llm.Similarity.compactIvfPqIndex(spark, idxDir)
        nBefore = r._1; nAfter = r._2
      }
      val (st1, _) = boxTicks()
      val probeAfter = probeSec()
      val line = f"""{"bench":"index_compact_10m","rows":14000000,"files_before":$nBefore,"files_after":$nAfter,"compact_sec":$compactSec%.2f,"probe_before_sec":$probeBefore%.2f,"probe_after_sec":$probeAfter%.2f,"steal_sec":${(st1 - st0) / 100.0}%.2f}"""
      println(s"CHECK $line")
      out.append(line).append('\n')
      rm(new java.io.File(idxDir))
      rm(new java.io.File(baseDir))
    }

    // Corpus-frequent line strip at 10M docs (r12): the relational form
    // (3 shuffles: frequency distinct+count, anti-join, reassembly) vs
    // the guard form (ONE bounded vocabulary collect + a zero-shuffle
    // fused strip). Corpus is materialized parquet with planted banner
    // lines (every 3rd doc a footer, every 5th a header) — the honest
    // input for a multi-scan operator.
    if (only.isEmpty || only("line_dedup_10m") || only("line_guard_10m")) {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val dir = "/tmp/graft_ops_lines"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        spark.range(10000000L).toDF("id")
          .withColumn("text", concat(
            when(pmod(col("id"), lit(5)) === 0,
              lit("OFFICIAL SITE BANNER DO NOT REMOVE\n")).otherwise(lit("")),
            text(32),
            when(pmod(col("id"), lit(3)) === 0,
              lit("\nPLEASE SUBSCRIBE TO OUR NEWSLETTER TODAY")).otherwise(lit(""))))
          .write.mode("overwrite").parquet(dir)
      }
      val c = spark.read.parquet(dir)
      def minTimed(body: => Unit): (Double, Double) = {
        var best = Double.MaxValue; var steal = 0.0
        for (_ <- 0 until 2) {
          val (st0, _) = boxTicks()
          val t = secs(body)
          val (st1, _) = boxTicks()
          if (t < best) { best = t; steal = (st1 - st0) / 100.0 }
        }
        (best, steal)
      }
      if (only.isEmpty || only("line_dedup_10m")) {
        mat(graft.llm.Dedup.removeCorpusFrequentLines(
          c.where(col("id") < 1000000L), "id", "text")) // warm
        val (t, st) = minTimed(
          mat(graft.llm.Dedup.removeCorpusFrequentLines(c, "id", "text")))
        val line = f"""{"bench":"line_dedup_10m","rows":10000000,"op_sec":$t%.2f,"steal_sec":$st%.2f}"""
        println(s"CHECK $line"); out.append(line).append('\n')
      }
      if (only.isEmpty || only("line_guard_10m")) {
        var idx: Array[Long] = null
        val (bt0, _) = boxTicks()
        val buildSec = secs {
          idx = graft.llm.Dedup.frequentLineIndex(c, "id", "text")
        }
        val (bt1, _) = boxTicks()
        mat(graft.llm.Dedup.stripFrequentLinesWith(
          c.where(col("id") < 1000000L), "text", idx)) // warm
        val (t, st) = minTimed(
          mat(graft.llm.Dedup.stripFrequentLinesWith(c, "text", idx)))
        val line = f"""{"bench":"line_guard_10m","rows":10000000,"index_build_sec":$buildSec%.2f,"n_frequent":${idx.length},"strip_sec":$t%.2f,"build_steal_sec":${(bt1 - bt0) / 100.0}%.2f,"steal_sec":$st%.2f}"""
        println(s"CHECK $line"); out.append(line).append('\n')
      }
      rm(new java.io.File(dir))
    }

    // BPE encode: 50-merge table trained once on a 5k-doc sample, then the
    // fused whole-text encode over 10M 32-token docs.
    if (only.isEmpty || only("bpe_encode_10m_docs")) {
      val bpeMerges = graft.llm.Bpe.train(docs10m.limit(5000), "text", numMerges = 50)
      bench("bpe_encode_10m_docs", 10000000L, docs10m,
        df => graft.llm.Bpe.encode(df, "text", bpeMerges)
          .select(size(col("bpe_tokens")).as("n")))
    }

    // Unigram-LM: model trained once on a 5k-doc sample, then the fused
    // Viterbi encode over 10M docs (the 100 TB deployment shape — train
    // on a sample, encode the corpus). The train line measures the full
    // wall at 10M docs: the one corpus→distinct-word shuffle dominates,
    // everything after is vocabulary-sized (5000 distinct words here).
    if (only.isEmpty || only("unigram_encode_10m_docs")
        || only("unigram_train_10m_docs")) {
      if (only.isEmpty || only("unigram_encode_10m_docs")) {
        val um = graft.llm.UnigramLm.train(docs10m.limit(5000), "text",
          vocabSize = 300, maxPieceLen = 6)
        bench("unigram_encode_10m_docs", 10000000L, docs10m,
          df => graft.llm.UnigramLm.encode(df, "text", um)
            .select(size(col("unigram_tokens")).as("n")))
      }
      if (only.isEmpty || only("unigram_train_10m_docs")) {
        graft.llm.UnigramLm.train( // warm at 1/10 scale
          docs10m.limit(1000000), "text", vocabSize = 300, maxPieceLen = 6)
        var bestT = Double.MaxValue; var bestSteal = 0.0
        for (_ <- 0 until 2) {
          val (st0, _) = boxTicks()
          val t = secs {
            graft.llm.UnigramLm.train(docs10m, "text",
              vocabSize = 300, maxPieceLen = 6); ()
          }
          val (st1, _) = boxTicks()
          if (t < bestT) { bestT = t; bestSteal = (st1 - st0) / 100.0 }
        }
        val line = f"""{"bench":"unigram_train_10m_docs","rows":10000000,"train_sec":$bestT%.2f,"steal_sec":$bestSteal%.2f}"""
        println(s"CHECK $line"); out.append(line).append('\n')
      }
    }

    // Quality-classifier scoring: model trained once on a 10k-doc sample
    // with a synthetic label, then the fused hashed-n-gram + logreg score
    // over 10M docs — the corpus-filtering pass of the GPT-3 pipeline.
    if (only.isEmpty || only("quality_score_10m_docs")) {
      val labeled = docs10m.limit(10000)
        .withColumn("label", (pmod(xxhash64(col("id")), lit(2L))).cast("double"))
      val qm = graft.llm.QualityClassifier.train(labeled, "text", "label",
        dim = 1 << 16, iterations = 5)
      bench("quality_score_10m_docs", 10000000L, docs10m,
        df => df.select(
          graft.llm.QualityClassifier.score(col("text"), qm).as("q")))
    }

    // HTML-to-text extraction over 10M synthetic pages (tags + script
    // noise around the 32-token body) — the crawl WET pass.
    if (only.isEmpty || only("html_extract_10m_docs")) {
      val pages10m = spark.range(10000000L).toDF("id").withColumn("text",
        concat(lit("<html><head><title>t</title><script>var x=1;</script></head><body><p>"),
          text(32), lit("</p><div>&amp; more</div></body></html>")))
      bench("html_extract_10m_docs", 10000000L, pages10m,
        df => df.select(
          graft.functions.HtmlKernel.htmlToText(col("text")).as("wet")))
    }

    // DSIR: the log-ratio table fit once (target = a 5k-doc slice, raw =
    // a 100k sample — the real deployment fits on samples), then the
    // fused importance-weight score over 10M docs; plus the fit wall
    // itself at 10M docs (one dim-bounded two-phase count + ≤ dim-row
    // collect per corpus).
    if (only.isEmpty || only("dsir_score_10m_docs") || only("dsir_fit_10m_docs")) {
      if (only.isEmpty || only("dsir_score_10m_docs")) {
        val tbl = graft.llm.Dsir.logRatioTable(
          docs10m.limit(5000), docs10m.limit(100000), "text",
          dim = 1 << 16, ngrams = 2)
        bench("dsir_score_10m_docs", 10000000L, docs10m,
          df => df.select(
            graft.llm.Dsir.importanceLogWeight(col("text"), tbl).as("w")))
      }
      if (only.isEmpty || only("dsir_fit_10m_docs")) {
        graft.llm.Dsir.bucketLogProbs( // warm at 1/10 scale
          docs10m.limit(1000000), "text", dim = 1 << 16, ngrams = 2)
        var bestT = Double.MaxValue; var bestSteal = 0.0
        for (_ <- 0 until 2) {
          val (st0, _) = boxTicks()
          val t = secs {
            graft.llm.Dsir.bucketLogProbs(docs10m, "text",
              dim = 1 << 16, ngrams = 2); ()
          }
          val (st1, _) = boxTicks()
          if (t < bestT) { bestT = t; bestSteal = (st1 - st0) / 100.0 }
        }
        val line = f"""{"bench":"dsir_fit_10m_docs","rows":10000000,"fit_sec":$bestT%.2f,"steal_sec":$bestSteal%.2f}"""
        println(s"CHECK $line"); out.append(line).append('\n')
      }
    }

    // WordPiece: 50-merge model trained once on a 5k-doc sample, then the
    // fused greedy longest-match encode over 10M 32-token docs (the same
    // train-on-sample / encode-the-corpus shape as BPE/unigram).
    if (only.isEmpty || only("wordpiece_encode_10m_docs")) {
      val wpm = graft.llm.WordPiece.train(docs10m.limit(5000), "text",
        numMerges = 50)
      bench("wordpiece_encode_10m_docs", 10000000L, docs10m,
        df => graft.llm.WordPiece.encode(df, "text", wpm)
          .select(size(col("wp_tokens")).as("n")))
    }

    // Misra-Gries heavy hitters: one treeAggregate pass over 10M docs
    // (k=4096, ~5000 distinct tokens here so the summary is near-exact);
    // marginal = sketch wall minus the same scan materialized to noop.
    if (only.isEmpty || only("heavy_hitters_10m_docs")) {
      graft.llm.CorpusStats.heavyHitters(docs10m.limit(1000000), "text", 4096) // warm
      val (baseT, _) = minTimedBest(mat(docs10m))
      val (hhT, hhSteal) = minTimedBest {
        graft.llm.CorpusStats.heavyHitters(docs10m, "text", 4096); ()
      }
      val marginal = math.max(0.0, hhT - baseT)
      val line = f"""{"bench":"heavy_hitters_10m_docs","rows":10000000,"base_sec":$baseT%.2f,"full_sec":$hhT%.2f,"marginal_sec":$marginal%.2f,"steal_sec":$hhSteal%.2f}"""
      println(s"CHECK $line"); out.append(line).append('\n')
    }

    // PCA over 10M 64-dim vectors: fit is the one-pass Gram treeAggregate
    // (materialized parquet input for the CodegenFallback-synthesis
    // reason the training lines share); projection is the fused kernel,
    // synthesis-subtracted like quantize.
    if (only.isEmpty || only("pca_fit_10m_vecs") || only("pca_project_10m_vecs")) {
      val dir = "/tmp/graft_ops_pca"
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        emb10m.withColumn("embedding", col("embedding").cast("array<float>"))
          .write.mode("overwrite").parquet(dir)
      }
      val pvecs = spark.read.parquet(dir)
      if (only.isEmpty || only("pca_fit_10m_vecs")) {
        graft.llm.Pca.fit(pvecs.limit(1000000), "embedding", k = 8) // warm
        val (t, st) = minTimedBest {
          graft.llm.Pca.fit(pvecs, "embedding", k = 8); ()
        }
        val line = f"""{"bench":"pca_fit_10m_vecs","rows":10000000,"fit_sec":$t%.2f,"steal_sec":$st%.2f}"""
        println(s"CHECK $line"); out.append(line).append('\n')
      }
      if (only.isEmpty || only("pca_project_10m_vecs")) {
        val pm = graft.llm.Pca.fit(pvecs.limit(1000000), "embedding", k = 8)
        bench("pca_project_10m_vecs", 10000000L, pvecs.select("embedding"),
          df => graft.llm.Pca.transform(df, "embedding", pm)
            .select(element_at(col("pc"), 1).as("p0")))
      }
      rm(new java.io.File(dir))
    }

    // NFKC normalization: fused projection with the isNormalized fast
    // path (synthetic text is ASCII, so this measures the common case —
    // one scan, zero allocation).
    if (only.isEmpty || only("nfkc_10m_docs")) {
      bench("nfkc_10m_docs", 10000000L, docs10m,
        df => df.select(length(
          graft.functions.NormalizeKernel.nfkc(col("text"))).as("n")))
    }

    // Sentence segmentation: one narrow regexp explode.
    if (only.isEmpty || only("sentences_10m_docs")) {
      bench("sentences_10m_docs", 10000000L, docs10m,
        df => graft.llm.TextAnalysis.sentences(
          df.withColumn("id", monotonically_increasing_id()), "id", "text")
          .select(length(col("sentence")).as("n")))
    }

    // BM25 index build at 10M docs: the one-time corpus cost (tf + dl +
    // df materialized — what a production build writes as parquet), then
    // a 100-query batch scored against it (postings-only work).
    if (only.isEmpty || only("bm25_index_10m_docs")) {
      val bmDocs = docs10m
      val bmDir = "/tmp/graft_ops_bm25_idx"
      rm(new java.io.File(bmDir))
      graft.llm.Retrieval.buildAndWriteIndex(
        bmDocs.limit(1000000), "id", "text", bmDir) // warm
      rm(new java.io.File(bmDir))
      var idx: graft.llm.Retrieval.Bm25Index = null
      val (buildT, buildSteal) = minTimedBest {
        // ONE corpus tokenization into the written tf parquet; dl/df and
        // the stats job derive from the parquet — the production build
        // shape, not N independent corpus rescans.
        idx = graft.llm.Retrieval.buildAndWriteIndex(bmDocs, "id", "text", bmDir)
      }
      val queries = spark.range(100).toDF("id")
        .select(col("id").as("q_id"), text(6).as("q_text"))
      val (queryT, _) = minTimedBest {
        mat(graft.llm.Retrieval.topK(idx, queries, "q_id", "q_text", k = 10))
      }
      // Single-query latency: the online case the term-bucket layout is
      // for — ~6 terms touch ~6 of 256 bucket dirs plus the pushed
      // In(term,...) row-group skip, vs the r12 full postings scan.
      val q1 = queries.limit(1)
      val (query1T, _) = minTimedBest {
        mat(graft.llm.Retrieval.topK(idx, q1, "q_id", "q_text", k = 10))
      }
      val line = f"""{"bench":"bm25_index_10m_docs","rows":10000000,"build_sec":$buildT%.2f,"query100_sec":$queryT%.2f,"query1_sec":$query1T%.2f,"n_buckets":${idx.nBuckets},"steal_sec":$buildSteal%.2f}"""
      println(s"CHECK $line"); out.append(line).append('\n')
      rm(new java.io.File(bmDir))
    }

    // Image pHash at 1M images (64×64 PNG, ~50k distinct textures): real
    // decode + grayscale resample + 2D DCT per payload — the perceptual
    // sketch half of image dedup; the pair join is the generic Hamming
    // pigeonhole already benched via the dedup family. Payload synthesis
    // (PNG encode) is the base cost and subtracts out.
    if (only.isEmpty || only("phash_1m_images")) {
      val imgs = spark.range(1000000L).toDF("id").as[Long]
        .map(id => (id, graft.llm.Multimodal.encodeBlockImage(id % 50000, 64)))
        .toDF("id", "payload")
      bench("phash_1m_images", 1000000L, imgs,
        df => graft.llm.Multimodal.pHashImages(df, "payload").select("phash"))
    }

    // Perceptual near-dup removal PAST the driver index bound (r14): 10M
    // sketches (~9M distinct — every 10th row duplicates its neighbor)
    // against a 2M-hash cap force the hash-range multi-pass MIH path
    // (~6 shard passes, each a bounded index build + one zero-shuffle
    // corpus probe); the fused single-index run over the same frame is
    // the reference for survivors and the per-pass overhead ratio. The
    // hashes are synthetic longs — the decode cost is phash_1m_images'
    // subject; this measures the dedup machinery itself.
    if (only.isEmpty || only("phash_dedup_multipass_10m")) {
      val sketches = spark.range(10000000L).toDF("id")
        .withColumn("ph", when(pmod(col("id"), lit(10)) === 9,
          xxhash64(col("id") - 1)).otherwise(xxhash64(col("id"))))
        .localCheckpoint()
      val (fusedSec, fusedSteal) = minTimedBest {
        mat(graft.llm.Dedup.dropNearDupsPHash(sketches, "id", "ph",
          maxDistance = 3, maxCorpusImages = 50000000L))
      }
      val nFused = graft.llm.Dedup.dropNearDupsPHash(sketches, "id", "ph",
        maxDistance = 3, maxCorpusImages = 50000000L).count()
      val (shardSec, shardSteal) = minTimedBest {
        mat(graft.llm.Dedup.dropNearDupsPHash(sketches, "id", "ph",
          maxDistance = 3, maxCorpusImages = 2000000L))
      }
      val nShard = graft.llm.Dedup.dropNearDupsPHash(sketches, "id", "ph",
        maxDistance = 3, maxCorpusImages = 2000000L).count()
      val line = f"""{"bench":"phash_dedup_multipass_10m","rows":10000000,"cap":2000000,"fused_sec":$fusedSec%.2f,"multipass_sec":$shardSec%.2f,"survivors_fused":$nFused,"survivors_multipass":$nShard,"steal_sec":${math.max(fusedSteal, shardSteal)}%.2f}"""
      println(s"CHECK $line"); out.append(line).append('\n')
      sketches.unpersist()
    }

    // Edit-distance join over 1M short titles (6 tokens ≈ 30 chars, d=1):
    // segment blocking + banded verify; the pair output is tiny (vocab
    // 5000 makes distance-1 title collisions rare), so the measured cost
    // is candidate generation — the operator's real scale cost.
    if (only.isEmpty || only("edit_distance_1m_titles")) {
      val titles1m = spark.range(1000000L).toDF("id").withColumn("t", text(6))
      bench("edit_distance_1m_titles", 1000000L, titles1m,
        df => graft.llm.Dedup.editDistancePairs(df, "id", "t", maxDist = 1))
    }

    val path = java.nio.file.Paths.get("bench_ops_scale.json")
    val merged =
      if (only.isEmpty || !java.nio.file.Files.exists(path)) out.toString
      else {
        val fresh = out.toString.linesIterator.toSeq
        val freshNames = fresh.map(l => l.split("\"")(3)).toSet
        val kept = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .linesIterator.filter(l => l.nonEmpty && !freshNames(l.split("\"")(3)))
        (kept ++ fresh).mkString("", "\n", "\n")
      }
    java.nio.file.Files.write(path, merged.getBytes("UTF-8"))
    println("CHECK wrote bench_ops_scale.json")
    spark.stop()
  }
}
