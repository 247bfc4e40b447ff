package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.spec._

/** Writes PLANS.md: the physical plans of representative queries with the
  * scale-relevant properties asserted in prose — filter/column pushdown to
  * the parquet scan, broadcast joins for small dims, the shuffle-free
  * generation pipeline, and the bucket-key-only shuffles of the dedup
  * operators. Run: `sbt "runMain graft.tools.PlanAudit"`. */
object PlanAudit {

  private def planOf(df: DataFrame): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf)) { df.explain("formatted") }
    buf.toString("UTF-8")
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) — read as LONG nanos, the
      // same flag the Verify/Bench sessions run under.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of scale-relevant properties\n\n")
    sb.append("Generated by `graft.tools.PlanAudit` (plans at sf0.01; shapes are\n")
    sb.append("data-size independent). Each section states the property the plan\n")
    sb.append("must show, with the `explain(\"formatted\")` output as evidence.\n")

    def section(title: String, claims: Seq[(String, String => Boolean)], df: DataFrame): Unit = {
      val plan = planOf(df)
      sb.append(s"\n## $title\n\n")
      claims.foreach { case (desc, check) =>
        val ok = check(plan)
        sb.append(s"- ${if (ok) "PASS" else "FAIL"}: $desc\n")
        if (!ok) System.err.println(s"[planaudit] FAIL: $title :: $desc")
      }
      sb.append("\n```\n").append(plan.trim.take(6000)).append("\n```\n")
    }

    // 1. Filter + projection pushdown to the parquet scan.
    section("Filter and column pushdown (q_filter_pushdown)",
      Seq(
        "filters pushed to the scan (PushedFilters non-empty)" ->
          (p => p.contains("PushedFilters: [") && !p.contains("PushedFilters: []")),
        "scan reads only the referenced columns (narrow ReadSchema)" ->
          (p => p.linesIterator.filter(_.contains("ReadSchema"))
            .forall(l => !l.contains("l_comment")))),
      graft.queries.TableQueries.queries("q_filter_pushdown")(spark, sf))

    // 2. Broadcast join for the small dimension side.
    section("Broadcast join of the small dimension (q_join_broadcast)",
      Seq("customer side broadcast (BroadcastHashJoin/BroadcastExchange)" ->
        (p => p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))),
      graft.queries.TableQueries.queries("q_join_broadcast")(spark, sf))

    // 3. Generation is shuffle-free: Range -> Project only — including a
    //    legacy random-mode column (rand() is narrow and per-partition).
    val gen = graft.engine.Generator.generate(spark, DataGenPlan(Seq(
      TableSpec("t", 1000000, Seq(
        ColumnSpec("pk", "bigint", ColumnStrategy.Sequence()),
        ColumnSpec("v", "double", ColumnStrategy.Range(0, 1, continuous = true)),
        ColumnSpec("w", "string", ColumnStrategy.Values(Seq("a", "b", "c"), Seq(0.5, 0.3, 0.2))),
        ColumnSpec("p", "string", ColumnStrategy.Pattern("X-{digit:4}")),
        ColumnSpec("r", "bigint", ColumnStrategy.Range(1, 100, Some(BigDecimal(1))))
          .copy(random = true),
        ColumnSpec("fk", "bigint", ColumnStrategy.ForeignKey("parent", "id"))),
        partitions = Some(8)),
      TableSpec("parent", 100, Seq(ColumnSpec("id", "bigint", ColumnStrategy.Sequence())),
        primaryKey = Some(PrimaryKey("id")))), 42L))("t")
    section("Generation pipeline incl. FK reconstruction and random mode (no joins, no shuffles)",
      Seq(
        "no Exchange anywhere in the plan" -> (p => !p.contains("Exchange")),
        "no join operator (FK is arithmetic reconstruction)" -> (p => !p.contains("Join")),
        "single Range source" -> (p => p.linesIterator.count(_.contains("Range")) >= 1)),
      gen)

    // 4. Dedup signature pipelines: the fused native sketch makes the
    //    whole signature stage a narrow projection — zero shuffles, no
    //    aggregation, no Window; the sketch expression itself is the
    //    custom graft_shingle_sketch kernel.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    section("MinHash signatures (fused native sketch, shuffle-free)",
      Seq(
        // The only allowed Exchange is parallelize()'s round-robin spread
        // of a single-file input; the sketch itself never keys a shuffle.
        "no hash/aggregation Exchange (sketch is a per-row projection)" ->
          (p => p.linesIterator.count(_.startsWith("Arguments: hashpartitioning")) == 0),
        "the fused graft_shingle_sketch expression computes sh+sig in one pass" ->
          (p => p.contains("graft_shingle_sketch")),
        "no WindowExec anywhere (hot keys never buffer in one task)" ->
          (p => !p.contains("Window"))),
      graft.llm.Dedup.minHashSignatures(docs, "doc_id", "text"))

    // 4b. Candidate joins: the prepared frame is checkpointed once (both
    //     join sides and the bucket-size cap read the same RDD scan —
    //     nothing recomputes the signature pipeline), candidates meet in a
    //     shuffled join on the bucket key, and no WindowExec exists on the
    //     path (the bucket cap is groupBy+count + anti-join).
    def dedupClaims: Seq[(String, String => Boolean)] = Seq(
      "no WindowExec in candidate generation (bucket cap is aggregate + anti-join)" ->
        (p => !p.contains("Window")),
      "no BroadcastNestedLoopJoin / CartesianProduct (bucket-key joins only)" ->
        (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
      "signature pipeline computed once (checkpointed RDD scanned by cap + both join sides)" ->
        (p => p.linesIterator.count(l => l.contains("Scan ExistingRDD")) >= 3))
    section("MinHash near-dup candidate join (bucket-key shuffles only)",
      dedupClaims,
      graft.llm.Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = 0.5))
    section("SimHash near-dup candidate join",
      dedupClaims,
      graft.llm.Dedup.nearDupSimHash(docs, "doc_id", "text"))
    section("N-gram Jaccard inverted-index join",
      dedupClaims,
      graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5))

    // 4c. Incremental (batch-vs-corpus) dedup: candidates meet in a
    //     band-key equi-join between the two sides; only the corpus side is
    //     checkpointed and bucket-capped (the batch side is bounded by
    //     construction); nothing nested-loops.
    section("Incremental batch-vs-corpus near-dup (band-key equi-join across sides)",
      Seq(
        "no WindowExec in candidate generation" -> (p => !p.contains("Window")),
        "no BroadcastNestedLoopJoin / CartesianProduct" ->
          (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
        "corpus band index computed once (checkpointed RDD read by cap + join)" ->
          (p => p.linesIterator.count(l => l.contains("Scan ExistingRDD")) >= 2)),
      graft.llm.Dedup.nearDupMinHashAgainst(
        docs.where(org.apache.spark.sql.functions.col("doc_id") < 100),
        docs, "doc_id", "text", threshold = 0.5))

    // 4d. Time-series operators (graft.ts): the as-of join must not be a
    //     join at all (union + one shuffle + running-last window); the
    //     range join must be a plain equi-join on (key, bin); sessionize
    //     rides one Exchange for both of its windows.
    // Count hash-shuffle Exchanges only: the driver-facing queries end in
    // an ORDER BY whose rangepartitioning Exchange is presentation, not
    // algorithm. Formatted explain lists each node once as "(id) Name" and
    // its arguments in a detail block keyed the same way.
    def hashExchanges(p: String): Int =
      p.linesIterator.count(_.startsWith("Arguments: hashpartitioning"))
    def nodeCount(p: String, node: String): Int =
      p.linesIterator.count(_.matches(s"\\(\\d+\\) $node.*"))
    section("As-of join (union + single shuffle, no join operator)",
      Seq(
        "exactly one hash Exchange (left+right shuffled together once)" ->
          (p => hashExchanges(p) == 1),
        "no join operator anywhere (as-of is a running-last window)" ->
          (p => p.linesIterator.forall(l => !l.matches("\\(\\d+\\) .*Join.*")))),
      graft.queries.TableQueries.queries("q_asof_join")(spark, sf))
    section("Range join (bin-bucketed equi-join, never a nested loop)",
      Seq(
        "no BroadcastNestedLoopJoin / CartesianProduct despite the inequality predicate" ->
          (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
        "an equi-join on (keys, bin) carries the pairing" ->
          (p => p.contains("HashJoin") || p.contains("SortMergeJoin"))),
      graft.queries.TableQueries.queries("q_range_join")(spark, sf))
    section("Sessionization (one Exchange for lag + running sum + aggregation)",
      Seq(
        // The session groupBy re-uses the window's hash partitioning on
        // user_id (group keys are a superset), so the whole query is ONE
        // shuffle end-to-end.
        "exactly one hash Exchange (both windows and the aggregate share it)" ->
          (p => hashExchanges(p) == 1)),
      graft.queries.TableQueries.queries("q_sessionize")(spark, sf))

    // 4e. Sampling / mixing: pure narrow plans — hash-derived selection
    //     never shuffles, and mixCorpora's per-source filters push into
    //     the scans.
    section("Deterministic split assignment (narrow, zero shuffle)",
      Seq(
        "no Exchange (hash split is a per-row projection)" ->
          (p => !p.contains("Exchange")),
        "no rand()/Rand in the plan (retry-stable hash selection)" ->
          (p => !p.toLowerCase.contains("rand("))),
      graft.llm.Sampling.assignSplits(docs, Seq("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    section("Weighted corpus mixture (union of filter branches, zero shuffle)",
      Seq(
        "no Exchange anywhere (epoch copies + hash-sampled fraction are narrow)" ->
          (p => !p.contains("Exchange")),
        "source predicates pushed to the parquet scans (PushedFilters non-empty)" ->
          (p => p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"))),
      graft.llm.Sampling.mixCorpora(Seq(
        ("a", docs.where(org.apache.spark.sql.functions.col("source") === "src0"), 2.0),
        ("b", docs.where(org.apache.spark.sql.functions.col("source") === "src1"), 0.5)),
        Seq("doc_id")))

    // 5. Brute-force ANN: query side broadcast, corpus stays narrow.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    section("Brute-force top-k (broadcast queries over narrow corpus, native kernel)",
      Seq(
        "queries broadcast (BroadcastExchange present)" ->
          (p => p.contains("BroadcastExchange")),
        "scoring is the native graft_dot expression (custom Expression with doGenCode), not an unrolled element_at chain or an interpreted lambda" ->
          (p => p.contains("graft_dot") && !p.contains("element_at") && !p.contains("aggregate(zip_with"))),
      graft.llm.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 5), "vec_id", "embedding", 3))

    // 6. IVF top-k: centroid assignment is a fused per-row argmax against
    // the driver-known matrix — the corpus must NOT fan out through a
    // crossJoin+window before the probed equi-join.
    section("IVF top-k (fused centroid argmax, no corpus fan-out before the probe join)",
      Seq(
        "assignment is the fused graft_nearest_centroids expression (driver-literal matrix), not a crossJoin" ->
          (p => p.contains("graft_nearest_centroids") && !p.contains("BroadcastNestedLoopJoin")),
        "probe set broadcast into the equi-join (BroadcastHashJoin)" ->
          (p => p.contains("BroadcastHashJoin")),
        "only the final per-query ranking shuffles (exactly one hashpartitioning Exchange; the round-robin on the corpus is the single-file parallelize, not a fan-out)" ->
          (p => hashExchanges(p) == 1)),
      graft.llm.Similarity.ivfTopK(emb, "vec_id", "embedding",
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nCentroids = 8, nProbe = 4))

    // 7. Language ID: one fused kernel pass per document — no per-language
    // regex rescans anywhere in the plan.
    section("Language ID (single-pass fused kernel, no per-language regex scans)",
      Seq(
        "prediction is the fused graft_langid expression" ->
          (p => p.contains("graft_langid")),
        "no regex machinery left in the plan (no regexp_extract_all / regexp_replace scans)" ->
          (p => !p.contains("regexp_extract_all") && !p.contains("regexp_replace")),
        "single aggregation exchange" -> (p => hashExchanges(p) == 1)),
      docs.groupBy(org.apache.spark.sql.functions.col("lang"),
        graft.llm.TextAnalysis.languageId(org.apache.spark.sql.functions.col("text")).as("lang_pred"))
        .count())

    // 8. Substring-level dedup: fused sketch + map-side-combined aggregate.
    section("Repeated-substring detector (fused sketch, partial aggregation before the exchange)",
      Seq(
        "window fingerprints from the fused graft_shingle_sketch kernel" ->
          (p => p.contains("graft_shingle_sketch")),
        "doc-frequency aggregate is two-phase (partial_count before the exchange)" ->
          (p => p.contains("partial_count"))),
      graft.llm.Dedup.repeatedSubstrings(docs, "doc_id", "text", width = 8))

    // 8b. Corpus-frequent line strip (r12): the frequency pass must be
    //     keyed on the 8-byte line hash (never shipping line text into
    //     that exchange), map-side combined, and nothing nested-loops —
    //     the frequent set returns via an equi-(anti-)join.
    section("Corpus-frequent line strip (hash-keyed frequency pass, anti-join return)",
      Seq(
        "frequency exchange keyed on the line hash (hashpartitioning on __lh)" ->
          (p => p.contains("hashpartitioning(__lh")),
        "doc-frequency aggregate is two-phase (partial_count before the exchange)" ->
          (p => p.contains("partial_count")),
        "no BroadcastNestedLoopJoin / CartesianProduct" ->
          (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))),
      graft.llm.Dedup.removeCorpusFrequentLines(docs, "doc_id", "text"))

    // 8c. Frequent-line guard (r12): after the one-job vocabulary
    //     collect, the strip itself must be a pure stateless projection —
    //     one fused kernel node, zero Exchanges, nothing aggregates — the
    //     shape that composes at any stream position.
    section("Frequent-line guard strip (fused kernel, zero shuffle)",
      Seq(
        "single fused strip kernel on the projection" ->
          (p => p.contains("graft_strip_lines_in_set")),
        "zero Exchanges (pure per-row projection)" ->
          (p => !p.contains("Exchange")),
        "no aggregation, no join (stateless: stream-safe at any position)" ->
          (p => !p.contains("Aggregate") && !p.contains("Join"))),
      graft.llm.Dedup.stripFrequentLinesWith(docs, "text",
        graft.llm.Dedup.frequentLineIndex(docs, "doc_id", "text")))

    // 9. Packing: sharded, never a global sort.
    section("Sequence packing (sharded — one hash exchange, no global range sort)",
      Seq(
        "binPack: one hashpartitioning Exchange (the shard repartition), sort stays in-partition" ->
          (p => hashExchanges(p) == 1 && !p.contains("rangepartitioning"))),
      graft.llm.Packing.binPack(
        docs.withColumn("n_tok",
          graft.llm.TextAnalysis.tokenCount(org.apache.spark.sql.functions.col("text"))),
        Seq("doc_id"), "n_tok", maxTokens = 512, shards = 8))
    section("Concat-and-chunk packing (windowed cumsum per shard)",
      Seq(
        "one hashpartitioning Exchange (the per-shard window), no global sort" ->
          (p => hashExchanges(p) == 1 && !p.contains("rangepartitioning"))),
      graft.llm.Packing.chunkPack(
        docs.withColumn("n_tok",
          graft.llm.TextAnalysis.tokenCount(org.apache.spark.sql.functions.col("text"))),
        Seq("doc_id"), "n_tok", chunkTokens = 512, shards = 8))

    // 10. Stratified sampling: one window exchange, streaming rank.
    section("Per-group exact-size sample (single window exchange)",
      Seq(
        "one hashpartitioning Exchange (the group window), nothing else" ->
          (p => hashExchanges(p) == 1 && !p.contains("rangepartitioning"))),
      graft.llm.Sampling.sampleNPerGroup(docs, Seq("doc_id"), Seq("source"), 30))

    // 11. DSv2 source: the whole generator pipeline runs inside the scan.
    {
      val planJson = graft.io.PlanJson.saveJson(DataGenPlan(Seq(
        TableSpec("t", 10000, Seq(
          ColumnSpec("k", "bigint", ColumnStrategy.Sequence()),
          ColumnSpec("v", "int", ColumnStrategy.Range(1, 100, Some(1)))))), 42L))
      section("DSv2 'graft' source (generation evaluated inside partition readers)",
        Seq(
          "scan is a DSv2 BatchScan of the graft source" -> (p => p.contains("BatchScan")),
          "zero Exchange — generation never shuffles" -> (p => hashExchanges(p) == 0)),
        spark.read.format("graft").option("plan", planJson).load())
    }

    // 12. IVF cell diagnostics: fused assignment, one aggregation exchange.
    section("IVF cell stats (fused centroid argmax + single count aggregate)",
      Seq(
        "assignment is the fused graft_nearest_centroids kernel, no window" ->
          (p => p.contains("graft_nearest_centroids") && !p.contains("WindowExec")),
        "cell counts are a two-phase aggregate (partial_count before the exchange)" ->
          (p => p.contains("partial_count"))),
      graft.llm.Similarity.ivfCellStats(
        spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding",
        nCentroids = 8, refineIterations = 0))

    // 13. Decontamination: eval gram set broadcasts; train streams map-side.
    section("Benchmark decontamination (broadcast eval gram set, map-side train scan)",
      Seq(
        "grams from the fused graft_shingle_sketch kernel" ->
          (p => p.contains("graft_shingle_sketch")),
        "the gram membership join is a BroadcastHashJoin" ->
          (p => p.contains("BroadcastHashJoin"))),
      graft.llm.Decontamination.contaminationReport(
        docs, docs.limit(5), "doc_id", "text", n = 13))

    // 13b. Fused batch decontamination (r14): within the eval-gram cap the
    //      keep side is ONE projection+filter pass — no gram explode, no
    //      join, no shuffle; the membership probe is the codegen'd set
    //      kernel over the fused shingle sketch.
    section("Fused batch decontamination (single-pass membership projection)",
      Seq(
        "no join operator of any kind (membership is a kernel probe)" ->
          (p => !p.contains("Join")),
        "no Exchange (pure projection+filter over the corpus scan)" ->
          (p => !p.contains("Exchange")),
        "the probe is the fused graft_any_in_set kernel over graft_shingle_sketch" ->
          (p => p.contains("graft_any_in_set") && p.contains("graft_shingle_sketch"))),
      graft.llm.Decontamination.decontaminateAuto(
        docs, docs.limit(5), "doc_id", "text", n = 13))

    // 14. Semantic dedup: within-cell pairs, vectors attached by id joins.
    // (The fused graft_nearest_centroids assignment itself sits behind the
    // capBuckets localCheckpoint, so it is audited via section 12's
    // ivfCellStats plan, which shares the kernel.)
    section("Semantic dedup (within-cell pairs, id-keyed vector attach)",
      Seq(
        "pair verification uses the fused vector kernel (graft_dot), norms once per row" ->
          (p => p.contains("graft_dot")),
        "no window operator anywhere (no argmax-via-rank fallback)" ->
          (p => !p.contains("WindowExec"))),
      graft.llm.Dedup.semanticNearDupPairs(
        spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding",
        threshold = 0.4, nCentroids = 8, refineIterations = 0))

    // 14a-bis. Video re-encode pairs (r15): the verify stage must be a
    // native codegen'd rank-dot (zip_with/aggregate — no UDF), the joins
    // plain equi-joins on candidate ids, and every side must read the
    // ONE checkpointed feature frame instead of re-parsing the MP4 bytes.
    section("Video re-encode near-dup (rank-dot verify on candidate ids, parse-once feature frame)",
      Seq(
        "Spearman verify is the native zip_with/aggregate dot (no ScalaUDF / Python eval)" ->
          (p => p.contains("zip_with") && p.contains("aggregate") &&
            !p.contains("ScalaUDF") && !p.contains("BatchEvalPython")),
        "candidate + verify joins are equi-joins (no CartesianProduct / BroadcastNestedLoop)" ->
          (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no WindowExec anywhere on the path" -> (p => !p.contains("Window")),
        "all sides read the checkpointed feature frame (Scan ExistingRDD — the MP4 parse runs once)" ->
          (p => p.contains("ExistingRDD"))),
      graft.llm.Multimodal.videoProfilePairs(
        spark.range(0, 20).selectExpr("id AS doc_id",
          "CAST(NULL AS BINARY) AS payload"), "doc_id", "payload"))

    // 14a-ter. Video re-encode pairs, INDEX PATH (r16): the fused
    // cell-partitioned probe emits verified (id, hamming, spearman)
    // structs, so the whole at-scale chain is checkpointed-features →
    // projection+explode → final projection. NO join of any kind, no
    // re-verify, no exchange — the r15 path re-joined the emitted ids
    // twice to hashes and twice to ranks (four O(pairs) shuffles
    // recomputing what the probe had certified).
    locally {
      import spark.implicits._
      val vpMedia = (0 until 20).map { i =>
        val fam = (i / 2).toLong
        (i.toLong, graft.llm.Multimodal.encodeMp4Media(i.toLong,
          graft.llm.Multimodal.bitrateProfileFrameSizes(fam, 640,
            if (i % 2 == 0) 1.0 else 0.6, gop = if (i % 2 == 0) 12 else 8,
            noiseSeed = (i % 2 + 1).toLong),
          Seq.fill(10)(64)))
      }.toDF("doc_id", "payload")
      section("Video re-encode near-dup INDEX PATH (fused probe emits verified structs — single chain, no joins)",
        Seq(
          "no join operator of any kind (the probe already verified both legs in memory)" ->
            (p => !p.contains("Join")),
          "no Exchange (projection + explode over the checkpointed feature frame)" ->
            (p => !p.contains("Exchange")),
          "the probe is the fused cell-partitioned kernel (graft_hamming_pairs_rankdot_cell)" ->
            (p => p.contains("graft_hamming_pairs_rankdot_cell(")),
          "exactly one Generate (the single explode of the emitted struct array)" ->
            (p => p.linesIterator.count(_.trim.startsWith("Generate")) <= 2 &&
              p.contains("Generate")),
          "reads the checkpointed feature frame (Scan ExistingRDD — the MP4 parse ran once)" ->
            (p => p.contains("ExistingRDD"))),
        // maxBucket 1 puts the banded/index switch at 16 rows, under the
        // 20-row corpus: the plan below IS the at-scale index path.
        graft.llm.Multimodal.videoProfilePairs(vpMedia, "doc_id", "payload",
          maxBucket = 1))
    }

    // 14b. Static evidence table: the multi-probe operating point, measured
    // once by graft.tools.DriveSemRecall (r10). Kept here so PLANS.md
    // regeneration preserves the measurement.
    sb.append(
      """
### Multi-probe operating point (r10 — DriveSemRecall sweep)

The `probeCells` dial in `q_dedup_semantic` is a measured choice, not a
magic number. Recall vs the exhaustive cosine harness (threshold 0.4 —
every qualifying pair in this corpus sits in the hard 0.4–0.7 band, so
this is worst-case for cluster-then-compare), auto-sized centroids,
2 Lloyd iterations, `local[8]`:

| sf | probes | pairs exact | pairs sem | precision | recall | sec |
|---|---|---|---|---|---|---|
| 0.01 | 1 | 59 | 23 | 1.000 | 0.390 | 4.38 |
| 0.01 | 2 | 59 | 44 | 1.000 | 0.746 | 1.97 |
| 0.01 | 3 | 59 | 50 | 1.000 | 0.847 | 1.54 |
| 0.1 | 1 | 920 | 178 | 1.000 | 0.193 | 1.28 |
| 0.1 | 2 | 920 | 391 | 1.000 | 0.425 | 1.28 |
| 0.1 | 3 | 920 | 593 | 1.000 | 0.645 | 1.62 |

Precision is 1.0 by construction (every emitted pair is exact-verified);
probes only widen the candidate set. probes=3 is the operating point: it
clears the 0.5 hard-band recall pin at both scales with no wall-clock
cost over probes=1 (the extra (id, cell) shuffle rows are noise next to
the verification join), and the marginal recall per probe is still
positive but flattening. On an easier real-world corpus (near-dup pairs
at cosine ≥0.9) single-probe recall is far higher — this table is the
floor, not the expectation.
""")

    // 15. Salted skew-join: still a plain shuffled hash/sort-merge join —
    // salting must not degrade the join strategy (no nested-loop), and the
    // only exchanges are the two sides' hash partitionings on (key, salt).
    section("Salted skew-join (hot key spread over sub-keys, plain join strategy preserved)",
      Seq(
        "no BroadcastNestedLoopJoin / CartesianProduct in the plan" ->
          (p => !p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct")),
        "at most two hashpartitioning exchanges (one per side)" ->
          (p => hashExchanges(p) <= 2)),
      graft.operators.SkewJoin.saltedEquiJoin(
        docs.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("source")),
        docs.groupBy("source").count(), Seq("source"), salt = 8))

    // 16. Salted skew-join UNDER AQE skew-split: the two mechanisms
    // compose — the salt is an ordinary join-key column to AQE (the
    // adaptive plan keeps (key, salt) as the join keys), salting bounds
    // the hot partition a priori (deterministic layout, max (key,salt)
    // group <= ~hot/salt — Round9Spec pins row-for-row equality with the
    // plain join and the group bound under adaptive.skewJoin=true), and
    // AQE may still re-split residual imbalance at runtime. Neither
    // defeats the other.
    {
      val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      try section("Salted skew-join under AQE skew-split (mechanisms compose; Round9Spec pins equality + group bound)",
        Seq(
          "adaptive plan retains (key, salt) as the join keys" ->
            (p => p.contains("AdaptiveSparkPlan") && p.contains("__graft_salt")),
          "no BroadcastNestedLoopJoin / CartesianProduct in the plan" ->
            (p => !p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))),
        graft.operators.SkewJoin.saltedEquiJoin(
          docs.select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source")),
          docs.groupBy("source").count(), Seq("source"), salt = 8))
      finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
    }

    // 17. RAG chunking: one generator over a narrow projection — zero
    // shuffles, no UDF; a 100 TB corpus streams through map-side.
    section("Overlapping token-window chunking (narrow generator, zero shuffle)",
      Seq(
        "no Exchange anywhere (chunking is projection + explode)" ->
          (p => !p.contains("Exchange")),
        "a Generate node carries the per-row chunk fan-out" ->
          (p => p.linesIterator.exists(_.matches("\\(\\d+\\) Generate.*"))),
        "scan reads only id + text (narrow ReadSchema)" ->
          (p => p.linesIterator.filter(_.contains("ReadSchema"))
            .forall(l => !l.contains("lang") && !l.contains("n_chars")))),
      graft.llm.Chunking.chunkByTokens(docs, "doc_id", "text",
        chunkTokens = 16, overlapTokens = 4))

    // 18. Weighted sampling without replacement: top-k by the A-ES score,
    // never a global sort.
    section("Weighted sample without replacement (A-ES top-k, no global sort)",
      Seq(
        "plans as TakeOrderedAndProject (per-partition top-k + n-row merge)" ->
          (p => p.contains("TakeOrderedAndProject")),
        "no rangepartitioning Exchange (no full sort)" ->
          (p => !p.contains("rangepartitioning")),
        "no rand() (hash-frozen, retry-stable draw)" ->
          (p => !p.toLowerCase.contains("rand("))),
      graft.llm.Sampling.sampleWeightedN(
        docs.withColumn("w", org.apache.spark.sql.functions.col("n_chars")
          .cast("double")), Seq("doc_id"), "w", 100))

    // 19. TF-IDF salient terms: two map-side-combined aggregations, a
    // term equi-join, and a per-doc group-limit — never a per-doc sort
    // buffer or a corpus rescan.
    section("TF-IDF salient terms (partial aggs, term join, window group-limit)",
      Seq(
        "both aggregations partial (map-side combine before each exchange)" ->
          (p => p.contains("partial_count")),
        "per-doc top-k via WindowGroupLimit (running top-k, no full buffer)" ->
          (p => p.contains("WindowGroupLimit")),
        "no BroadcastNestedLoopJoin / CartesianProduct" ->
          (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))),
      graft.llm.TextAnalysis.salientTerms(docs, "doc_id", "text", k = 3))

    // 20. Int8 quantization: one narrow projection over the corpus via the
    // fused kernel; the quantized ANN harness keeps the brute-force shape
    // (queries broadcast, corpus never shuffles for scoring).
    section("Int8 embedding quantization + asymmetric top-k (fused kernel, broadcast queries)",
      Seq(
        "quantization is the fused graft_quantize_i8 kernel (one pass; 23x the lambda spelling at 10M vectors — DriveOpsScale)" ->
          (p => p.contains("graft_quantize_i8")),
        "queries broadcast (BroadcastExchange present)" ->
          (p => p.contains("BroadcastExchange")),
        "corpus side never hash-shuffles before scoring (only the per-query ranking exchange)" ->
          (p => hashExchanges(p) == 1),
        "scoring via the native graft_dot kernel on dequantized doubles" ->
          (p => p.contains("graft_dot"))),
      graft.llm.Similarity.quantizedTopK(emb, "vec_id", "embedding",
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
        "vec_id", "embedding", 5))

    // 20b. Static evidence: marginal operator cost at 10M-100M rows on
    // local[32] (graft.tools.DriveOpsScale, quiet box; input synthesis
    // measured separately and subtracted). Embedded here so PLANS.md
    // regeneration preserves the measurement.
    sb.append(
      """
### Operator cost at scale (r10 — DriveOpsScale, bench_ops_scale.json)

| bench | rows | marginal sec | marginal M rows/s |
|---|---|---|---|
| chunk_10m_docs (C=16, S=12) | 10M | 1.8 | 5.5 |
| quantize_10m_vecs (64-dim) | 10M | 0.65 | 15.4 |
| weighted_sample_100m_top100k | 100M | 10.5 | 9.5 |
| bloom_guard_10m_docs_1m_grams (13-gram probe) | 10M | 10.3 | 1.0 |
| pq_encode_10m_vecs (m=16, ksub=64, 64-dim) | 10M | 4.7 | 2.1 |
| bpe_encode_10m_docs (50 merges, 32-token docs ≈ 23M tok/s) | 10M | 13.7 | 0.7 |

The fused `graft_quantize_i8` kernel replaced the three-lambda spelling
after this harness measured the lambda path at 15.2s marginal (0.7M
rows/s) — interpreted higher-order functions are "tolerable once per
row" until the row count is the corpus. Chunking and quantization are
pure narrow projections (cost scales with the scan); the weighted
sample is TakeOrderedAndProject (per-partition top-k, no full sort);
the bloom guard's cost is the 13-gram ShingleSketch, not the probe.
""")

    // 21. Bloom decontamination guard: pure projection + filter — the
    // compact filter rides as one reference object, nothing joins or
    // shuffles, so the guard composes with any stream position.
    section("Bloom decontamination guard (fused probe, stateless, zero shuffle)",
      Seq(
        "probe is the fused graft_any_in_bloom expression" ->
          (p => p.contains("graft_any_in_bloom")),
        "grams from the fused graft_shingle_sketch kernel" ->
          (p => p.contains("graft_shingle_sketch")),
        "no Exchange / no join anywhere (map-side guard)" ->
          (p => !p.contains("Exchange") &&
            p.linesIterator.forall(l => !l.matches("\\(\\d+\\) .*Join.*")))),
      graft.llm.Decontamination.bloomStreamDecontaminate(
        docs, docs.limit(5), "doc_id", "text", n = 13))

    // 21b. Streaming minhash guard (r11): the stream-side near-dup check
    // against a static corpus is a pure per-row probe of the driver-known
    // band index — stateless by construction (no state store, no
    // watermark), so its batch plan must show zero Exchange and no join.
    section("Streaming minhash guard (stateless band-index probe, zero shuffle)",
      Seq(
        "band keys probed via the fused graft_count_in_set kernel" ->
          (p => p.contains("graft_count_in_set")),
        "signature from the fused graft_shingle_sketch kernel" ->
          (p => p.contains("graft_shingle_sketch")),
        "no Exchange / no join anywhere (map-side guard)" ->
          (p => !p.contains("Exchange") &&
            p.linesIterator.forall(l => !l.matches("\\(\\d+\\) .*Join.*")))),
      graft.llm.Dedup.streamMinHashGuard(docs,
        graft.llm.Dedup.minHashBandIndex(docs.limit(5), "doc_id", "text"),
        "text"))

    // 22. Bigram-LM quality scoring: map-side-combined count aggregations,
    // equi-joins on count keys, broadcast 1-row vocabulary size — no
    // driver action inside the operator, no nested loop.
    section("Bigram LM quality scoring (count aggs, key equi-joins, broadcast V)",
      Seq(
        "count aggregations are two-phase (partial_count before the exchange)" ->
          (p => p.contains("partial_count")),
        "vocabulary size broadcast (BroadcastExchange / BroadcastNestedLoopJoin of ONE row only)" ->
          (p => p.contains("BroadcastExchange")),
        "no CartesianProduct (the only cross join is the broadcast 1-row V frame)" ->
          (p => !p.contains("CartesianProduct"))),
      graft.llm.TextAnalysis.bigramNll(docs, "doc_id", "text"))

    // 23. Semantic decontamination: the eval matrix rides as one codegen
    // reference object probed by the fused max-cosine kernel — pure
    // projection + filter, like the gram guards.
    section("Semantic decontamination guard (fused max-cosine probe, zero shuffle)",
      Seq(
        "probe is the fused graft_max_cosine expression" ->
          (p => p.contains("graft_max_cosine")),
        "no Exchange / no join anywhere (map-side guard)" ->
          (p => !p.contains("Exchange") &&
            p.linesIterator.forall(l => !l.matches("\\(\\d+\\) .*Join.*")))),
      graft.llm.Decontamination.semanticDecontaminate(
        emb, emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
        "embedding", threshold = 0.9))

    // 24. Product quantization: encoding is one fused narrow pass; the
    // two-stage search re-ranks a broadcast candidate list, so the
    // full-precision column is only read for hits.
    section("PQ encode (fused kernel, zero shuffle)",
      Seq(
        "encode is the fused graft_pq_encode expression" ->
          (p => p.contains("graft_pq_encode")),
        "no Exchange anywhere (codes are a per-row projection)" ->
          (p => !p.contains("Exchange"))),
      graft.llm.Similarity.pqEncode(emb, "embedding",
        graft.llm.Similarity.pqTrain(emb, "vec_id", "embedding", 16, 32, 0)))
    section("PQ top-k with exact re-rank (LUT-ADC candidates, broadcast fetch)",
      Seq(
        "candidate scoring is the O(m) table-lookup kernel (graft_pq_adc over a per-query graft_pq_lut)" ->
          (p => p.contains("graft_pq_adc") && p.contains("graft_pq_lut")),
        "NO full-dim decode in the scoring plan (r10 finding fixed)" ->
          (p => !p.contains("graft_pq_decode")),
        "candidate list broadcast into the raw-vector fetch (BroadcastHashJoin)" ->
          (p => p.contains("BroadcastHashJoin")),
        "only ranking exchanges (<= 2 hashpartitioning: ADC rank + final rank)" ->
          (p => hashExchanges(p) <= 2),
        "exact re-rank scores via the native graft_dot kernel" ->
          (p => p.contains("graft_dot"))),
      graft.llm.Similarity.pqTopK(emb, "vec_id", "embedding",
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
        "vec_id", "embedding", k = 5, m = 16, ksub = 32,
        refineIterations = 0, rerank = 4))

    // 24a2. IVF+PQ hybrid: the index build is one narrow fused pass (cell
    // argmax + codes), probing is a broadcast equi-join, and only the two
    // ranking windows shuffle (candidate-sized, not corpus-sized).
    section("IVF+PQ hybrid top-k (fused index build, broadcast probes + candidates)",
      Seq(
        "index build uses both fused kernels (graft_nearest_centroids + graft_pq_encode)" ->
          (p => p.contains("graft_nearest_centroids") && p.contains("graft_pq_encode")),
        "candidate scoring via the O(m) LUT kernel, no full-dim decode" ->
          (p => p.contains("graft_pq_adc") && !p.contains("graft_pq_decode")),
        "probe set and candidate list broadcast (BroadcastHashJoin, no BNLJ/Cartesian)" ->
          (p => p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin") &&
            !p.contains("CartesianProduct")),
        "only ranking exchanges (<= 2 hashpartitioning: ADC rank + final rank)" ->
          (p => hashExchanges(p) <= 2)),
      graft.llm.Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 4,
        m = 16, ksub = 32, refineIterations = 0, rerank = 4))

    // 24a3. Persisted-index probe (r11): the index table partitioned by
    // cell, the probe's driver-known cell list as an isin filter — the
    // parquet scan must carry non-empty PartitionFilters (nProbe cell
    // DIRECTORIES read, not the index).
    {
      val idxDir = java.nio.file.Files.createTempDirectory("graft_audit_idx").toString
      val (idxDf, idxMeta) = graft.llm.Similarity.buildIvfPqIndex(
        emb, "vec_id", "embedding", nCentroids = 8, m = 16, ksub = 32,
        refineIterations = 0)
      graft.llm.Similarity.writeIvfPqIndex(idxDf, idxMeta, idxDir)
      val (reloaded, meta2) = graft.llm.Similarity.readIvfPqIndex(spark, idxDir)
      val raw = emb.select(org.apache.spark.sql.functions.col("vec_id").as("neighbor_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("cv"))
      section("Persisted IVF+PQ index probe (partitioned by cell, pruned scan)",
        Seq(
          "parquet scan carries non-empty PartitionFilters (only probed cells read)" ->
            (p => "PartitionFilters: \\[([^\\]]*)\\]".r
              .findAllMatchIn(p).exists(_.group(1).trim.nonEmpty)),
          "candidate scoring via the O(m) LUT kernel, no full-dim decode" ->
            (p => p.contains("graft_pq_adc") && !p.contains("graft_pq_decode")),
          "probe set and candidate list broadcast (no BNLJ/Cartesian)" ->
            (p => p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin") &&
              !p.contains("CartesianProduct"))),
        graft.llm.Similarity.probeIvfPqIndex(reloaded, meta2, raw,
          emb.where(org.apache.spark.sql.functions.col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nProbe = 4, rerank = 4))

      // 24a4. Incremental append (r12): a batch is encoded with the
      // EXISTING meta in one narrow fused pass — no Exchange, no training
      // job — and parquet-appended into its cell partitions only.
      section("IVF+PQ index append batch encode (narrow fused pass, existing meta)",
        Seq(
          "fused centroid argmax + PQ encode kernels in one projection" ->
            (p => p.contains("graft_nearest_centroid") && p.contains("graft_pq_encode")),
          "zero Exchange: encode is a pure per-row map over the batch" ->
            (p => !p.contains("Exchange")),
          "no join and no aggregation (training reuse, not retraining)" ->
            (p => !p.contains("Join") && !p.contains("HashAggregate"))),
        graft.llm.Similarity.encodeIndexRows(
          emb.where(org.apache.spark.sql.functions.col("vec_id") % 2 === 1),
          "vec_id", "embedding", idxMeta))
      sb.append(
        """
### Append touches only written partitions (q_ann_index_append pins)

`appendToIvfPqIndex` writes the encoded batch with parquet APPEND +
`partitionBy(centroid_idx)`: dynamic partition append only ADDS files
under the cells the batch lands in. `q_ann_index_append` pins this on a
real filesystem snapshot (path+length before/after):

- `preexisting_untouched` — every pre-append parquet file still present
  with identical size (no rewrite of old cells);
- `append_only_batch_cells` — every NEW file sits under a
  `centroid_idx=` directory the batch's own encoding assigns;
- `identical_topk` — probe(appended index) == probe(index rebuilt from
  the union at the SAME meta), so append is semantically a rebuild
  minus the O(index) write and the training jobs.
""")
    }

    // 24b. Static evidence: the PQ operating point (PqSpec sweep, sf0.001
    // = 500 vectors and sf0.1 = 2000 vectors, recall@10 over 5 queries).
    sb.append(
      """
### PQ operating point (r10 — PqSpec sweep)

Two-stage PQ search: ADC candidate scan over the m-int codes (16x fewer
embedding bytes at m=16 vs 64-dim float32), exact re-rank of the top
k*rerank. Pure ADC (rerank=1) recalls ~0.3 — PQ is a candidate
generator, not a ranker; the re-rank stage is what buys recall, and it
touches only candidates.

| corpus | m | ksub | rerank | recall@10 |
|---|---|---|---|---|
| 500 | 8 | 16 | 4 | 0.66 |
| 500 | 16 | 16 | 4 | 0.80 |
| 500 | 16 | 32 | 4 | 0.90 |
| 2000 | 16 | 32 | 4 | 0.66 |
| 2000 | 16 | 32 | 8 | 0.88 |
| 2000 | 16 | 64 | 8 | 0.94 |
| 2000 | 32 | 32 | 8 | 1.00 |

Finer subspaces (higher m) beat more Lloyd refinement; a fixed
candidate budget thins as the corpus grows, so rerank should scale with
corpus/k. q_ann_pq_recall pins m=16/ksub=64/rerank=8 (>= 0.7 with the
measured 0.94 at sf0.1; 16x code compression).

IVF+PQ hybrid (nCells=8, m=16/ksub=64/rerank=8, 500 vectors): recall@10
is 0.38 / 0.72 / 1.00 at nProbe 2 / 4 / 8 — the probe budget is the
recall dial, quantization costs almost nothing once the right cells are
probed. q_ann_ivfpq_recall pins nProbe=4 (half the cells) at >= 0.5:
the cell-miss + quantization budget together.
""")

    // 25. BPE: the corpus-wide encode is one fused narrow pass; training's
    // per-iteration pair count is a map-side-combined aggregate over the
    // DISTINCT-WORD table (the corpus shuffles once, on word), and the
    // winner is TakeOrdered(1) — never a global sort.
    section("BPE encode (fused merge-table kernel, zero shuffle)",
      Seq(
        "encode is the fused graft_bpe_encode expression" ->
          (p => p.contains("graft_bpe_encode")),
        "no Exchange anywhere (token array is a per-row projection)" ->
          (p => !p.contains("Exchange")),
        "scan reads only the text column (narrow ReadSchema)" ->
          (p => p.linesIterator.filter(_.contains("ReadSchema"))
            .forall(l => !l.contains("lang") && !l.contains("n_chars")))),
      graft.llm.Bpe.encode(docs.select("text"), "text",
        graft.llm.Bpe.train(docs.limit(50), "text", numMerges = 3)))
    locally {
      // Training's pair-count step (the per-iteration workhorse): audit the
      // frame the trainer aggregates — explode over the vocabulary, partial
      // aggregation before the one exchange, TakeOrdered for the winner.
      import org.apache.spark.sql.functions.{col, count => fcount, explode, filter => ffilter, lit, lower, size => fsize, slice, split, struct, sum => fsum, trim, zip_with}
      val vocab = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(fcount(lit(1)).as("cnt"))
        .select(ffilter(split(col("w"), "(?!^)"), s => s =!= "").as("syms"), col("cnt"))
      val n = fsize(col("syms"))
      section("BPE training pair-count iteration (vocabulary aggregate, TakeOrdered winner)",
        Seq(
          "pair aggregation is two-phase (partial_sum before the exchange)" ->
            (p => p.contains("partial_sum")),
          "winner via TakeOrderedAndProject (no rangepartitioning sort)" ->
            (p => p.contains("TakeOrderedAndProject") && !p.contains("rangepartitioning"))),
        vocab.where(n >= 2)
          .select(col("cnt"), explode(zip_with(
            slice(col("syms"), lit(1), n - 1), slice(col("syms"), lit(2), n - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r")).agg(fsum("cnt").as("c"))
          .orderBy(col("c").desc, col("l").asc, col("r").asc).limit(1))
    }

    // 26. Quality-classifier scoring: the trained weights ride the fused
    // expression as a plan reference object — scoring the whole corpus is
    // a pure projection, the decontamination-guard shape.
    locally {
      import org.apache.spark.sql.functions.{col, lit, when, xxhash64}
      val labeled = docs.limit(200).withColumn("label",
        when(xxhash64(col("doc_id")) % 2 === 0, lit(1.0)).otherwise(lit(0.0)))
      val model = graft.llm.QualityClassifier.train(
        labeled, "text", "label", dim = 1 << 12, iterations = 3)
      section("Quality-classifier scoring (fused hashed-n-gram + logreg, zero shuffle)",
        Seq(
          "score is the fused graft_logreg_score over graft_hashed_features" ->
            (p => p.contains("graft_logreg_score") && p.contains("graft_hashed_features")),
          "no Exchange anywhere (per-row projection)" ->
            (p => !p.contains("Exchange")),
          "scan reads only the scored column (narrow ReadSchema)" ->
            (p => p.linesIterator.filter(_.contains("ReadSchema"))
              .forall(l => !l.contains("lang") && !l.contains("n_chars")))),
        docs.select(col("doc_id"),
          graft.llm.QualityClassifier.score(col("text"), model).as("q")))
    }

    // 27. HTML-to-text extraction: the crawl→WET step as one native
    // expression — whole-corpus extraction is a narrow projection.
    locally {
      import org.apache.spark.sql.functions.col
      section("HTML-to-text extraction (fused graft_html_text, zero shuffle)",
        Seq(
          "extraction is the fused graft_html_text expression" ->
            (p => p.contains("graft_html_text")),
          "no Exchange anywhere (per-row projection)" ->
            (p => !p.contains("Exchange"))),
        docs.select(col("doc_id"),
          graft.functions.HtmlKernel.htmlToText(col("text")).as("wet")))
    }

    // 28. Unigram-LM tokenizer: corpus encode is one fused Viterbi
    // projection; training's per-EM-pass job aggregates posterior counts
    // over the DISTINCT-WORD table with map-side combine, and the shuffle
    // carries (piece id, partial count) pairs — vocabulary-sized, never
    // corpus-sized.
    locally {
      import org.apache.spark.sql.functions.{col, count => fcount, explode, lit, lower, split, sum => fsum, trim}
      val model = graft.llm.UnigramLm.train(docs.limit(50), "text",
        vocabSize = 80, maxPieceLen = 4)
      section("Unigram-LM encode (fused Viterbi kernel, zero shuffle)",
        Seq(
          "encode is the fused graft_unigram_encode expression" ->
            (p => p.contains("graft_unigram_encode")),
          "no Exchange anywhere (token array is a per-row projection)" ->
            (p => !p.contains("Exchange")),
          "scan reads only the text column (narrow ReadSchema)" ->
            (p => p.linesIterator.filter(_.contains("ReadSchema"))
              .forall(l => !l.contains("lang") && !l.contains("n_chars")))),
        graft.llm.UnigramLm.encode(docs.select("text"), "text", model))
      val words = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(fcount(lit(1)).as("cnt"))
      section("Unigram-LM EM pass (lattice kernel over the word table, vocab-sized aggregate)",
        Seq(
          "expected counts come from the fused graft_unigram_expected lattice kernel" ->
            (p => p.contains("graft_unigram_expected")),
          "count aggregation is two-phase (partial_sum before the exchange)" ->
            (p => p.contains("partial_sum"))),
        words.select(col("cnt"),
          explode(graft.functions.UnigramKernels.expected(
            col("w"), model.pieceArray, model.logpArray)).as("e"))
          .select(col("e.id").as("id"), (col("e.c") * col("cnt")).as("c"))
          .groupBy("id").agg(fsum("c").as("c")))
    }

    // 29. DSIR importance resampling: scoring is one fused zero-shuffle
    // projection (the dim-sized log-ratio table rides the plan as one
    // reference object); selection is Gumbel top-k via
    // TakeOrderedAndProject — per-partition top-n + driver merge, never a
    // global sort. The multinomial fit aggregates occurrence buckets with
    // map-side combine, so its one shuffle carries ≤ dim keys.
    locally {
      import org.apache.spark.sql.functions.col
      val target = docs.limit(40)
      val table = graft.llm.Dsir.logRatioTable(target, docs, "text",
        dim = 1 << 12, ngrams = 2)
      section("DSIR scoring + Gumbel top-k selection (fused weight, TakeOrdered, no global sort)",
        Seq(
          "weight is the fused graft_dsir_logweight expression" ->
            (p => p.contains("graft_dsir_logweight")),
          "selection via TakeOrderedAndProject (no rangepartitioning sort)" ->
            (p => p.contains("TakeOrderedAndProject") && !p.contains("rangepartitioning"))),
        graft.llm.Dsir.gumbelTopK(
          docs.withColumn("dsir_logw",
            graft.llm.Dsir.importanceLogWeight(col("text"), table)),
          Seq("doc_id"), "dsir_logw", 100))
      section("DSIR multinomial fit (occurrence buckets, dim-bounded two-phase count)",
        Seq(
          "buckets come from the fused graft_ngram_buckets expression" ->
            (p => p.contains("graft_ngram_buckets")),
          "count aggregation is two-phase (partial_count before the exchange)" ->
            (p => p.contains("partial_count"))),
        graft.llm.Dsir.bucketCounts(docs, "text", dim = 1 << 12, ngrams = 2))
    }

    // 30. Trigram stupid-backoff scoring: three two-phase count
    // aggregations, gram-key equi-joins (never a nested-loop product —
    // the only cross join is the broadcast 1-row (N,V) totals frame).
    locally {
      import org.apache.spark.sql.functions.col
      section("Trigram stupid-backoff LM scoring (gram-key joins, broadcast totals)",
        Seq(
          "count aggregations are two-phase (partial_count before the exchange)" ->
            (p => p.contains("partial_count")),
          "(N,V) totals ride a broadcast (BroadcastExchange present)" ->
            (p => p.contains("BroadcastExchange")),
          "no CartesianProduct (the totals cross-join broadcasts)" ->
            (p => !p.contains("CartesianProduct"))),
        graft.llm.TextAnalysis.trigramSbNll(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text"))
    }

    // 31. K-means assignment + stats: the corpus-wide assignment is one
    // fused zero-shuffle projection; the per-cluster stats aggregate is
    // two-phase with a ≤k-row shuffle.
    locally {
      import org.apache.spark.sql.functions.col
      val embs = spark.read.parquet(s"$sf/embeddings.parquet")
        .where(col("embedding").isNotNull)
      val (_, kmMat) = graft.llm.Clustering.kMeans(embs, "vec_id", "embedding",
        k = 4, iterations = 1)
      section("K-means assignment (fused L2 argmin, zero shuffle)",
        Seq(
          "assignment is the fused graft_nearest_centroid_l2 expression" ->
            (p => p.contains("graft_nearest_centroid_l2")),
          "no Exchange anywhere (per-row projection)" ->
            (p => !p.contains("Exchange"))),
        graft.llm.Clustering.assign(embs, "embedding", kmMat))
      section("K-means cluster stats (two-phase aggregate, k-row shuffle)",
        Seq("stats aggregation is two-phase (partial aggregation present)" ->
          (p => p.contains("partial_count") || p.contains("partial_sum"))),
        graft.llm.Clustering.clusterStats(
          graft.llm.Clustering.assign(embs, "embedding", kmMat),
          "embedding", kmMat))
    }

    // 32. Token-budget sampling: the kept-wholesale buckets are a plain
    // narrow filter branch; the running-sum window exists ONCE in the
    // whole plan and only the crossing bucket's rows (~corpus/4096)
    // reach it — the bounded single-partition sort is the design's
    // documented residue, applied to 0.02% of the corpus, not to it.
    locally {
      import org.apache.spark.sql.functions.{col, lit, lower, size => fsize, split, trim}
      val withTok = docs.withColumn("n_tok",
        fsize(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      // A budget strictly inside the corpus forces the crossing-bucket
      // branch the section audits.
      val budget = withTok.agg(org.apache.spark.sql.functions.sum("n_tok"))
        .collect()(0).getLong(0) / 3
      section("Token-budget sampling (wholesale filter branch + one bucket-bounded window)",
        Seq(
          "exactly one Window operator in the plan (the crossing bucket only)" ->
            (p => "\\(\\d+\\) Window".r.findAllIn(p).size == 1),
          "no range partitioning (never a global sort of the corpus)" ->
            (p => !p.contains("rangepartitioning"))),
        graft.llm.Sampling.sampleTokenBudget(withTok, Seq("doc_id"), "n_tok",
          budgetTokens = budget))
    }

    // 33. Mojibake repair: pure per-row projection, codegen'd kernel.
    locally {
      import org.apache.spark.sql.functions.col
      section("Mojibake repair (fused graft_fix_mojibake, zero shuffle)",
        Seq(
          "repair is the fused graft_fix_mojibake expression" ->
            (p => p.contains("graft_fix_mojibake")),
          "no Exchange anywhere (per-row projection)" ->
            (p => !p.contains("Exchange"))),
        docs.select(col("doc_id"),
          graft.functions.MojibakeKernel.fixMojibake(col("text")).as("fixed")))
    }

    // 34. N-gram novelty: one distinct-gram aggregate per side and a
    // gram-key join — the reference side is NEVER collected or broadcast
    // by construction (unbounded-reference contract), and nothing is a
    // cartesian product. (At sf sizes AQE may still pick a broadcast
    // hash join for the small side; the logical shape — an equi-join on
    // the gram key — is what survives the 100× scale-up.)
    locally {
      import org.apache.spark.sql.functions.col
      section("N-gram novelty (distinct-gram aggregates, gram-key equi-join)",
        Seq(
          "gram aggregation is two-phase (partial aggregation present)" ->
            (p => p.contains("partial_count") || p.contains("partial_first") ||
              p.contains("HashAggregate")),
          "no cartesian/nested-loop join anywhere" ->
            (p => !p.contains("CartesianProduct") &&
              !p.contains("BroadcastNestedLoopJoin"))),
        graft.llm.Decontamination.ngramNovelty(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", n = 5))
    }

    // 35. WordPiece: corpus encode is one fused narrow pass; training's
    // per-sweep candidate ranking is the pair aggregate scored by two
    // broadcast joins against the tiny symbol-count table, with the
    // winner via TakeOrdered — never a global sort.
    locally {
      import org.apache.spark.sql.functions.{broadcast, col, count => fcount, explode, expr, lit, lower, size => fsize, slice, split, struct, sum => fsum, trim, zip_with}
      val wpModel = graft.llm.WordPiece.train(docs.limit(50), "text", numMerges = 3)
      section("WordPiece encode (fused greedy longest-match kernel, zero shuffle)",
        Seq(
          "encode is the fused graft_wordpiece_encode expression" ->
            (p => p.contains("graft_wordpiece_encode")),
          "no Exchange anywhere (token array is a per-row projection)" ->
            (p => !p.contains("Exchange")),
          "scan reads only the text column (narrow ReadSchema)" ->
            (p => p.linesIterator.filter(_.contains("ReadSchema"))
              .forall(l => !l.contains("lang") && !l.contains("n_chars")))),
        graft.llm.WordPiece.encode(docs.select("text"), "text", wpModel))
      // The audited frame is the trainer's OWN sweep pipeline (shared
      // private[graft] helpers) — PLANS.md certifies the shipping plan,
      // never a copy that can drift.
      section("WordPiece training sweep (pair aggregate, broadcast score denominators, TakeOrdered)",
        Seq(
          "pair aggregation is two-phase (partial_sum before the exchange)" ->
            (p => p.contains("partial_sum")),
          "symbol-count denominators join broadcast (tiny table)" ->
            (p => p.contains("BroadcastHashJoin")),
          "winner via TakeOrderedAndProject (no rangepartitioning sort)" ->
            (p => p.contains("TakeOrderedAndProject") && !p.contains("rangepartitioning"))),
        graft.llm.WordPiece.sweepCandidateFrame(
          graft.llm.WordPiece.wordSymbolTable(docs, "text"),
          minPairCount = 2).limit(1))
    }

    // 36. Heavy hitters: the sketch pass is RDD treeAggregate (no SQL
    // plan); the exact confirmation pass must stay candidate-bounded —
    // an isin filter BEFORE the aggregate, two-phase aggregation after.
    locally {
      import org.apache.spark.sql.functions.col
      section("Heavy-hitter confirmation pass (isin filter before candidate-sized aggregate)",
        Seq(
          "candidate isin filter present (only candidate tokens aggregate)" ->
            (p => p.contains(" IN (") || p.contains("isin") || p.contains("INSET")),
          "count aggregation is two-phase (partial_count present)" ->
            (p => p.contains("partial_count"))),
        graft.llm.CorpusStats.exactCounts(docs, "text",
          Seq("the", "a", "of", "and", "to")))
    }

    // 37a. Leakage-safe split assignment: after the pair graph's CC, the
    // assignment itself is one left join + a pure hash projection — no
    // window, no sort, no extra aggregate.
    locally {
      import org.apache.spark.sql.functions.col
      val sdocs = docs.select(col("doc_id").cast("long").as("id"), col("text"))
      val spairs = docs.sparkSession.range(0, 10).toDF("id_a")
        .withColumn("id_b", col("id_a") + 100)
      section("Leakage-safe split assignment (CC rep left join + hash projection)",
        Seq(
          "no Window / global sort anywhere" ->
            (p => !p.contains("Window") && !p.contains("rangepartitioning")),
          "no cartesian/nested-loop join" ->
            (p => !p.contains("CartesianProduct") &&
              !p.contains("BroadcastNestedLoopJoin"))),
        graft.llm.Sampling.assignSplitsByCluster(sdocs, "id", spairs,
          Seq("train" -> 0.9, "test" -> 0.1)))
    }

    // 37b. PCA projection: the fitted mean/components ride the fused
    // expression as a plan reference object — projecting the corpus is a
    // pure zero-shuffle projection (fit itself is RDD treeAggregate, no
    // SQL plan).
    locally {
      import org.apache.spark.sql.functions.col
      val embs = spark.read.parquet(s"$sf/embeddings.parquet")
        .where(col("embedding").isNotNull)
      val pcaModel = graft.llm.Pca.fit(embs, "embedding", k = 4)
      section("PCA projection (fused graft_pca_project, zero shuffle)",
        Seq(
          "projection is the fused graft_pca_project expression" ->
            (p => p.contains("graft_pca_project")),
          "no Exchange anywhere (per-row projection)" ->
            (p => !p.contains("Exchange")),
          "scan reads only the vector column (narrow ReadSchema)" ->
            (p => p.linesIterator.filter(_.contains("ReadSchema"))
              .forall(l => !l.contains("label")))),
        embs.select(col("vec_id"),
          graft.llm.Pca.project(col("embedding"), pcaModel).as("pc")))
    }

    // 37. Edit-distance join: candidates come from the (seg, idx, ls)
    // EQUI-join of bounded key sets — never a cartesian or nested-loop
    // product — and the banded levenshtein verify runs on candidates only.
    locally {
      import org.apache.spark.sql.functions.{col, length => flength, substring}
      val titles = docs.select(col("doc_id").as("id"),
        substring(col("text"), 1, 40).as("t")).where(flength(col("t")) >= 5)
      section("Edit-distance near-dup join (segment-key equi-join, no all-pairs scan)",
        Seq(
          "candidate generation is an equi-join (no CartesianProduct/NestedLoop)" ->
            (p => !p.contains("CartesianProduct") &&
              !p.contains("BroadcastNestedLoopJoin")),
          "levenshtein verify present on the candidate side" ->
            (p => p.contains("levenshtein"))),
        graft.llm.Dedup.editDistancePairs(titles, "id", "t", maxDist = 1))
    }

    // 38. BM25 bucketed postings: a query batch's scoring plan must scan
    // ONLY its own term buckets (PartitionFilters from the driver-computed
    // bucket list) with the term list pushed into the parquet row groups,
    // and must touch no lengths table (dl is denormalized into the
    // postings) — exactly two parquet scans: tf and df.
    locally {
      import org.apache.spark.sql.functions.col
      val dir = Files.createTempDirectory("planaudit_bm25").toString
      val idx = graft.llm.Retrieval.buildAndWriteIndex(
        docs.where(col("doc_id") < 300), "doc_id", "text", dir, nBuckets = 16)
      import spark.implicits._
      val qs = Seq((1L, "the quick brown fox"), (2L, "data spark")).toDF("qid", "qtext")
      section("BM25 scoring over the bucketed postings index (term-pruned scans)",
        Seq(
          "postings scan is partition-pruned (non-empty PartitionFilters)" ->
            (p => "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(p)
              .exists(_.group(1).trim.nonEmpty)),
          "query terms pushed into the parquet scan (In(term, ...))" ->
            (p => p.contains("In(term")),
          "no lengths-table join: exactly the tf and df scans (dl denormalized)" ->
            (p => "\\(\\d+\\) Scan parquet".r.findAllMatchIn(p).size == 2)),
        graft.llm.Retrieval.scores(idx, qs, "qid", "qtext"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // 39. Image pHash near-dup: candidates come from the pigeonhole
    // piece-key EQUI-join (never an all-pairs product); only candidates
    // pay the XOR/bit_count verify.
    locally {
      import org.apache.spark.sql.functions.{col, pmod, xxhash64}
      val sketched = docs.select(col("doc_id").as("id"),
        xxhash64(col("text")).as("ph"))
      section("Image pHash near-dup (pigeonhole equi-join, XOR verify on candidates)",
        Seq(
          "candidate generation is an equi-join (no CartesianProduct/NestedLoop)" ->
            (p => !p.contains("CartesianProduct") &&
              !p.contains("BroadcastNestedLoopJoin")),
          "Hamming verify (bit_count of XOR) on the candidate side" ->
            (p => p.contains("bit_count")),
          "shuffle is keyed on the piece buckets (hashpartitioning(piece ...))" ->
            (p => p.contains("hashpartitioning(piece"))),
        graft.llm.Dedup.nearDupHamming64(sketched, "id", "ph",
          maxDistance = 10, pieces = 16))
    }

    // 40. Fused MIH near-dup removal (the bounded-corpus image path): the
    // whole operator is ONE filter projection against the multi-index
    // Hamming probe — no join, no exchange. The index rides a Payload,
    // embedded here because it is under 8 MB.
    locally {
      import org.apache.spark.sql.functions.{col, xxhash64}
      val sketched = docs.select(col("doc_id").as("id"),
        xxhash64(col("text")).as("ph"))
      section("Fused MIH image near-dup (zero-shuffle probe)",
        Seq(
          "the probe is the fused MIH expression (graft_hamming_min_id_within)" ->
            (p => p.contains("graft_hamming_min_id_within(")),
          "no shuffle anywhere in the operator (no Exchange)" ->
            (p => !p.contains("Exchange")),
          "no join (survivorship is a per-row filter against the probe)" ->
            (p => !p.contains("Join"))),
        graft.llm.Dedup.dropNearDupsPHash(sketched, "id", "ph",
          maxDistance = 3))
    }

    // 41. Broadcast set-guard (r15): the fused decontamination filter over
    // a corpus-scale gram set carries the Broadcast HANDLE in the task
    // binary, never the sorted array itself — and stays a pure zero-shuffle
    // projection+filter like the embedded form. The broadcast arm is built
    // directly so the audit runs on a small set.
    locally {
      import org.apache.spark.sql.functions.{coalesce, col, lit, lower, split, trim}
      val kernels = graft.functions.SetKernels
      val grams = graft.functions.Payload.broadcast(
        kernels.LongSortedSet.of(Array.tabulate(4096)(_.toLong * 31L)))
      val toks = split(trim(lower(col("text"))), "\\s+")
      val sh = graft.functions.ShingleSketch.sketch(toks, 13, 0).getField("sh")
      section("Broadcast set-guard decontamination (handle-only task binary)",
        Seq(
          "the probe is the set-guard expression (graft_any_in_set)" ->
            (p => p.contains("graft_any_in_set(")),
          "the probe carries a broadcast handle (Broadcasted(Broadcast(..)))" ->
            (p => p.contains("Broadcasted(Broadcast(")),
          "no embedded set in the plan (no LongSortedSet)" ->
            (p => !p.contains("LongSortedSet(")),
          "no shuffle (no Exchange) — pure projection+filter" ->
            (p => !p.contains("Exchange")),
          "no join — membership is a per-row probe" ->
            (p => !p.contains("Join"))),
        docs.where(col("text").isNull ||
          !coalesce(kernels.anyInSet(sh, grams), lit(false))))
    }

    // 42. Model quality stage (r15): the pretrained-classifier filter the
    // pipeline Config hook inserts is one codegen'd projection+filter —
    // hashed features + dot product ride the row, the weights ride the
    // plan once; nothing shuffles, nothing joins.
    locally {
      import org.apache.spark.sql.functions.col
      val model = graft.llm.QualityClassifier.Model(
        1 << 8, 2, Array.fill(1 << 8)(0.01), 0.0, Seq(0.5))
      section("Model quality filter stage (zero-shuffle scorer)",
        Seq(
          "no shuffle (no Exchange)" -> (p => !p.contains("Exchange")),
          "no join" -> (p => !p.contains("Join")),
          "the scorer is the fused logreg expression (graft_logreg_score)" ->
            (p => p.toLowerCase.contains("logreg"))),
        docs.where(
          graft.llm.QualityClassifier.score(col("text"), model) >= 0.5))
    }

    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes("UTF-8"))
    println(s"[planaudit] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
