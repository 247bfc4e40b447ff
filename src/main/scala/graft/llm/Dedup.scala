package graft.llm

import graft.functions.Payload
import graft.functions.SetKernels.LongSortedSet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Every near-dup algorithm here is a *bucketed* design: signatures are
  * computed per-row (narrow, codegen'd Column expressions — no UDFs), rows
  * are shuffled ONLY by their bucket keys (band hashes / shared shingles /
  * hyperplane sketches), and exact verification runs only inside buckets.
  * Nothing ever does an all-pairs comparison, so the shuffle volume is
  * O(rows x signature) and the compare cost is O(sum of bucket^2) with
  * bounded bucket sizes — the shape that survives 100 TB.
  */
object Dedup {

  /** Storage level for the candidate-mass checkpoints (banded frame,
    * candidate pairs, verify shingles): serialized — the 100M-doc
    * GC-ceiling decision (r14, [[capBuckets]]). */
  private[llm] val CandLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Drop rows whose `keyCol` bucket exceeds `maxBucket` rows (pathological
    * buckets: empty docs, boilerplate, stop-shingles). Bucket sizes come from
    * a partial-aggregatable `groupBy(key).count()` — map-side combine
    * collapses hot keys before the shuffle, so no task ever buffers a whole
    * hot bucket (a `Window.partitionBy(key)` count would sort and hold the
    * entire hottest bucket in one task *before* discarding it — exactly the
    * straggler the cap is meant to defuse).
    *
    * The input is materialized ONCE (lazy `localCheckpoint`) before being
    * read by both the size aggregation and the anti-join probe — and by the
    * two sides of the candidate self-join every caller builds on the result.
    * Without it Spark recomputes the expensive upstream signature pipeline
    * (128 minhash aggregates / 64 simhash votes / the exploded inverted
    * index) once per reference: measured +47-48% on the simhash and
    * n-gram benches. Lazy (`eager = false`), so merely *building* or
    * explaining a pipeline launches no jobs — the upstream still runs once,
    * on the first action. On a cluster with a checkpoint dir configured,
    * `checkpoint` is the drop-in durable equivalent (and replicated, where
    * localCheckpoint blocks die with a lost executor).
    *
    * The join strategy for the oversized-key set is left to the optimizer:
    * it is usually tiny (AQE broadcasts it), but on a Zipf-shaped web corpus
    * the number of keys above the cutoff can reach 10^7+ — a forced
    * broadcast there would OOM the driver, while AQE degrades gracefully to
    * a shuffled anti-join.
    *
    * Stored SERIALIZED (r14): the banded frame is rows × bands tiny
    * tuples — at 10⁸ docs × 16 bands that is over a billion row OBJECTS
    * under the default deserialized MEMORY_AND_DISK, and the 100M-doc
    * pipeline attempts died in exactly that GC storm (BENCH_NOTES r14).
    * MEMORY_AND_DISK_SER keeps each partition as a handful of byte
    * chunks instead; the frame is read exactly twice, sequentially, so
    * the deserialize-on-read cost is two cheap streaming passes. */
  private def capBuckets(df: DataFrame, keyCol: String, maxBucket: Long,
      onDrops: (Long, Long) => Unit = null): DataFrame = {
    val mat = df.localCheckpoint(false, CandLevel)
    val oversized = mat.groupBy(keyCol).agg(count(lit(1)).as("__bsize"))
      .where(col("__bsize") > maxBucket)
    // Drop accounting (r14): recall loss from capped buckets must be
    // visible, not silent — callers thread the (keys, rows) counts into
    // their stats surface. One bucket-sized aggregate over the already-
    // checkpointed frame, eager, only when a reporter asks.
    if (onDrops != null) {
      val r = oversized.agg(count(lit(1)), coalesce(sum("__bsize"), lit(0L)))
        .collect()(0)
      onDrops(r.getLong(0), r.getLong(1))
    }
    mat.join(oversized.select(keyCol), Seq(keyCol), "left_anti")
  }

  // ------------------------------------------------------------- exact

  /** Exact dedup on key columns: one hash-shuffle on the key. */
  def exact(df: DataFrame, keyCols: Seq[String]): DataFrame =
    if (keyCols.isEmpty) df.dropDuplicates() else df.dropDuplicates(keyCols)

  /** Exact dedup keeping, per key, the row with the smallest tie-breaker
    * (deterministic survivor, unlike dropDuplicates). Single shuffle:
    * groupBy(key).agg(min_by(struct(*), tiebreaker)). */
  def exactKeepFirst(df: DataFrame, keyCols: Seq[String], tieBreaker: String): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(all, col(tieBreaker)).as("__row"))
      .select(df.columns.map(c => col(s"__row.$c")): _*)
  }

  /** Streaming exact dedup: duplicates dropped within the watermark window,
    * so state stays bounded (a plain dropDuplicates under streaming keeps
    * every key forever). The streaming upgrade of `exact` —
    * SURVEY.md §7.4.6; reference acknowledges per-microbatch-only dedup
    * (constraints/unique_combinations.py:39-46), this is strictly stronger. */
  def exactStreaming(df: DataFrame, keyCols: Seq[String], eventTimeCol: String,
      watermark: String): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Content-hash dedup: dedup by xxhash64 of a normalized text column —
    * the cheap first pass of any pipeline (collisions at 64 bits are
    * negligible below ~2^32 documents; use `exact` on the text itself when
    * absolute certainty is required). */
  def byContentHash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicates("__fp").drop("__fp")

  // ------------------------------------------------------------- minhash

  /** Word shingles (n-grams) of a text column as an array<string>.
    * Lowercased, whitespace-tokenized; rows shorter than `width` tokens get
    * their full token string as a single shingle. */
  def shingles(text: Column, width: Int = 3): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val n = size(toks)
    when(n <= width, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), n - width),
        i => array_join(slice(toks, i + 1, lit(width)), " ")))
  }

  /** MinHash signature as a Column: for each of `numHashes` hash families,
    * the minimum xxhash64(shingle, family) over the shingle set. Nested
    * higher-order functions — interpreted per evaluation, so this form is
    * only for small one-off use; the pipeline path is `minHashSignatures`. */
  def minHashSignature(shingleArr: Column, numHashes: Int = 128): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      k => array_min(transform(shingleArr, s => xxhash64(s, k))))

  /** Distinct shingle-hash set per document `(id, sh: array<long>)`, sorted
    * for determinism. Shingles are kept as their 64-bit hashes: set
    * semantics survive (collisions negligible) and exact-jaccard
    * verification intersects long arrays instead of wide strings. The
    * Column form above (`transform`, a higher-order function) is
    * CodegenFallback — measured ~25 interpreted core-ms per sf0.1
    * document — so no pipeline path may evaluate it; the fused native
    * kernel below computes the same hashes per row. */
  private[llm] def shingleSets(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    sketchFrame(df, idCol, textCol, width, numHashes = 0)
      .select(col("id"), col("__sk.sh").as("sh"))

  /** Fused per-row sketch (graft.functions.ShingleSketch): tokens ->
    * struct(sh, sig) in one native pass — no explode, no wide aggregate,
    * no shuffle; bit-identical to the legacy explode+aggregate pipeline
    * (pinned in ShingleSketchSpec). */
  private def sketchFrame(df: DataFrame, idCol: String, textCol: String,
      width: Int, numHashes: Int): DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    Similarity.parallelize(df)
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.ShingleSketch.sketch(toks, width, numHashes).as("__sk"))
  }

  /** MinHash signatures as a frame transform: ONE narrow projection per
    * document through the fused native sketch (tokens -> sorted distinct
    * shingle hashes + signature in a single compiled pass; see
    * graft.functions.ShingleSketch). No explode, no wide aggregate, no
    * shuffle, no sig<->set join — the first exchange of every consumer is
    * its own bucket-key shuffle. This is the 100-TB path, unlike the
    * interpreted nested-lambda Column form.
    *
    * @return (id, sh, sig) — sh sorted ascending for determinism.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, shingleWidth: Int = 3): DataFrame =
    sketchFrame(df, idCol, textCol, shingleWidth, numHashes)
      .select(col("id"), col("__sk.sh").as("sh"), col("__sk.sig").as("sig"))

  /** Signatures without the shingle set: `(id, sig)`. */
  private def minHashSigOnly(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleWidth: Int): DataFrame =
    sketchFrame(df, idCol, textCol, shingleWidth, numHashes)
      .select(col("id"), col("__sk.sig").as("sig"))

  /** Banded LSH keys from a minhash signature: `bands` hashes, each over a
    * contiguous slice of rows-per-band signature entries. Two documents
    * share a key iff one band matches exactly — the classic S-curve
    * candidate filter. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, array_join(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)), ",")))

  /** Pick (bands, rowsPerBand) for a target Jaccard threshold. Banded LSH
    * makes a pair with similarity s a candidate with probability
    * 1-(1-s^r)^b — an S-curve whose transition sits near (1/b)^(1/r)
    * (the standard analysis, Mining of Massive Datasets ch. 3). This
    * minimizes |(1/b)^(1/r) - threshold| over the divisor pairs with
    * b·r == numHashes (using every hash — a partial banding would just
    * waste signature entries), breaking ties toward MORE bands: the
    * higher-recall side, and false positives are cheap here because every
    * candidate is exact-verified downstream.
    *
    * Usage: `val (b, r) = lshParamsFor(0.8); nearDupMinHash(df, id, text,
    * threshold = 0.8, numHashes = b * r, bands = b)`. */
  def lshParamsFor(threshold: Double, numHashes: Int = 128): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) =>
        (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
      }
  }

  /** Corpus-scale (bands, rowsPerBand): the MOST SELECTIVE divisor pair
    * whose S-curve transition `(1/b)^(1/r)` stays at or below the target
    * threshold — i.e. the largest rowsPerBand that still catches
    * at-threshold pairs with high probability (at the transition point
    * itself, candidate probability is `1-(1-1/b)^b ≈ 63%`; at
    * s = threshold ABOVE the transition it climbs fast — e.g. (16, 8) at
    * threshold 0.8 gives 95% at s=0.8 and ~100% at s≥0.9).
    *
    * Why not [[lshParamsFor]]'s closest-transition rule at scale: the
    * candidate count of the banded self-join grows with Σ bucket², and
    * every extra band multiplies both the exploded frame and the
    * collision mass — at 10⁷⁺ documents an over-recalling banding (the
    * fixed 64-band/2-row default especially, transition 0.125 for a 0.8
    * threshold) is the difference between a linear stage and the
    * quadratic blowup VERDICT r13 measured (91.6→419.8s for 3.33× rows).
    * The cost is the documented LSH recall S-curve exactly AT the
    * threshold boundary (~95% at s=threshold, ~100% a few points above);
    * candidates are always exact-verified, so precision is unaffected.
    * Falls back to [[lshParamsFor]] when every pair's transition exceeds
    * the threshold (sub-0.008 thresholds at 128 hashes). */
  def lshParamsSelective(threshold: Double, numHashes: Int = 128): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    pairs.filter { case (b, r) => math.pow(1.0 / b, 1.0 / r) <= threshold }
      .sortBy(-_._2).headOption
      .getOrElse(lshParamsFor(threshold, numHashes))
  }

  /** Exact Jaccard similarity of two shingle arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Near-duplicate pairs via MinHash + banded LSH + exact verification.
    *
    * Plan shape: Project(shingles, signature, band keys) -> explode bands ->
    * shuffle by (band, key) -> self-join inside buckets only -> exact
    * jaccard filter -> distinct pairs. `maxBucket` caps pathological buckets
    * (boilerplate documents) so no task goes quadratic.
    *
    * @return (idA, idB, jaccard) with idA < idB, jaccard >= threshold.
    */
  def nearDupMinHash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 3, maxBucket: Int = 1000,
      onCapDrops: (Long, Long) => Unit = null): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands

    // The band shuffle carries ONLY (id, bandkey) — 16-byte rows. Shipping
    // the shingle array through `bands` exploded copies per document would
    // multiply shuffle volume by bands x |sh| (~30x measured at 64 bands on
    // the sf0.1 corpus); instead candidates are deduped first and the two
    // shingle sets are attached to the surviving pairs by id-keyed joins.
    val banded = minHashSigOnly(df, idCol, textCol, numHashes, shingleWidth)
      .select(col("id"), explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bandkey"))

    // Bucket join: only rows sharing a band key meet; id< ordering halves
    // the pairs and kills self-matches. Distinct BEFORE verification: a pair
    // sharing several bands pays one jaccard, not one per shared band.
    // onCapDrops (r14) surfaces what the bucket cap discarded — capped
    // buckets are the one silent-recall-loss knob in this pipeline.
    val bucketed = capBuckets(banded, "bandkey", maxBucket, onCapDrops)
    val candidates = bucketed.select(col("bandkey"), col("id").as("id_a"))
      .join(bucketed.select(col("bandkey"), col("id").as("id_b")), Seq("bandkey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      // Serialized like the banded frame: pair lists on dirty corpora are
      // candidate-mass-sized (rows·bands·maxBucket worst case).
      .localCheckpoint(false, CandLevel)

    // Verify only the documents that appear in some candidate pair. The
    // candidate-id semi-join prunes the RAW corpus BELOW the shingle
    // kernel (r14 — r13 pruned above it, so every non-candidate document
    // still paid the tokenize+shingle pass before the join discarded it;
    // with candidates ~1% of a 10M corpus that pass was most of the
    // verify wall): AQE broadcasts the id side when small, the scan
    // filters to candidate rows, and only those pay the kernel. One
    // checkpointed candidate-sized shingle frame feeds the two attach
    // joins, which shuffle candidate-sized arrays, never corpus-sized.
    val ids = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol))).distinct()
    val sets = shingleSets(
      df.join(ids, Seq(idCol), "left_semi"), idCol, textCol, shingleWidth)
      .localCheckpoint(false, CandLevel)
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Documents surviving minhash near-dup removal: from each connected
    * candidate pair, the larger id is dropped (greedy — chains A~B~C can
    * keep both A and C; `dropNearDupsMinHashCC` is the transitive-closure
    * variant that keeps exactly one document per near-dup cluster). */
  def dropNearDupsMinHash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 3, maxBucket: Int = 1000,
      onCapDrops: (Long, Long) => Unit = null): DataFrame = {
    val losers = nearDupMinHash(df, idCol, textCol, threshold, numHashes,
      bands, shingleWidth, maxBucket, onCapDrops)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Documents surviving simhash near-dup removal (greedy larger-id drop,
    * like [[dropNearDupsMinHash]]). */
  def dropNearDupsSimHash(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, pieces: Int = 4, maxBucket: Int = 10000): DataFrame = {
    val losers = nearDupSimHash(df, idCol, textCol, maxDistance, pieces, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Rows surviving embedding near-dup removal (greedy larger-id drop,
    * like [[dropNearDupsMinHash]]). */
  def dropNearDupsCosine(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12, probes: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val losers = nearDupCosine(df, idCol, vecCol, threshold, planes, probes, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected pair list via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the shuffle-only formulation that
    * converges in O(log n) rounds on any graph shape, unlike naive
    * min-label propagation whose round count is the graph diameter (a
    * 1M-document duplicate chain would need 1M rounds).
    *
    * Each round is two aggregate+join shuffles over the edge list; lineage
    * is truncated per round with `localCheckpoint` so the plan stays flat
    * (on a cluster with a checkpoint dir configured, `checkpoint` is the
    * drop-in durable equivalent). Convergence = the (count, sum-of-hashes)
    * fingerprint of the edge set stops changing; `maxIter` bounds the loop.
    *
    * Adaptive small-graph path: after the initial dedup the edge count is
    * known (the frame is checkpointed anyway), and below
    * `localEdgeThreshold` a driver-side union-find wins outright — each
    * distributed round costs a fixed several-job latency regardless of data
    * size, while 10^6 edges are a 16 MB collect and a linear pass. Same
    * reasoning as the broadcast-join size threshold. Trillion-edge dedup
    * graphs take the distributed loop.
    *
    * @return (id, component) for every node in `pairs` — `component` is the
    *         smallest id reachable from `id` (roots map to themselves).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, localEdgeThreshold: Long = 1000000L): DataFrame = {
    import graft.tools.StageLog
    var edges = StageLog.timed("cc_edge_checkpoint") {
      pairs.select(col(aCol).as("u"), col(bCol).as("v"))
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
        .localCheckpoint(true)
    }

    val integralIds = edges.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (integralIds && StageLog.timed("cc_edge_count")(edges.count()) <= localEdgeThreshold) {
      // Union-find with path compression; union-by-min makes every root the
      // minimum id of its component, matching the distributed fixpoint.
      val es = StageLog.timed("cc_local_unionfind")(
        edges.collect()).map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(id => (id, find(id)))
      return pairs.sparkSession.createDataFrame(rows).toDF("id", "component")
    }

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent AND overflow-free — a sum of
      // 64-bit hashes overflows signed long and raises under ANSI mode.
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    var fp = StageLog.timed("cc_rounds")(fingerprint(edges))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) StageLog.timed("cc_rounds") {
      // Large-star: every node links its larger neighbors to the minimum of
      // its closed neighborhood. groupBy+join (not a window) — the min is
      // partial-aggregatable, so hot hubs never buffer in a single task.
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val nbrMin = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(nbrMin, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()

      // Small-star: every node links its smaller neighbors (and itself) to
      // the minimum among them.
      val oriented = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val sMin = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val small = oriented.join(sMin, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMin.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .localCheckpoint(true)

      val fp2 = fingerprint(small)
      converged = fp2 == fp
      fp = fp2
      edges = small
      iter += 1
    }

    // At the fixpoint every edge points a member at its component root.
    val members = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("component"))
    val roots = edges.select(col("v").as("id")).distinct()
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    members.unionByName(roots)
  }

  /** Transitive-closure survivor selection: one document per near-duplicate
    * *cluster* (connected component of the minhash pair graph), keeping the
    * smallest id. Fixes the greedy variant's chain artifact where A~B~C
    * drops B but keeps both A and C. */
  def dropNearDupsMinHashCC(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 3, maxIter: Int = 25): DataFrame = {
    val pairs = nearDupMinHash(df, idCol, textCol, threshold, numHashes, bands, shingleWidth)
    val losers = connectedComponents(pairs, "id_a", "id_b", maxIter)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental near-dup: pairs of `batch` documents that are near-dups of
    * `corpus` documents — the ingest shape of a production pipeline, where
    * each new crawl slice is deduped against the accumulated training set
    * rather than re-running dedup over corpus x corpus. Same MinHash +
    * banded-LSH + exact-verify machinery as [[nearDupMinHash]], but the band
    * join is batch x corpus only: candidate volume scales with the BATCH
    * size, and the corpus contributes one signature pass (in production the
    * corpus band index would be written once and reused across batches —
    * the frame returned by the signature stage is an ordinary DataFrame, so
    * persisting it to a bucketed table by `bandkey` makes every later batch
    * join shuffle-free on the corpus side). Intra-batch duplicates are NOT
    * reported — compose with [[dropNearDupsMinHash]] on the batch for that;
    * under Structured Streaming, call this per micro-batch via foreachBatch.
    *
    * Ids are namespaced per side: a batch row and corpus row may share an id
    * value and still form a pair.
    *
    * @return (batch_id, corpus_id, jaccard) with jaccard >= threshold.
    */
  def nearDupMinHashAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands

    def bandsOf(df: DataFrame): DataFrame =
      minHashSigOnly(df, idCol, textCol, numHashes, shingleWidth)
        .select(col("id"), explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bandkey"))

    // The cap runs on the corpus side — the side whose pathological buckets
    // (boilerplate shingles over billions of documents) can go quadratic.
    // The batch side is bounded by construction (one ingest slice).
    val corpusBands = capBuckets(bandsOf(corpus), "bandkey", maxBucket)
    val candidates = bandsOf(batch).select(col("bandkey"), col("id").as("batch_id"))
      .join(corpusBands.select(col("bandkey"), col("id").as("corpus_id")), Seq("bandkey"))
      .select("batch_id", "corpus_id")
      .distinct()

    candidates
      .join(shingleSets(batch, idCol, textCol, shingleWidth)
        .select(col("id").as("batch_id"), col("sh").as("sh_a")), Seq("batch_id"))
      .join(shingleSets(corpus, idCol, textCol, shingleWidth)
        .select(col("id").as("corpus_id"), col("sh").as("sh_b")), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Batch rows that are NOT near-dups of the corpus: the keep-side of
    * [[nearDupMinHashAgainst]] — what an ingest job appends to the training
    * set. One left_anti against the flagged batch ids. */
  def dropNearDupsMinHashAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      shingleWidth: Int = 3): DataFrame = {
    val losers = nearDupMinHashAgainst(batch, corpus, idCol, textCol, threshold,
      numHashes, bands, shingleWidth)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(losers, Seq(idCol), "left_anti")
  }

  /** Distinct banded-LSH keys of a static corpus, collected to a
    * driver-known array — the index side of [[streamMinHashGuard]].
    * One narrow sketch pass + a distinct shuffle; the result is
    * `min(|corpus| * bands, distinct)` longs. The guard knob bounds the
    * driver collect the way `maxEvalGrams`/`maxEvalVectors` bound the
    * decontamination guards: at 8 bytes/key the default caps the index at
    * ~400 MB — past that, build the [[graft.functions.SetKernels.LongBloomSet]]
    * form instead (same probe expression family, tunable false-positive
    * rate, never false negatives). */
  def minHashBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleWidth: Int = 3,
      maxCorpusKeys: Long = 50000000L): Array[Long] = {
    // ONE job: limit(max+1) bounds the driver collect itself (a violating
    // corpus ships max+1 rows, never the whole key set) and the extra row
    // is the overflow detector — no separate count() pass.
    val keys = distinctBandKeys(corpus, idCol, textCol, numHashes, bands, shingleWidth)
      .limit(math.min(maxCorpusKeys, Int.MaxValue - 1L).toInt + 1)
      .collect().map(_.getLong(0))
    require(keys.length <= maxCorpusKeys,
      s"corpus band index exceeds maxCorpusKeys=$maxCorpusKeys distinct keys — " +
        "raise the knob explicitly or switch to the bloom-backed guard")
    keys
  }

  /** Raw (non-distinct) banded-LSH keys of a corpus as a frame — one
    * narrow sketch pass, zero shuffle. The bloom build consumes these
    * directly (duplicate adds set the same bits); the exact index
    * distincts them first. */
  private def bandKeysOf(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleWidth: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    minHashSigOnly(corpus, idCol, textCol, numHashes, shingleWidth)
      .select(explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bandkey"))
  }

  /** Distinct banded-LSH keys of a corpus as a frame — the build side of
    * [[minHashBandIndex]] (exact collect). One narrow sketch pass + a
    * distinct shuffle. */
  private def distinctBandKeys(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleWidth: Int): DataFrame =
    bandKeysOf(corpus, idCol, textCol, numHashes, bands, shingleWidth).distinct()

  /** Bloom-backed corpus band index, built CLUSTER-PARALLEL: neither the
    * key set nor the key stream ever funnels through the driver — each
    * input partition fills a local bit array of the shared geometry and a
    * `treeAggregate` bitwise-ORs them upward (bloom union is EXACT for
    * identical size/hash-family filters, and OR is idempotent, so
    * duplicate band keys need no distinct shuffle at all). The driver
    * receives one pre-merged bit array per tree branch instead of 10⁸
    * rows. Two passes over the persisted (zero-shuffle) key frame:
    * sizing + build.
    *
    * Sizing: by default the filter is sized from `approx_count_distinct`
    * (HLL, deterministic for a fixed frame) inflated 6% — a ±2% estimate
    * error moves the false-positive rate, never the no-false-negative
    * guarantee. `exactSizing = true` restores the exact distinct+count
    * sizing (one extra shuffle) — with it, the result is BIT-IDENTICAL to
    * a serial [[graft.functions.SetKernels.LongBloomSet.Builder]] build
    * over the same corpus (pinned in Round13Spec). Past the ceiling,
    * shard the corpus into several guards or use the incremental
    * batch-vs-corpus join ([[nearDupMinHashAgainst]]).
    *
    * Measured at scale (`bench_ops_scale.json`, local[32]): the r12
    * driver-serial form (distinct + `toLocalIterator`) built a 10M-doc /
    * ~160M-key / 400 MB guard in 615.8s; this form removes both the
    * distinct shuffle and the driver funnel — the wall is the one
    * sketch pass plus a cores-parallel OR-merge. The stateless probe is
    * unchanged ([[streamMinHashGuardWith]]): build once, probe many. */
  def minHashBandBloom(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleWidth: Int = 3,
      bitsPerKey: Int = 20, maxCorpusKeys: Long = 300000000L,
      exactSizing: Boolean = false)
      : graft.functions.SetKernels.LongBloomSet = {
    val keysDf = bandKeysOf(corpus, idCol, textCol, numHashes, bands, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val n =
        if (exactSizing) keysDf.distinct().count()
        else {
          // HLL at 2% rsd, +6% headroom (3σ): undersizing only raises the
          // FP rate a hair; the 6% pad keeps it at-or-below nominal.
          val est = keysDf.agg(approx_count_distinct(col("bandkey"), 0.02))
            .collect()(0).getLong(0)
          math.max(1L, (est * 1.06).toLong)
        }
      require(n <= maxCorpusKeys,
        s"corpus band index has ~$n distinct keys > maxCorpusKeys=$maxCorpusKeys — " +
          "raise the knob explicitly, shard the corpus into several guards, " +
          "or use the incremental batch-vs-corpus join instead")
      buildBloomDistributed(keysDf, n, bitsPerKey)
    } finally keysDf.unpersist()
  }

  /** OR-merge bloom build over a single-long-column frame: a few
    * partition-local bit arrays of the SHARED geometry, fetched one per
    * JOB and OR-merged on the driver.
    *
    * Why not a straight treeAggregate: every tree level returns its
    * partials through ONE job, and `spark.driver.maxResultSize` caps the
    * TOTAL serialized results of a job — 32 partials × 400 MB trips the
    * default 1 GiB cap immediately (measured). Instead the keys are
    * round-robin-shuffled into ≤8 merge partitions (the shuffle ships
    * 8-byte keys, never arrays, and the expensive sketch stage upstream
    * keeps full width — its shuffle files are written once and reused by
    * every later per-partition job), each merge partition builds one
    * partial, and `toLocalIterator` fetches them one job at a time, so
    * each job returns a single array (the geometry ceiling — 750 MB at
    * the default 300M-key / 20-bit maximum — stays under the default
    * result cap). The driver's work is ≤8 sequential array ORs.
    *
    * Executor-heap note (r14 — ADVICE): every CONCURRENT merge task
    * allocates the full word array — ~750 MB/task at the 300M-key /
    * 20-bit ceiling, so 8 concurrent tasks would need ~6 GB of
    * simultaneous executor heap that the old driver-serial build never
    * did. The merge-partition count is therefore derived from a heap
    * budget (20% of the smaller of executor/driver max heap across all
    * concurrent merge tasks), capped at 8: a tightly-heaped cluster
    * degrades to fewer, bigger merge tasks instead of OOMing, and >8
    * merge parallelism never pays anyway — the driver ORs serially. */
  private def buildBloomDistributed(keys: DataFrame, expectedKeys: Long,
      bitsPerKey: Int): graft.functions.SetKernels.LongBloomSet = {
    import graft.functions.SetKernels.LongBloomSet
    val nWords = LongBloomSet.wordsFor(expectedKeys, bitsPerKey)
    val k = LongBloomSet.probesFor(bitsPerKey)
    val spark = keys.sparkSession
    // Local mode shares one JVM (Runtime.maxMemory IS the executor heap);
    // on a cluster spark.executor.memory bounds the task side.
    val execHeap = spark.sparkContext.getConf.getSizeAsBytes(
      "spark.executor.memory", Runtime.getRuntime.maxMemory().toString)
    val perTaskBytes = math.max(1L, nWords.toLong * 8L)
    val byBudget = (math.min(execHeap, Runtime.getRuntime.maxMemory()) / 5)
      .max(perTaskBytes) / perTaskBytes
    val mergeParts = math.max(1, math.min(math.min(8L, byBudget).toInt,
      spark.sparkContext.defaultParallelism))
    val repart = keys.repartition(mergeParts)
    val keyIdx = repart.schema.fieldIndex("bandkey")
    val partials = repart.queryExecution.toRdd.mapPartitions { rows =>
      val a = new Array[Long](nWords)
      while (rows.hasNext) LongBloomSet.addTo(a, k, rows.next().getLong(keyIdx))
      Iterator.single(a)
    }
    val acc = new Array[Long](nWords)
    val it = partials.toLocalIterator
    while (it.hasNext) {
      val b = it.next()
      var i = 0
      while (i < nWords) { acc(i) |= b(i); i += 1 }
    }
    new LongBloomSet(acc, k)
  }

  /** Driver-known multi-index Hamming structure over a corpus's 64-bit
    * perceptual hashes ([[Multimodal.pHashImages]]) — the build side of
    * [[streamPHashGuard]]. One distinct collect bounded by
    * `maxCorpusImages`. True footprint at pieces=4 (r14 — the old
    * estimate undercounted): 8 B hash + 16 B bucket members (4 ints) per
    * hash plus ~1 MB of fixed offsets — ~24 B/hash, ≈1.2 GB at the 50M
    * cap; the probe call sites wrap it in a [[graft.functions.Payload]],
    * so past 8 MB executors fetch it ONCE for the broadcast's lifetime
    * (across stages and micro-batches) instead of once per stage inside
    * the task binary.
    * Past the cap, shard the corpus into several guards or use the batch
    * pigeonhole join ([[nearDupHamming64]]). */
  def pHashIndex(corpus: DataFrame, phashCol: String, pieces: Int = 4,
      maxCorpusImages: Long = 50000000L)
      : graft.functions.HammingIndexKernel.MihIndex = {
    val hs = corpus.where(col(phashCol).isNotNull)
      .select(col(phashCol).cast("long")).distinct()
      .limit(math.min(maxCorpusImages, Int.MaxValue - 1L).toInt + 1)
      .collect().map(_.getLong(0))
    require(hs.length <= maxCorpusImages,
      s"pHash corpus exceeds maxCorpusImages=$maxCorpusImages distinct hashes — " +
        "raise the knob explicitly, shard into several guards, or use the " +
        "batch pigeonhole join")
    new graft.functions.HammingIndexKernel.MihIndex(hs, pieces)
  }

  /** Id-carrying MIH index (duplicate hashes pre-reduced to their
    * smallest id) — the build side of [[dropNearDupsPHash]]. One
    * hash-keyed aggregate + a bounded collect; ids must be numeric. */
  def pHashIdIndex(corpus: DataFrame, idCol: String, phashCol: String,
      pieces: Int = 4, maxCorpusImages: Long = 50000000L)
      : graft.functions.HammingIndexKernel.MihIndex = {
    val rows = corpus.where(col(phashCol).isNotNull)
      .groupBy(col(phashCol).cast("long").as("__h"))
      .agg(min(col(idCol).cast("long")).as("__id"))
      .limit(math.min(maxCorpusImages, Int.MaxValue - 1L).toInt + 1)
      .collect()
    require(rows.length <= maxCorpusImages,
      s"pHash corpus exceeds maxCorpusImages=$maxCorpusImages distinct hashes — " +
        "raise the knob explicitly or shard into several passes")
    new graft.functions.HammingIndexKernel.MihIndex(
      rows.map(_.getLong(0)), pieces, rows.map(_.getLong(1)))
  }

  /** Perceptual near-dup removal with keep-lowest-id semantics via ONE
    * fused multi-probe expression: a row survives iff no corpus sketch
    * within `maxDistance` carries a smaller id (its own hash's entry
    * returns its own id, so unique images always survive) — exactly the
    * greedy larger-id drop [[nearDupHamming64]]'s pair list implies, but
    * as a ZERO-SHUFFLE projection against the driver-known MIH index:
    * no banded explode, no self-join, no bucket cap to silently lose
    * recall at scale. Complete for any radius (MIH query expansion) and
    * exact-verified. The MIH index costs `maxCorpusImages` distinct
    * hashes of driver/executor reference state (~32 B each at pieces=4:
    * 8 B hash + 8 B id + 16 B bucket members — ≈1.6 GB at the 50M cap;
    * r14, the old ~16 B estimate undercounted the members).
    *
    * AUTO-SCALE past the driver bound (r14): a cheap
    * `approx_count_distinct` pass sizes the corpus first; above ~90% of
    * `maxCorpusImages` the call switches to HASH-RANGE MULTI-PASS MIH
    * instead of `require`-failing — the distinct-hash space is split into
    * `ceil(n / 0.9·cap)` shards by `pmod(xxhash64(hash), shards)` (a pure
    * function of the hash, so every duplicate group lives in exactly one
    * shard and the shard-local min-id IS the global one), each shard's
    * id-carrying index is built and probed against the WHOLE corpus in
    * turn, and the per-row minimum folds across passes
    * (`least(acc, minIdWithin_s)`) through a slim `(id, phash, acc)`
    * checkpoint per pass — materializing each pass retires its shard
    * index before the next builds, so peak reference state stays ONE
    * index regardless of corpus size. Result is row-for-row identical to
    * the fused single-index path (a row is dropped iff some smaller-id
    * sketch lies within the radius — pinned in Round14Spec), the probe
    * stays exact and complete for any radius, and cost is
    * shards × (one corpus projection + one bounded index build): LINEAR
    * in the corpus, never the quadratic bucket blowup a banded self-join
    * hits when 10⁸⁺ uniform sketches share 16-bit slice keys. A
    * billion-image corpus runs the same call. Hashless rows (null sketch
    * — undecodable payloads) are kept on both paths. */
  def dropNearDupsPHash(df: DataFrame, idCol: String, phashCol: String,
      maxDistance: Int = 10, pieces: Int = 4,
      maxCorpusImages: Long = 50000000L): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 64,
      s"maxDistance must be in [0, 64), got $maxDistance")
    val K = graft.functions.HammingIndexKernel
    val h = col(phashCol).cast("long")
    val est = df.where(col(phashCol).isNotNull)
      .agg(approx_count_distinct(col(phashCol), 0.02)).collect()(0).getLong(0)
    if (est <= (maxCorpusImages * 0.9).toLong) {
      // The payload stays referenced by the returned plan; on the
      // broadcast arm the ContextCleaner reclaims the broadcast when the
      // plan is garbage-collected.
      val index = Payload(pHashIdIndex(df, idCol, phashCol, pieces, maxCorpusImages))
      df.where(col(phashCol).isNull ||
        K.minIdWithin(h, index, maxDistance) >= col(idCol).cast("long"))
    } else {
      // +6% headroom over the HLL estimate (3σ at 2% rsd), shards sized
      // to 90% of the cap so uniform xxhash64 shard skew can't overflow
      // pHashIdIndex's hard bound.
      val nShards = math.max(2L,
        ((est * 1.06) / (maxCorpusImages * 0.9)).ceil.toLong).toInt
      val shardOf = pmod(xxhash64(col("__h")), lit(nShards.toLong))
      var acc = df.select(col(idCol).cast("long").as("__id"), h.as("__h"))
        .withColumn("__min", lit(Long.MaxValue))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        // slim (id, hash) frame: passes never re-decode
      (0 until nShards).foreach { s =>
        // Per-pass payload: the eager localCheckpoint below materializes
        // the pass, after which release() frees the executor copies of a
        // broadcast index before the next shard's index builds (peak =
        // ONE index, as documented).
        val index = Payload(
          pHashIdIndex(acc.where(col("__h").isNotNull &&
            shardOf === s.toLong), "__id", "__h", pieces, maxCorpusImages))
        val prev = acc
        acc = acc.withColumn("__min", least(col("__min"),
            coalesce(K.minIdWithin(col("__h"), index, maxDistance),
              lit(Long.MaxValue))))
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        // retire this shard's index reference state
        index.release()
        org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(prev)
          .foreach(_.unpersist(blocking = false))
      }
      val keep = acc.where(col("__h").isNull || col("__min") >= col("__id"))
        .select(col("__id").cast(df.schema(idCol).dataType).as(idCol))
      df.join(keep, Seq(idCol), "left_semi")
    }
  }

  /** STATELESS streaming image near-dup guard against a static corpus:
    * one fused multi-index Hamming probe per row — complete for ANY
    * radius (the MIH slice-perturbation query expansion enumerates every
    * bucket a within-distance sketch could occupy; the 500-perturbation
    * sweep in Round13Spec certifies it) and EXACT-verified (flags iff a
    * corpus sketch truly lies within the radius; no false positives at
    * all, unlike the candidate-only minhash band guard). Pure projection: no
    * state store, no watermark, no shuffle — composes with any
    * Structured Streaming source/sink in append mode. Rows with a null
    * sketch (undecodable payloads) pass unflagged. Batch-replayable. */
  def streamPHashGuard(stream: DataFrame,
      index: graft.functions.HammingIndexKernel.MihIndex,
      phashCol: String, maxDistance: Int = 3): DataFrame = {
    // The guard's plan is reused by EVERY micro-batch: past 8 MB the
    // payload is a broadcast, fetched and cached once per executor for
    // the life of the streaming query instead of re-shipped inside each
    // micro-batch's task binary (~1.2 GB at the 50M-hash cap).
    stream.withColumn("img_near_dup", coalesce(
      graft.functions.HammingIndexKernel.anyWithin(
        col(phashCol).cast("long"), Payload(index), maxDistance), lit(false)))
  }

  /** STATELESS streaming AUDIO near-dup guard against a static corpus
    * (r16 — the audio/video twin of [[streamPHashGuard]], closing the
    * modality gap): the in-flight clip's 64-bit spectral (or energy)
    * sketch is computed per row by the streaming-safe
    * [[Multimodal.mediaSketch64]] expression (bit-identical to the batch
    * [[Multimodal.audioSpectralHashes]] / `audioHashes` sketches — the
    * batch≡stream parity contract) and probed against the driver-known
    * corpus index in one fused multi-index Hamming expression — complete
    * for any radius and EXACT-verified, so flags have no false
    * positives. Pure projection: no state store, no watermark, no
    * shuffle; composes with any source/sink in append mode; undecodable
    * bytes sketch to null and pass unflagged. Build the index from the
    * corpus's batch sketches ([[pHashIndex]] over the sketch column —
    * it is sketch-agnostic). */
  def streamAudioGuard(stream: DataFrame,
      index: graft.functions.HammingIndexKernel.MihIndex,
      binCol: String, maxDistance: Int = 3,
      spectral: Boolean = true): DataFrame = {
    val sketch = Multimodal.mediaSketch64(col(binCol),
      if (spectral) "audio_spectral" else "audio_energy")
    stream.withColumn("audio_near_dup", coalesce(
      graft.functions.HammingIndexKernel.anyWithin(sketch, Payload(index), maxDistance),
      lit(false)))
  }

  /** STATELESS streaming VIDEO near-dup guard — [[streamAudioGuard]]'s
    * video sibling over the re-mux-exact payload fingerprint
    * ([[Multimodal.videoHashes]]'s per-row kernel; `profile = true`
    * switches to the re-encode-tolerant size-profile signature, whose
    * flags are CANDIDATES — at its wider radius pair them with a batch
    * Spearman verify downstream, or use the EXACT
    * [[streamVideoProfileGuard]], which fuses that verify into the probe
    * — while the default payload sketch stays exact-verified with no
    * false positives at radius ≤ 4). Same stateless zero-shuffle
    * projection shape; null sketches (not-an-MP4, flat profiles) pass
    * unflagged. */
  def streamVideoGuard(stream: DataFrame,
      index: graft.functions.HammingIndexKernel.MihIndex,
      binCol: String, maxDistance: Int = 4,
      profile: Boolean = false): DataFrame = {
    val sketch = Multimodal.mediaSketch64(col(binCol),
      if (profile) "video_profile" else "video_payload")
    stream.withColumn("video_near_dup", coalesce(
      graft.functions.HammingIndexKernel.anyWithin(sketch, Payload(index), maxDistance),
      lit(false)))
  }

  /** STATELESS streaming VERIFIED video RE-ENCODE guard (r17 — closes
    * the `streamVideoGuard(profile = true)` candidate-only gap): each
    * in-flight MP4 is profiled ONCE (signature bits + full rank vector +
    * duration×fps cell — the [[Multimodal.videoProfilePairs]] parse) and
    * probed against the broadcast corpus cell index with the Spearman
    * verify FUSED INTO THE PROBE, so `video_near_dup` is EXACT: true iff
    * some corpus video lies within the signature radius AND its full
    * 64-bucket rank correlation clears `minSpearman` — bit-identical
    * arithmetic to the batch pair operator, no downstream re-verify.
    * Same stateless zero-shuffle projection shape as every other guard;
    * unprofiled bytes (not-an-MP4, < 64 samples, flat stsz) pass
    * unflagged. Build the index with [[Multimodal.videoProfileIndex]];
    * probes stay bounded by the probed cells' population, exactly as in
    * the batch operator. `flatIndex` (r18 — the batch operator's hatch on
    * the streaming surface, VERDICT r17 #3): probe the single collapsed
    * cell of an index built with `videoProfileIndex(flatIndex = true)`,
    * restoring corpus-wide recall (a >4× fps resample or >1.5× duration
    * trim still flags) at the flat per-probe cost — the flag MUST match
    * the index build's, or probes address cells the index never
    * populated. */
  def streamVideoProfileGuard(stream: DataFrame,
      index: graft.functions.HammingIndexKernel.MihCellIndex,
      binCol: String, maxDistance: Int = 14,
      minSpearman: Double = 0.85, flatIndex: Boolean = false): DataFrame = {
    stream.withColumn("video_near_dup", coalesce(
      Multimodal.videoProfileVerified(col(binCol), Payload(index), maxDistance,
        minSpearman, flatIndex),
      lit(false)))
  }

  /** STATELESS streaming near-dup guard against a static corpus: each
    * document's banded-LSH keys are probed against the driver-known corpus
    * band index ([[minHashBandIndex]]) in one fused per-row expression —
    * a pure projection + filter, so it composes with any Structured
    * Streaming source/sink in append mode with NO state store, no
    * watermark, and no shuffle (the [[Decontamination]] guard shape).
    *
    * Verdict semantics are the LSH candidate test (a band collision, not
    * an exact-jaccard verification — the [[streamNearDupVerdicts]]
    * tradeoff): `nd_bands_hit` counts matching bands, `nd_candidate` is
    * the >= 1 flag. Identical text always flags (every band matches);
    * documents sharing no shingles with the corpus flag only on a 64-bit
    * band-hash coincidence. Batch-replayable: the same expression over the
    * same frame as a batch gives bit-identical verdicts. */
  def streamMinHashGuard(stream: DataFrame, bandIndex: Array[Long],
      textCol: String, numHashes: Int = 128, bands: Int = 64,
      shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val sig = graft.functions.ShingleSketch.sketch(toks, shingleWidth, numHashes)
      .getField("sig")
    // A corpus-scale band index past the 8 MB threshold rides a broadcast
    // handle instead of every micro-batch's task binary.
    val hits = graft.functions.SetKernels.countInSet(
      lshBandKeys(sig, bands, rowsPerBand), Payload(LongSortedSet.of(bandIndex)))
    stream
      .withColumn("nd_bands_hit", coalesce(hits, lit(0L)))
      .withColumn("nd_candidate", col("nd_bands_hit") >= 1L)
  }

  /** Keep-side of [[streamMinHashGuard]]: stream rows that are NOT LSH
    * candidates against the corpus — what an ingest stream appends. */
  def streamDropNearDupsMinHash(stream: DataFrame, bandIndex: Array[Long],
      textCol: String, numHashes: Int = 128, bands: Int = 64,
      shingleWidth: Int = 3): DataFrame =
    streamMinHashGuard(stream, bandIndex, textCol, numHashes, bands, shingleWidth)
      .where(!col("nd_candidate"))
      .drop("nd_bands_hit", "nd_candidate")

  /** Bloom form of [[streamMinHashGuard]]: the probe structure shrinks
    * from 8 bytes/key (exact sorted set) to `bitsPerKey` bits (~2.5
    * bytes/key at 20 bits, ~6e-5 false-positive rate per band probe) —
    * per [[graft.functions.SetKernels.LongBloomSet]]'s sizing note this
    * pushes the guard's corpus ceiling ~3-6x past the exact form's
    * ~10^8 keys (the build is a cluster-parallel OR-merge — the driver
    * holds only the finished bit array; past the ceiling, shard the
    * corpus into several guards). False positives only over-flag (a clean doc gets an
    * unnecessary exact-verify or a conservative drop); genuine band
    * collisions are NEVER missed — the decontamination-guard tradeoff.
    * Same stateless zero-shuffle contract as the exact form; verdict is
    * the boolean flag only (a bloom cannot count distinct hits). */
  def streamMinHashGuardBloom(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 128, bands: Int = 64,
      shingleWidth: Int = 3, bitsPerKey: Int = 20,
      maxCorpusKeys: Long = 300000000L): DataFrame = {
    // Distributed bloom build ([[minHashBandBloom]]): the driver holds the
    // bloom's bit array (~750 MB at the default 300M-key ceiling), never
    // a key stream or collect. Validation lives in the delegates.
    val bloom = minHashBandBloom(corpus, idCol, textCol, numHashes, bands,
      shingleWidth, bitsPerKey, maxCorpusKeys)
    streamMinHashGuardWith(stream, bloom, textCol, numHashes, bands, shingleWidth)
  }

  /** Probe side of the bloom guard over a PREBUILT index
    * ([[minHashBandBloom]]) — build once, probe many streams/batches
    * without re-scanning the corpus. Same stateless zero-shuffle contract
    * as [[streamMinHashGuardBloom]]. */
  def streamMinHashGuardWith(stream: DataFrame,
      bloom: graft.functions.SetKernels.LongBloomSet, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val sig = graft.functions.ShingleSketch.sketch(toks, shingleWidth, numHashes)
      .getField("sig")
    // A guard bloom is ~750 MB at its 300M-key ceiling — broadcast past
    // the threshold rather than re-shipped per micro-batch.
    val hit = graft.functions.SetKernels.anyInBloom(
      lshBandKeys(sig, bands, rowsPerBand), Payload(bloom))
    stream.withColumn("nd_candidate", coalesce(hit, lit(false)))
  }

  /** Streaming near-dup WITHOUT foreachBatch: pure Structured Streaming
    * operators end to end. Every document's banded-LSH keys are claimed
    * through `dropDuplicatesWithinWatermark` (state = one row per band key,
    * evicted by the watermark); a downstream event-time-windowed count then
    * reassembles a per-document verdict — a document is `kept` iff it was
    * first to claim EVERY one of its band keys, i.e. no band matched any
    * earlier in-watermark document. Chained stateful operators (dedup ->
    * windowed agg) in append mode; both stages are watermark-bounded, so
    * state never grows with the stream.
    *
    * Tradeoff vs the foreachBatch composition over
    * [[nearDupMinHashAgainst]]: candidates are not exact-jaccard verified,
    * so precision is the LSH S-curve's (tighten with more rows per band).
    * Recall is the standard banded bound; a same-band hash collision of
    * 64-bit keys is negligible.
    *
    * @param delayThreshold watermark delay — ALSO the dedup horizon: a
    *   duplicate arriving more than this after the first occurrence is not
    *   detected (its keys have left the state store).
    * @return streaming frame (window_start, id, n_claimed, kept), emitted
    *   when the watermark closes each window. EVERY in-watermark document
    *   gets a row: each claims a per-document sentinel key alongside its
    *   band keys, so a document whose every band was already taken (e.g.
    *   an exact duplicate of an earlier doc) still surfaces, as
    *   (n_claimed = 0, kept = false) rather than silently vanishing.
    */
  def streamNearDupVerdicts(stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, delayThreshold: String, windowDuration: String,
      numHashes: Int = 128, bands: Int = 64, shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val sig = graft.functions.ShingleSketch.sketch(toks, shingleWidth, numHashes)
      .getField("sig")
    // The sentinel is keyed by (id, event time), so it is never claimed by
    // another document (64-bit collision odds are the same negligible ones
    // the band keys already accept) and survives the dedup even when the
    // SAME id reappears later within the watermark — an id-only sentinel
    // would be consumed by the first arrival, silently vanishing (or
    // off-by-one undercounting) every redelivery. Sentinel claims are
    // flagged at explode time (posexplode: the appended position IS the
    // sentinel) so the verdict counts exactly the non-sentinel claims
    // rather than assuming one sentinel per group.
    val selfKey = xxhash64(lit("graft_self_claim"), col(idCol), col(tsCol))
    val claimed = stream
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        posexplode(concat(lshBandKeys(sig, bands, rowsPerBand), array(selfKey))))
      .select(col("id"), col("ts"), col("col").as("bandkey"),
        (col("pos") === bands).as("is_self"))
      .withWatermark("ts", delayThreshold)
      .dropDuplicatesWithinWatermark("bandkey")
    claimed
      .groupBy(window(col("ts"), windowDuration), col("id"))
      .agg(sum(when(col("is_self"), 0L).otherwise(1L)).as("n_claimed"))
      .select(col("window.start").as("window_start"), col("id"),
        col("n_claimed"), (col("n_claimed") === bands).as("kept"))
  }

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash of a token array: per bit, the sign of the sum of
    * contributions (+1/-1) of each token hash's bit. Interpreted
    * higher-order aggregates — small one-off use only; the pipeline path is
    * `simHashes`. */
  def simHash(tokens: Column, bits: Int = 64): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    val bitCols = (0 until bits).map { bpos =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, bpos).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << bpos)).otherwise(lit(0L))
    }
    bitCols.reduce((x: Column, y: Column) => x.bitwiseOR(y))
  }

  /** SimHash sketches as a frame transform: explode token hashes, then one
    * hash-aggregate with 64 codegen'd sum-of-votes aggregates; the sketch is
    * reassembled from the vote signs. Same two-phase-aggregation scaling
    * argument as `minHashSignatures`.
    *
    * @return (id, sk)
    */
  def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Sketch width is fixed at 64 bits by the fused kernel — no parameter,
    // so the constraint is visible at compile time instead of failing at
    // runtime (the historical `bits` argument accepted only 64 anyway).
    // Fused native kernel (graft.functions.ShingleSketch.simHash64): one
    // compiled pass per document, no explode, no 64-vote aggregate, no
    // shuffle — bit-identical to the legacy pipeline (ShingleSketchSpec).
    // The null-text filter mirrors the legacy explode(null) row drop.
    Similarity.parallelize(df)
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.ShingleSketch.simHash64(
          split(trim(lower(col(textCol))), "\\s+")).as("sk"))
  }

  /** Near-duplicate pairs by SimHash hamming distance <= maxDistance.
    * Bucketing: the 64-bit sketch splits into `pieces` sub-keys; by the
    * pigeonhole principle two sketches within hamming distance d < pieces
    * share at least one exact sub-key, so candidates meet in a sub-key
    * bucket — never all-pairs. */
  def nearDupSimHash(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, pieces: Int = 4, maxBucket: Int = 10000): DataFrame =
    nearDupHamming64(simHashes(df, idCol, textCol), "id", "sk",
      maxDistance, pieces, maxBucket)

  /** Hamming-banded near-dup pairs over ANY 64-bit sketch column —
    * the shared pigeonhole engine of [[nearDupSimHash]] (text) and the
    * image pHash family ([[Multimodal.pHashImages]]): the sketch splits
    * into `pieces` disjoint bit slices, two sketches within distance
    * d < pieces must agree exactly on at least one slice, so candidate
    * generation is an equi-join on slice keys (exact blocking below the
    * cap) and only candidates pay the XOR/bit_count verify.
    * `maxBucket` caps degenerate slice buckets (the [[capBuckets]] skew
    * guard) — for UNIFORM sketches (hash nibbles) caps never bite at
    * realistic sizes, but correlated-bit sketches (e.g. the video size
    * profile's smooth-curve sign bits, where constant runs make 0x0/0xF
    * slices dominate) can cross them, and a pair loses only when EVERY
    * slice it shares is capped; thread `onCapDrops` to make that recall
    * loss visible (the [[nearDupMinHash]] `capped_rows` contract) instead
    * of silent. Null sketches are dropped. */
  def nearDupHamming64(df: DataFrame, idCol: String, hashCol: String,
      maxDistance: Int = 3, pieces: Int = 4, maxBucket: Int = 10000,
      onCapDrops: (Long, Long) => Unit = null): DataFrame = {
    require(maxDistance < pieces, "need maxDistance < pieces for pigeonhole completeness")
    require(pieces >= 1 && 64 % pieces == 0, s"pieces must divide 64, got $pieces")
    val bitsPerPiece = 64 / pieces
    val pieceKeys = (0 until pieces).map { p =>
      concat_ws(":", lit(p.toString),
        shiftrightunsigned(col("__h"), p * bitsPerPiece)
          .bitwiseAND(lit(if (bitsPerPiece == 64) -1L else (1L << bitsPerPiece) - 1)).cast("string"))
    }
    val prepared = df.where(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("__h"))
      .withColumn("piece", explode(array(pieceKeys: _*)))

    val bucketed = capBuckets(prepared, "piece", maxBucket, onCapDrops)
    val a = bucketed.select(col("piece"), col("id").as("id_a"), col("__h").as("h_a"))
    val b = bucketed.select(col("piece"), col("id").as("id_b"), col("__h").as("h_b"))
    a.join(b, Seq("piece")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .where(col("hamming") <= maxDistance)
      .distinct()
  }

  // ----------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard pairs >= threshold via an inverted shingle index:
    * explode shingles -> drop stop-shingles appearing in > maxDocFreq docs
    * (they only create huge useless buckets) -> self-join on shingle ->
    * count shared shingles per pair -> jaccard from |A|,|B|,|A∩B|. Exact
    * (prefix-filter style), shuffles only by shingle and pair. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleWidth: Int = 3, maxDocFreq: Long = 1000): DataFrame = {
    // Shingles as 64-bit hashes: the inverted index shuffles longs, not
    // text. The distinct set per document comes from the generator-based
    // shingle path (shingleSets) — the higher-order-function Column form is
    // interpreted and never used on a pipeline path.
    val docs = shingleSets(df, idCol, textCol, shingleWidth)
      .withColumn("nsh", size(col("sh")))

    val inverted = docs.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
    val filtered = capBuckets(inverted, "shingle", maxDocFreq)

    val a = filtered.select(col("shingle"), col("id").as("id_a"), col("nsh").as("n_a"))
    val b = filtered.select(col("shingle"), col("id").as("id_b"), col("nsh").as("n_b"))
    a.join(b, Seq("shingle")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------ substring-level dedup

  /** Window fingerprints repeated ACROSS documents: the xxhash64 of every
    * `width`-token window (RefinedWeb/exact-substring-style granularity —
    * finer than document near-dup, coarser than line dedup; the detection
    * half of the "drop spans duplicated across the corpus" rule). A
    * fingerprint row means some `width`-token span occurs in `n_docs`
    * distinct documents.
    *
    * Plan shape: fused per-row sketch (no explode until the fingerprints
    * are 8-byte longs) -> explode -> hash aggregate. The one shuffle
    * carries (fp, partial count) pairs after map-side combine, so hot
    * boilerplate fingerprints cost one row per task, not one per
    * occurrence — no cap needed, skew-immune. Null-text rows are excluded
    * (as in the whole dedup family).
    *
    * @return (fp, n_docs) with n_docs >= minDocs.
    */
  def repeatedSubstrings(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minDocs: Int = 2): DataFrame =
    shingleSets(df, idCol, textCol, width)
      .select(explode(col("sh")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= lit(minDocs))

  /** Annotate every document with how much of it is corpus-repeated at the
    * `width`-token window level: `n_windows` (distinct fingerprints in the
    * doc), `n_repeated_windows` (those shared with >= minDocs-1 other
    * docs), and `repeated_window_fraction` — the signal an LLM pipeline
    * thresholds to drop boilerplate-heavy documents. Null-text rows are
    * excluded from the output (they have no windows to judge).
    *
    * Two aggregation shuffles (fingerprint doc-frequency, then per-doc
    * repeated count), both over (long, long) rows with map-side combine;
    * the doc-frequency side joins back by fingerprint, where AQE picks
    * broadcast when the repeated set is small. */
  def flagRepeatedSubstrings(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minDocs: Int = 2): DataFrame = {
    val wins = shingleSets(df, idCol, textCol, width)
    val exploded = wins.select(col("id"), explode(col("sh")).as("fp"))
    val repeatedFps = exploded.groupBy("fp").agg(count(lit(1)).as("__n_docs"))
      .where(col("__n_docs") >= lit(minDocs)).select("fp")
    val perDoc = exploded.join(repeatedFps, Seq("fp"))
      .groupBy("id").agg(count(lit(1)).as("n_repeated_windows"))
    df.join(wins.select(col("id").as(idCol), size(col("sh")).as("n_windows")), Seq(idCol))
      .join(perDoc.select(col("id").as(idCol), col("n_repeated_windows")), Seq(idCol), "left")
      .na.fill(0L, Seq("n_repeated_windows"))
      .withColumn("repeated_window_fraction",
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(col("n_repeated_windows").cast("double") / col("n_windows")))
  }

  /** Document pairs sharing at least `minShared` distinct `width`-token
    * windows — the pair view of [[repeatedSubstrings]], same capped
    * inverted-index shape as [[ngramJaccardPairs]] (maxDocFreq bounds the
    * per-fingerprint bucket so ubiquitous boilerplate cannot go quadratic;
    * such spans are better handled by the aggregate detector above).
    *
    * @return (id_a, id_b, shared_windows) with id_a < id_b.
    */
  def repeatedSubstringPairs(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minShared: Int = 1, maxDocFreq: Long = 1000): DataFrame = {
    val exploded = shingleSets(df, idCol, textCol, width)
      .select(col("id"), explode(col("sh")).as("fp"))
    val capped = capBuckets(exploded, "fp", maxDocFreq)
    capped.select(col("fp"), col("id").as("id_a"))
      .join(capped.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_windows"))
      .where(col("shared_windows") >= lit(minShared))
  }

  /** Remove corpus-repeated spans from every document — the execution half
    * of substring-level dedup (RefinedWeb-style exact-substring removal):
    * any `width`-token window whose fingerprint occurs in >= `minDocs`
    * documents is dropped from ALL of them, and a document's surviving
    * tokens are re-joined with single spaces (whitespace-normalized, the
    * same normalization the window pipeline applies). Fingerprints hash
    * the lowercased window; removal preserves original token case.
    *
    * Plan shape: windows explode to (id, pos, fp) longs; the doc-frequency
    * aggregate and the per-doc `collect_set(pos)` are the two shuffles
    * (both map-side combined); the rebuild is one fused kernel call per
    * document. Null text passes through as null.
    *
    * @return df with `textCol` replaced by the deduplicated text.
    */
  def removeRepeatedSubstrings(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minDocs: Int = 2): DataFrame = {
    val lowToks = split(trim(lower(col(textCol))), "\\s+")
    // One fused kernel pass emits the ordered per-position window hashes
    // (identical strings+seed to the relational slice/array_join/xxhash64
    // spelling) so the exploded rows are (id, pos, long) — no per-window
    // string building in the exploded plan. Lazily checkpointed: the frame
    // feeds both the doc-frequency aggregate and the position join, and
    // recomputing it would double the corpus scan.
    val wins = df
      .select(col(idCol), posexplode(
        graft.functions.ShingleSketch.windowHashes(lowToks, width)).as(Seq("__i", "__fp")))
      .localCheckpoint(false)
    val repeatedFps = wins.select(col(idCol), col("__fp")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("__nd"))
      .where(col("__nd") >= lit(minDocs)).select("__fp")
    val hitStarts = wins.join(repeatedFps, Seq("__fp"))
      .groupBy(idCol).agg(collect_set(col("__i")).as("__starts"))
    df.join(hitStarts, Seq(idCol), "left")
      .withColumn(textCol, graft.functions.TextStatsKernel.removeSpans(
        col(textCol), col("__starts"), width))
      .drop("__starts")
  }

  /** Corpus-wide line dedup (the C4/RefinedWeb boilerplate strip, at line
    * granularity): drop every line whose exact text appears in at least
    * `minDocs` DISTINCT documents across the whole corpus — cookie
    * banners, nav bars, footers, license blurbs that repeat across a
    * crawl. Distinct-DOC counting on purpose: a line repeated inside one
    * page is [[graft.llm.TextAnalysis.removeRepeatedLines]]'s (within-doc)
    * job, not corpus boilerplate. Reference behavior:
    * /root/reference — no counterpart (data-generation only); the rule
    * follows the C4 paper's cross-document span dedup (Raffel et al. 2020)
    * as commonly applied line-wise (RefinedWeb, Dolma).
    *
    * Scale shape: posexplode preserves line positions; the frequency pass
    * ships (xxhash64(line), doc) pairs — never line text — through ONE
    * distinct + map-side-combined count; the surviving frequent-hash set
    * (boilerplate vocabulary, tiny relative to the corpus) comes back via
    * a left-anti equi-join (AQE broadcasts it when small); reassembly is
    * one groupBy(doc) with an array_sort on (pos, line) structs. The
    * 2^-64-per-pair hash-collision risk matches the content-hash dedup
    * family. Rows are PRESERVED: a document whose every line is
    * boilerplate comes back as the empty string (and a null text as ""),
    * never dropped — row-count stability is the downstream contract. Ids
    * must be unique (the reassembly join is keyed on them).
    *
    * Lines whose space-trimmed length is below `minLineChars` are EXEMPT —
    * never counted, never dropped. The default (1) protects blank lines:
    * paragraph breaks are "corpus-frequent" in any real corpus, and
    * stripping them would silently collapse document structure; the
    * production line-dedup recipes carve out blank/short lines for the
    * same reason. Raise it to also shield dividers like "---". An exempt
    * line can never be dropped by a non-exempt twin: exemption is a pure
    * function of the line text, so both sides of any hash match share it. */
  def removeCorpusFrequentLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, minLineChars: Int = 1): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(minLineChars >= 0, s"minLineChars must be >= 0, got $minLineChars")
    val lined = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", xxhash64(col("__line")))
    val frequent = lined
      .where(length(trim(col("__line"))) >= minLineChars)
      .select(col("__lh"), col(idCol)).distinct()
      .groupBy("__lh").agg(count(lit(1)).as("__nd"))
      .where(col("__nd") >= lit(minDocs)).select("__lh")
    val rebuilt = lined.join(frequent, Seq("__lh"), "left_anti")
      .groupBy(col(idCol)).agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        s => s("__line")), "\n").as("__clean"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }

  /** Driver-known frequent-line vocabulary of a static corpus — the
    * frequency half of [[removeCorpusFrequentLines]], collected in ONE
    * job (`limit(max+1)` is its own overflow detector, the
    * [[minHashBandIndex]] pattern). Sound to collect because the result
    * is corpus BOILERPLATE (headers/footers/banners/license blurbs):
    * tiny relative to the corpus by construction — a corpus whose
    * frequent-line set exceeds `maxLines` should use the relational
    * [[removeCorpusFrequentLines]] instead. Same counting rule
    * (distinct docs, `minLineChars` exemption), same `xxhash64` keys. */
  def frequentLineIndex(corpus: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, minLineChars: Int = 1,
      maxLines: Long = 10000000L): Array[Long] = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(minLineChars >= 0, s"minLineChars must be >= 0, got $minLineChars")
    require(maxLines >= 0, s"maxLines must be >= 0, got $maxLines")
    val keys = corpus
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .where(length(trim(col("__line"))) >= minLineChars)
      .select(xxhash64(col("__line")).as("__lh"), col(idCol)).distinct()
      .groupBy("__lh").agg(count(lit(1)).as("__nd"))
      .where(col("__nd") >= lit(minDocs)).select("__lh")
      .limit(math.min(maxLines, Int.MaxValue - 1L).toInt + 1)
      .collect().map(_.getLong(0))
    require(keys.length <= maxLines,
      s"frequent-line vocabulary exceeds maxLines=$maxLines — this corpus's " +
        "boilerplate is not driver-collectable; use removeCorpusFrequentLines")
    keys
  }

  /** Strip a corpus-trained frequent-line vocabulary from any frame or
    * STREAM: one fused per-row kernel pass
    * (`graft_strip_lines_in_set` — seed-42 line hashes binary-searched
    * against the broadcast-by-reference sorted set), stateless — no
    * shuffle, no state store, composes in append mode at any stream
    * position, the guard shape of the decontamination family. Applied to
    * the SAME corpus the index was built from, it equals
    * [[removeCorpusFrequentLines]] line for line (pinned in Round12Spec),
    * except null text stays null (a projection has no join-reassembly to
    * normalize it to "").
    *
    * Measured at 10M docs (`bench_ops_scale.json`): the relational form
    * runs its 3 shuffles in 51.7s; the guard pays a one-time 18.0s
    * vocabulary build and then strips the same corpus in 1.3s per pass —
    * the repeated-application (per-ingest-batch, per-stream) form. */
  def stripFrequentLinesWith(df: DataFrame, textCol: String,
      lineHashes: Array[Long]): DataFrame =
    df.withColumn(textCol,
      graft.functions.SetKernels.stripLinesIn(col(textCol),
        Payload(LongSortedSet.of(lineHashes))))

  // -------------------------------------------------- embedding near-dup

  /** Near-duplicate pairs by embedding cosine similarity, bucketed by
    * deterministic random-hyperplane sketches (signed projections onto
    * hash-derived pseudo-random planes). Vectors agreeing on all `planes`
    * signs land in one bucket; high-cosine pairs agree with probability
    * 1 - d/pi per plane. `probes` sketch families trade recall for cost. */
  def nearDupCosine(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12, probes: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    // Sketches come from the two-phase-aggregate path (codegen'd projection
    // sums; an inline planes*probes*dim expression would overflow codegen
    // and fall back to interpreted eval). The bucket shuffle carries ONLY
    // (id, key) — shipping the vector through `probes` exploded copies per
    // row would multiply shuffle volume by probes x dim; instead candidate
    // pairs are deduped first and the two vectors (with norms, computed
    // once per row, never per pair) are attached by id-keyed joins.
    val banded = Similarity
      .hyperplaneSketches(df.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "id", "vec", planes, probes)
      .select(col("id"), explode(col("keys")).as("key"))

    val bucketed = capBuckets(banded, "key", maxBucket)
    val candidates = bucketed.select(col("key"), col("id").as("id_a"))
      .join(bucketed.select(col("key"), col("id").as("id_b")), Seq("key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // Native codegen'd kernels (graft.functions.VectorKernels): dimension
    // read from the data, no unrolled element_at chain, no dimOf probe job.
    val vecs = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nrm", graft.functions.VectorKernels.norm(col("vec")))
    val denom = col("n_a") * col("n_b")
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a"), col("nrm").as("n_a")),
        Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b"), col("nrm").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(denom === 0, lit(0.0))
          .otherwise(graft.functions.VectorKernels.dot(col("v_a"), col("v_b")) / denom)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs: the corpus is k-means-celled
    * (deterministic hash-sampled centroids, optional Lloyd refinement —
    * [[Similarity.refineCentroids]]), candidate pairs are WITHIN-CELL only,
    * then exact-cosine verified. The cluster-then-compare recipe of the
    * SemDeDup paper (Abbas et al. 2023): versus [[nearDupCosine]]'s random
    * hyperplanes, learned cells adapt to the corpus shape, and the
    * by-construction miss is exactly the paper's — a near-dup pair split
    * across cells is not compared. `probeCells` is the multi-probe dial
    * against that miss: each vector joins its `probeCells` nearest cells
    * (top-2 is the usual sweet spot — a boundary pair's second-nearest
    * cells coincide far more often than their nearest), so a pair is
    * compared when ANY probed cell is shared. Assignment stays one fused
    * argmax pass; the cost is ~probeCells x the (id, cell) shuffle rows
    * and the candidate union — still cell-bounded and linear, never
    * all-pairs. Raise `refineIterations`/`probeCells` or lower
    * `nCentroids` to trade cost for recall; precision is 1 regardless,
    * every emitted pair is exact-verified.
    *
    * Scale shape: assignment is a fused driver-literal argmax (narrow,
    * zero shuffle); the cell shuffle carries only (id, cell); vectors are
    * attached to the deduped candidate pairs by id-keyed joins — the same
    * never-ship-vectors-through-the-fanout discipline as `nearDupCosine`.
    *
    * @param nCentroids cell count; 0 auto-sizes to ~sqrt(N)
    * @param maxCell cap on comparable cell size (duplicate-blob corpora
    *   would otherwise go quadratic inside one cell) — capped cells are
    *   dropped whole, like the LSH `maxBucket`.
    * @param probeCells how many nearest cells each vector joins (>= 1)
    * @return (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCentroids: Int = 0, refineIterations: Int = 2,
      maxCell: Int = 10000, probeCells: Int = 1,
      maxTrainRows: Long = 1000000L): DataFrame = {
    require(probeCells >= 1, s"probeCells must be >= 1, got $probeCells")
    import graft.functions.{CentroidKernels, VectorKernels}
    // Lazy localCheckpoint: the projection feeds the auto-size count, the
    // centroid sample, every Lloyd iteration, the cell assignment, AND
    // both vector-attach joins — without it each reference re-scans and
    // re-casts the source (measured 5-6 full passes at refineIterations=2).
    val vecs0 = Similarity.parallelize(
      df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec")))
      .where(col("id").isNotNull && col("vec").isNotNull)
      .localCheckpoint(false)
    val k = if (nCentroids > 0) nCentroids else Similarity.autoCentroids(vecs0.count())
    val mat = Similarity.refineCentroids(vecs0, "vec",
      Similarity.sampleCentroids(vecs0, "id", "vec", k), refineIterations,
      maxTrainRows)
    val celled =
      if (probeCells == 1)
        vecs0.select(col("id"), CentroidKernels.nearestIndex(col("vec"), mat).as("cell"))
      else
        vecs0.select(col("id"),
          explode(CentroidKernels.nearestIndices(col("vec"), mat, probeCells)).as("cell"))
    val capped = capBuckets(celled, "cell", maxCell)
    val candidates = capped.select(col("cell"), col("id").as("id_a"))
      .join(capped.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val vecs = vecs0.withColumn("nrm", VectorKernels.norm(col("vec")))
    val denom = col("n_a") * col("n_b")
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("v_a"), col("nrm").as("n_a")),
        Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("v_b"), col("nrm").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(denom === 0, lit(0.0))
          .otherwise(VectorKernels.dot(col("v_a"), col("v_b")) / denom)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Greedy drop of the `id_b` side of a PRECOMPUTED near-dup pair frame —
    * the shared tail of every `dropNearDups*` variant. Exposed so a
    * pipeline that already materialized its pair frame (for reporting,
    * threshold sweeps, or a recall harness) does not pay the candidate
    * generation twice; with nondeterministic-refinement pipelines (Lloyd
    * means are float-summation-order sensitive) it is also the only way to
    * guarantee the drop agrees with the pair frame it reports. */
  def dropPairLosers(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Rows surviving semantic (SemDeDup-style) near-dup removal — greedy
    * larger-id drop within each cell, like [[dropNearDupsCosine]]. */
  def dropSemanticDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCentroids: Int = 0, refineIterations: Int = 2,
      maxCell: Int = 10000, probeCells: Int = 1): DataFrame =
    dropPairLosers(df, idCol,
      semanticNearDupPairs(df, idCol, vecCol, threshold, nCentroids,
        refineIterations, maxCell, probeCells))

  // ------------------------------------------------ edit-distance near-dup

  /** COMPLETE bounded edit-distance pair join: all pairs with
    * `levenshtein(a, b) <= maxDist`, found without any all-pairs scan —
    * the character-level fuzzy-dup family (titles, names, boilerplate
    * variants) next to the token/shingle families above.
    *
    * Blocking is the PassJoin pigeonhole
    * ([[graft.functions.EditBlockKernel]]): each string emits `d+1`
    * segment keys and a bounded set of substring probe keys; an
    * equi-join on `(segment, index, shorter-length)` provably yields
    * EVERY true pair (each edit shifts alignment by ≤ 1, so some segment
    * of the shorter string occurs verbatim in the longer within ±d of
    * its position), and the survivors verify in one fused
    * `levenshtein(_, _, maxDist)` pass (early-exit banded DP — O(d·n)
    * per candidate, never the full matrix). No distance computation ever
    * touches a non-candidate pair; candidates are bounded by block
    * selectivity, with the usual skew caveat on heavily repeated short
    * segments (salt or pre-dedup exact duplicates first —
    * [[exact]] composes). Returns `(id_a < id_b, dist)`. Measured
    * (`bench_ops_scale.json`, local[32], r12): 1.7s marginal over 1M
    * ~30-char titles at d=1 (~0.6M titles/s, blocking join dominated). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 4,
      s"maxDist must be in [1, 4] (probe keys grow as (d+1)^2(2d+1)), got $maxDist")
    import graft.functions.EditBlockKernel
    // Ids keep their own type — the rest of the near-dup family never
    // casts, and a long cast would null string/UUID ids under non-ANSI
    // (silently returning zero pairs) or throw under ANSI.
    val base = df.select(col(idCol).as("eid"),
      col(textCol).as("etxt")).where(col("etxt").isNotNull)
    val segs = base.select(col("eid").as("id_s"), col("etxt").as("txt_s"),
      explode(EditBlockKernel.segKeys(col("etxt"), maxDist)).as("k"))
      .select(col("id_s"), col("txt_s"),
        col("k.seg").as("seg"), col("k.idx").as("idx"), col("k.ls").as("ls"))
    val probes = base.select(col("eid").as("id_l"), col("etxt").as("txt_l"),
      explode(EditBlockKernel.probeKeys(col("etxt"), maxDist)).as("k"))
      .select(col("id_l"), col("txt_l"),
        col("k.seg").as("seg"), col("k.idx").as("idx"), col("k.ls").as("ls"))
    val pairs = segs.join(probes, Seq("seg", "idx", "ls"))
      .where(col("id_s") =!= col("id_l"))
      .select(
        least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"),
        when(col("id_s") < col("id_l"), col("txt_s"))
          .otherwise(col("txt_l")).as("txt_a"),
        when(col("id_s") < col("id_l"), col("txt_l"))
          .otherwise(col("txt_s")).as("txt_b"))
    graft.functions.Rewrite.thenKeep(pairs.dropDuplicates("id_a", "id_b"), "dist",
        levenshtein(col("txt_a"), col("txt_b"), maxDist))(_ >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
