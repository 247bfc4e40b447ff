package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (`array<float>` /
  * `array<double>`).
  *
  * Performance note that shapes everything here: Spark's higher-order
  * functions (`zip_with`, `aggregate`, `transform`) are CodegenFallback —
  * every evaluation allocates and interprets the lambda. That is tolerable
  * once per ROW, but a similarity join evaluates the kernel once per PAIR,
  * so all pair-side kernels run as native codegen'd expressions
  * ([[graft.functions.VectorKernels]] — one plan node, fused primitive
  * loop; bit-identical to the historical dimension-unrolled `element_at`
  * forms kept below for reference), and norms are precomputed once per
  * side before any join. `bruteForceTopK` is the exact baseline: broadcast
  * the (small) query set, score every corpus row in one narrow pass, one
  * shuffle to rank. The LSH and IVF variants are the scale path: bucket
  * the corpus once, probe only matching buckets.
  */
object Similarity {

  /** Vector dimension of an array column, probed from the first row (one
    * tiny job). An empty frame reports dimension 1: the unrolled kernels
    * still build a valid plan and simply evaluate over zero rows. */
  def dimOf(df: DataFrame, vecCol: String): Int =
    math.max(1, df.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(1))

  /** Unrolled dot product over a known dimension — flat codegen'd
    * arithmetic, no lambdas. Use on join/pair paths. */
  def dot(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)

  def norm(a: Column, dim: Int): Column = sqrt(dot(a, a, dim))

  /** Cosine similarity (unrolled); 0 for zero-norm inputs. */
  def cosine(a: Column, b: Column, dim: Int): Column = {
    val d = norm(a, dim) * norm(b, dim)
    when(d === 0, lit(0.0)).otherwise(dot(a, b, dim) / d)
  }

  /** Generic (dimension-agnostic) forms — now the native codegen'd
    * kernels (graft.functions.VectorKernels): one plan node, fused
    * primitive loop, dimension read from the data. Identical results to
    * the old zip_with/aggregate lambdas (which interpreted per evaluation)
    * for uniform inputs; ragged pairs yield null either way. */
  def dotGeneric(a: Column, b: Column): Column = graft.functions.VectorKernels.dot(a, b)
  def cosineGeneric(a: Column, b: Column): Column = graft.functions.VectorKernels.cosine(a, b)

  /** Deterministic pseudo-random hyperplane component for (probe, plane,
    * dimension index): xxhash64 of the literal triple mapped to (-0.5, 0.5).
    * With literal arguments this constant-folds to a plain double literal at
    * plan time — the "random planes" cost nothing at runtime. */
  private def planeComponent(probe: Int, plane: Int, i: Int): Column =
    pmod(xxhash64(lit(probe), lit(plane), lit(i)), lit(1000000L)).cast("double") / 1000000.0 - 0.5

  /** `probes` bucket keys for a vector: each key packs the signs of `planes`
    * pseudo-random projections, fully unrolled over the dimension (codegen'd
    * multiply-adds against folded constants). Deterministic — the same
    * expression buckets corpus and queries identically, no coordination.
    *
    * NOTE: planes*probes*dim inline terms — fine for small sketches; above
    * ~1k terms the generated method exceeds the JVM limit and evaluation
    * falls back to interpreted (~us/term/row). The pipeline path for big
    * sketches is `hyperplaneSketches`. */
  def hyperplaneKeys(vec: Column, planes: Int, probes: Int, dim: Int): Column =
    array((0 until probes).map { probe =>
      val signBits = (0 until planes).map { plane =>
        val proj = (1 to dim).map(i => element_at(vec, i) * planeComponent(probe, plane, i - 1))
          .reduce(_ + _)
        when(proj >= 0, lit("1")).otherwise(lit("0"))
      }
      concat(lit(s"$probe#") +: signBits: _*)
    }: _*)

  /** Hyperplane sketches as a frame transform: ONE narrow projection per
    * vector through the fused native kernel
    * (graft.functions.HyperplaneSketch) — all planes*probes projections
    * computed in a single compiled pass per row, no posexplode, no wide
    * aggregate, no shuffle. Bit-identical keys to the legacy
    * explode+aggregate pipeline (pinned in ShingleSketchSpec). Cost is
    * O(rows*dim*planes*probes) of compiled arithmetic either way; this
    * form spends it without exchange or aggregation overhead.
    *
    * @return (idCol, keys array<string>)
    */
  def hyperplaneSketches(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, probes: Int): DataFrame =
    parallelize(df)
      .select(col(idCol),
        graft.functions.HyperplaneSketch.keys(col(vecCol), planes, probes).as("keys"))
      // The aggregate form dropped empty/null vectors (zero exploded
      // rows); the fused kernel returns null for them — filter to match.
      .where(col("keys").isNotNull)

  /** Spread a frame across the session's shuffle parallelism when it has
    * fewer partitions (a single parquet file arrives as one partition — a
    * nested-loop join against it would run on one core). */
  def parallelize(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exact all-pairs cosine over a threshold — a VERIFICATION HARNESS, not a
    * scale path. The pair set is inherently O(N²), so this refuses to run
    * above `maxRows` vectors (one cheap count against the source, typically
    * parquet row-group metadata) instead of silently launching a cartesian
    * that melts at corpus scale. For large corpora use the bucketed
    * [[Dedup.nearDupCosine]] (hyperplane LSH), whose recall this harness
    * exists to measure on samples.
    *
    * Ids may be any orderable type (long, string, UUID, …) but must be
    * DISTINCT — duplicate ids would make the pair contract ambiguous, so
    * they fail fast. All vectors must share one dimension (ragged corpora
    * fail fast rather than silently scoring truncated dot products).
    *
    * @return (id_a, id_b, cosine) with id_a < id_b under the id column's
    *         own ordering, cosine >= threshold.
    */
  def exactCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val n = df.count()
    require(n <= maxRows,
      s"exactCosinePairs is an O(N^2) verification harness: corpus has $n rows > maxRows=" +
        s"$maxRows. Use Dedup.nearDupCosine (bucketed LSH) at scale, or raise maxRows " +
        "deliberately for a bounded sample.")
    // Dense all-pairs cosine is the one kernel where per-pair Catalyst
    // evaluation loses badly to a primitive loop: every joined pair pays an
    // UnsafeRow copy of both vectors plus per-element null-checked access —
    // measured ~10x the fused multiply-adds themselves, whether the kernel
    // sits in a BroadcastNestedLoopJoin condition or a codegen'd filter
    // above it. The row guard makes the corpus broadcastable by
    // construction (100k x 64 doubles = ~50 MB), so: collect once in id
    // order (Spark's own ordering for the id type — longs numeric, strings
    // binary — so the id_a < id_b contract holds for any orderable id),
    // broadcast the primitive arrays, and run the O(N^2/2) loop as a
    // balanced strided RDD across all cores. Arithmetic order (left-to-right
    // accumulation, norms precomputed per row) matches the unrolled Column
    // kernel, so results are bit-equal for the same pair set.
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    val raw = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .where(col("id").isNotNull && col("v").isNotNull)
      .orderBy(col("id"))
      .collect()
    val ids: Array[Any] = raw.map(_.get(0))
    require(ids.distinct.length == ids.length,
      s"exactCosinePairs requires distinct values in id column '$idCol': duplicates would " +
        "emit ambiguous (id_a, id_b) pairs. Dedup the corpus or supply a unique key.")
    val vecs = raw.map(_.getSeq[Double](1).toArray)
    val dims = vecs.iterator.map(_.length).toSet
    require(dims.size <= 1,
      s"exactCosinePairs requires a uniform vector dimension in '$vecCol'; found lengths " +
        s"${dims.toSeq.sorted.mkString(", ")}. Pad or filter the ragged rows first.")
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val count = raw.length
    val sc = spark.sparkContext
    val bcIds = sc.broadcast(ids)
    val bcVecs = sc.broadcast(vecs)
    val bcNorms = sc.broadcast(norms)
    val slices = math.max(1, math.min(spark.sessionState.conf.numShufflePartitions, count))
    // Stride-p index assignment balances the triangular pair loop: row i
    // does (n-1-i) comparisons, so contiguous chunks would skew early tasks.
    val pairs = sc.parallelize(0 until slices, slices).flatMap { p =>
      val idsL = bcIds.value; val vecsL = bcVecs.value; val normsL = bcNorms.value
      Iterator.range(p, count, slices).flatMap { i =>
        val vi = vecsL(i); val ni = normsL(i)
        Iterator.range(i + 1, count).flatMap { j =>
          val vj = vecsL(j)
          var s = 0.0; var k = 0
          while (k < vi.length) { s += vi(k) * vj(k); k += 1 }
          val denom = ni * normsL(j)
          val c = if (denom == 0) 0.0 else s / denom
          if (c >= threshold) Iterator.single(Row(idsL(i), idsL(j), c)) else Iterator.empty
        }
      }
    }
    val schema = StructType(Seq(
      StructField("id_a", idType, nullable = false),
      StructField("id_b", idType, nullable = false),
      StructField("cosine", DoubleType, nullable = false)))
    spark.createDataFrame(pairs, schema)
  }

  /** Exact top-k cosine neighbors for every query vector.
    *
    * Plan: broadcast(queries with precomputed norms) crossJoin corpus
    * (narrow over the corpus — the big side never shuffles for scoring) ->
    * per-(query,corpus) unrolled dot / norms -> one shuffle keyed by query
    * id to rank -> k rows per query. Ties break on neighbor id for
    * determinism.
    *
    * @return (query_id, neighbor_id, cosine, rank) — self-matches excluded
    *         when the id columns collide in value.
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorKernels
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("qv"))
      .withColumn("qn", VectorKernels.norm(col("qv"))))
    val c = parallelize(corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).cast("array<double>").as("cv"))
      .withColumn("cn", VectorKernels.norm(col("cv"))))
    val denom = col("qn") * col("cn")
    val scored = c.crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(denom === 0, lit(0.0))
          .otherwise(VectorKernels.dot(col("qv"), col("cv")) / denom).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Symmetric int8 scalar quantization of an embedding column: per
    * vector, `scale = max(|x_i|)/127` and `q_i = round(x_i/scale)` — every
    * element lands in [-127, 127] with reconstruction error ≤ scale/2.
    * The point at corpus scale: embeddings dominate storage and scan I/O,
    * and int8 cuts both 4× vs float32 (8× vs double) at a recall cost
    * that [[quantizedTopK]]'s harness measures instead of assumes. The
    * all-zero vector quantizes to zeros with scale 0.
    *
    * Scale shape: one narrow projection — per-row lambdas only (tolerable
    * once per row, per this object's performance note; pair-side scoring
    * happens on the DEQUANTIZED doubles through the native kernels).
    * Every arithmetic step is plain double division/rounding, so the
    * quantized values replay exactly in SQL.
    *
    * @return input plus `qCol` (array<bigint> in [-127,127]) and
    *   `scaleCol` (double); null vectors yield null q/scale. */
  def quantizeInt8(df: DataFrame, vecCol: String, qCol: String = "q_vec",
      scaleCol: String = "q_scale"): DataFrame = {
    val st = graft.functions.QuantizeKernel.quantize(col(vecCol))
    df.withColumn("__graft_qs", st)
      .withColumn(scaleCol, col("__graft_qs.scale"))
      .withColumn(qCol, col("__graft_qs.q"))
      .drop("__graft_qs")
  }

  /** Higher-order-function spelling of [[quantizeInt8]] — kept as the
    * parity reference for the fused kernel (bit-equality pinned in
    * Round10OpsSpec), the [[TextAnalysis.repetitionSignalsExploded]]
    * convention. Interpreted per element; never the hot path. */
  def quantizeInt8Columns(df: DataFrame, vecCol: String, qCol: String = "q_vec",
      scaleCol: String = "q_scale"): DataFrame = {
    val xs = transform(col(vecCol), x => x.cast("double"))
    val scale = array_max(transform(xs, x => abs(x))) / 127.0
    df.withColumn(scaleCol, scale)
      .withColumn(qCol,
        when(col(vecCol).isNull, lit(null))
          .otherwise(when(col(scaleCol) === 0.0, transform(xs, _ => lit(0L)))
            .otherwise(transform(xs, x => round(x / col(scaleCol)).cast("long")))))
  }

  /** Dequantized double vector from (q, scale) — feeds the native
    * VectorKernels exactly like a raw embedding. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Brute-force cosine top-k over the QUANTIZED corpus — the accuracy
    * harness for [[quantizeInt8]]: same shape as [[bruteForceTopK]]
    * (broadcast queries, corpus never shuffles for scoring) but scoring
    * the dequantized int8 vectors, so recall@k against the exact top-k
    * measures precisely what quantization costs on this corpus. Queries
    * stay full-precision (the standard asymmetric-distance setup). */
  def quantizedTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 10,
      qCol: String = "q_vec", scaleCol: String = "q_scale"): DataFrame = {
    val quant = quantizeInt8(corpus, corpusVec, qCol, scaleCol)
      .select(col(corpusId), dequantize(col(qCol), col(scaleCol)).as("__deq"))
    bruteForceTopK(quant, corpusId, "__deq", queries, queryId, queryVec, k)
  }

  /** Deterministic IVF centroid seed: the `nCentroids` corpus vectors with
    * the smallest xxhash64(id) — stable, independent of data layout. One
    * tiny TakeOrdered job; the matrix (nCentroids × dim doubles) lives on
    * the driver, which is the point: a driver-known centroid set turns
    * centroid assignment into a pure per-row function (see
    * [[graft.functions.CentroidKernels]]) instead of a join+window. */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): Array[Array[Double]] =
    corpus.select(col(vecCol).cast("array<double>").as("cv"), col(idCol).as("id"))
      .where(col("cv").isNotNull)
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h").limit(nCentroids)
      .select("cv").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Deterministic bounded training frame: when the corpus exceeds
    * `maxTrainRows`, Lloyd refinement trains on a hash-Bernoulli sample of
    * ~`maxTrainRows` vectors (one narrow filter — no shuffle, no ordering,
    * independent of data layout) instead of the full corpus. Centroids and
    * codebooks are universally trained on bounded samples (10^5-10^6
    * vectors); a full-corpus Lloyd pass only multiplies training bandwidth
    * by N/sample for no recall gain — at 100 TB it was the board's most
    * bandwidth-hungry work. Costs one count job when the bound is active;
    * `maxTrainRows <= 0` disables the bound (exact full-corpus training).
    * The sample is keyed by the vector bytes, so it is reproducible across
    * reruns and repartitions (the [[Sampling.sample]] contract). */
  private[graft] def boundedTrainFrame(c: DataFrame, vecCol: String,
      maxTrainRows: Long, totalRowsHint: Long = -1L): Option[DataFrame] = {
    if (maxTrainRows <= 0) None
    else {
      // The hint saves a full count scan when the caller already knows the
      // corpus size (buildIvfPqIndex counts once for all three uses); a
      // slight overestimate only shrinks the sample fraction a hair.
      val total = if (totalRowsHint >= 0) totalRowsHint else c.count()
      if (total <= maxTrainRows) None
      else Some(
        c.where(Sampling.hashFraction(Seq(col(vecCol)), 0x9E3779B97F4A7C15L) <
          maxTrainRows.toDouble / total))
    }
  }

  /** Lloyd (k-means) refinement of a centroid matrix: each iteration
    * assigns every training row to its nearest centroid with the fused
    * kernel (narrow, zero shuffle) and recomputes centroids as per-cell
    * means. The mean is taken per (cell, dimension) via posexplode +
    * hash aggregate — map-side partial aggregation means the one shuffle
    * carries nCentroids × dim partial sums per task, not data. Cells that
    * capture no rows keep their previous centroid. Deterministic up to
    * floating-point summation order (assignment flips from that are
    * confined to points essentially equidistant between cells).
    *
    * Training cost is bounded by `maxTrainRows` ([[boundedTrainFrame]]):
    * past ~1M vectors each iteration reads the sample, not the corpus, so
    * refinement wall is flat in corpus size. */
  def refineCentroids(corpus: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], iterations: Int,
      maxTrainRows: Long = 1000000L,
      totalRowsHint: Long = -1L): Array[Array[Double]] =
    graft.tools.StageLog.timed("ivf_refine_centroids") {
    var mat = centroids
    // MATERIALIZE the sample once (memory-and-disk): without it every
    // iteration would re-scan the whole corpus through the filter, and
    // bounding the sample would bound arithmetic but not bandwidth.
    val sampled =
      if (iterations > 0 && mat.nonEmpty)
        boundedTrainFrame(corpus, vecCol, maxTrainRows, totalRowsHint)
      else None
    sampled.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    val train = sampled.getOrElse(corpus)
    // Per-iteration plan (r18 optimization): the fused dense aggregate
    // ([[graft.functions.GradAggKernels.KMeansSumAgg]]) scatter-adds each
    // row's vector into its cell's sum slots in one pass — the previous
    // plan posexploded every vector into dim rows and hash-aggregated
    // (cell, pos) means through a shuffle EVERY iteration (guide
    // §2.3/§2.4). Same means (sum/count per cell), floating-point
    // association aside (the operator's documented tolerance); cells that
    // capture no rows keep their previous centroid in both shapes. Past
    // the dense-buffer bound (e.g. 65536 cells × high dim) the explode
    // plan remains the right shape and is kept as the fallback.
    val nCells = mat.length
    val dim = if (nCells > 0) mat(0).length else 0
    val dense = graft.functions.GradAggKernels.enabled &&
      nCells > 0 && dim > 0 && mat.forall(_.length == dim) &&
      nCells.toLong * (dim + 1) <= graft.functions.GradAggKernels.MaxDenseSlots
    for (_ <- 0 until iterations if mat.nonEmpty) {
      val cell = graft.functions.CentroidKernels.nearestIndex(col(vecCol), mat)
      if (dense) {
        val sums = train
          .agg(graft.functions.GradAggKernels.kMeansSums(cell,
            col(vecCol).cast("array<double>"), nCells, dim).as("s"))
          .collect()(0).getSeq[Double](0)
        mat = mat.indices.map { c =>
          val base = c * (dim + 1)
          val count = sums(base + dim)
          if (count > 0.0) Array.tabulate(dim)(d => sums(base + d) / count)
          else mat(c)
        }.toArray
      } else {
        val means = train
          .select(cell.as("__cell"), posexplode(col(vecCol).cast("array<double>")))
          .groupBy("__cell", "pos").agg(avg("col").as("m"))
          .collect()
        val next = mat.map(_.clone())
        val seen = new Array[Boolean](mat.length)
        means.foreach { r =>
          if (!r.isNullAt(0)) {
            val c = r.getInt(0); val d = r.getInt(1)
            if (c >= 0 && c < next.length && d < next(c).length) {
              next(c)(d) = r.getDouble(2); seen(c) = true
            }
          }
        }
        mat = next.indices.map(i => if (seen(i)) next(i) else mat(i)).toArray
      }
    }
    mat
    } finally sampled.foreach(_.unpersist(false))
    }

  /** Auto centroid count: ~sqrt(N), the standard IVF balance point — each
    * probe scans ~N/nc rows while the per-query probe ranking costs ~nc, so
    * sqrt equalizes the two as the corpus scales. Clamped to [1, 65536]
    * (the centroid matrix is a driver/codegen-embedded literal). */
  def autoCentroids(n: Long): Int =
    math.max(1L, math.min(65536L, math.round(math.sqrt(math.max(0L, n).toDouble)))).toInt

  /** Cell-size diagnostics for an IVF index: one row per centroid cell,
    * `(centroid_idx, n_rows)`, INCLUDING empty cells (n_rows = 0) — the
    * numbers that tell an operator whether probes will be balanced before
    * committing to an index layout. One narrow fused-kernel pass + one
    * count aggregate; `nCentroids = 0` auto-sizes to ~sqrt(N). */
  def ivfCellStats(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 0, refineIterations: Int = 0,
      maxTrainRows: Long = 1000000L): DataFrame = {
    import graft.functions.CentroidKernels
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = parallelize(corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("cv")))
    val total = if (nCentroids > 0) -1L else c.count()
    val n = if (nCentroids > 0) nCentroids else autoCentroids(total)
    val mat = refineCentroids(c, "cv",
      sampleCentroids(c, "id", "cv", n), refineIterations, maxTrainRows, total)
    val counts = c
      .select(CentroidKernels.nearestIndex(col("cv"), mat).as("centroid_idx"))
      .groupBy("centroid_idx").agg(count(lit(1)).as("n_rows"))
    mat.indices.toDF("centroid_idx")
      .join(counts, Seq("centroid_idx"), "left")
      .select(col("centroid_idx"), coalesce(col("n_rows"), lit(0L)).as("n_rows"))
  }

  /** IVF-style approximate top-k: corpus rows are assigned to their nearest
    * of `nCentroids` centroid vectors; each query probes the `nProbe`
    * nearest centroids and ranks only within those cells. At 100 TB this
    * turns a full scan per query into a scan of ~nProbe/nCentroids of the
    * data.
    *
    * Plan shape: the centroid set is driver-known (deterministic hash
    * sample, optionally Lloyd-refined), so both assignment and probing are
    * fused per-row kernel calls — the corpus goes scan → project → equi-join
    * with the broadcast probe set, with NO Exchange before the join (the
    * historical spelling crossJoined a broadcast centroid frame and ranked
    * through a `Window.partitionBy(row)`, shuffling an nCentroids×-fanned
    * copy of the corpus just to take an argmax).
    *
    * Exact when nProbe >= nCentroids (probes everything).
    *
    * @param nCentroids cell count; 0 auto-sizes to ~sqrt(corpus rows)
    *        ([[autoCentroids]] — one extra count job).
    * @param refineIterations optional Lloyd iterations on the sampled
    *        centroids (2 aggregate passes each) — lifts recall on
    *        unclustered corpora without changing the query shape. */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
      refineIterations: Int = 0, maxTrainRows: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{CentroidKernels, VectorKernels}
    val c = parallelize(corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).cast("array<double>").as("cv"))
      .withColumn("cn", VectorKernels.norm(col("cv"))))

    val total = if (nCentroids > 0) -1L else c.count()
    val nCells = if (nCentroids > 0) nCentroids else autoCentroids(total)
    val seed = sampleCentroids(c, "neighbor_id", "cv", nCells)
    val mat = refineCentroids(c, "cv", seed, refineIterations, maxTrainRows, total)

    // Corpus side: one narrow projection — argmax cosine against the
    // embedded matrix, no fan-out, no shuffle.
    val assigned = c.withColumn("centroid_idx",
      CentroidKernels.nearestIndex(col("cv"), mat))
    // Query side (tiny): top-nProbe cell indices per query, exploded to
    // one row per (query, probed cell) and broadcast into the equi-join.
    val q = queries.select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("qv"))
      .withColumn("qn", VectorKernels.norm(col("qv")))
    val probed = q.withColumn("centroid_idx",
      explode(CentroidKernels.nearestIndices(col("qv"), mat, nProbe)))

    val denom = col("qn") * col("cn")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probed), Seq("centroid_idx"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(denom === 0, lit(0.0))
          .otherwise(VectorKernels.dot(col("qv"), col("cv")) / denom).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  // ------------------------------------------------- product quantization

  /** Train an m-subspace product-quantization codebook over an embedding
    * column: split each vector into `m` contiguous subvectors of dim/m
    * elements, and per subspace run L2 k-means with `ksub` codewords.
    *
    * Scale shape: the seed is one deterministic hash-sample job
    * ([[sampleCentroids]] — ksub full vectors, sliced driver-side into the
    * m seed books), and every Lloyd iteration is ONE fused encode pass
    * (narrow, zero shuffle — [[graft.functions.PqKernels]] assigns all m
    * subspaces in one compiled call) plus ONE hash aggregate whose map-side
    * partials carry m×ksub×subdim sums per task, not data. All m subspaces
    * train together; cost does not multiply by m.
    *
    * Codewords whose cell captures no rows keep their previous value
    * (the [[refineCentroids]] empty-cell contract). Deterministic up to
    * floating-point summation order.
    *
    * @return m × ksub × (dim/m) codebook for [[graft.functions.PqKernels]].
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, refineIterations: Int = 2,
      maxTrainRows: Long = 1000000L,
      totalRowsHint: Long = -1L): Array[Array[Array[Double]]] =
    graft.tools.StageLog.timed("pq_train") {
    import graft.functions.PqKernels
    require(m > 0 && ksub > 0, s"pqTrain needs m > 0 and ksub > 0, got m=$m ksub=$ksub")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
      .where(col("cv").isNotNull)
    val dim = dimOf(c, "cv")
    require(dim % m == 0,
      s"pqTrain requires the vector dimension ($dim) to be divisible by m=$m subspaces")
    val subdim = dim / m
    // Seed from the FULL corpus (one top-ksub job — the seed is identical
    // whatever the training bound); Lloyd iterations read the bounded
    // sample ([[boundedTrainFrame]]), keeping codebook-training wall flat
    // in corpus size.
    val seedVecs = sampleCentroids(c, "id", "cv", ksub)
    require(seedVecs.nonEmpty, "pqTrain: corpus has no non-null vectors to seed from")
    val sampled =
      if (refineIterations > 0)
        boundedTrainFrame(c, "cv", maxTrainRows, totalRowsHint)
      else None
    sampled.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    val train = sampled.getOrElse(c)
    var book: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seedVecs.map(v => v.slice(s * subdim, (s + 1) * subdim)))
    // Per-iteration plan (r18 optimization): the fused dense aggregate
    // ([[graft.functions.GradAggKernels.PqSumAgg]]) scatter-adds every
    // subvector into its (subspace, codeword) sum slots in one pass — the
    // previous plan DOUBLE-posexploded each row into m × subdim entries
    // and shuffled (sub, code, pos) means EVERY iteration (guide
    // §2.3/§2.4). Same means (sum/count), floating-point association
    // aside; empty codewords keep their previous value in both shapes.
    // Past the dense-buffer bound the explode plan stays, as elsewhere.
    val dense = graft.functions.GradAggKernels.enabled &&
      m.toLong * ksub * (subdim + 1) <= graft.functions.GradAggKernels.MaxDenseSlots
    for (_ <- 0 until refineIterations) {
      val codes = PqKernels.encode(col("cv"), book)
      if (dense) {
        val sums = train
          .agg(graft.functions.GradAggKernels.pqSums(col("cv"), codes,
            m, ksub, subdim).as("s"))
          .collect()(0).getSeq[Double](0)
        book = Array.tabulate(m) { s =>
          Array.tabulate(ksub) { cI =>
            val base = (s * ksub + cI) * (subdim + 1)
            val count = sums(base + subdim)
            if (count > 0.0) Array.tabulate(subdim)(d => sums(base + d) / count)
            else book(s)(cI)
          }
        }
      } else {
        val means = train
          .select(col("cv"), posexplode(codes)).toDF("cv", "sub", "code")
          .select(col("sub"), col("code"),
            posexplode(slice(col("cv"), col("sub") * subdim + 1, lit(subdim))))
          .toDF("sub", "code", "pos", "x")
          .groupBy("sub", "code", "pos").agg(avg("x").as("mu"))
          .collect()
        val next = book.map(_.map(_.clone()))
        val seen = Array.ofDim[Boolean](m, ksub)
        means.foreach { r =>
          val s = r.getInt(0); val cI = r.getInt(1); val p = r.getInt(2)
          if (s >= 0 && s < m && cI >= 0 && cI < next(s).length && p < subdim) {
            next(s)(cI)(p) = r.getDouble(3); seen(s)(cI) = true
          }
        }
        book = Array.tabulate(m)(s =>
          next(s).indices.map(cI => if (seen(s)(cI)) next(s)(cI) else book(s)(cI)).toArray)
      }
    }
    book
    } finally sampled.foreach(_.unpersist(false))
  }

  /** Attach PQ codes (`array<int>`, length m) to a frame — one narrow
    * fused-kernel projection, the compressed representation to persist
    * instead of the raw floats (m bytes-worth of codes vs dim floats). */
  def pqEncode(df: DataFrame, vecCol: String, books: Array[Array[Array[Double]]],
      codesCol: String = "pq_codes"): DataFrame =
    df.withColumn(codesCol, graft.functions.PqKernels.encode(col(vecCol), books))

  /** Reconstructed `array<double>` vector column from PQ codes. */
  def pqDecode(codes: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.PqKernels.decode(codes, books)

  /** PQ top-k with exact re-ranking — the standard two-stage ANN shape:
    *
    * 1. CANDIDATES: classic table-lookup ADC (Jégou et al.) — each query
    *    precomputes ONE m×ksub partial-dot table (`graft_pq_lut`, on the
    *    tiny broadcast side); scoring a candidate is then m lookups + adds
    *    (`graft_pq_adc`): O(m) per candidate, no decode, no per-candidate
    *    allocation, with the codeword-norm side folded into the codebook
    *    reference object (query-independent). Numerically identical to
    *    `dot(q, decode(codes)) / norms` up to FP grouping of per-subspace
    *    partials. This pass reads only the m-int code column — at 100 TB
    *    that is the whole point: the candidate scan touches ~1/32 of the
    *    embedding bytes and spends O(m), not O(dim), per row.
    * 2. RE-RANK: the top k×`rerank` candidates per query (a tiny set) are
    *    broadcast back against the corpus to fetch their RAW vectors —
    *    narrow semi-fetch, the full-precision column is read only for
    *    candidates — and exact cosine decides the final top-k.
    *
    * `rerank = 1` is pure ADC (no second stage). Recall@k against
    * [[bruteForceTopK]] measures what compression costs on this corpus
    * instead of assuming it ([[quantizedTopK]]'s harness contract). */
  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 10,
      m: Int = 8, ksub: Int = 16, refineIterations: Int = 2,
      rerank: Int = 4, maxTrainRows: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorKernels
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val books = pqTrain(corpus, corpusId, corpusVec, m, ksub, refineIterations,
      maxTrainRows)
    val encoded = parallelize(corpus.select(col(corpusId).as("neighbor_id"),
      graft.functions.PqKernels.encode(col(corpusVec), books).as("__pq")))
    val qlut = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("qv"))
      .withColumn("qn", VectorKernels.norm(col("qv")))
      .withColumn("__lut", graft.functions.PqKernels.lut(col("qv"), books))
      .select("query_id", "qn", "__lut"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val adc = encoded.crossJoin(qlut)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qn") === 0, lit(0.0))
          .otherwise(graft.functions.PqKernels.adcScore(col("__pq"), col("__lut"), books)
            / col("qn")).as("cosine"))
      .withColumn("rank", row_number().over(wAdc)).where(col("rank") <= k * rerank)
    if (rerank == 1) adc
    else {
      val cand = adc.select(col("query_id"), col("neighbor_id"))
      val q = broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).cast("array<double>").as("qv"))
        .withColumn("qn", VectorKernels.norm(col("qv"))))
      // Raw-vector fetch: candidate list broadcast into the corpus scan —
      // the big side stays narrow, full-precision bytes read only for hits.
      val fetched = parallelize(corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).cast("array<double>").as("cv")))
        .join(broadcast(cand), Seq("neighbor_id"))
        .withColumn("cn", VectorKernels.norm(col("cv")))
      val denom = col("qn") * col("cn")
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      fetched.join(q, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          when(denom === 0, lit(0.0))
            .otherwise(VectorKernels.dot(col("qv"), col("cv")) / denom).as("cosine"))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
    }
  }

  /** IVF+PQ hybrid top-k — the composition a corpus-scale index actually
    * ships: the corpus is assigned once to IVF cells AND product-quantized
    * (one narrow pass attaches `centroid_idx` + the m-int codes — this is
    * the persisted index table: ~m+4 bytes per row instead of dim floats),
    * each query probes its `nProbe` nearest cells, candidates are
    * ADC-scored from the CODES of the probed cells only, and the top
    * k×`rerank` fetch their raw vectors for the exact decision.
    *
    * Cost model at 100 TB: the candidate scan touches
    * (nProbe/nCentroids) of the corpus and reads codes, not embeddings —
    * the two savings multiply; the full-precision column is read only for
    * the broadcast candidate list. Recall is measured, not assumed
    * ([[bruteForceTopK]] is the harness baseline). */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 10,
      nCentroids: Int = 0, nProbe: Int = 4, m: Int = 16, ksub: Int = 64,
      refineIterations: Int = 2, rerank: Int = 8,
      maxTrainRows: Long = 1000000L): DataFrame = {
    val c = parallelize(corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).cast("array<double>").as("cv")))
    // ONE normalized frame feeds build AND the re-rank fetch — the build
    // path must not re-project/re-parallelize the corpus it was handed.
    val (indexed, meta) = buildIvfPqIndexNormalized(c, nCentroids, m, ksub,
      refineIterations, maxTrainRows)
    probeIvfPqIndex(indexed, meta, c, queries, queryId, queryVec,
      k, nProbe, rerank)
  }

  // ------------------------------------------------ persisted ANN index

  /** Driver-known IVF+PQ index metadata — the centroid matrix and PQ
    * codebooks a probe job needs alongside the (id, cell, codes) table.
    * JSON round-trip so an index built once is probed by later jobs:
    * `buildIvfPqIndex` → [[writeIvfPqIndex]] today, [[readIvfPqIndex]] →
    * [[probeIvfPqIndex]] tomorrow — training never reruns per query
    * batch. */
  final case class IvfPqMeta(centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]) {
    def toJson: String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.createObjectNode()
      val cs = root.putArray("centroids")
      centroids.foreach { row =>
        val r = cs.addArray(); row.foreach(r.add)
      }
      val bs = root.putArray("books")
      books.foreach { sub =>
        val s = bs.addArray()
        sub.foreach { cw => val w = s.addArray(); cw.foreach(w.add) }
      }
      m.writeValueAsString(root)
    }
  }

  object IvfPqMeta {
    /** Why two metas are NOT the same codebook, or None when they match
      * exactly. Shape differences name the offending dimension; value
      * differences mean same-shaped but differently-trained codebooks —
      * equality is exact because both sides come from the same doubles
      * (Jackson's double serialization round-trips bit-exactly through
      * the JSON sidecar). */
    def mismatch(a: IvfPqMeta, b: IvfPqMeta): Option[String] = {
      def dim(m: IvfPqMeta) = if (m.centroids.isEmpty) 0 else m.centroids(0).length
      def ksub(m: IvfPqMeta) = if (m.books.isEmpty) 0 else m.books(0).length
      if (a.centroids.length != b.centroids.length)
        Some(s"nCentroids ${a.centroids.length} vs ${b.centroids.length}")
      else if (dim(a) != dim(b)) Some(s"dim ${dim(a)} vs ${dim(b)}")
      else if (a.books.length != b.books.length)
        Some(s"m ${a.books.length} vs ${b.books.length}")
      else if (ksub(a) != ksub(b)) Some(s"ksub ${ksub(a)} vs ${ksub(b)}")
      else if (!a.centroids.indices.forall(i =>
          java.util.Arrays.equals(a.centroids(i), b.centroids(i))))
        Some("centroid values differ (same shape, different training)")
      else if (!a.books.indices.forall(i => a.books(i).indices.forall(j =>
          java.util.Arrays.equals(a.books(i)(j), b.books(i)(j)))))
        Some("codebook values differ (same shape, different training)")
      else None
    }

    def fromJson(text: String): IvfPqMeta = {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      def arr1(n: com.fasterxml.jackson.databind.JsonNode): Array[Double] =
        n.elements().asScala.map(_.asDouble).toArray
      val cs = root.get("centroids").elements().asScala.map(arr1).toArray
      val bs = root.get("books").elements().asScala
        .map(sub => sub.elements().asScala.map(arr1).toArray).toArray
      IvfPqMeta(cs, bs)
    }
  }

  /** Build the IVF+PQ index ONCE: `(neighbor_id, centroid_idx, pq_codes)`
    * in one fused narrow pass, plus the driver-known [[IvfPqMeta]]. The
    * table is ~m+4 bytes per row instead of dim floats — the persisted
    * form of the corpus for similarity serving. */
  def buildIvfPqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCentroids: Int = 0, m: Int = 16, ksub: Int = 64,
      refineIterations: Int = 2, maxTrainRows: Long = 1000000L): (DataFrame, IvfPqMeta) =
    buildIvfPqIndexNormalized(
      parallelize(corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).cast("array<double>").as("cv"))),
      nCentroids, m, ksub, refineIterations, maxTrainRows)

  /** Build against an ALREADY-normalized `(neighbor_id, cv)` frame — the
    * shared core of [[buildIvfPqIndex]] and [[ivfPqTopK]] (which reuses
    * the same frame for the re-rank fetch, so normalizing twice would be
    * two projections of the corpus in the plan). */
  private def buildIvfPqIndexNormalized(c: DataFrame, nCentroids: Int,
      m: Int, ksub: Int, refineIterations: Int,
      maxTrainRows: Long): (DataFrame, IvfPqMeta) = {
    // ONE count serves auto-sizing AND both bounded-training decisions —
    // without the hint each trainer would re-count the corpus.
    val total = c.count()
    val nCells = if (nCentroids > 0) nCentroids else autoCentroids(total)
    val mat = refineCentroids(c, "cv",
      sampleCentroids(c, "neighbor_id", "cv", nCells), refineIterations,
      maxTrainRows, total)
    val books = pqTrain(c, "neighbor_id", "cv", m, ksub, refineIterations,
      maxTrainRows, total)
    val meta = IvfPqMeta(mat, books)
    (encodeIndexRows(c, "neighbor_id", "cv", meta), meta)
  }

  /** Encode rows against EXISTING index metadata — one fused narrow pass,
    * the shared projection of [[buildIvfPqIndex]] (initial build) and
    * [[appendToIvfPqIndex]] (incremental batches): `(neighbor_id,
    * centroid_idx, pq_codes)`. */
  def encodeIndexRows(rows: DataFrame, idCol: String, vecCol: String,
      meta: IvfPqMeta): DataFrame = {
    import graft.functions.{CentroidKernels, PqKernels}
    rows.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .select(col("neighbor_id"),
        CentroidKernels.nearestIndex(col("cv"), meta.centroids).as("centroid_idx"),
        PqKernels.encode(col("cv"), meta.books).as("pq_codes"))
  }

  /** Incrementally append a batch to a persisted IVF+PQ index: the new
    * rows are encoded with the EXISTING centroids/codebooks (`meta` — the
    * sidecar is NOT rewritten; a probe reloading the index sees one
    * consistent codebook for old and new rows) and parquet-APPENDED into
    * their cell partitions. Dynamic partition append only ADDS files under
    * the cells the batch lands in — existing files, and every partition
    * the batch misses, are untouched, so the write cost is O(batch), not
    * O(index). This is the production lifecycle: build+train once, append
    * per ingest batch, probe anytime; if the data distribution drifts far
    * from the training sample, quantization error grows — the answer is a
    * periodic rebuild, not per-batch retraining.
    *
    * Fails fast when `meta` is not the index's OWN codebook (the sidecar
    * at `dir`): rows encoded against foreign centroids/codebooks land in
    * cells the sidecar's probe-time meta cannot decode — a silent
    * corruption that only surfaces as wrong neighbors much later. The
    * check is exact value equality (shape first, for a readable message);
    * it costs one small sidecar read per batch. A dir with no sidecar yet
    * (fresh directory, first batch) ADOPTS `meta` as the index's codebook.
    * The adoption writes the sidecar BEFORE any data lands, with an
    * exclusive create (no overwrite): of two first appends racing into
    * one fresh dir with different codebooks, exactly one adopts and the
    * other falls through to the mismatch check against the winner — and a
    * crash between sidecar and data leaves an empty-but-guarded index,
    * never data without a codebook. */
  def appendToIvfPqIndex(newRows: DataFrame, idCol: String, vecCol: String,
      meta: IvfPqMeta, dir: String): Unit = {
    val spark = newRows.sparkSession
    graft.io.WriterLock.withLock(spark, dir, "appendToIvfPqIndex") {
    graft.io.DirSwap.heal(spark, dir, CompactTmp, SidecarFile)
    val adopted = readMetaSidecar(spark, dir) match {
      case Some(e) => Some(e)
      case None =>
        // Exclusive create: the loser of a racing adoption gets the
        // winner's sidecar back and validates against it like any batch.
        if (tryCreateMetaSidecar(spark, dir, meta)) None
        else readMetaSidecar(spark, dir)
    }
    adopted.foreach { e =>
      IvfPqMeta.mismatch(e, meta).foreach { why =>
        throw new IllegalArgumentException(
          s"appendToIvfPqIndex: meta does not match the index sidecar at $dir " +
            s"($why) — appending with a foreign codebook corrupts the index; " +
            "reload meta via readIvfPqIndex or rebuild with buildIvfPqIndex")
      }
    }
    // One file per touched cell per batch (r18): the unclustered append
    // emitted one file per (task × cell) — the small-files debt
    // compaction later pays for. Same append-only cells, fewer files.
    encodeIndexRows(newRows, idCol, vecCol, meta)
      .repartition(col("centroid_idx"))
      .write.mode("append").partitionBy("centroid_idx").parquet(dir)
    }
  }

  /** Compact a persisted index in place: every [[appendToIvfPqIndex]]
    * batch ADDS files to the cells it touches, so after N ingest batches a
    * cell directory holds ~N small files — at index scale that is the
    * classic small-files problem (a probe opens nProbe × N footers, and
    * the namenode/listing cost grows without bound). The compaction
    * shuffles each cell's rows into `filesPerCell` tasks (repartition by
    * the partition column + a salt), so the dynamic-partition write emits
    * at most `filesPerCell` files per cell, and rewrites the index through
    * a [[graft.io.DirSwap]]. Single-writer-ness is ENFORCED (r15): write,
    * append and compact all run under the sibling [[graft.io.WriterLock]]
    * lock file, so an appendToIvfPqIndex racing a compaction fails fast
    * with a named [[graft.io.WriterLock.ConcurrentWriterException]] instead of
    * landing its batch in the old dir after the listing snapshot and
    * being discarded with it (a crashed writer's stale lock self-breaks).
    * Probes racing a compaction should still read a snapshot path. Meta
    * is byte-identical after the swap (the sidecar is rewritten from the
    * parsed meta, whose JSON round-trips exactly).
    *
    * Measured (`bench_ops_scale.json` index_compact_10m, steal 0.03s): a
    * 10M-row 64-cell index plus 8 append batches of 500k accumulates
    * 2496 data files; compaction rewrites it to 64 (one per cell) in
    * 13.9s, and the same 32-query probe drops 8.4s → 6.7s — the
    * footer-open/listing overhead reclaimed.
    *
    * @return (dataFilesBefore, dataFilesAfter) under cell partitions. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, filesPerCell: Int = 1): (Long, Long) = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    graft.io.WriterLock.withLock(spark, dir, "compactIvfPqIndex") {
    // Explicit: readIvfPqIndex's own heal skips under the lock we hold.
    graft.io.DirSwap.heal(spark, dir, CompactTmp, SidecarFile)
    val (indexed, meta) = readIvfPqIndex(spark, dir)
    val before = graft.io.DirSwap.dataFiles(spark, dir)
    // The tmp is written without its own lock: the lock on `dir` covers
    // it, and a crash then leaves no stale lock next to the tmp.
    graft.io.DirSwap.replace(spark, dir, CompactTmp, "compactIvfPqIndex")(
      tmp => writeIndexFiles(indexed, meta, tmp, filesPerCell))
    (before, graft.io.DirSwap.dataFiles(spark, dir))
    }
  }

  /** Persist an index: parquet PARTITIONED BY the cell — a probe then
    * reads only its nProbe cell directories off disk (static partition
    * pruning via the probe's `isin` filter), which at 100 TB is the
    * difference between scanning the index and scanning nProbe/nCells of
    * it. The metadata rides alongside as `_graft_ivfpq_meta.json`
    * (underscore-prefixed: invisible to parquet directory listings).
    *
    * Rows are CLUSTERED by cell before the write (r18 — guide §6 "small
    * files hurt twice"): the bare dynamic-partition write emitted one file
    * per (upstream task × cell) — up to tasks × nCells small files per
    * write, each paying file-commit overhead (and a fork'd chmod on
    * non-native local filesystems) on the way out and a footer open on
    * every later probe. One exchange keyed on the cell bounds the census
    * at `filesPerCell` per cell — the exact layout [[compactIvfPqIndex]]
    * exists to restore. Raise `filesPerCell` when single cells are too
    * large for one write task (the compaction knob's semantics): at
    * filesPerCell = 1 a HOT cell (skewed centroid) funnels through a
    * single write task — a straggler/spill risk the bare unclustered
    * write did not have. For large builds derive it from expected
    * rows-per-cell (≈ totalRows / nCells / targetRowsPerFile), or keep 1
    * when cells are balanced (ADVICE r18; the bench-scale indexes are).
    *
    * Runs under the [[graft.io.WriterLock]] on `dir`, like append and
    * compact: an overwrite racing them would silently drop a batch. */
  def writeIvfPqIndex(indexed: DataFrame, meta: IvfPqMeta, dir: String,
      filesPerCell: Int = 1): Unit =
    graft.io.WriterLock.withLock(indexed.sparkSession, dir, "writeIvfPqIndex") {
      writeIndexFiles(indexed, meta, dir, filesPerCell)
    }

  private def writeIndexFiles(indexed: DataFrame, meta: IvfPqMeta, dir: String,
      filesPerCell: Int): Unit = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    val clustered =
      if (filesPerCell == 1) indexed.repartition(col("centroid_idx"))
      else indexed.repartition(col("centroid_idx"),
        pmod(hash(col("neighbor_id")), lit(filesPerCell)))
    clustered.write.mode("overwrite").partitionBy("centroid_idx").parquet(dir)
    writeMetaSidecar(indexed.sparkSession, dir, meta)
  }

  private val SidecarFile = "_graft_ivfpq_meta.json"

  private def sidecarPath(dir: String): String =
    new org.apache.hadoop.fs.Path(dir, SidecarFile).toString

  /** Sidecar write through the SAME filesystem as the parquet — an
    * hdfs://-or-s3a:// index directory must carry its metadata too, not
    * strand it on the driver's local disk ([[graft.io.FsText]]). */
  private def writeMetaSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, meta: IvfPqMeta): Unit =
    graft.io.FsText.write(spark, sidecarPath(dir), meta.toJson)

  /** Exclusive-create adoption: false when a sidecar already exists. */
  private def tryCreateMetaSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, meta: IvfPqMeta): Boolean =
    graft.io.FsText.write(spark, sidecarPath(dir), meta.toJson,
      overwrite = false)

  /** The sidecar meta at `dir`, through the dir's own filesystem; None
    * when no sidecar exists yet (fresh index directory). */
  private def readMetaSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[IvfPqMeta] =
    graft.io.FsText.read(spark, sidecarPath(dir)).map(IvfPqMeta.fromJson)

  // Swap layout (graft.io.DirSwap). Read, append and compact heal a
  // crashed compaction first, so no append recreates a missing `dir` as a
  // delta-only shell. The completion file is the sidecar, not `_SUCCESS`:
  // the parquet commit writes `_SUCCESS` BEFORE writeIndexFiles writes the
  // sidecar, so a `_SUCCESS`-only heal would move a sidecar-less rewrite
  // forward and delete the original.
  private val CompactTmp = "._graft_compact_tmp"

  /** Reload a persisted index: the `(neighbor_id, centroid_idx, pq_codes)`
    * table (cell as partition column) + metadata. Heals a crashed
    * compaction swap first when no live writer holds the index. */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, IvfPqMeta) = {
    graft.io.WriterLock.ifAcquired(spark, dir, "readIvfPqIndex-heal") {
      graft.io.DirSwap.heal(spark, dir, CompactTmp, SidecarFile)
    }
    val meta = readMetaSidecar(spark, dir).getOrElse(throw new
      java.io.FileNotFoundException(
        s"no _graft_ivfpq_meta.json sidecar under $dir — not a graft IVF+PQ index"))
    (spark.read.parquet(dir), meta)
  }

  /** Probe a (possibly reloaded) IVF+PQ index: LUT-ADC candidate scoring
    * over the probed cells' codes, exact re-rank against `rawCorpus`'s
    * full-precision vectors. The probed cell list is computed driver-side
    * (≤ |queries|·nProbe ints) and applied as an `isin` FILTER before the
    * band join, so a parquet-backed index scans only those cell
    * partitions. `rawCorpus` must carry columns `(neighbor_id, cv)` (the
    * [[buildIvfPqIndex]] normalization). */
  def probeIvfPqIndex(indexed: DataFrame, meta: IvfPqMeta, rawCorpus: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nProbe: Int = 4, rerank: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{CentroidKernels, PqKernels, VectorKernels}
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val mat = meta.centroids
    val books = meta.books
    val q = queries.select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("qv"))
      .withColumn("qn", VectorKernels.norm(col("qv")))
    // Each probe row ships the per-query ADC lookup table (m×ksub partial
    // dots) instead of the query vector: candidate scoring is then O(m)
    // lookups per code row — no decode, no per-candidate allocation. The
    // LUT is nProbe-duplicated only by rows (one copy per probe row); at
    // nProbe×|queries| broadcast rows of 8·m·ksub bytes it stays tiny.
    // ONE driver job computes every query's probe cells; the collected
    // rows feed BOTH the probe frame (as a broadcast local relation — no
    // second nearestIndices evaluation) and the pruning cell list (a
    // driver-side distinct, no extra job).
    val idType = q.schema("query_id").dataType
    val qCells = q.select(col("query_id"),
      CentroidKernels.nearestIndices(col("qv"), mat, nProbe).as("cells")).collect()
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", idType),
      org.apache.spark.sql.types.StructField("centroid_idx",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val jpairs = new java.util.ArrayList[org.apache.spark.sql.Row]()
    // A null (or null-casting) query vector yields a null cell list —
    // drop it here, matching the pre-collect explode() semantics (the
    // query simply returns no rows) instead of NPEing on the driver.
    qCells.foreach { r =>
      if (!r.isNullAt(1))
        r.getSeq[Int](1).distinct.foreach(c =>
          jpairs.add(org.apache.spark.sql.Row(r.get(0), c)))
    }
    val cellOf = queries.sparkSession.createDataFrame(jpairs, pairSchema)
    val probed = q
      .withColumn("__lut", PqKernels.lut(col("qv"), books))
      .join(broadcast(cellOf), Seq("query_id"))
      .select("query_id", "qn", "__lut", "centroid_idx")
    // Static cell pruning: the probed cells as literals reach the parquet
    // scan as PartitionFilters on a partitioned index table. Skip the
    // filter when the distinct-cell list covers (nearly) every cell or
    // would make an absurd In-literal — a large query batch probes the
    // whole index anyway, and a 10^5-literal In costs more to plan than
    // the pruning saves.
    val cells = {
      val distinctCells = new java.util.LinkedHashSet[Int]()
      qCells.foreach(r =>
        if (!r.isNullAt(1)) r.getSeq[Int](1).foreach(c => distinctCells.add(c)))
      import scala.jdk.CollectionConverters._
      distinctCells.asScala.toSeq
    }
    val pruned =
      if (cells.size >= mat.length || cells.size > 32768) indexed
      else indexed.where(col("centroid_idx").isin(cells: _*))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val cand = pruned.join(broadcast(probed), Seq("centroid_idx"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qn") === 0, lit(0.0))
          .otherwise(PqKernels.adcScore(col("pq_codes"), col("__lut"), books)
            / col("qn")).as("adc"))
      .withColumn("rank", row_number().over(wAdc)).where(col("rank") <= k * rerank)
      .select("query_id", "neighbor_id")
    val fetched = rawCorpus.join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("cn", VectorKernels.norm(col("cv")))
    val denom = col("qn") * col("cn")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    fetched.join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(denom === 0, lit(0.0))
          .otherwise(VectorKernels.dot(col("qv"), col("cv")) / denom).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
