package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval — the sparse/lexical side of RAG next to the
  * [[Similarity]] ANN family (hybrid retrieval fuses both result sets —
  * [[rrfFuse]]). Okapi BM25 with the Lucene-standard smoothed idf:
  * `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`,
  * `score(q, d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))`
  * over the DISTINCT terms of the query (qtf = 1 — the common search
  * engine behavior).
  *
  * Scale design — build once, query many, scan only the queried terms:
  *  - [[buildAndWriteIndex]] pays ONE corpus pass and ONE shuffle: term
  *    frequencies are row-local, so the fused
  *    [[graft.functions.TermCountKernel]] emits each document's finished
  *    postings (with its length denormalized Lucene-style into every
  *    posting row) in the scan itself; the only wide exchange is the
  *    bucket-layout repartition. Postings and document frequencies are
  *    written PARTITIONED by `tb = pmod(xxhash64(term), nBuckets)` and
  *    term-sorted within each bucket file.
  *  - [[scores]] computes the query batch's (term, bucket) list in one
  *    tiny driver job and pushes BOTH as filters: the bucket list prunes
  *    whole partition directories (PartitionFilters) and the term list
  *    reaches the parquet row groups (PushedFilters over the sorted term
  *    column) — a query batch scans the postings of its own terms, never
  *    the index. The `dl` join is gone entirely (denormalized above).
  *  - [[topK]] ranks with a per-query window over the scored candidates
  *    (WindowGroupLimit keeps the rank map-side), ties broken by doc id.
  *  - [[appendToBm25Index]] ingests a new batch incrementally: delta
  *    postings/lengths parquet-append into the bucket layout, document
  *    frequencies merge vocab-sized, corpus stats recompute from the
  *    lengths table — the existing index is never rebuilt.
  */
object Retrieval {

  /** The inverted index: `tf(doc_id, term, tf, dl[, tb])`,
    * `dl(doc_id, dl)`, `df(term, df[, tb])` plus the corpus scalars.
    * `nBuckets = 0` marks an unbucketed (in-memory / legacy) index —
    * [[scores]] then skips partition pruning. */
  final case class Bm25Index(tf: DataFrame, dl: DataFrame, df: DataFrame,
      nDocs: Long, avgdl: Double, nBuckets: Int = 0)

  private def tokens(textCol: String) =
    filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")

  private def terms(textCol: String) =
    explode(split(lower(trim(col(textCol))), "\\s+")).as("term")

  /** Zero-shuffle postings rows `(doc_id, term, tf, dl)`: the fused
    * per-row term count plus the document length denormalized into every
    * posting (the Lucene norms layout — scoring then never joins a
    * lengths table). Documents with no non-empty tokens emit no rows. */
  private def tfRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(textCol)
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("dl"),
        explode(graft.functions.TermCountKernel.termCounts(toks)).as("e"))
      .select(col("doc_id"), col("e.term").as("term"),
        col("e.tf").cast("long").as("tf"), col("dl"))
  }

  private def bucketOf(nBuckets: Int) =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int").as("tb")

  /** Ad-hoc in-memory index build. The frames stay LAZY: every downstream
    * action re-tokenizes the corpus through the lineage. Fine for one-shot
    * use; for build-once / query-many, [[buildAndWriteIndex]] is the
    * production path. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val tf = tfRows(docs, idCol, textCol)
    val dl = tf.groupBy("doc_id").agg(max("dl").as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val s = dl.agg(count(lit(1)), avg("dl")).collect()(0)
    val n = s.getLong(0)
    Bm25Index(tf, dl, df, n, if (n == 0) 0.0 else s.getDouble(1))
  }

  /** Build-once persisted index: the postings are written in the ONE
    * corpus-wide pass (fused term counts, then the single bucket-layout
    * shuffle), `dl`/`df` derive from the written parquet (index-sized
    * jobs, the corpus is never touched again), and the corpus scalars +
    * bucket count land in a `meta.json` sidecar through the path's own
    * filesystem (the IVF+PQ-index lifecycle). Returns the loaded index. */
  def buildAndWriteIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 256): Bm25Index = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = docs.sparkSession
    graft.io.WriterLock.withLock(spark, path, "buildAndWriteIndex") {
      writeBucketSorted(tfRows(docs, idCol, textCol).withColumn("tb",
        bucketOf(nBuckets)), s"$path/tf", overwrite = true)
      val tfP = spark.read.parquet(s"$path/tf")
      // dl and df both derive from the WRITTEN tf and are independent of
      // each other — overlap the two small write jobs so one's commit tail
      // back-fills with the other's tasks (guide §2.6; r19 — each tiny
      // write pays a fixed commit cost that does not parallelize within
      // itself).
      graft.io.Par.both(
        tfP.groupBy("doc_id").agg(max("dl").as("dl"))
          .write.mode("overwrite").parquet(s"$path/dl"),
        writeBucketSorted(tfP.groupBy("tb", "term").agg(count(lit(1)).as("df")),
          s"$path/df", overwrite = true))
      writeMeta(spark, path, nBuckets)
    }
    loadIndex(spark, path)
  }

  /** Bucket-partitioned, term-sorted parquet write: one shuffle keyed on
    * the bucket, rows sorted by (tb, term) within each task so every
    * bucket directory holds term-sorted files — parquet min/max row-group
    * stats then make a pushed `term IN (...)` filter skip everything but
    * the queried terms' row groups. */
  private def writeBucketSorted(withTb: DataFrame, dir: String,
      overwrite: Boolean): Unit =
    withTb.repartition(col("tb")).sortWithinPartitions("tb", "term")
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("tb").parquet(dir)

  /** Recompute + write the meta sidecar from the dl table (exact corpus
    * stats; a lengths-table-sized aggregate, never a corpus pass). */
  private def writeMeta(spark: SparkSession, path: String, nBuckets: Int)
      : (Long, Double) = {
    val s = spark.read.parquet(s"$path/dl").agg(count(lit(1)), avg("dl"))
      .collect()(0)
    val n = s.getLong(0)
    val avgdl = if (n == 0) 0.0 else s.getDouble(1)
    graft.io.FsText.write(spark, s"$path/meta.json",
      s"""{"n_docs": $n, "avgdl": $avgdl, "n_buckets": $nBuckets}""")
    (n, avgdl)
  }

  private final case class Meta(nDocs: Long, avgdl: Double, nBuckets: Int)

  /** The `meta.json` sidecar. Indexes written before the bucketed layout
    * (no `n_buckets` field) read `nBuckets = 0`. */
  private def readMeta(spark: SparkSession, path: String): Meta = {
    val text = graft.io.FsText.read(spark, s"$path/meta.json")
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no BM25 index meta at $path/meta.json — not a graft BM25 index"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    Meta(root.get("n_docs").asLong, root.get("avgdl").asDouble,
      if (root.has("n_buckets")) root.get("n_buckets").asInt else 0)
  }

  /** The bucket count of an index the incremental paths can maintain. */
  private def bucketCount(spark: SparkSession, path: String): Int = {
    val n = readMeta(spark, path).nBuckets
    require(n >= 1,
      s"index at $path predates the bucketed layout — rebuild with buildAndWriteIndex")
    n
  }

  // Swap layout (graft.io.DirSwap): the append's df merge and the
  // compaction's tf/dl rewrites are Spark parquet commits, so `_SUCCESS`
  // marks each finished rewrite.
  private val AppendTmp = "._graft_append_tmp"
  private val CompactTmp = "._graft_compact_tmp"

  /** Finish or undo a crashed [[compactBm25Index]] tf/dl rewrite or
    * [[appendToBm25Index]] df merge ([[graft.io.DirSwap]]). Load, append
    * and compaction heal first — in particular BEFORE an append could
    * recreate a missing tf/dl holding only its delta. A df that now holds
    * the merge gets its meta sidecar recomputed (dl was appended before
    * the swap, so the healed index equals the completed append). */
  private def healSwaps(spark: SparkSession, path: String): Unit = {
    Seq("tf", "dl").foreach(sub =>
      graft.io.DirSwap.heal(spark, s"$path/$sub", CompactTmp, "_SUCCESS"))
    if (graft.io.DirSwap.heal(spark, s"$path/df", AppendTmp, "_SUCCESS"))
      writeMeta(spark, path, readMeta(spark, path).nBuckets)
  }

  /** Reload a persisted index (no corpus access, no stats job — except
    * when healing a crashed swap first, see [[healSwaps]]). Indexes
    * written before the bucketed layout load with `nBuckets = 0` and
    * score unpruned. */
  def loadIndex(spark: SparkSession, path: String): Bm25Index = {
    // Heal only when no LIVE writer holds the index (r15): a held lock
    // means the transitional tf/df/dl state belongs to an in-flight
    // append/compaction, and "healing" it here would race that writer's
    // own renames. A crashed writer's stale lock self-breaks.
    graft.io.WriterLock.ifAcquired(spark, path, "loadIndex-heal") {
      healSwaps(spark, path)
    }
    val meta = readMeta(spark, path)
    Bm25Index(spark.read.parquet(s"$path/tf"),
      spark.read.parquet(s"$path/dl"), spark.read.parquet(s"$path/df"),
      meta.nDocs, meta.avgdl, meta.nBuckets)
  }

  /** Incrementally ingest `newDocs` into a persisted index: the delta
    * postings and lengths parquet-APPEND into the existing bucket layout
    * (O(batch) work — appended files land term-sorted next to the old
    * ones, so pruning still holds), document frequencies merge as one
    * vocab-sized union-aggregate (rewritten via temp-dir + rename swap,
    * crash residue handled), and the corpus scalars recompute exactly
    * from the lengths table. `checkIds` guards the df merge's
    * correctness precondition — a re-ingested doc_id would double-count
    * df — with one lengths-table semi-join (disable for trusted
    * append-only id streams). Returns the reloaded index: scoring it
    * equals scoring a from-scratch rebuild over old ∪ new (pinned by
    * `q_text_bm25`). */
  def appendToBm25Index(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, checkIds: Boolean = true): Bm25Index = {
    val spark = newDocs.sparkSession
    graft.io.WriterLock.withLock(spark, path, "appendToBm25Index") {
    healSwaps(spark, path)
    val nBuckets = bucketCount(spark, path)
    val delta = tfRows(newDocs, idCol, textCol).withColumn("tb", bucketOf(nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      if (checkIds) {
        val clash = spark.read.parquet(s"$path/dl")
          .join(delta.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
          .limit(1).count()
        require(clash == 0L,
          s"appendToBm25Index: batch doc_ids already present in the lengths table at " +
            s"$path — either the batch overlaps the corpus, or a previous append " +
            "crashed between its dl and tf writes. Dedup the batch, or rebuild with " +
            "buildAndWriteIndex to recover; checkIds = false is ONLY for streams " +
            "with guaranteed-fresh ids (it would let postings double-count)")
      }
      // dl BEFORE tf: the lengths table is the checkIds guard's witness,
      // so a crash between the two writes makes a RETRY fail fast (ids
      // already visible) instead of silently appending the same postings
      // twice — the one unrecoverable corruption this lifecycle could
      // otherwise produce. (df/meta after a partial append are rebuilt by
      // the retry path or buildAndWriteIndex; duplicated postings are not.)
      delta.groupBy("doc_id").agg(max("dl").as("dl"))
        .write.mode("append").parquet(s"$path/dl")
      // Vocab-sized df merge, swapped in through graft.io.DirSwap.
      val merged = spark.read.parquet(s"$path/df")
        .select(col("term"), col("df").cast("long").as("df"), col("tb"))
        .unionByName(delta.groupBy("tb", "term").agg(count(lit(1)).as("df"))
          .select(col("term"), col("df"), col("tb")))
        .groupBy("tb", "term").agg(sum("df").as("df"))
      // The tf append and the df-merge TMP write are independent (both
      // read the pinned delta — warmed by the dl write above — and touch
      // disjoint dirs; the df SWAP stays strictly after both). Overlap the
      // two small jobs (guide §2.6, r19). Crash mid-overlap leaves: dl
      // appended (a retry fail-fasts on checkIds), tf either unchanged or
      // fully committed, tmp residue inert — exactly the states the heal
      // path already handles for the sequential order.
      graft.io.DirSwap.replace(spark, s"$path/df", AppendTmp,
          "appendToBm25Index") { tmp =>
        graft.io.Par.both(
          writeBucketSorted(delta, s"$path/tf", overwrite = false),
          writeBucketSorted(merged, tmp, overwrite = true))
      }
      writeMeta(spark, path, nBuckets)
      loadIndex(spark, path)
    } finally delta.unpersist()
    }
  }

  /** Compact a persisted BM25 index in place (r14 — the IVF+PQ
    * [[Similarity.compactIvfPqIndex]] mirrored onto the postings layout):
    * every [[appendToBm25Index]] batch parquet-APPENDS one file per
    * touched `tf` bucket directory and one to `dl`, so after N ingest
    * batches a pruned probe opens ~N footers per queried bucket — the
    * classic small-files growth. The compaction rewrites `tf` with one
    * bucket-keyed shuffle back to ≤ `filesPerBucket` term-sorted files
    * per bucket (terms salt WITHIN a bucket when filesPerBucket > 1, so
    * a term's postings still land in one file and the In(term) row-group
    * pushdown keeps its skip rate), and `dl` to `dlFiles` files, each
    * through a [[graft.io.DirSwap]] (crashes heal on the next
    * load/append/compact, see [[healSwaps]]).
    * `df` never accretes — each append rewrites it
    * whole through its own swap — and the meta sidecar is untouched
    * (compaction moves bytes, not statistics). Single-writer-ness is
    * ENFORCED (r15): build/append/compact all run under the sibling
    * [[graft.io.WriterLock]] lock file, so a racing second writer fails
    * fast with [[graft.io.WriterLock.ConcurrentWriterException]] instead
    * of silently losing a batch's merge; a crashed writer's stale lock
    * self-breaks after its horizon.
    *
    * @return (dataFilesBefore, dataFilesAfter) across tf + dl. */
  def compactBm25Index(spark: SparkSession, path: String,
      filesPerBucket: Int = 1, dlFiles: Int = 8): (Long, Long) = {
    require(filesPerBucket >= 1 && dlFiles >= 1,
      s"bad filesPerBucket=$filesPerBucket / dlFiles=$dlFiles")
    graft.io.WriterLock.withLock(spark, path, "compactBm25Index") {
    healSwaps(spark, path)
    bucketCount(spark, path)
    def dataFiles() = Seq("tf", "dl")
      .map(sub => graft.io.DirSwap.dataFiles(spark, s"$path/$sub")).sum
    val before = dataFiles()
    val tf = spark.read.parquet(s"$path/tf")
    val dl = spark.read.parquet(s"$path/dl")
    // The tf and dl rewrites touch disjoint directories with no ordering
    // contract between them (each swap is individually crash-recoverable)
    // — overlap the two rewrite jobs (guide §2.6, r19).
    graft.io.Par.both(
      graft.io.DirSwap.replace(spark, s"$path/tf", CompactTmp,
          "compactBm25Index") { tmp =>
        val keyed =
          if (filesPerBucket == 1) tf.repartition(col("tb"))
          else tf.repartition(col("tb"),
            pmod(xxhash64(col("term")), lit(filesPerBucket.toLong)))
        keyed.sortWithinPartitions("tb", "term")
          .write.mode("overwrite").partitionBy("tb").parquet(tmp)
      },
      graft.io.DirSwap.replace(spark, s"$path/dl", CompactTmp,
          "compactBm25Index") { tmp =>
        dl.repartition(dlFiles).write.mode("overwrite").parquet(tmp)
      })
    (before, dataFiles())
    }
  }

  /** BM25 scores for every (query, candidate) pair — candidates are the
    * docs sharing at least one term with the query. On a bucketed index
    * the postings/df scans are pruned to the query batch's own terms: one
    * driver job collects the batch's distinct (term, bucket) pairs
    * (bounded by the batch's vocabulary — the `probeIvfPqIndex` cell-list
    * pattern), the bucket list prunes partition directories, and — up to
    * `maxPushTerms` — the term list is pushed into the parquet scan where
    * the term-sorted row groups skip everything else. */
  def scores(index: Bm25Index, queries: DataFrame, qIdCol: String,
      qTextCol: String, k1: Double = 1.2, b: Double = 0.75,
      maxPushTerms: Int = 8192): DataFrame = {
    require(index.nDocs > 0, "BM25 index is empty")
    val qterms = queries.where(col(qTextCol).isNotNull)
      .select(col(qIdCol).as("q_id"), terms(qTextCol))
      .where(col("term") =!= "").distinct()
    val bucketed = index.nBuckets > 0 && index.tf.columns.contains("tb")
    val (tfScan, dfScan) =
      if (!bucketed) (index.tf, index.df)
      else {
        // ONE tiny job: the batch's distinct (term, bucket) pairs. The
        // bucket expression is the write-side one evaluated by the same
        // engine — never reimplemented driver-side.
        val tb = qterms.select(col("term"), bucketOf(index.nBuckets)).distinct()
          .collect()
        val buckets = tb.map(_.getInt(1)).distinct.toSeq
        val termList = tb.map(_.getString(0)).toSeq
        val bFilter = col("tb").isin(buckets: _*)
        val filter =
          if (termList.size <= maxPushTerms)
            bFilter && col("term").isin(termList: _*)
          else bFilter
        (index.tf.where(filter), index.df.where(filter))
      }
    val idf = log(lit(1.0) +
      (lit(index.nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val qt = broadcast(qterms).join(dfScan, Seq("term"))
      .select(col("q_id"), col("term"), idf.as("idf"))
    val norm = col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / index.avgdl))
    val cand = broadcast(qt).join(tfScan, Seq("term"))
    val withDl =
      if (tfScan.columns.contains("dl")) cand
      else cand.join(index.dl, Seq("doc_id"))
    withDl.groupBy("q_id", "doc_id")
      .agg(sum(col("idf") * norm).as("score"))
  }

  /** Top-k docs per query, (score desc, doc_id asc)-ranked. */
  def topK(index: Bm25Index, queries: DataFrame, qIdCol: String,
      qTextCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scores(index, queries, qIdCol, qTextCol, k1, b)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** One-call convenience for ad-hoc use (index built inline). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topK(buildIndex(docs, idCol, textCol), queries, qIdCol, qTextCol, k, k1, b)

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: each input ranking
    * contributes `1/(rrfK + rank)` per (query, doc), missing docs
    * contribute nothing, and the fused ranking orders by the summed
    * score (doc-id tie-break). Rank-arithmetic only — score scales of
    * the inputs (BM25 vs cosine) never need calibrating, which is the
    * method's whole point. Each input must carry `(q_id, doc_id, rank)`
    * with rank ≥ 1 (the [[topK]] / ANN top-k output shape). One union +
    * one (query, doc) aggregate + one per-query window — no join of the
    * rankings against each other. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && rrfK >= 0, s"bad k=$k / rrfK=$rrfK")
    val contrib = rankings.map(_.select(col("q_id"), col("doc_id"),
      (lit(1.0) / (lit(rrfK.toDouble) + col("rank"))).as("c")))
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    contrib.groupBy("q_id", "doc_id").agg(sum("c").as("rrf_score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
