package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analyzer.DataAnalyzer

/** Round-8 component tests: analyzer summary null semantics + the split
  * exact-distinct aggregation pass. */
class Round8Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("summarizeToDF emits real nulls, never the string \"null\"") {
    // Spark's format_string renders a null argument as the literal text
    // "null" (printf semantics) — regression guard for the r7 quartile cells
    // on non-numeric and all-null columns.
    val df = Seq(
      (1L, Some(2.0), "a"),
      (2L, None: Option[Double], "b"),
      (3L, None: Option[Double], "c")
    ).toDF("k", "allmost_null", "s")
      .withColumn("all_null", lit(null).cast("double"))
    for (exact <- Seq(true, false)) {
      val rows = DataAnalyzer.summarizeToDF(df, exact = exact).collect()
      rows.foreach { r =>
        (1 until r.length).foreach { i =>
          assert(r.get(i) != "null",
            s"measure ${r.getString(0)} col $i leaked the string \"null\" (exact=$exact)")
        }
      }
      // String column has no quartiles/mean/stddev: must be real nulls.
      val meas = rows.map(r => r.getString(0) -> r).toMap
      for (m <- Seq("mean", "stddev", "p25", "p50", "p75")) {
        assert(meas(m).isNullAt(3), s"$m(s) should be null (exact=$exact)")
        assert(meas(m).isNullAt(4), s"$m(all_null) should be null (exact=$exact)")
      }
    }
  }

  test("DSv2 column pruning stays correct when the plan ends in a Filter") {
    import graft.spec._
    // A filter constraint + a random=true column: Catalyst cannot push the
    // filter below the nondeterministic project, so the extracted pipeline's
    // OUTERMOST step is the Filter. Pre-r8 the scan builder pruned the read
    // schema anyway while leaving every ProjectStep full-width — downstream
    // ordinal access then read the wrong columns.
    val spec = TableSpec("fspec", 5000, Seq(
      ColumnSpec("k", "bigint", ColumnStrategy.Sequence()),
      ColumnSpec("a", "int", ColumnStrategy.Range(1, 100, Some(1))).copy(random = true),
      ColumnSpec("tag", "string", ColumnStrategy.Values(Seq("x", "y", "z")))),
      constraints = Seq(Constraint.SqlExpr("a >= 50")))
    val planJson = graft.io.PlanJson.saveJson(DataGenPlan(Seq(spec), 7L))
    val full = spark.read.format("graft").option("plan", planJson).load().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(full.nonEmpty && full.length < 5000, "filter constraint should drop rows")
    assert(full.forall(_._2 >= 50), "constraint must hold on the DSv2 read")
    // Non-prefix column subset: any ordinal misalignment between readSchema
    // and the full-width rows shows up as wrong values or a class cast.
    val sub = spark.read.format("graft").option("plan", planJson).load()
      .select("tag", "k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sub.toSet === full.map(t => (t._3, t._1)).toSet,
      "pruned read must agree with the full read")
  }

  test("streamNearDupVerdicts surfaces exact duplicates as kept=false rows") {
    // Pre-r8, a document whose EVERY band key was already claimed (an exact
    // duplicate of an in-watermark doc) emitted no verdict row at all — the
    // strongest duplicates silently vanished. The per-document sentinel
    // claim guarantees one row per in-watermark document.
    def at(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val words = (0 until 80).map(i => s"w$i").mkString(" ")
    val batch1 = Seq((1L, words, at("2024-01-01T00:00:00Z")))
    val batch2 = Seq((2L, words, at("2024-01-01T00:10:00Z"))) // exact dup of doc 1
    val batch3 = Seq((9999L, (0 until 80).map(i => s"zz$i").mkString(" "),
      at("2024-01-01T02:00:00Z"))) // watermark sentinel
    val dir = java.nio.file.Files.createTempDirectory("graft_r8_dupstream")
    val stage = java.nio.file.Files.createTempDirectory("graft_r8_dupstage")
    Seq(batch1, batch2, batch3).zipWithIndex.foreach { case (rows, i) =>
      val out = stage.resolve(s"b$i").toString
      rows.toDF("doc_id", "text", "ts").coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = dir.resolve(s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val verdicts = graft.llm.Dedup.streamNearDupVerdicts(sdf, "doc_id", "text", "ts",
      delayThreshold = "30 minutes", windowDuration = "5 minutes",
      numHashes = 128, bands = 64)
    val q = verdicts.writeStream.format("memory").queryName("graft_r8_dupstream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val rows = spark.table("graft_r8_dupstream")
      .select("id", "n_claimed", "kept").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(rows(1L) === ((64L, true)), "original claims every band")
    assert(rows(2L) === ((0L, false)), "exact duplicate surfaces with zero claims")
  }

  test("SetKernels membership probes: hits, misses, null elements, codegen parity") {
    import graft.functions.{Payload, SetKernels}
    val set = Payload(SetKernels.LongSortedSet.of(Array(5L, 1L, 9L, 1L << 40)))
    val df = Seq(
      (1L, Some(Seq(2L, 3L, 9L))),     // hit (9)
      (2L, Some(Seq(2L, 3L, 4L))),     // miss
      (3L, Some(Seq(1L << 40))),       // hit (large value)
      (4L, Some(Seq.empty[Long])),     // empty: false / 0
      (5L, None: Option[Seq[Long]])    // null array: null
    ).toDF("id", "arr")
    val out = df.select(col("id"), SetKernels.anyInSet(col("arr"), set).as("any"),
      SetKernels.countInSet(col("arr"), set).as("cnt")).collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) null else r.getBoolean(1),
        if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    assert(out(1L) === ((true, 1L)))
    assert(out(2L) === ((false, 0L)))
    assert(out(3L) === ((true, 1L)))
    assert(out(4L) === ((false, 0L)))
    assert(out(5L) === ((null, null)))
    // Three-valued logic: a HIT wins over a null element (TRUE OR UNKNOWN
    // = TRUE, like array_contains); null only when no hit and a null seen.
    val mixed = spark.sql(
      "SELECT array(CAST(NULL AS BIGINT), CAST(9 AS BIGINT)) AS hitArr, " +
        "array(CAST(2 AS BIGINT), CAST(NULL AS BIGINT)) AS missArr")
    val mr = mixed.select(SetKernels.anyInSet(col("hitArr"), set).as("hit"),
      SetKernels.anyInSet(col("missArr"), set).as("miss"),
      SetKernels.countInSet(col("hitArr"), set).as("cnt")).head
    assert(mr.getBoolean(0) === true, "hit beats null element")
    assert(mr.isNullAt(1), "no hit + null element -> unknown")
    assert(mr.isNullAt(2), "count with null element -> unknown")
  }

  test("SQL surface: graft_any_in_set / graft_count_in_set register and evaluate") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_any_in_set(array(CAST(2 AS BIGINT), CAST(9 AS BIGINT)), array(9, 11)) AS a, " +
        "graft_count_in_set(array(CAST(9 AS BIGINT), CAST(11 AS BIGINT), CAST(3 AS BIGINT)), array(9, 11)) AS c, " +
        "graft_any_in_set(array(CAST(2 AS BIGINT)), array(9, 11)) AS miss").head
    assert(r.getBoolean(0) === true && r.getLong(1) === 2L && r.getBoolean(2) === false)
    intercept[Exception] {
      spark.sql("SELECT graft_any_in_set(array(CAST(1 AS BIGINT)), array(CAST(NULL AS INT)))").collect()
    }
  }

  test("streamDecontaminate drops contaminated docs in-flight, stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Decontamination
    def words(prefix: String, k: Int) = (0 until k).map(i => s"$prefix$i").mkString(" ")
    val eval_ = Seq((100L, words("e", 30))).toDF("doc_id", "text")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val clean = Decontamination.streamDecontaminate(
      input.toDS().toDF("doc_id", "text"), eval_, "doc_id", "text", n = 13)
    val q = clean.writeStream.format("memory").queryName("graft_r8_decon_stream")
      .outputMode("append").start()
    input.addData(
      (1L, words("e", 30)),                         // contaminated: same grams
      (2L, words("f", 30)),                         // clean
      (3L, (5 until 25).map(i => s"e$i").mkString(" "))) // slice of eval -> contaminated
    q.processAllAvailable()
    input.addData((4L, words("g", 14)))             // clean, second batch
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("graft_r8_decon_stream")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L))
    // Batch agreement: the same frame through the batch decontaminate.
    val batch = Seq((1L, words("e", 30)), (2L, words("f", 30)),
      (3L, (5 until 25).map(i => s"e$i").mkString(" ")), (4L, words("g", 14)))
      .toDF("doc_id", "text")
    val batchKept = Decontamination.decontaminate(batch, eval_, "doc_id", "text", n = 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept === kept, "stream and batch guards agree")
    val streamAsBatch = Decontamination.streamDecontaminate(batch, eval_, "doc_id", "text", n = 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamAsBatch === kept, "kernel path agrees on a batch frame")
  }

  test("temperature weights: proportional at alpha=1, uniform mass at alpha=0, budget-exact") {
    import graft.llm.Sampling
    val sizes = Seq("big" -> 9000L, "mid" -> 900L, "small" -> 100L)
    // alpha=1: every source contributes p_i = n_i/N -> weight = budget/N for all.
    val w1 = Sampling.temperatureWeights(sizes, alpha = 1.0, budgetRows = 10000L).toMap
    sizes.foreach { case (n, _) => assert(math.abs(w1(n) - 1.0) < 1e-12, s"alpha=1 $n") }
    // alpha=0: uniform mass over sources -> small corpora oversample hard.
    val w0 = Sampling.temperatureWeights(sizes, alpha = 0.0, budgetRows = 3000L).toMap
    assert(math.abs(w0("big") - 1000.0 / 9000) < 1e-9)
    assert(math.abs(w0("small") - 10.0) < 1e-9)
    // any alpha: expected rows sum exactly to the budget
    for (a <- Seq(0.0, 0.3, 0.5, 0.7, 1.0)) {
      val w = Sampling.temperatureWeights(sizes, a, 12345L)
      val exp = w.map { case (n, wi) => wi * sizes.toMap.apply(n) }.sum
      assert(math.abs(exp - 12345.0) < 1e-6, s"budget at alpha=$a")
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(sizes, -0.1, 100L)
    }
  }

  test("salted equi-join equals the plain join under skew, all supported types") {
    import graft.operators.SkewJoin
    // A pathologically hot key (key 1: 500 of 600 rows), unmatched left
    // rows (key 99) and unmatched right rows (key 77).
    val left = ((1 to 500).map(_ => 1L) ++ (2L to 51L) ++ Seq.fill(50)(99L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "lv")
    val right = ((1L to 51L) ++ Seq(77L)).map(k => (k, s"r$k")).toDF("k", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    for (jt <- Seq("inner", "left", "left_semi", "left_anti"); salt <- Seq(1, 7)) {
      val plain = canon(left.join(right, Seq("k"), jt))
      val salted = canon(SkewJoin.saltedEquiJoin(left, right, Seq("k"), salt, jt))
      assert(salted === plain, s"joinType=$jt salt=$salt")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(left, right, Seq("k"), 4, "full")
    }
  }

  test("decontamination partition law holds on randomized corpora") {
    import graft.llm.Decontamination
    // For random train/eval corpora: report covers every non-null-text
    // train row; kept + flagged partitions the corpus; hits <= grams.
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 40).map(i => s"w$i")
    def doc(): String = Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (trial <- 1 to 3) {
      val train = (0 until 60).map(i => (i.toLong, doc())).toDF("doc_id", "text")
      val eval_ = (0 until 8).map(i => (1000L + i, doc())).toDF("doc_id", "text")
      val n = 3 + trial * 2 // widths 5, 7, 9
      val rep = Decontamination.contaminationReport(train, eval_, "doc_id", "text", n)
        .collect()
      assert(rep.length === 60, s"report covers every train row (n=$n)")
      assert(rep.forall(r => r.getLong(2) <= r.getLong(1)), "hits <= grams")
      assert(rep.forall(r => (r.getLong(2) >= 1) == r.getBoolean(3)), "flag == hits>=1")
      val flagged = rep.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
      val kept = Decontamination.decontaminate(train, eval_, "doc_id", "text", n)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept.intersect(flagged).isEmpty && (kept.size + flagged.size) === 60,
        s"kept + flagged partitions the corpus (n=$n)")
    }
  }

  test("dropPairLosers: survivors = corpus minus distinct id_b, any pair frame") {
    import graft.llm.Dedup
    val corpus = (1L to 50L).map(i => (i, s"row$i")).toDF("id", "payload")
    val pairs = Seq((1L, 7L), (2L, 7L), (3L, 49L), (9L, 10L))
      .toDF("id_a", "id_b")
    val kept = Dedup.dropPairLosers(corpus, "id", pairs)
    assert(kept.count() === 47L)
    val ids = kept.select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L) && !ids.contains(49L) && !ids.contains(10L))
    assert(ids.contains(1L) && ids.contains(9L), "id_a side survives")
  }

  test("semantic dedup finds within-cluster duplicates with exact precision") {
    import graft.llm.Dedup
    // Two tight clusters, one near-identical pair inside each; near-identical
    // vectors land in the same cell under ANY centroid set, so the planted
    // pairs always surface, and nothing else passes the 0.99 verification.
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.999, 0.01, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.01, 0.999, 0.0)),
      (5L, Seq(0.7, 0.7, 0.1))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, nCentroids = 2, refineIterations = 2, maxCell = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))
    val kept = Dedup.dropSemanticDups(vecs, "vec_id", "embedding",
      threshold = 0.99, nCentroids = 2, refineIterations = 2, maxCell = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L), "larger id of each pair drops")
  }

  test("decontamination flags exactly the documents sharing an n-gram") {
    import graft.llm.Decontamination
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i").mkString(" ")
    val train = Seq(
      (1L, words("a", 30)),                      // shares a0..a29 windows with eval doc 1
      (2L, words("b", 30)),                      // clean
      (3L, words("c", 8)),                       // short: single whole-doc gram
      (4L, words("c", 8)),                       // exact duplicate of eval doc 3 -> hit
      (5L, null.asInstanceOf[String])            // null text: no grams, kept
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (101L, (5 until 25).map(i => s"a$i").mkString(" ")), // slice of train 1
      (103L, words("c", 8))                                // whole short doc = train 3/4's gram
    ).toDF("doc_id", "text")
    val rep = Decontamination.contaminationReport(train, eval_, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rep(1L)._3 && rep(1L)._2 >= 1, "doc 1 shares slice windows")
    assert(!rep(2L)._3 && rep(2L)._2 === 0L, "doc 2 is clean")
    assert(rep(3L) === ((1L, 1L, true)), "short doc matches its whole-text gram")
    assert(rep(4L) === ((1L, 1L, true)))
    assert(!rep.contains(5L), "null text drops out of the report")
    val kept = Decontamination.decontaminate(train, eval_, "doc_id", "text", n = 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 5L), "clean + null-text rows survive")
    // minHits above the overlap keeps everything
    val lax = Decontamination.decontaminate(train, eval_, "doc_id", "text",
      n = 13, minHits = 1000L).count()
    assert(lax === 5L)
  }

  test("stream dedup verdicts survive id redelivery within the watermark") {
    // The r8 review found the id-only sentinel was consumed by a doc's
    // FIRST arrival: the same id reappearing within the watermark (new
    // content, later window) undercounted by one and flagged kept=false.
    // The (id, ts)-keyed sentinel + explicit non-self counting fixes both.
    def at(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
    def words(prefix: String, k: Int) = (0 until k).map(i => s"$prefix$i").mkString(" ")
    val batch1 = Seq((7L, words("a", 80), at("2024-01-01T00:00:00Z")))
    val batch2 = Seq(
      (7L, words("b", 80), at("2024-01-01T00:10:00Z")),   // same id, NEW text
      (8L, words("a", 80), at("2024-01-01T00:10:00Z")))   // exact dup text, new id
    val batch3 = Seq((9999L, words("z", 80), at("2024-01-01T02:00:00Z")))
    val dir = java.nio.file.Files.createTempDirectory("graft_r8_redeliver")
    val stage = java.nio.file.Files.createTempDirectory("graft_r8_redeliver_st")
    Seq(batch1, batch2, batch3).zipWithIndex.foreach { case (rows, i) =>
      val out = stage.resolve(s"b$i").toString
      rows.toDF("doc_id", "text", "ts").coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = dir.resolve(s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val verdicts = graft.llm.Dedup.streamNearDupVerdicts(sdf, "doc_id", "text", "ts",
      delayThreshold = "30 minutes", windowDuration = "5 minutes",
      numHashes = 128, bands = 64)
    val q = verdicts.writeStream.format("memory").queryName("graft_r8_redeliver")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val rows = spark.table("graft_r8_redeliver")
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("id"),
        col("n_claimed"), col("kept")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows(("00:00", 7L)) === ((64L, true)), "first arrival claims all bands")
    assert(rows(("00:10", 7L)) === ((64L, true)),
      "redelivered id with NEW content gets a full-credit verdict")
    assert(rows(("00:10", 8L)) === ((0L, false)),
      "exact duplicate text under a new id is flagged with a visible row")
  }

  test("exact and approx summarize agree on exact-computable measures") {
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("m"), concat(lit("v"), col("id") % 3).as("s"))
    val ex = DataAnalyzer.summarizeToDF(df, exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    // distinct_count comes from the dedicated second pass in exact mode.
    assert(ex("distinct_count").getString(1) == "1000")
    assert(ex("distinct_count").getString(2) == "7")
    assert(ex("distinct_count").getString(3) == "3")
    assert(ex("count").getString(1) == "1000")
    assert(ex("p50").getString(2) == "3.000000")
    assert(ex("mean").getString(1) == "499.500000")
  }
}
