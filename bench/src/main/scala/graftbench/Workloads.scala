package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Generator
import graft.io.Writer
import graft.llm.Pipeline
import graft.plan.Planner
import graft.spec._

/** Where a workload keeps its planted input and its written output. Both
  * live under the run's work directory; `out` is emptied before every
  * iteration. */
final case class Dirs(input: File, out: File)

/** One benchmark workload. `run` is the timed call into the library; the
  * other methods run outside the timed region. */
trait Workload {
  type Out

  /** Writes the workload's input, if it has one. Part of set-up. */
  def plant(spark: SparkSession): Unit = ()

  /** One timed iteration. `tr` wraps each call into a library layer. */
  def run(spark: SparkSession, tr: Tracer): Out

  /** The output rows counted by rows_per_s, and the problems found with the
    * output (none when it is correct). */
  def check(spark: SparkSession, out: Out): (Long, Seq[String])

  /** Per-layer metrics read from a traced iteration's output. */
  def layers(spark: SparkSession, out: Out, tr: Tracer): Map[String, Double] = Map.empty

  /** Parquet bytes per output row of a checked output with `rows` rows. */
  def bytesPerRow(spark: SparkSession, out: Out, rows: Long): Double
}

object Workload {
  val Names: Seq[String] = Seq("iot_write", "curate_docs")

  /** iot_write is sized so that an iteration takes about 1.5 seconds on
    * four cores: long enough that per-job overhead does not dominate, short
    * enough that a run holds several iterations. A
    * curate_docs iteration costs about 20 s on four cores at any corpus
    * size (near_dedup's 200-partition shuffles create tens of thousands of
    * shuffle files), so its corpus is small. */
  def apply(name: String, seed: Long, dirs: Dirs): Workload = name match {
    case "iot_write" => new IotWrite(seed, dirs, rows = 600000L)
    case "curate_docs" => new CurateDocs(seed, dirs, docs = 5000L)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; one of ${Names.mkString(", ")}")
  }

  /** Every row of every column flows through the write path and is dropped. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Data files of a parquet output directory, without markers. */
  def dataFiles(dir: File): Seq[File] = Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
    if (f.isDirectory) dataFiles(f)
    else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
    else Seq(f)
  }

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum
}

/** The reference's IOT table: nine columns of weighted values, formatted
  * sequences, patterns, templates and timestamps. Partitioning is left to
  * the engine. */
object Iot {
  def spec(rows: Long): TableSpec = {
    def c(n: String, t: String, s: ColumnStrategy) = ColumnSpec(n, t, s)
    TableSpec("iot", rows, Seq(
      c("internal_device_id", "bigint", ColumnStrategy.Sequence(0x100000000L, 1)),
      c("device_id", "string", ColumnStrategy.Sequence(0x100000000L, 1))
        .copy(format = Some("0x%013x")),
      c("country", "string", ColumnStrategy.Values(
        Seq("US", "UK", "DE", "FR", "JP", "CN", "IN", "BR"),
        Seq(0.3, 0.1, 0.1, 0.1, 0.1, 0.15, 0.1, 0.05))),
      c("manufacturer", "string", ColumnStrategy.Values(
        Seq("Delta corp", "Xyzzy Inc.", "Lakehouse Ltd", "Acme Corp", "Embanks Devices"))),
      c("line", "string", ColumnStrategy.Pattern("ln-{alpha:8}")),
      c("model_ser", "int", ColumnStrategy.Range(1, 11, Some(1))),
      c("event_type", "string", ColumnStrategy.Values(
        Seq("activation", "deactivation", "plan change", "telecoms activity",
          "internet activity", "device error"),
        Seq(0.1, 0.05, 0.05, 0.3, 0.4, 0.1))),
      c("phone_number", "string", ColumnStrategy.Template("""(ddd)-ddd-dddd""")),
      c("event_ts", "timestamp", ColumnStrategy.Timestamp(
        java.time.Instant.parse("2020-01-01T00:00:00Z"),
        java.time.Instant.parse("2020-12-31T23:59:00Z"), 60))))
  }
}

/** `iot_write`: generate the IOT table and write it as parquet. */
final class IotWrite(seed: Long, dirs: Dirs, rows: Long) extends Workload {
  type Out = DataFrame
  private val spec = Iot.spec(rows)
  private val plan = DataGenPlan(Seq(spec), seed)
  private var noopDigest: Option[Checks.Digest] = None

  def run(spark: SparkSession, tr: Tracer): DataFrame = {
    if (tr.on) tr.span("plan.resolve")(Planner.resolveOrThrow(plan))
    val df = tr.span("engine.build")(Generator.generate(spark, plan)(spec.name))
    if (tr.on) tr.span("spark.plan")(df.queryExecution.executedPlan)
    tr.span("io.write")(Writer.writeBatch(df,
      OutputDataset(dirs.out.getPath, options = Writer.parquetEncodingHints(spec))))
    df
  }

  def check(spark: SparkSession, df: DataFrame): (Long, Seq[String]) = {
    // The generated rows are the same in every iteration of a run, so the
    // noop-path digest is taken once.
    val want = noopDigest.getOrElse { val d = Checks.digest(df); noopDigest = Some(d); d }
    (rows, Checks.iot(want, Checks.digest(spark.read.parquet(dirs.out.getPath)), rows))
  }

  /** io.write_s is the parquet write minus a noop pass over the same frame. */
  override def layers(spark: SparkSession, df: DataFrame, tr: Tracer): Map[String, Double] = {
    tr.span("io.noop")(Workload.noop(df))
    val s = tr.seconds
    Map("io.write_s" -> (s("io.write") - s("io.noop")),
      "io.bytes_written" -> Workload.bytes(dirs.out).toDouble,
      "io.files_written" -> Workload.dataFiles(dirs.out).size.toDouble)
  }

  def bytesPerRow(spark: SparkSession, df: DataFrame, rows: Long): Double =
    Workload.bytes(dirs.out).toDouble / rows
}

/** `curate_docs`: the curation pipeline over the planted [[Corpus]], with an
  * eval set for decontamination. */
final class CurateDocs(seed: Long, dirs: Dirs, docs: Long) extends Workload {
  type Out = Pipeline.Result

  override def plant(spark: SparkSession): Unit =
    Corpus.docs(spark, docs, seed).write.mode("overwrite").parquet(dirs.input.getPath)

  def run(spark: SparkSession, tr: Tracer): Pipeline.Result = {
    val corpus = spark.read.parquet(dirs.input.getPath)
    tr.span("llm.curate")(Pipeline.curate(corpus, "doc_id", "text",
      Some(Corpus.eval(spark, docs, seed))))
  }

  private def stats(r: Pipeline.Result): Seq[Checks.StageStat] =
    r.stats.orderBy("ord").collect().toSeq.map(x =>
      Checks.StageStat(x.getString(1), x.getLong(2), x.getDouble(4), x.getLong(5)))

  def check(spark: SparkSession, r: Pipeline.Result): (Long, Seq[String]) =
    (docs, Checks.curate(stats(r), docs))

  override def layers(spark: SparkSession, r: Pipeline.Result, tr: Tracer): Map[String, Double] = {
    val ss = stats(r)
    ss.flatMap(s =>
      Seq(s"llm.${s.stage}_s" -> s.wallS, s"llm.${s.stage}.rows_out" -> s.rowsOut.toDouble))
      .toMap + ("llm.near_dedup.capped_rows" ->
        ss.filter(_.stage == "near_dedup").map(_.cappedRows.toDouble).sum)
  }

  def bytesPerRow(spark: SparkSession, r: Pipeline.Result, rows: Long): Double = {
    Writer.writeBatch(r.docs, OutputDataset(new File(dirs.out, "docs").getPath))
    Workload.bytes(dirs.out).toDouble / Corpus.expectedRowsOut(docs)("decontaminate")
  }
}
