package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, then time iterations of one workload for a
  * fixed number of seconds, check their outputs outside the timed region,
  * and write one JSON result.
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics. Traced runs
  * (`--trace 1`) alternate untraced and traced iterations and report the
  * per-layer metrics of the traced ones, plus the tracing overhead.
  * Every iteration's wall time, check result, noise markers and (traced)
  * layer metrics are printed as one `detail` JSON line.
  *
  * Usage: `graftbench.Main --workload <name> --seed <n> --seconds <n>
  *   --trace <0|1> --cores <n> --work <dir> --result <file>` */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "rows/s", "bytes_per_row" -> "B/row", "setup_s" -> "s")

  /** Stages of `Pipeline.curate` that report a wall time. */
  val CurateStages: Seq[String] = Seq("fix_encoding", "html_extract", "langid_filter",
    "quality_filter", "line_dedup", "exact_dedup", "near_dedup", "decontaminate")

  /** Per-layer metrics. Every traced run reports these and [[CurateLayers]];
    * a layer that a workload does not use reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plan.resolve_s" -> "s", "engine.build_s" -> "s", "spark.plan_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.task_skew" -> "ratio", "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B",
    "shuffle.spill_bytes" -> "B", "io.write_s" -> "s", "io.bytes_written" -> "B",
    "io.files_written" -> "count", "trace.overhead_s" -> "s")

  val CurateLayers: Seq[(String, String)] =
    CurateStages.flatMap(s => Seq(s"llm.${s}_s" -> "s", s"llm.$s.rows_out" -> "count")) :+
      ("llm.near_dedup.capped_rows" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: File, result: File)

  object Args {
    def parse(argv: Array[String]): Args = {
      require(argv.length % 2 == 0, s"expected --flag value pairs, got ${argv.mkString(" ")}")
      val m = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
      def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
      val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
        get("trace") match {
          case "0" => false
          case "1" => true
          case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
        },
        get("cores").toInt, new File(get("work")), new File(get("result")))
      require(a.seconds >= 1 && a.cores >= 1, s"bad --seconds or --cores in $a")
      a
    }
  }

  final case class Iteration(index: Int, traced: Boolean, wallS: Double, checkS: Double,
      rows: Long, problems: Seq[String], noise: Noise, layers: Map[String, Double]) {
    def ok: Boolean = problems.isEmpty
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val json = run(a)
    Files.write(a.result.toPath, (json + "\n").getBytes(UTF_8))
  }

  private def session(a: Args, local: File): SparkSession = {
    val spark = graft.SessionTuning.tune(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.local.dir", local.getPath)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  private def attempt[A](body: => A): Either[String, A] =
    try Right(body) catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  def run(a: Args): String = {
    val local = new File(a.work, "local")
    val dirs = Dirs(new File(a.work, "input"), new File(a.work, "out"))
    val w = Workload(a.workload, a.seed, dirs)
    val clearOut = () => { rmrf(dirs.out); dirs.out.getParentFile.mkdirs() }

    // Set-up, from JVM start: session start, input plant, and one warm-up
    // iteration, which fills the code caches. setup_s ends with the warm-up.
    // Its output is then checked and bytes_per_row is measured on it
    // (outputs are the same in every iteration of a run), outside setup_s.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Seq(local, dirs.input, dirs.out).foreach(rmrf)
    local.mkdirs()
    val spark = session(a, local)
    w.plant(spark)
    clearOut()
    val w0 = System.nanoTime()
    val warm = attempt(w.run(spark, Tracer.off))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warmupProblems = mutable.ArrayBuffer.empty[String]
    warm.left.foreach(warmupProblems += _)
    var bytesPerRow = Double.NaN
    warm.foreach(o => attempt {
      val (rows, problems) = w.check(spark, o)
      warmupProblems ++= problems
      if (problems.isEmpty) bytesPerRow = w.bytesPerRow(spark, o, rows)
    }.left.foreach(warmupProblems += _))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val sc = spark.sparkContext
    val listener = if (a.trace) Some(JobTagListener.install(sc)) else None
    val tracer = new Tracer(a.trace)
    val iters = mutable.ArrayBuffer.empty[Iteration]
    // At least one iteration (one untraced and one traced), however long.
    val minIters = if (a.trace) 2 else 1
    val loopStart = System.nanoTime()
    while (iters.size < minIters || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      val i = iters.size
      // Traced runs alternate the order within each pair (U T, T U, ...),
      // so drift over the run does not bias the overhead.
      val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
      val tag = s"graftbench-$i"
      clearOut()
      System.gc() // lets the context cleaner drop the last iteration's shuffle files
      tracer.reset()
      if (traced) sc.addJobTag(tag)
      val n0 = Noise.sample()
      val t0 = System.nanoTime()
      val out = attempt(w.run(spark, if (traced) tracer else Tracer.off))
      val wall = (System.nanoTime() - t0) / 1e9
      val noise = Noise.sample() - n0
      if (traced) sc.removeJobTag(tag)
      val c0 = System.nanoTime()
      val checked = out.flatMap(o => attempt(w.check(spark, o)))
      val checkS = (System.nanoTime() - c0) / 1e9
      val problems = checked.fold(Seq(_), _._2)
      val rows = checked.fold(_ => 0L, _._1)
      val layers = (for (o <- out.toOption if traced) yield {
        val jt = listener.get.totals(sc, tag)
        val s = tracer.seconds
        Map("plan.resolve_s" -> s.getOrElse("plan.resolve", 0.0),
          "engine.build_s" -> s.getOrElse("engine.build", 0.0),
          "spark.plan_s" -> s.getOrElse("spark.plan", 0.0),
          "spark.jobs" -> jt.jobs.toDouble, "spark.stages" -> jt.stages.toDouble,
          "spark.tasks" -> jt.tasks.toDouble, "spark.task_cpu_s" -> jt.taskCpuS,
          "spark.task_run_s" -> jt.taskRunS, "spark.gc_s" -> jt.gcS,
          "spark.task_skew" -> jt.taskSkew,
          "shuffle.write_bytes" -> jt.shuffleWriteBytes.toDouble,
          "shuffle.read_bytes" -> jt.shuffleReadBytes.toDouble,
          "shuffle.spill_bytes" -> jt.spillBytes.toDouble) ++ w.layers(spark, o, tracer)
      }).getOrElse(Map.empty)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val it = Iteration(i, traced, wall, checkS, rows, problems, noise, layers)
      iters += it
      println(detail(it, if (traced) tracer.recorded else Nil))
    }
    spark.stop()
    Seq(local, dirs.input, dirs.out).foreach(rmrf)

    val good = iters.toSeq.filter(_.ok)
    val failed = iters.size - good.size
    val plain = good.filterNot(_.traced)
    // NaN (written as null) only when every iteration failed.
    def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val metrics: Seq[(String, Double)] =
      if (!a.trace)
        Seq("wall_s" -> median(plain.map(_.wallS)),
          "rows_per_s" -> median(plain.map(i => i.rows / i.wallS)),
          "bytes_per_row" -> bytesPerRow,
          "setup_s" -> setupS)
      else {
        val traced = good.filter(_.traced)
        (PerLayer ++ CurateLayers).map(_._1).filter(_ != "trace.overhead_s").map(k =>
          k -> median(traced.map(_.layers.getOrElse(k, 0.0)))) :+
          ("trace.overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS))))
      }
    val units = (EndToEnd ++ PerLayer ++ CurateLayers).toMap
    val walls = plain.map(_.wallS)
    println(Json.obj(Seq("summary" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "iterations" -> iters.size.toString, "failed" -> failed.toString,
      "failed_frac" -> Json.num(failed.toDouble / iters.size),
      "setup_s" -> Json.num(setupS), "warmup_s" -> Json.num(warmupS),
      "warmup_problems" -> Json.arr(warmupProblems.toSeq.map(Json.str))) ++
      Stats.supportedPercentile(walls.size).map(p =>
        s"wall_s_p$p" -> Json.num(Stats.percentile(walls, p))) ++
      Seq("wall_s_n" -> walls.size.toString)))))
    Json.obj(Seq(
      "correct" -> (failed == 0 && warmupProblems.isEmpty).toString,
      "attempted" -> iters.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
      })))
  }

  private def detail(it: Iteration, spans: Seq[Tracer.Span]): String = Json.obj(Seq(
    "detail" -> Json.obj(Seq(
      "iteration" -> it.index.toString, "traced" -> it.traced.toString,
      "wall_s" -> Json.num(it.wallS), "check_s" -> Json.num(it.checkS),
      "rows" -> it.rows.toString,
      "problems" -> Json.arr(it.problems.map(Json.str)),
      "steal_s" -> Json.num(it.noise.stealS), "other_cpu_s" -> Json.num(it.noise.otherCpuS),
      "gc_ms" -> it.noise.gcMs.toString,
      "layers" -> Json.obj(it.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq("id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "seconds" -> Json.num(s.seconds)))))))))
}

/** Just enough JSON writing for the result and detail lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** A measured number with all its digits; JSON has no NaN, so null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
