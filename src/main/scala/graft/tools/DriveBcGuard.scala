package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evidence drive for the two arms of a set-guard [[graft.functions.Payload]]:
  * at a large gram set, the EMBEDDED arm re-serializes the whole set into
  * every stage's (and every micro-batch's) task binary, while the
  * broadcast arm ships a handle and pays the set transfer once. Measures
  * (a) the serialized EXPRESSION payload both ways — what actually rides
  * the task binary per stage — and (b) per-batch wall over K successive
  * filter actions (the foreachBatch/micro-batch shape), embedded vs
  * broadcast, with verdict-identity checked. Appends one line to
  * `bench_ops_scale.json`. */
object DriveBcGuard {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nGrams = args.headOption.map(_.toInt).getOrElse(20000000) // 160 MB
    val batches = 5
    val grams: Array[Long] = Array.tabulate(nGrams) { i =>
      var z = i.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def batch(k: Int): DataFrame = spark.range(2000000L).toDF("id")
      .withColumn("arr", array((0 until 8).map(j =>
        xxhash64(col("id"), lit(k), lit(j))): _*))
    def mat(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    // (a) Serialized expression payload — the per-stage task-binary rider.
    val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
    val kernels = graft.functions.SetKernels
    val set = kernels.LongSortedSet.of(grams)
    val embCol = kernels.anyInSet(col("arr"), graft.functions.Payload.Embedded(set))
    val bcCol = kernels.anyInSet(col("arr"), graft.functions.Payload.broadcast(set))
    def exprBytes(c: org.apache.spark.sql.Column): Long =
      ser.serialize(org.apache.spark.sql.graftshim.GraftSql.expression(c)).limit().toLong
    val embBytes = exprBytes(embCol)
    val bcBytes = exprBytes(bcCol)
    println(s"CHECK expression payload: embedded=$embBytes bytes, broadcast handle=$bcBytes bytes")

    // (b) K successive batch filters, both arms; identical verdict counts.
    def runArm(c: org.apache.spark.sql.Column): (Seq[Double], Long) = {
      var kept = 0L
      val walls = (0 until batches).map { k =>
        val t0 = System.nanoTime()
        val n = batch(k).where(!coalesce(c, lit(false))).count()
        kept += n
        (System.nanoTime() - t0) / 1e9
      }
      (walls, kept)
    }
    runArm(bcCol); runArm(embCol) // warm codegen/JIT both arms, untimed
    val (embWalls, embKept) = runArm(embCol)
    val (bcWalls, bcKept) = runArm(bcCol)
    require(embKept == bcKept, s"verdict mismatch: $embKept vs $bcKept")
    def f(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    println(s"CHECK per-batch walls embedded=${f(embWalls)} broadcast=${f(bcWalls)} kept=$embKept (equal both arms)")

    val line =
      f"""{"bench":"bc_guard_${nGrams / 1000000}m_grams_${batches}x2m_docs","rows":${batches * 2000000L},""" +
        f""""embedded_expr_bytes":$embBytes,"broadcast_expr_bytes":$bcBytes,""" +
        f""""embedded_batch_sec":${f(embWalls)},"broadcast_batch_sec":${f(bcWalls)},""" +
        f""""embedded_sum_sec":${embWalls.sum}%.2f,"broadcast_sum_sec":${bcWalls.sum}%.2f}"""
    println(s"CHECK $line")
    val path = java.nio.file.Paths.get("bench_ops_scale.json")
    val name = line.split("\"")(3)
    val merged =
      if (!java.nio.file.Files.exists(path)) line + "\n"
      else {
        val kept = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .linesIterator.filter(l => l.nonEmpty && l.split("\"")(3) != name)
        (kept ++ Iterator(line)).mkString("", "\n", "\n")
      }
    java.nio.file.Files.write(path, merged.getBytes("UTF-8"))
    spark.stop()
  }
}
