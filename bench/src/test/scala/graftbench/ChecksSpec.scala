package graftbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Generator
import graft.spec.DataGenPlan

/** The output checks accept a correct output and reject a corrupted one. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SessionTuning.tune(SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("iot: a parquet round trip matches the noop digest; a changed value does not") {
    val rows = 2000L
    val df = Generator.generate(spark, DataGenPlan(Seq(Iot.spec(rows)), 7L))("iot")
    val dir = Files.createTempDirectory("graftbench-iot").toString
    df.write.mode("overwrite").parquet(dir)
    val noop = Checks.digest(df)
    val back = spark.read.parquet(dir)
    assert(Checks.iot(noop, Checks.digest(back), rows).isEmpty)

    val changed = back.withColumn("model_ser",
      when(col("internal_device_id") === 0x100000005L, col("model_ser") + 1)
        .otherwise(col("model_ser")))
    assert(Checks.iot(noop, Checks.digest(changed), rows).nonEmpty)
    assert(Checks.iot(noop, Checks.digest(back.limit(1999)), rows).nonEmpty)
    assert(Checks.iot(noop, noop, rows + 1).nonEmpty)
  }

  test("curate: planted counts pass; a changed count, a capped bucket or a missing stage fail") {
    val docs = 5000L
    val ok = Corpus.expectedRowsOut(docs).toSeq.map { case (s, n) =>
      Checks.StageStat(s, n, 0.1, 0L) }
    assert(Checks.curate(ok, docs).isEmpty)
    val off = ok.map(s => if (s.stage == "near_dedup") s.copy(rowsOut = s.rowsOut + 1) else s)
    assert(Checks.curate(off, docs).exists(_.startsWith("near_dedup kept")))
    val capped = ok.map(s => if (s.stage == "near_dedup") s.copy(cappedRows = 3) else s)
    assert(Checks.curate(capped, docs).exists(_.contains("capped 3 rows")))
    assert(Checks.curate(ok.filterNot(_.stage == "decontaminate"), docs)
      .exists(_.contains("decontaminate missing")))
  }

  test("curate: the plant's id arithmetic") {
    val want = Corpus.expectedRowsOut(34)
    // Two docs of every family: 2 French, 2 spam, 2 exact and 2 near copies,
    // and 2 docs with id % 17 == 6, both in the eval set.
    assert(want("langid_filter") == 32 && want("quality_filter") == 30)
    assert(want("exact_dedup") == 28 && want("near_dedup") == 26)
    assert(want("decontaminate") == 24)
    val plant = Corpus.docs(spark, 34, 5L).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(plant(4 + 17) == plant(17))
    assert(plant(5 + 17) == plant(17) + " extra")
    val eval = Corpus.eval(spark, 34, 5L).collect().map(_.getString(1)).toSet
    assert(eval.contains(plant(6)) && eval.contains(plant(23)))
  }
}
