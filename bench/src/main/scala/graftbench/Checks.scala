package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks, run outside the timed region. Each returns the problems it
  * found; an empty list means the output is correct. */
object Checks {

  /** Row count and the sum of every row's `xxhash64(struct(*))`, summed as a
    * decimal so that it cannot overflow. */
  final case class Digest(rows: Long, hashSum: java.math.BigDecimal)

  def digest(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(struct(col("*"))).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  /** `iot_write`: the parquet read back must carry exactly the rows the
    * generator produced for the noop sink, and those must number `rows`. */
  def iot(noop: Digest, readBack: Digest, rows: Long): Seq[String] =
    (if (noop.rows == rows) Nil
     else Seq(s"generated ${noop.rows} rows, the spec asks for $rows")) ++
      (if (readBack != noop) Seq(s"parquet read back $readBack, generated $noop") else Nil)

  /** One row of `Pipeline.Result.stats`. */
  final case class StageStat(stage: String, rowsOut: Long, wallS: Double, cappedRows: Long)

  /** `curate_docs`: every stage keeps exactly the rows the plant's id
    * arithmetic predicts (see [[Corpus]]), and the near-dup bucket cap
    * drops nothing. */
  def curate(stats: Seq[StageStat], docs: Long): Seq[String] = {
    val want = Corpus.expectedRowsOut(docs)
    val got = stats.map(s => s.stage -> s.rowsOut).toMap
    val rows = want.toSeq.flatMap { case (stage, n) =>
      got.get(stage) match {
        case Some(g) if g == n => Nil
        case Some(g) => Seq(s"$stage kept $g rows, the plant predicts $n")
        case None => Seq(s"stage $stage missing from the stats")
      }
    }
    rows ++ stats.filter(_.cappedRows != 0).map(s =>
      s"${s.stage} capped ${s.cappedRows} rows; the plant must not reach the bucket cap")
  }
}
