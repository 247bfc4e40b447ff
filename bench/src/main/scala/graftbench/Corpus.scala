package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The planted corpus of `curate_docs`: every stage of `Pipeline.curate` has
  * work to do, and the rows each stage keeps follow from the document ids
  * alone. Families by `id % 17`:
  *  - 1: French, dropped by langid_filter;
  *  - 2: punctuation spam, dropped by quality_filter;
  *  - 3: a repeated line, shortened by line_dedup;
  *  - 4: an exact copy of doc `id - 4`, dropped by exact_dedup;
  *  - 5: doc `id - 5` plus one token (shingle Jaccard 19/20 = 0.95), dropped
  *    by near_dedup, which misses such a pair with odds of about 3e-8;
  *  - everything else: a good English document.
  * The eval set holds copies of the first 64 docs with `id % 17 == 6`, which
  * decontaminate drops.
  *
  * The interior words of a good document come from Zipf-weighted template
  * families bounded to 2000-doc blocks, so documents share boilerplate the
  * way real ones do, while the largest near-dup bucket stays two orders of
  * magnitude under the bucket cap (capped_rows must be 0). `salt` picks the
  * families; it leaves the id arithmetic unchanged. */
object Corpus {

  val EvalDocs = 64

  private def famWord(id: Column, tag: String, salt: Long): Column = {
    val u = (pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
    val rank = floor(pow(lit(1000.0), u)).cast("long")
    val fam = (id.cast("long") / 2000L) * 1009L + rank
    // Letters, not digits: digits would sink alpha_ratio under the quality gate.
    concat(lit("s"), translate(fam.cast("string"), "0123456789", "abcdefghij"), lit(tag))
  }

  /** A good English document for `id`, which must be a long column:
    * xxhash64 of a string differs from xxhash64 of the same number. */
  private def enGood(id: Column, salt: Long): Column = {
    val is = id.cast("string")
    def w(tag: String) = famWord(id, tag, salt)
    concat(lit("w"), is,
      lit("a the "), w("a"), lit(" "), w("b"), lit(" "), w("c"), lit(" over the "), w("d"),
      lit(" "), w("e"), lit(" "), w("f"), lit(" w"), is,
      lit("b it was "), w("g"), lit(" that it is "), w("h"), lit(" and now w"), is, lit("c"))
  }

  /** `docs` rows of (doc_id, text). */
  def docs(spark: SparkSession, docs: Long, salt: Long): DataFrame = {
    val id = col("id")
    val i = id.cast("string")
    def w(tag: String) = famWord(id, tag, salt)
    val body = when(pmod(id, lit(17)) === 1,
        concat(lit("le chat et le chien sont dans la maison avec les amis et la famille w"), i))
      .when(pmod(id, lit(17)) === 2, lit("the it was " +
        Seq("!", "?", "@", "#", "$", "%", "^").map(_ * 20).mkString(" ")))
      .when(pmod(id, lit(17)) === 3, concat(
        lit("the "), w("p"), lit(" sat on the "), w("q"), lit(" with w"), i, lit("x\n"),
        lit("it was "), w("r"), lit(" and it is "), w("t"), lit(" w"), i, lit("y\n"),
        lit("it was "), w("r"), lit(" and it is "), w("t"), lit(" w"), i, lit("y")))
      .when(pmod(id, lit(17)) === 4, enGood(id - 4, salt))
      .when(pmod(id, lit(17)) === 5, concat(enGood(id - 5, salt), lit(" extra")))
      .otherwise(enGood(id, salt))
    spark.range(docs).select(id.as("doc_id"), body.as("text"))
  }

  /** The eval set: ids past the corpus, texts of docs 6, 23, 40, ... */
  def eval(spark: SparkSession, docs: Long, salt: Long): DataFrame =
    spark.range(EvalDocs).select((col("id") + docs + 7L).as("doc_id"),
      enGood(col("id") * 17 + 6, salt).as("text"))

  /** rows_out of each stage, from the id arithmetic. */
  def expectedRowsOut(docs: Long): Map[String, Long] = {
    def cnt(k: Long): Long = docs / 17 + (if (k < docs % 17) 1L else 0L)
    val lang = docs - cnt(1)
    val qual = lang - cnt(2)
    val exact = qual - cnt(4)
    val near = exact - cnt(5)
    Map("input" -> docs, "fix_encoding" -> docs, "html_extract" -> docs,
      "langid_filter" -> lang, "quality_filter" -> qual, "line_dedup" -> qual,
      "exact_dedup" -> exact, "near_dedup" -> near,
      "decontaminate" -> (near - math.min(EvalDocs.toLong, cnt(6))))
  }
}
