package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook exposing the native kernels to SQL:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *
  * For an already-running session (extensions are applied only at session
  * construction), [[GraftExtensions.register]] installs the same functions
  * into the session's registry directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def two(name: String, build: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects exactly 2 arguments, got ${children.length}")
    build(children(0), children(1))
  }

  private def literalInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def literalDouble(e: Expression, what: String): Double = e match {
    // SQL numeric literals arrive as double, int/long, or (for `2.0`
    // under the default parser) Decimal — accept all of them.
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Float, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(
      v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  /** (identifier, info, builder) triples — the injectFunction payload. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[VectorKernels.DotProduct].getName, "graft_dot"),
      two("graft_dot", VectorKernels.DotProduct)),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[VectorKernels.CosineSimilarity].getName, "graft_cosine"),
      two("graft_cosine", VectorKernels.CosineSimilarity)),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[ShingleSketch.SimHash64].getName, "graft_simhash"),
      { children =>
        require(children.length == 1,
          s"graft_simhash expects exactly 1 argument, got ${children.length}")
        ShingleSketch.SimHash64(children.head)
      }),
    (FunctionIdentifier("graft_shingle_sketch"),
      new ExpressionInfo(classOf[ShingleSketch.Sketch].getName, "graft_shingle_sketch"),
      { children =>
        require(children.length == 3,
          s"graft_shingle_sketch expects (tokens, width, numHashes), got ${children.length} args")
        ShingleSketch.Sketch(children.head,
          literalInt(children(1), "width"), literalInt(children(2), "numHashes"))
      }),
    (FunctionIdentifier("graft_hyperplane_keys"),
      new ExpressionInfo(classOf[HyperplaneSketch.Keys].getName, "graft_hyperplane_keys"),
      { children =>
        require(children.length == 3,
          s"graft_hyperplane_keys expects (vec, planes, probes), got ${children.length} args")
        HyperplaneSketch.Keys(children.head,
          literalInt(children(1), "planes"), literalInt(children(2), "probes"))
      }),
    (FunctionIdentifier("graft_quantize_i8"),
      new ExpressionInfo(classOf[QuantizeKernel.Quantize].getName, "graft_quantize_i8"),
      { children =>
        require(children.length == 1,
          s"graft_quantize_i8 expects exactly 1 argument, got ${children.length}")
        QuantizeKernel.Quantize(children.head)
      }),
    (FunctionIdentifier("graft_langid"),
      new ExpressionInfo(classOf[LangIdKernel.LanguageId].getName, "graft_langid"),
      { children =>
        require(children.length == 1 || children.length == 2,
          s"graft_langid expects (text[, minHits]), got ${children.length} args")
        val minHits = if (children.length == 2) literalInt(children(1), "minHits") else 1
        LangIdKernel.LanguageId(children.head, minHits)
      }),
    (FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStatsKernel.TextStats].getName, "graft_text_stats"),
      { children =>
        require(children.length == 2,
          s"graft_text_stats expects (text, width), got ${children.length} args")
        TextStatsKernel.TextStats(children.head, literalInt(children(1), "width"))
      }),
    (FunctionIdentifier("graft_quality_stats"),
      new ExpressionInfo(classOf[TextStatsKernel.QualityStats].getName, "graft_quality_stats"),
      { children =>
        require(children.length == 1,
          s"graft_quality_stats expects exactly 1 argument, got ${children.length}")
        TextStatsKernel.QualityStats(children.head)
      }),
    (FunctionIdentifier("graft_gamma_quantile"),
      new ExpressionInfo(classOf[DistKernels.GammaQuantileExpr].getName, "graft_gamma_quantile"),
      { children =>
        require(children.length == 3,
          s"graft_gamma_quantile expects (u, shape, scale), got ${children.length} args")
        DistKernels.GammaQuantileExpr(children.head,
          literalDouble(children(1), "shape"), literalDouble(children(2), "scale"))
      }),
    (FunctionIdentifier("graft_beta_quantile"),
      new ExpressionInfo(classOf[DistKernels.BetaQuantileExpr].getName, "graft_beta_quantile"),
      { children =>
        require(children.length == 3,
          s"graft_beta_quantile expects (u, alpha, beta), got ${children.length} args")
        DistKernels.BetaQuantileExpr(children.head,
          literalDouble(children(1), "alpha"), literalDouble(children(2), "beta"))
      }),
    (FunctionIdentifier("graft_any_in_set"),
      new ExpressionInfo(classOf[SetKernels.ArrayAnyInSet].getName, "graft_any_in_set"),
      { children =>
        require(children.length == 2,
          s"graft_any_in_set expects (arr, set_literal_array), got ${children.length} args")
        SetKernels.ArrayAnyInSet(children.head,
          Payload(new SetKernels.LongSortedSet(literalLongArray(children(1), "set"))))
      }),
    (FunctionIdentifier("graft_count_in_set"),
      new ExpressionInfo(classOf[SetKernels.ArrayCountInSet].getName, "graft_count_in_set"),
      { children =>
        require(children.length == 2,
          s"graft_count_in_set expects (arr, set_literal_array), got ${children.length} args")
        SetKernels.ArrayCountInSet(children.head,
          Payload(new SetKernels.LongSortedSet(literalLongArray(children(1), "set"))))
      }),
    (FunctionIdentifier("graft_strip_lines_in_set"),
      new ExpressionInfo(classOf[SetKernels.StripLinesInSet].getName, "graft_strip_lines_in_set"),
      { children =>
        require(children.length == 2,
          s"graft_strip_lines_in_set expects (text, line_hash_literal_array), got ${children.length} args")
        SetKernels.StripLinesInSet(children.head,
          Payload(new SetKernels.LongSortedSet(literalLongArray(children(1), "set"))))
      }))

  /** A foldable array-of-integral expression (e.g. `array(1, 2, 3)`)
    * evaluated at resolution time into the kernel's sorted set. */
  private def literalLongArray(e: Expression, what: String): Array[Long] = {
    require(e.foldable, s"$what must be a foldable array literal, got $e")
    e.eval(null) match {
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        val dt = e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        (0 until arr.numElements()).map { i =>
          require(!arr.isNullAt(i), s"$what must not contain nulls")
          dt match {
            case org.apache.spark.sql.types.LongType => arr.getLong(i)
            case org.apache.spark.sql.types.IntegerType => arr.getInt(i).toLong
            case org.apache.spark.sql.types.ShortType => arr.getShort(i).toLong
            case other => throw new IllegalArgumentException(
              s"$what must be an integral array, got element type $other")
          }
        }.toArray.sorted
      case other => throw new IllegalArgumentException(
        s"$what must evaluate to an array, got $other")
    }
  }

  /** Install into a live session (idempotent — overwrites are replaces). */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
