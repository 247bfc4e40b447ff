package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types._

/** Membership tests of an `array<long>` column against a driver-known
  * long set — the per-row form of "does this document share a fingerprint
  * with the reference set". A join spells the same thing relationally, but
  * needs a second pass to reassemble per-row verdicts (an aggregation —
  * which under streaming means watermarked state, and joining a stream
  * against a frame DERIVED from itself is outright unsupported). A pure
  * per-row expression is stateless, streams through any plan position, and
  * whole-stage-codegen fuses it.
  *
  * The set ships as a sorted array inside a [[Payload]] — embedded in the
  * plan below 8 MB, broadcast at or above it: 8 bytes per element,
  * binary search per probe. Sized for driver-collectable sets
  * (an eval benchmark's grams — 10^5..10^7 longs); corpus-scale sets
  * belong in a join.
  */
object SetKernels {

  /** Shared '\n' separator for [[LongSortedSet.stripLines]] — a constant
    * the per-row kernel must not reallocate. */
  private[functions] val NewlineUtf8: org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString("\n")

  /** Sorted-array set with binary-search probes; shipped to executors in
    * a [[Payload]]. Equality/hashCode are CONTENT-based
    * with a precomputed hash, because the expression tree embeds this
    * object: plan canonicalization and codegen-cache keys compare
    * expressions repeatedly, and a structural Seq field would walk up to
    * 10^7 boxed elements on the driver per comparison (Spark's own InSet
    * wraps its literal set for the same reason). */
  final class LongSortedSet(val sorted: Array[Long]) extends Payload.Sized {
    def payloadBytes: Long = 8L * sorted.length
    override val hashCode: Int = java.util.Arrays.hashCode(sorted)
    override def equals(other: Any): Boolean = other match {
      case o: LongSortedSet =>
        (this eq o) || (hashCode == o.hashCode &&
          java.util.Arrays.equals(sorted, o.sorted))
      case _ => false
    }
    override def toString: String =
      s"LongSortedSet(n=${sorted.length}, hash=$hashCode)"

    /** SQL three-valued membership: TRUE if ANY non-null element is in the
      * set (a hit is a hit regardless of null neighbors — `TRUE OR
      * UNKNOWN = TRUE`, matching `array_contains`); null if no element hit
      * but a null element was seen (membership unknown); else false. */
    def containsAny(arr: ArrayData): Any = {
      val n = arr.numElements()
      var sawNull = false
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) sawNull = true
        else if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) return true
        i += 1
      }
      if (sawNull) null else false
    }

    /** [[StripLinesInSet]]'s evaluation body (interpreted + codegen paths
      * both land here): rebuild `text` with every line whose seed-42
      * xxhash64 is a member removed. Lives on the set — the payload
      * structure — per the kernel convention. */
    def stripLines(text: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.unsafe.types.UTF8String = {
      import org.apache.spark.unsafe.types.UTF8String
      val nl = SetKernels.NewlineUtf8 // hoisted: the kernel runs per row
      // limit -1: trailing empty lines survive, matching split(col, "\n").
      val parts = text.split(nl, -1)
      val kept = new java.util.ArrayList[UTF8String](parts.length)
      var i = 0
      while (i < parts.length) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(parts(i), 42L)
        if (java.util.Arrays.binarySearch(sorted, h) < 0) kept.add(parts(i))
        i += 1
      }
      UTF8String.concatWs(nl, kept.toArray(new Array[UTF8String](kept.size)): _*)
    }

    /** Count of elements present in the set; null when ANY element is null
      * (the exact count is unknowable — a null element might or might not
      * be a member). */
    def countIn(arr: ArrayData): Any = {
      val n = arr.numElements()
      var hits = 0L
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) hits += 1L
        i += 1
      }
      hits
    }
  }

  object LongSortedSet {
    /** The set of `values` (copied, then sorted). */
    def of(values: Array[Long]): LongSortedSet = new LongSortedSet(values.clone().sorted)
  }

  sealed abstract class SetProbe extends UnaryExpression {
    def set: Payload[LongSortedSet]
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${other.simpleString}")
    }
  }

  /** TRUE iff any element is in the set (see [[LongSortedSet.containsAny]]
    * for the null semantics). The set rides in the case class as the
    * content-hashed holder, so structural plan comparisons stay cheap. */
  case class ArrayAnyInSet(child: Expression, set: Payload[LongSortedSet]) extends SetProbe {
    override def prettyName: String = "graft_any_in_set"
    override def dataType: DataType = BooleanType
    override def nullSafeEval(input: Any): Any =
      set.get().containsAny(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = Payload.bind(ctx, set, "graft.functions.SetKernels.LongSortedSet",
        "longSet")
      val r = ctx.freshName("setRes")
      nullSafeCodeGen(ctx, ev, arr => s"""
        Object $r = $ref.containsAny($arr);
        ${ev.isNull} = ($r == null);
        if (!${ev.isNull}) ${ev.value} = ((Boolean) $r).booleanValue();""")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Count of elements present in the set (null when any element is null —
    * the count is unknowable, see [[LongSortedSet.countIn]]). */
  case class ArrayCountInSet(child: Expression, set: Payload[LongSortedSet]) extends SetProbe {
    override def prettyName: String = "graft_count_in_set"
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      set.get().countIn(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = Payload.bind(ctx, set, "graft.functions.SetKernels.LongSortedSet",
        "longSet")
      val r = ctx.freshName("setRes")
      nullSafeCodeGen(ctx, ev, arr => s"""
        Object $r = $ref.countIn($arr);
        ${ev.isNull} = ($r == null);
        if (!${ev.isNull}) ${ev.value} = ((Long) $r).longValue();""")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Rebuild a text with every line whose `xxhash64(line)` is in the set
    * REMOVED — the per-row half of the corpus-frequent-line strip
    * ([[graft.llm.Dedup.removeCorpusFrequentLines]] computes the same rule
    * relationally when the frequency pass and the strip run over one
    * corpus; this kernel applies a driver-known frequent-line vocabulary
    * to any LATER frame or stream). One fused pass: split on '\n',
    * seed-42 `XXH64.hashUTF8String` per line (bit-identical to the
    * `xxhash64(col)` key the frequency pass groups on), binary-search
    * probe, join survivors. Stateless, stream-safe, codegen'd. */
  case class StripLinesInSet(child: Expression, set: Payload[LongSortedSet])
      extends UnaryExpression {
    import org.apache.spark.unsafe.types.UTF8String
    override def prettyName: String = "graft_strip_lines_in_set"
    override def nullable: Boolean = child.nullable
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${other.simpleString}")
    }
    override def nullSafeEval(input: Any): Any =
      set.get().stripLines(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = Payload.bind(ctx, set, "graft.functions.SetKernels.LongSortedSet",
        "stripSet")
      nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.stripLines($t);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def anyInSet(arr: Column, set: Payload[LongSortedSet]): Column =
    GraftSql.column(ArrayAnyInSet(GraftSql.expression(arr), set))

  def stripLinesIn(text: Column, lineHashes: Payload[LongSortedSet]): Column =
    GraftSql.column(StripLinesInSet(GraftSql.expression(text), lineHashes))

  def countInSet(arr: Column, set: Payload[LongSortedSet]): Column =
    GraftSql.column(ArrayCountInSet(GraftSql.expression(arr), set))

  /** Bloom-filter form of the long set: `bitsPerKey` bits per element
    * instead of 64, at the price of a tunable false-POSITIVE rate
    * (~0.6185^bitsPerKey with the optimal probe count; never false
    * negatives). The sorted array stops being driver/executor-friendly
    * somewhere around 10^8 grams (~800 MB); the bloom pushes that
    * ceiling ~3-6x further for membership-style guards whose consumers
    * tolerate "maybe" (decontamination drops a few extra clean docs, it
    * never ships a contaminated one).
    *
    * Hashing: two independent splitmix64 finalizer mixes drive
    * double-hashing (`h1 + i*h2` over k probes) — the standard
    * Kirsch–Mitzenmacher construction. Content-based equality via the
    * precomputed hash, like [[LongSortedSet]]. */
  final class LongBloomSet(val words: Array[Long], val k: Int) extends Payload.Sized {
    require(words.nonEmpty && k >= 1, "empty bloom filter")
    def payloadBytes: Long = 8L * words.length
    private val nBits: Long = words.length.toLong * 64L
    override val hashCode: Int = 31 * java.util.Arrays.hashCode(words) + k
    override def equals(other: Any): Boolean = other match {
      case o: LongBloomSet =>
        (this eq o) || (hashCode == o.hashCode && k == o.k &&
          java.util.Arrays.equals(words, o.words))
      case _ => false
    }
    override def toString: String =
      s"LongBloomSet(bits=$nBits, k=$k, hash=$hashCode)"

    def mightContain(v: Long): Boolean = {
      val h1 = LongBloomSet.mix(v, 0x9E3779B97F4A7C15L)
      val h2 = LongBloomSet.mix(v, 0xC2B2AE3D27D4EB4FL) | 1L
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
        if ((words((bit >>> 6).toInt) & (1L << (bit & 63L))) == 0L) return false
        i += 1
      }
      true
    }

    /** Same three-valued semantics as [[LongSortedSet.containsAny]]. */
    def containsAny(arr: ArrayData): Any = {
      val n = arr.numElements()
      var sawNull = false
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) sawNull = true
        else if (mightContain(arr.getLong(i))) return true
        i += 1
      }
      if (sawNull) null else false
    }
  }

  object LongBloomSet {
    /** splitmix64 finalizer seeded by `salt` — full-avalanche 64-bit mix. */
    private[SetKernels] def mix(v: Long, salt: Long): Long = {
      var z = v + salt
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

    /** Build from distinct values at `bitsPerKey` bits each (k probes =
      * bitsPerKey * ln 2 rounded, the optimum). bitsPerKey = 20 gives a
      * per-element false-positive rate of ~6e-5. */
    def build(values: Array[Long], bitsPerKey: Int): LongBloomSet = {
      val b = builder(values.length.toLong, bitsPerKey)
      values.foreach(b.add)
      b.result()
    }

    /** Probe count for a bits-per-key budget (k = bitsPerKey·ln2, the
      * textbook optimum) — the `k` half of the filter geometry. */
    def probesFor(bitsPerKey: Int): Int =
      math.max(1, math.round(bitsPerKey * math.log(2.0)).toInt)

    /** Word-array length for an expected key count — the size half of the
      * filter geometry. Two filters built with the same
      * (expectedKeys, bitsPerKey) have identical geometry, which makes
      * their bitwise OR an EXACT union (the distributed-build invariant). */
    def wordsFor(expectedKeys: Long, bitsPerKey: Int): Int = {
      require(bitsPerKey >= 4 && bitsPerKey <= 64,
        s"bitsPerKey must be in [4, 64], got $bitsPerKey")
      require(expectedKeys >= 0 && expectedKeys <= (Int.MaxValue.toLong * 64L) / bitsPerKey,
        s"bloom for $expectedKeys keys at $bitsPerKey bits/key exceeds a single word array")
      val nBits = math.max(64L, expectedKeys * bitsPerKey)
      ((nBits + 63) / 64).toInt
    }

    /** Set `v`'s k probe bits in a raw word array — the one shared write
      * path of the serial [[Builder]] and the distributed treeAggregate
      * build (same bit math ⇒ same filter regardless of add order or
      * duplicate keys: OR is idempotent and commutative). */
    def addTo(words: Array[Long], k: Int, v: Long): Unit = {
      val total = words.length.toLong * 64L
      val h1 = mix(v, 0x9E3779B97F4A7C15L)
      val h2 = mix(v, 0xC2B2AE3D27D4EB4FL) | 1L
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, total)
        words((bit >>> 6).toInt) |= (1L << (bit & 63L))
        i += 1
      }
    }

    /** Incremental form of [[build]] for key streams that never
      * materialize as one array: sized ONCE from `expectedKeys` — callers
      * must know the count up front (FP rate degrades if the stream
      * overshoots it). */
    def builder(expectedKeys: Long, bitsPerKey: Int): Builder =
      new Builder(new Array[Long](wordsFor(expectedKeys, bitsPerKey)),
        probesFor(bitsPerKey))

    final class Builder private[LongBloomSet] (words: Array[Long], k: Int) {
      def add(v: Long): Unit = addTo(words, k, v)
      def result(): LongBloomSet = new LongBloomSet(words, k)
    }
  }

  /** TRUE iff any element MIGHT be in the bloom set (no false negatives;
    * per-element false-positive rate set by the filter's sizing). Null
    * semantics mirror [[ArrayAnyInSet]]. */
  case class ArrayAnyInBloom(child: Expression, set: Payload[LongBloomSet])
      extends UnaryExpression {
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${other.simpleString}")
    }
    override def prettyName: String = "graft_any_in_bloom"
    override def dataType: DataType = BooleanType
    override def nullSafeEval(input: Any): Any =
      set.get().containsAny(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = Payload.bind(ctx, set, "graft.functions.SetKernels.LongBloomSet",
        "bloomSet")
      val r = ctx.freshName("setRes")
      nullSafeCodeGen(ctx, ev, arr => s"""
        Object $r = $ref.containsAny($arr);
        ${ev.isNull} = ($r == null);
        if (!${ev.isNull}) ${ev.value} = ((Boolean) $r).booleanValue();""")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def anyInBloom(arr: Column, set: Payload[LongBloomSet]): Column =
    GraftSql.column(ArrayAnyInBloom(GraftSql.expression(arr), set))
}
