package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** A driver-built probe structure (a gram set, a bloom filter, a MIH
  * index) as a probe expression carries it. EMBEDDED, the structure rides
  * the expression itself, so every stage's (and every streaming
  * micro-batch's) serialized task binary re-ships it. BROADCAST, the task
  * binary carries only a TorrentBroadcast handle: the structure is
  * serialized once and each executor fetches and caches it once.
  *
  * [[Payload.apply]] is the one placement policy every probe kernel
  * shares: the arm is picked by the structure's own serialized size
  * against [[Payload.BroadcastThresholdBytes]], never by a caller. The
  * probe bodies are methods on the structure, so rows are identical on
  * either arm. Structural equality (the arms are case classes) keeps plan
  * canonicalization cheap: an embedded arm compares its structure, whose
  * equality is content-hashed or by reference. */
sealed abstract class Payload[T <: Payload.Sized] extends Product with Serializable {

  /** The structure — on the broadcast arm, this JVM's cached copy. */
  def get(): T

  /** Free the executor copies of a broadcast structure once no plan will
    * run against it again (a sharded pass that is already materialized).
    * Does nothing on the embedded arm. */
  def release(): Unit
}

object Payload {

  /** A probe structure that knows its serialized size in bytes. */
  trait Sized extends Serializable {
    def payloadBytes: Long
  }

  /** Size at or above which a payload is broadcast instead of embedded.
    * Below it the embedded form wins: no broadcast bookkeeping, and the
    * task binaries stay small. 8 MB = 1M longs. */
  val BroadcastThresholdBytes: Long = 8L << 20

  def apply[T <: Sized: scala.reflect.ClassTag](value: T): Payload[T] =
    if (value.payloadBytes >= BroadcastThresholdBytes) broadcast(value)
    else Embedded(value)

  // The arms' constructors and `apply`s are package-private: outside
  // `graft`, only [[Payload.apply]]'s size policy picks an arm.
  final case class Embedded[T <: Sized] private[graft] (value: T) extends Payload[T] {
    def get(): T = value
    def release(): Unit = ()
  }
  object Embedded {
    private[graft] def apply[T <: Sized](value: T): Embedded[T] = new Embedded(value)
  }

  final case class Broadcasted[T <: Sized] private[graft] (bc: Broadcast[T])
      extends Payload[T] {
    // One `value` lookup per deserialized handle, not one per row.
    @transient private lazy val local: T = bc.value
    def get(): T = local
    def release(): Unit = bc.unpersist(blocking = false)
  }
  object Broadcasted {
    private[graft] def apply[T <: Sized](bc: Broadcast[T]): Broadcasted[T] = new Broadcasted(bc)
  }

  private[graft] def broadcast[T <: Sized: scala.reflect.ClassTag](value: T): Payload[T] =
    Broadcasted(SparkSession.active.sparkContext.broadcast(value))

  /** The codegen binding every probe expression shares: the handle rides
    * the generated class as one reference object, and the structure binds
    * to a mutable slot of class `cls` at init — one `get()` per partition,
    * not per row. Returns the slot's name. */
  def bind(ctx: CodegenContext, payload: Payload[_], cls: String, name: String): String = {
    val ref = ctx.addReferenceObj(name + "Payload", payload, classOf[Payload[_]].getName)
    ctx.addMutableState(cls, name, v => s"$v = ($cls) $ref.get();")
  }
}
