package perfbench

import java.io.IOException
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicReferenceArray}
import java.util.concurrent.locks.LockSupport

/** The reference's random service model (Services.scala): every call
  * takes a uniform 0–5 s and 20% of calls fail, half of them with a
  * temporary error. Here every draw is a pure function of
  * (seed, message id, call index), so one seed reproduces the same
  * outcome for the n-th call on a message however Spark schedules it.
  */
object FaultModel {
  sealed trait Outcome
  case object Ok extends Outcome
  case object Temporary extends Outcome
  case object Unrecoverable extends Outcome

  val FailShare = 0.2
  val TemporaryShare = 0.5
  val MaxLatencyNanos = 5000000000L

  /** SplitMix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) for one (seed, id, call, purpose) tuple. */
  def unit(seed: Long, id: Long, call: Int, purpose: Int): Double =
    (mix(mix(mix(seed) ^ id) ^ ((call.toLong << 8) | purpose)) >>> 11) *
      (1.0 / (1L << 53))

  def outcome(seed: Long, id: Long, call: Int): Outcome = {
    val u = unit(seed, id, call, 1)
    if (u >= FailShare) Ok
    else if (u < FailShare * TemporaryShare) Temporary
    else Unrecoverable
  }

  /** Service latency of one call, the reference's 0–5 s times `scale`. */
  def latencyNanos(seed: Long, id: Long, call: Int, scale: Double): Long =
    (unit(seed, id, call, 2) * MaxLatencyNanos * scale).toLong

  val TemporaryClass: String = classOf[IOException].getName
  val UnrecoverableClass: String = classOf[IllegalArgumentException].getName
}

/** Per-message call counter. Spark's local master runs tasks inside
  * this JVM, so the service closure shipped to tasks and the harness
  * see the same counts. Ids are dense from 0, stored in 64k chunks. */
object ServiceCalls {
  private val ChunkBits = 16
  private val ChunkMask = (1 << ChunkBits) - 1
  private val chunks = new AtomicReferenceArray[AtomicIntegerArray](1 << 14)

  private def chunk(id: Long): AtomicIntegerArray = {
    val i = (id >>> ChunkBits).toInt
    val c = chunks.get(i)
    if (c != null) c
    else {
      chunks.compareAndSet(i, null, new AtomicIntegerArray(1 << ChunkBits))
      chunks.get(i)
    }
  }

  /** Claims the next call index for message `id`. */
  def next(id: Long): Int = chunk(id).getAndIncrement((id & ChunkMask).toInt)

  def callsOf(id: Long): Int = {
    val c = chunks.get((id >>> ChunkBits).toInt)
    if (c == null) 0 else c.get((id & ChunkMask).toInt)
  }
}

/** The fallible external service plugged into the pipeline: returns
  * the reference DataTransformer's `"transformed <id>"` or throws what
  * [[FaultModel]] draws for this call. */
final case class Service(seed: Long, latencyScale: Double)
    extends (String => String) {
  def apply(value: String): String = {
    val id = Messages.idOf(value)
    val call = ServiceCalls.next(id)
    val wait = FaultModel.latencyNanos(seed, id, call, latencyScale)
    if (wait > 0) {
      val until = System.nanoTime() + wait
      var left = wait
      while (left > 0) {
        LockSupport.parkNanos(left)
        left = until - System.nanoTime()
      }
    }
    FaultModel.outcome(seed, id, call) match {
      case FaultModel.Ok => s"transformed $id"
      case FaultModel.Temporary =>
        throw new IOException(s"temporary failure, message $id call $call")
      case FaultModel.Unrecoverable =>
        throw new IllegalArgumentException(
          s"unrecoverable failure, message $id call $call")
    }
  }
}

/** Message payloads, the reference's "Input Data: n" framing plus a
  * seeded 16-letter word so the enrichers do seed-dependent work of a
  * fixed size. */
object Messages {
  private val Prefix = "Input Data: "

  def value(seed: Long, id: Long): String = {
    val sb = new java.lang.StringBuilder(Prefix.length + 40)
    sb.append(Prefix).append(id).append(' ')
    var bits = FaultModel.mix(seed * 31 + id)
    var i = 0
    while (i < 16) {
      if (i == 12) bits = FaultModel.mix(bits)
      sb.append(('a' + ((bits & 0x1F) % 26)).toChar)
      bits >>>= 5
      i += 1
    }
    sb.toString
  }

  def idOf(value: String): Long = {
    var i = Prefix.length
    var id = 0L
    while (i < value.length && value.charAt(i) != ' ') {
      id = id * 10 + (value.charAt(i) - '0')
      i += 1
    }
    id
  }
}
