package graft.streaming

import java.io.IOException
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException,
  FutureTask, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit,
  TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success, Try}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField,
  StructType}

/** The reference's reliability semantics (SURVEY.md §2.6), re-expressed
  * as a thin layer around sources/sinks — NOT as operators. This module
  * is the reference's value proposition ported to Spark's execution
  * model:
  *
  *  - E2 error classification (temporary vs unrecoverable),
  *    AkkaEnrichmentPipeline.scala:170, FuturesProcessor.scala:76;
  *  - E4 bounded retry combinator, FuturesProcessor.scala:88-106;
  *  - E8 error-as-value stage results,
  *    ErrorHandlingRxEnrichmentPipeline.scala:25-28 — fallible logic
  *    evaluates to a `(value, error)` pair so per-row failures can
  *    never kill the stream (the fix for the reference's documented
  *    fail-fast bug, SimpleRxEnrichmentPipeline.scala:12-15 / E7);
  *  - E6 DLQ routing: split on the error column, main sink + dead
  *    letter sink, both written in the same micro-batch;
  *  - ack/nack (S4/K3): checkpoint offset commit IS the ack — a batch
  *    that fails is replayed wholesale (at-least-once, duplicates
  *    acceptable per README.md:13-17), which is the reference's E5
  *    whole-message retry at batch granularity.
  */
object Reliability {
  /** E2: temporary failures are worth retrying; everything else goes
    * to the DLQ. Mirrors `isTemporaryFailure`. */
  def isTemporary(e: Throwable): Boolean = e match {
    case _: IOException | _: TimeoutException => true
    case _ => false
  }

  /** E4: bounded retry with fixed backoff; short-circuits on
    * unrecoverable errors. Driver-side — retries happen at the
    * action/sink level, never inside an expression. */
  def retry[T](times: Int, backoffMs: Long = 0L)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Throwable if isTemporary(e) && attempt < times - 1 =>
          attempt += 1
          if (backoffMs > 0) Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The error column, of type [[ErrorType]]; null = ok. */
  val ErrorCol = "error"

  /** E8 result shape: value XOR error, as nullable struct fields. */
  final case class StageError(clazz: String, msg: String, temporary: Boolean)
  final case class StageResult(value: String, error: StageError)

  /** [[StageError]] as a column type: `STRUCT<clazz, msg, temporary>`. */
  val ErrorType: StructType = StructType(Seq(
    StructField("clazz", StringType),
    StructField("msg", StringType),
    StructField("temporary", BooleanType, nullable = false)))

  /** Most service calls one task keeps in flight: the reference's
    * service time is waiting, not work, so 8 calls overlap most of it
    * while a task holds at most 8 rows pending. */
  val MaxInFlight = 8

  /** Threads of the one JVM-wide call pool: four local tasks keep
    * [[MaxInFlight]] calls each in flight without queueing, and no
    * number of tasks can start more threads than this. */
  val PoolThreads = 32

  private[graft] lazy val pool: ThreadPoolExecutor = {
    val n = new AtomicInteger(0)
    val p = new ThreadPoolExecutor(PoolThreads, PoolThreads,
      30L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-fallible-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** E8 + J3: the fallible stage as a partition operator. Appends
    * `out STRING` (the service's value) and [[ErrorCol]] (null = ok)
    * to `df`, one [[attempt]] of `f` per row on column `in`.
    *
    * Like the reference's Futures variant (FuturesProcessor.scala:56-63)
    * it starts calls eagerly and joins them afterwards: each task keeps
    * up to [[MaxInFlight]] calls running on [[pool]] and emits rows in
    * input order (SURVEY.md:1059, `mapPartitions` with async batching).
    * A throwable [[attempt]] lets through (a fatal error, an interrupt)
    * is rethrown on the task thread, so the task fails and the batch
    * replays; it never becomes an error value. When the task ends,
    * however it ends, its outstanding calls are cancelled.
    *
    * `f` runs off the task thread: it sees no `TaskContext` and none of
    * the task's thread-locals. Used only where logic is genuinely
    * fallible/external — pure enrichment stays as native columns. */
  def fallible(df: DataFrame, in: String, out: String,
      f: String => String, attempts: Int): DataFrame = {
    require(attempts >= 1, s"attempts=$attempts must be at least 1")
    val i = df.schema.fieldIndex(in)
    val schema = df.schema.add(out, StringType).add(ErrorCol, ErrorType)
    df.mapPartitions(inFlight(_) { r =>
      val StageResult(v, e) = attempt(f, attempts)(r.getString(i))
      Row.fromSeq(r.toSeq :+ v :+
        (if (e == null) null else Row(e.clazz, e.msg, e.temporary)))
    })(Encoders.row(schema))
  }

  /** `call` on each element of one task's partition, up to
    * [[MaxInFlight]] calls in flight on [[pool]], results in input
    * order. A call's throwable is rethrown unwrapped; a task completion
    * listener cancels the calls still pending, and takes them off the
    * pool's queue. */
  private def inFlight[A, B](rows: Iterator[A])(call: A => B): Iterator[B] = {
    val pending = new ConcurrentLinkedQueue[FutureTask[B]]()
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      pending.forEach { t => t.cancel(true); pool.remove(t); () }
    }
    def fill(): Unit = while (pending.size < MaxInFlight && rows.hasNext) {
      val a = rows.next()
      val t = new FutureTask[B](() => call(a))
      pending.add(t)
      pool.execute(t)
    }
    new Iterator[B] {
      def hasNext: Boolean = { fill(); !pending.isEmpty }
      def next(): B = {
        fill()
        // peek, not poll: a call stays cancellable until it has ended
        val t = pending.peek()
        val b = try t.get() catch { case e: ExecutionException => throw e.getCause }
        pending.poll()
        b
      }
    }
  }

  /** The row function behind [[fallible]]: temporary failures are
    * retried in place up to `attempts` calls in all (the reference's
    * bounded-retry combinator applied per message); the last failure,
    * or the first unrecoverable one, becomes the error value. Only
    * `NonFatal` throwables become values: a VM error, an interrupt or
    * a linkage error fails the task, and the batch replays whole. */
  def attempt(f: String => String, attempts: Int)(s: String): StageResult =
    Try(f(s)) match {
      case Success(v) => StageResult(v, null)
      case Failure(e) if isTemporary(e) && attempts > 1 =>
        attempt(f, attempts - 1)(s)
      case Failure(e) =>
        StageResult(null,
          StageError(e.getClass.getName, String.valueOf(e.getMessage),
            isTemporary(e)))
    }

  /** E6: split a DataFrame carrying an error column into (ok, dlq). */
  def split(df: DataFrame, errorCol: String = ErrorCol)
      : (DataFrame, DataFrame) =
    (df.filter(col(errorCol).isNull), df.filter(col(errorCol).isNotNull))
}
