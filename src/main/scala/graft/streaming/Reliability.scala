package graft.streaming

import java.io.IOException
import java.util.concurrent.TimeoutException

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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

  /** Error-column schema: `STRUCT<clazz, msg, temporary>`, null = ok. */
  val ErrorCol = "error"

  /** E8 result shape: value XOR error, as nullable struct fields. */
  final case class StageError(clazz: String, msg: String, temporary: Boolean)
  final case class StageResult(value: String, error: StageError)

  /** E8 + E3/E4: lift a fallible scalar function into an error-as-value
    * UDF producing `STRUCT<value, error STRUCT<clazz,msg,temporary>>`,
    * one [[attempt]] per row. Used only where logic is genuinely
    * fallible/external — pure enrichment stays as native columns. */
  def fallible(f: String => String, attempts: Int = 1): Column => Column = {
    require(attempts >= 1, s"attempts=$attempts must be at least 1")
    val u = udf((s: String) => attempt(f, attempts)(s))
    (c: Column) => u(c)
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
