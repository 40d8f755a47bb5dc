package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Checkpointing
import graft.functions.Enrichment
import graft.streaming.Reliability._

/** The reference's scenario topology (scenario.dot: source → enricher
  * fan-out → transform → store, with retry/DLQ/ack) as ONE Structured
  * Streaming program — the artifact all four reference variants were
  * trying to build (SURVEY.md §3).
  *
  * Mapping:
  *  - S1 interval source → `rate` source projected to Data(id, value)
  *  - J1 3-way fan-out/fan-in → a single Project (pure enrichers)
  *  - E8 fallible stage → error-as-value struct via
  *    [[Reliability.fallible]], a partition-level stage: each task
  *    keeps up to [[Reliability.MaxInFlight]] service calls in flight
  *    and emits rows in input order — the Futures variant's eager
  *    start-then-join (J3, FuturesProcessor.scala:56-63) in the form
  *    SURVEY.md:1059 names for calls that stay external, `mapPartitions`
  *    with async batching. The service runs on a pool thread, off the
  *    task thread: it sees no `TaskContext` and none of the task's
  *    thread-locals (tests mirror Services.scala:100-121)
  *  - delivery ledger → a named `observe` ([[LedgerName]]) counted by
  *    the cut job that already runs, reported per batch in
  *    `StreamingQueryProgress.observedMetrics`
  *  - E6 DLQ → per-batch split, both sinks written in the same
  *    `foreachBatch` (atomic with the offset commit), side by side:
  *    the ok route on a second thread while the batch thread writes
  *    the DLQ route, both ended before the batch returns. The batch is
  *    evaluated once per attempt: one [[graft.Checkpointing.cut]]
  *    runs the fallible service, and both sinks read the cut, so a
  *    row gets exactly one service outcome and lands in exactly one
  *    sink. A cut, not `persist`: Spark would recompute a lost
  *    persisted block and call the service again, while a lost cut
  *    fails the batch, which replays whole and overwrites both
  *    `batchId=` directories
  *  - K3 ack → checkpoint commit after the batch's writes succeed;
  *    crash before commit ⇒ replay ⇒ at-least-once, exactly the
  *    README.md:13-17 contract
  *  - E3/E4 retry → [[Reliability.retry]] around each sink write,
  *    [[WriteTries]] calls in all (temporary infra failures), batch
  *    replay for anything worse. A row's service call is made once:
  *    its failure, temporary or not, is its outcome, a
  *    [[Reliability.StageError]] routed to the DLQ.
  *
  * Idempotence: writes go to `batchId=`-suffixed directories with
  * overwrite mode, so a replayed batch overwrites rather than
  * duplicates — effectively-once output on top of at-least-once
  * processing.
  */
object EnrichmentPipeline {
  /** S1/P5: tick source → Data(id, value) rows. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").as("id"),
        concat(lit("Input Data: "), col("value")).as("value"))

  /** The enrichment projection (P1-P4/P6, J1-collapsed): adds the
    * nested OutputData struct next to the flat input columns. */
  def enrich(in: DataFrame): DataFrame =
    in.select(col("id"), col("value"),
      Enrichment.outputData(col("id"), col("value")).as("out"))

  /** Enrichment with a fallible external transformer plugged into the
    * P4 slot (error-as-value; `svc` may throw): `id, value, data,
    * additional, error`. */
  def enrichFallible(in: DataFrame, svc: String => String): DataFrame =
    fallible(in.select(col("id"), col("value"),
        Enrichment.enriched(col("id"), col("value")).as("data")),
      "value", "additional", svc)

  /** The per-batch delivery ledger, reported under this name in
    * `StreamingQueryProgress.observedMetrics`: `n_in` rows in,
    * `n_ok` and `n_dlq` routed to each sink, `n_temporary` of the DLQ
    * rows failed temporarily. */
  val LedgerName = "ledger"

  /** Calls [[Reliability.retry]] makes of each sink write: a temporary
    * infra failure is absorbed within the batch twice; the third fails
    * the batch, which replays. */
  val WriteTries = 3

  /** Full reliable pipeline: source → enrich → dual-sink foreachBatch
    * with retry + DLQ + checkpoint ack. */
  def start(
      source: DataFrame,
      okPath: String,
      dlqPath: String,
      checkpointPath: String,
      svc: String => String = identity,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    enrichFallible(source, svc)
      // counted by the cut job below, so the ledger costs no job
      .observe(LedgerName, count(lit(1)).as("n_in"),
        count(when(col(ErrorCol).isNull, 1)).as("n_ok"),
        count(col(ErrorCol)).as("n_dlq"),
        count(when(col(s"$ErrorCol.temporary"), 1)).as("n_temporary"))
      .writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one evaluation per batch attempt (E6 note above)
        val evaluated = Checkpointing.cut(batch)
        try {
          val (ok, dlq) = Reliability.split(evaluated)
          sideBySide(s"enrichment-ok-$batchId")(retry(WriteTries) {
            ok.drop(ErrorCol).write.mode("overwrite")
              .parquet(s"$okPath/batchId=$batchId")
          })(retry(WriteTries) {
            dlq.select(col("id"), col("value"),
                col(s"$ErrorCol.clazz").as("error_class"),
                col(s"$ErrorCol.msg").as("error_msg")).write.mode("overwrite")
              .parquet(s"$dlqPath/batchId=$batchId")
          })
        } finally Checkpointing.release(evaluated)
        // returning normally = offset commit = ack (K3); DLQ'd rows are
        // acked too (Either-variant semantics, SURVEY.md §3.3 note)
        ()
      }
      .start()

  /** Runs `a` on a new thread named `name` while this thread runs `b`,
    * and returns once both have ended; then it rethrows the first
    * failure, the other's added as suppressed. The thread is started
    * here, so it inherits this thread's Spark local properties (job
    * group, `streaming.sql.batchId`) and active session. */
  private def sideBySide(name: String)(a: => Unit)(b: => Unit): Unit = {
    val failure = new AtomicReference[Throwable]()
    def run(f: => Unit): Unit = try f catch {
      case t: Throwable => if (!failure.compareAndSet(null, t)) failure.get.addSuppressed(t)
    }
    val t = new Thread(() => run(a), name)
    t.setDaemon(true)
    t.start()
    run(b)
    // an interrupt (query stop) cancels the batch's jobs, so `a` ends
    // soon; it is still waited for, and the interrupt becomes a failure
    while (t.isAlive) try t.join() catch { case e: InterruptedException => run(throw e) }
    Option(failure.get).foreach(e => throw e)
  }
}
