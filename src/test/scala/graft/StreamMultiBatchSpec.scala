package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.operators.StreamOps

/** Directory-shaped (multi-file) tables through the streaming
  * sources — the round-11 verdict's headline gap: the round-11
  * helpers symlinked `$d/<table>.parquet` unconditionally, the file
  * stream source does not descend into a symlinked SUBDIRECTORY, and
  * every directory-shaped table (production tables, the sf1/skew
  * probe dirs) silently streamed ZERO rows. These pins make that
  * class of silence impossible to re-ship:
  *
  *  - a table written as a DIRECTORY of part files streams the same
  *    rows as the single-file form, across MULTIPLE micro-batches
  *    (part count > maxFilesPerTrigger), with the cross-batch ledger
  *    anti-join actually exercised (`stream_vec_dedup`), and the
  *    parquet-append gates (`stream_asof`, `stream_unigram_gate`)
  *    appending every batch's rows rather than keeping the last;
  *  - a replay that drains zero source rows FAILS LOUDLY instead of
  *    returning an empty "success".
  */
class StreamMultiBatchSpec extends SparkSpec {

  /** sf0.001 rewritten as directory-shaped tables: every table a
    * directory of part files, the streamed ones range-partitioned by
    * id so file order = id order (vec dedup's first-arrival ledger
    * rule assumes in-order ingest — arrival order IS the id order in
    * production; a random shuffle across part files would be testing
    * a different contract, not this engine). 20 parts > the 8-file
    * trigger cap forces >= 3 micro-batches. */
  private lazy val multiDir: String = {
    val d = tmpDir("graft-multibatch")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      spark.read.parquet(s"$Sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    spark.read.parquet(s"$Sf/events.parquet")
      .repartitionByRange(20, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    spark.read.parquet(s"$Sf/documents.parquet")
      .repartitionByRange(20, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    spark.read.parquet(s"$Sf/embeddings.parquet")
      .repartitionByRange(20, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("a directory-shaped events table streams every row: topk " +
      "ledger over >= 3 micro-batches equals the single-file run") {
    val single = StreamOps.streamTopkValue(spark, Sf).collect()
    val multi = StreamOps.streamTopkValue(spark, multiDir).collect()
    assert(single.nonEmpty)
    assert(multi.toSeq == single.toSeq)
  }

  test("the cross-batch vec-dedup ledger anti-join is exercised on a " +
      "directory source and stays hash-identical to the one-batch run") {
    val single = StreamOps.streamVecDedup(spark, Sf).collect()
    val multi = StreamOps.streamVecDedup(spark, multiDir).collect()
    assert(multi.toSeq == single.toSeq)
  }

  /** Runs `body` and also returns the number of micro-batches that
    * read rows from a file source under `dir`, counted from the
    * streaming progress events. */
  private def countingBatches[T](dir: String)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if p.progress.sources.exists(src =>
            src.description.contains(dir) && src.numInputRows > 0) =>
          n.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val out = try body finally {
      GraftListenerFlush.flush(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    (out, n.get)
  }

  for ((name, table, query) <- Seq(
      ("stream_asof", "events", StreamOps.streamAsof),
      ("stream_unigram_gate", "documents", StreamOps.streamUnigramGate)))
    test(s"a directory-shaped $table table appends every micro-batch: " +
        s"$name over >= 3 batches equals the single-file run") {
      val single = query(spark, Sf).collect()
      val (multi, batches) =
        countingBatches(multiDir)(query(spark, multiDir).collect())
      assert(batches >= 3, s"expected >= 3 micro-batches, saw $batches")
      assert(single.nonEmpty)
      assert(multi.toSeq == single.toSeq)
    }

  test("a directory-shaped documents table streams every row through " +
      "a memory-sink gate (pii)") {
    val single = StreamOps.streamPiiGate(spark, Sf).collect()
    val multi = StreamOps.streamPiiGate(spark, multiDir).collect()
    assert(single.nonEmpty)
    assert(multi.toSeq == single.toSeq)
  }

  test("a source that lists zero files fails LOUDLY, never an empty " +
      "'success'") {
    val empty = tmpDir("graft-empty-table")
    // an events.parquet directory whose one data file the stream's
    // `*.parquet` glob does NOT match: the batch reader (schema load)
    // reads it fine, the file-stream source lists zero files — the
    // round-11 silent-emptiness shape
    new java.io.File(s"$empty/events.parquet").mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"),
      java.nio.file.Paths.get(s"$empty/events.parquet/data.bin"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.streamTopkValue(spark, empty)
    }
    assert(e.getMessage.contains("ZERO source rows"))
  }
}
