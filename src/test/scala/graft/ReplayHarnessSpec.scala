package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.StreamOps

/** Temp-dir lifetime of [[StreamOps.replay]], the one finite-replay
  * harness, and of [[StreamOps.runToTable]]: every dir a replay makes,
  * its query checkpoint included, is gone once it returns, and also
  * once it throws — from the drain guard or from a readout. Each test
  * records the dirs of its own replay and checks those, never a scan
  * of the temp root. */
class ReplayHarnessSpec extends SparkSpec {

  /** `body`'s result and the checkpoint root of each streaming query
    * it started (a session listener hears a start synchronously, while
    * the query is still active). */
  private def checkpoints[T](body: => T): (T, Seq[String]) = {
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
          : Unit = roots.add(spark.streams.get(e.id)
        .asInstanceOf[StreamingQueryWrapper].streamingQuery
        .resolvedCheckpointRoot)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
          : Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      val r = body
      import scala.jdk.CollectionConverters._
      (r, roots.asScala.toSeq)
    } finally spark.streams.removeListener(l)
  }

  /** The local path of a checkpoint root URI. */
  private def local(uri: String): String = new java.net.URI(uri).getPath

  private lazy val eventsSchema =
    spark.read.parquet(s"$Sf/events.parquet").schema

  /** A file stream over `dir` with the engine's `*.parquet` listing. */
  private def eventsStream(dir: String): DataFrame =
    spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", "*.parquet").parquet(dir)

  /** A directory holding sf0.001's events under `name`. */
  private def eventsDir(name: String): String = {
    val dir = tmpDir("graft-replay-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/$name"))
    dir
  }

  test("a replay that fails LOUDLY on a listed-nothing source deletes " +
      "every dir it created") {
    // the data file does not match the `*.parquet` glob: the source
    // lists zero files and the drain guard throws
    val src = eventsDir("data.bin")
    var root: Option[String] = None
    val (e, cps) = checkpoints(intercept[IllegalArgumentException] {
      StreamOps.replay(eventsStream(src)) { r =>
        root = Some(r)
        assert(new File(r).isDirectory)
        (b, _) => StreamOps.topkValueBatch(b, s"$r/state")
      }(_ => fail("the readout must not run after a loud drain failure"))
    })
    assert(e.getMessage.contains("ZERO source rows"))
    assert(root.nonEmpty, "the harness never handed out its dir")
    assert(cps.map(local) == Seq(s"${root.get}/checkpoint"))
    assert(!new File(root.get).exists, s"${root.get} leaked")
  }

  test("a readout that throws after a compaction deletes the state and " +
      "compaction dirs") {
    val src = eventsDir("events.parquet")
    var made = Seq.empty[String]
    val e = intercept[IllegalStateException] {
      StreamOps.replay(eventsStream(src)) { r =>
        (b, _) => StreamOps.topkValueBatch(b, s"$r/state")
      } { r =>
        val compacted = StreamOps.compactTopkLedger(spark, s"$r/state")
        made = Seq(r, s"$r/state", compacted, s"$r/checkpoint")
        assert(made.forall(new File(_).isDirectory), s"missing: $made")
        throw new IllegalStateException("readout failed")
      }
    }
    assert(e.getMessage == "readout failed")
    assert(made.size == 4)
    assert(made.forall(!new File(_).exists), s"leaked: $made")
  }

  test("a successful replay returns a materialized result and deletes " +
      "its dirs") {
    val src = eventsDir("events.parquet")
    var root = ""
    val (out, cps) = checkpoints(StreamOps.replay(eventsStream(src)) { r =>
      root = r
      (b, _) => StreamOps.topkValueBatch(b, s"$r/state")
    }(r => StreamOps.topkValueReadout(spark, s"$r/state")
      .transform(Checkpointing.cut)))
    assert(cps.map(local) == Seq(s"$root/checkpoint"))
    assert(!new File(root).exists, s"$root leaked")
    assert(out.count() > 0L)
  }

  test("a memory-sink run keeps its checkpoint in a temp dir it deletes") {
    val src = eventsDir("events.parquet")
    val (out, cps) = checkpoints(StreamOps.runToTable(spark,
      eventsStream(src).groupBy("event_type").count(), "complete"))
    assert(cps.size == 1)
    val root = new File(local(cps.head)).getParentFile
    assert(root.getName.startsWith("graft-table"), s"checkpoint at ${cps.head}")
    assert(!root.exists, s"$root leaked")
    assert(out.count() > 0L)
  }
}
