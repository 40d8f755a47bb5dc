package graft

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.operators.StreamOps

/** Temp-dir lifetime of [[StreamOps.replay]], the one finite-replay
  * harness: every dir a replay makes is gone once it returns, and also
  * once it throws — from the drain guard or from a readout. Each test
  * records the dirs of its own replay and checks those, never a scan
  * of the temp root. */
class ReplayHarnessSpec extends SparkSpec {

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
    val e = intercept[IllegalArgumentException] {
      StreamOps.replay(eventsStream(src)) { r =>
        root = Some(r)
        assert(new File(r).isDirectory)
        (b, _) => StreamOps.topkValueBatch(b, s"$r/state")
      }(_ => fail("the readout must not run after a loud drain failure"))
    }
    assert(e.getMessage.contains("ZERO source rows"))
    assert(root.nonEmpty, "the harness never handed out its dir")
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
        made = Seq(r, s"$r/state", compacted)
        assert(made.forall(new File(_).isDirectory), s"missing: $made")
        throw new IllegalStateException("readout failed")
      }
    }
    assert(e.getMessage == "readout failed")
    assert(made.size == 3)
    assert(made.forall(!new File(_).exists), s"leaked: $made")
  }

  test("a successful replay returns a materialized result and deletes " +
      "its dirs") {
    val src = eventsDir("events.parquet")
    var root = ""
    val out = StreamOps.replay(eventsStream(src)) { r =>
      root = r
      (b, _) => StreamOps.topkValueBatch(b, s"$r/state")
    }(r => StreamOps.topkValueReadout(spark, s"$r/state")
      .transform(Checkpointing.cut))
    assert(!new File(root).exists, s"$root leaked")
    assert(out.count() > 0L)
  }
}
