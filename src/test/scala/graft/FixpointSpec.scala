package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The iteration contract of [[Checkpointing.fixpoint]]: one cut per
  * step and none of `init`, the superseded state released once its
  * successor is materialized, the round count, and `init` returned
  * unchanged by a loop that stops at once. */
class FixpointSpec extends SparkSpec {
  import CheckpointingSpec.{deleteTree, rddDirsUnder}

  private def leafRdds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  private def xs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("reliable mode writes exactly one checkpoint directory per step " +
      "and none for init") {
    val dir = tmpDir("graft-fixpoint")
    spark.conf.set(Checkpointing.DirKey, dir)
    try {
      val init = spark.range(1, 4).toDF("x")
      val (out, rounds) = Checkpointing.fixpoint("spec-reliable", init, 3)(
        d => Some(d.selectExpr("x * 2 as x")))
      assert(rounds == 3)
      assert(xs(out) == Seq(8L, 16L, 24L))
      assert(rddDirsUnder(dir).size == 3,
        s"3 steps must write 3 rdd-* dirs, saw ${rddDirsUnder(dir)}")
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      deleteTree(dir)
    }
  }

  test("a convergence-driven run stops when the step returns None and " +
      "leaves no superseded state holding blocks") {
    val seen = scala.collection.mutable.ListBuffer.empty[Int]
    val init = spark.range(0, 10).toDF("x")
    val (out, rounds) = Checkpointing.fixpoint("spec-release", init) { d =>
      seen ++= leafRdds(d)
      if (d.agg(org.apache.spark.sql.functions.max("x")).head().getLong(0) >= 13) None
      else Some(d.selectExpr("x + 1 as x"))
    }
    assert(rounds == 4)
    assert(xs(out) == (4L to 13L))
    // the step saw init (no leaf) and then states 1..4; only state 4,
    // the result, may still hold blocks
    val outRdd = leafRdds(out)
    assert(outRdd.size == 1 && seen.size == 4 && seen.last == outRdd.head)
    val cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val superseded = seen.init
    assert(superseded.forall(id => !cached(id)),
      s"superseded states still hold blocks: ${superseded.filter(cached)}")
    assert(cached(outRdd.head), "the returned state must stay materialized")
    Checkpointing.release(out)
  }

  test("releasing superseded local-checkpoint state logs no " +
      "lineage-truncation WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    assert(spark.conf.get(Checkpointing.DirKey, "").isEmpty,
      "the run must cut with localCheckpoint")
    assert(LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      .isEnabled(Level.WARN), "WARN must reach the capture")
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("fixpoint-warn-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) {
          warns.add(e.getMessage.getFormattedMessage); ()
        }
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(capture)
    val (out, rounds) = try {
      Checkpointing.fixpoint("spec-quiet", spark.range(0, 10).toDF("x"), 4)(
        d => Some(d.selectExpr("x + 1 as x")))
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
    assert(rounds == 4 && xs(out) == (4L to 13L))
    val truncation =
      warns.asScala.filter(_.contains("was locally checkpointed"))
    assert(truncation.isEmpty, s"release logged: $truncation")
    Checkpointing.release(out)
  }

  test("a zero-round convergence returns init, uncut") {
    val dir = tmpDir("graft-fixpoint-zero")
    spark.conf.set(Checkpointing.DirKey, dir)
    try {
      val init = spark.range(0, 3).toDF("x")
      val (a, ra) = Checkpointing.fixpoint("spec-none", init)(_ => None)
      assert((a eq init) && ra == 0)
      val (b, rb) = Checkpointing.fixpoint("spec-zero", init, 0)(
        d => Some(d.selectExpr("x + 1 as x")))
      assert((b eq init) && rb == 0)
      assert(rddDirsUnder(dir).isEmpty)
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      deleteTree(dir)
    }
  }

  test("each run writes one JSON line with its name and round count") {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try Checkpointing.fixpoint("spec-line", spark.range(1).toDF("x"))(_ => None)
    finally System.setErr(saved)
    val line = buf.toString("UTF-8").linesIterator
      .find(_.startsWith("""{"fixpoint":"spec-line""""))
    assert(line.exists(_.matches("""\{"fixpoint":"spec-line","rounds":0,"ms":\d+\}""")),
      s"stderr line: $line")
  }
}
