package graft

import java.io.IOException

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.EnrichmentPipeline

/** End-to-end reliable pipeline (SURVEY.md §7 minimum slice, with the
  * error routing the Rx variant famously lacked): file source →
  * enrichment → fallible transform → dual sink (ok + DLQ) →
  * checkpoint ack. Asserts the README.md:13-17 contract: no message
  * lost, invalid messages dead-lettered AND acked, restart from
  * checkpoint reprocesses nothing already committed. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic unrecoverable failure on ids ending in 7 —
    * Services.scala:100-111's `sometimes`, made seeded/scripted. */
  private val svc: String => String = { s =>
    val id = s.split(": ").last.toLong
    if (id % 10 == 7) throw new IllegalArgumentException(s"invalid $id")
    s"stored $id"
  }

  test("pipeline routes ok rows to sink, invalid rows to DLQ, acks all") {
    val in = tmpDir("pipe-in"); val ok = tmpDir("pipe-ok")
    val dlq = tmpDir("pipe-dlq"); val cp = tmpDir("pipe-cp")
    (0L until 20L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)

    val source = spark.readStream
      .schema("id LONG, value STRING").parquet(in)
    val q = EnrichmentPipeline.start(source, ok, dlq, cp, svc)
    q.awaitTermination()

    val okRows = spark.read.parquet(ok)
    val dlqRows = spark.read.parquet(dlq)
    assert(okRows.count() == 18)
    assert(dlqRows.count() == 2)
    assert(dlqRows.select("id").as[Long].collect().sorted.toSeq ==
      Seq(7L, 17L))
    assert(dlqRows.select("error_class").distinct().as[String].head() ==
      "java.lang.IllegalArgumentException")
    // enrichment content correct on the ok path
    val r = okRows.filter(col("id") === 4L)
      .select("data.extra1", "data.extra2", "additional")
      .as[(String, String, String)].head()
    assert(r == (("4 :ataD tupnI", "INPUT DATA: 4", "stored 4")))
    // ok + dlq account for every input: nothing lost (README.md:13)
    assert(okRows.count() + dlqRows.count() == 20)

    // ack semantics: restarting on the same checkpoint must process
    // nothing new (offsets committed = acked)
    val q2 = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp, svc)
    q2.awaitTermination()
    assert(spark.read.parquet(ok).count() == 18, "no duplicate outputs")

    // new data after restart IS processed (stream continues); ids
    // 20..26 include 27? no — 20..26, with 27 absent; only id 27
    // would DLQ, so add 25..27 to cover both paths
    (20L until 28L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("append").parquet(in)
    val q3 = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp, svc)
    q3.awaitTermination()
    assert(spark.read.parquet(ok).count() == 25) // 18 + 7 (27 -> dlq)
    assert(spark.read.parquet(dlq).count() == 3) // 7, 17, 27
  }

  test("random per-call faults: ok and DLQ partition the input, with " +
      "one service call per message") {
    val in = tmpDir("prop-in"); val ok = tmpDir("prop-ok")
    val dlq = tmpDir("prop-dlq"); val cp = tmpDir("prop-cp")
    val ids = 0L until 200L
    ids.map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .repartition(4).write.mode("overwrite").parquet(in)
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp, CallFaults.service("prop", seed = 17L))
    q.awaitTermination()
    val okIds = spark.read.parquet(ok).select("id").as[Long].collect().toSeq
    val dlqIds = spark.read.parquet(dlq).select("id").as[Long].collect().toSeq
    assert(okIds.nonEmpty && dlqIds.nonEmpty, "the fault model must bite")
    val partitioned = (okIds ++ dlqIds).sorted == ids
    assert(partitioned, s"ok ⊎ dlq must equal the input: ${ids.size} in, " +
      s"${okIds.size} ok + ${dlqIds.size} dlq, " +
      s"${ids.diff(okIds ++ dlqIds).size} lost")
    assert(okIds.intersect(dlqIds).isEmpty, "a message reached both sinks")
    val calls = CallFaults.calls("prop")
    assert(calls.keySet == ids.toSet && calls.values.forall(_ == 1),
      s"calls per message: ${calls.values.groupBy(identity).map {
        case (k, v) => k -> v.size }}")
  }

  test("the observed ledger equals each batch's sink row counts") {
    val in = tmpDir("ledger-in"); val ok = tmpDir("ledger-ok")
    val dlq = tmpDir("ledger-dlq"); val cp = tmpDir("ledger-cp")
    (0L until 120L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .repartition(3).write.mode("overwrite").parquet(in)
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING")
        .option("maxFilesPerTrigger", "1").parquet(in),
      ok, dlq, cp, CallFaults.service("ledger", seed = 5L))
    q.awaitTermination()
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    assert(batches.size == 3, s"${batches.size} batches")
    val ledgers = batches.map { p =>
      val m = p.observedMetrics.get(EnrichmentPipeline.LedgerName)
      assert(m != null, s"batch ${p.batchId} reported no ledger")
      val got = Seq("n_in", "n_ok", "n_dlq", "n_temporary").map(m.getAs[Long])
      val okN = spark.read.parquet(s"$ok/batchId=${p.batchId}").count()
      val dlqRows = spark.read.parquet(s"$dlq/batchId=${p.batchId}")
      val dlqN = dlqRows.count()
      val tempN = dlqRows.filter(col("error_class") === "java.io.IOException")
        .count()
      assert(got == Seq(okN + dlqN, okN, dlqN, tempN), s"batch ${p.batchId}")
      assert(p.numInputRows == okN + dlqN)
      got
    }
    assert(ledgers.map(_.head).sum == 120L)
    assert(ledgers.map(_(3)).sum > 0L && ledgers.map(_(2)).sum > ledgers.map(_(3)).sum,
      "the fault model must give both temporary and unrecoverable rows")
  }

  test("sink schemas: ok and DLQ parquet keep the UDF-path fields, types " +
      "and nullability") {
    val in = tmpDir("schema-in"); val ok = tmpDir("schema-ok")
    val dlq = tmpDir("schema-dlq"); val cp = tmpDir("schema-cp")
    (0L until 20L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)
    val source = spark.readStream.schema("id LONG, value STRING").parquet(in)
    def f(n: String, t: DataType) = StructField(n, t)
    def assertFields(got: StructType, want: StructType, what: String): Unit = {
      assert(got.fieldNames.toSeq == want.fieldNames.toSeq, what)
      got.fields.zip(want.fields).foreach { case (g, w) =>
        assert(g == w, s"$what.${w.name}")
      }
    }
    // the schemas the UDF-lift stage produced, written out literally
    def data(nullable: Boolean) = StructType(Seq(
      StructField("input", StructType(Seq(f("id", LongType),
        f("value", StringType))), nullable),
      f("extra1", StringType), f("extra2", StringType),
      StructField("extra3", StructType(Seq(
        StructField("name", StringType, nullable))), nullable)))
    assertFields(EnrichmentPipeline.enrichFallible(source, svc).schema,
      StructType(Seq(f("id", LongType), f("value", StringType),
        StructField("data", data(nullable = false), nullable = false),
        f("additional", StringType),
        f("error", StructType(Seq(f("clazz", StringType), f("msg", StringType),
          StructField("temporary", BooleanType, nullable = false)))))),
      "frame")
    EnrichmentPipeline.start(source, ok, dlq, cp, svc).awaitTermination()
    assertFields(spark.read.parquet(s"$ok/batchId=0").schema,
      StructType(Seq(f("id", LongType), f("value", StringType),
        f("data", data(nullable = true)), f("additional", StringType))), "ok")
    assertFields(spark.read.parquet(s"$dlq/batchId=0").schema,
      StructType(Seq(f("id", LongType), f("value", StringType),
        f("error_class", StringType), f("error_msg", StringType))), "dlq")
  }

  test("S1 rate source feeds the pipeline: live micro-batches produce rows") {
    import org.apache.spark.sql.streaming.Trigger
    val src = EnrichmentPipeline.rateSource(spark, rowsPerSecond = 100)
    assert(src.isStreaming)
    assert(src.columns.toSeq == Seq("id", "value"))
    val q = EnrichmentPipeline.enrich(src)
      .writeStream.format("memory").queryName("rate_demo")
      .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("rate_demo").isEmpty &&
          System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val rows = spark.table("rate_demo")
        .select("id", "value", "out.data.extra1")
        .as[(Long, String, String)].collect()
      assert(rows.nonEmpty, "rate source produced no rows in 30s")
      val (id, v, rev) = rows.minBy(_._1)
      assert(v == s"Input Data: $id")
      assert(rev == v.reverse)
    } finally q.stop()
  }

  test("temporary sink failures are retried within the batch (E3)") {
    val in = tmpDir("r-in"); val ok = tmpDir("r-ok")
    val dlq = tmpDir("r-dlq"); val cp = tmpDir("r-cp")
    val ids = 0L until 10L
    ids.map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)
    // the ok route writes through a file system whose first driver-side
    // look at `batchId=0` throws a temporary IOException
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set(s"fs.${FlakyLocalFs.Scheme}.impl", classOf[FlakyLocalFs].getName)
    hadoop.setBoolean(s"fs.${FlakyLocalFs.Scheme}.impl.disable.cache", true)
    FlakyLocalFs.armed.set(true)
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      s"${FlakyLocalFs.Scheme}:$ok", dlq, cp, svc)
    q.awaitTermination()
    assert(FlakyLocalFs.thrown.get == 1, "the ok write never failed")
    assert(q.lastProgress.batchId == 0L && q.lastProgress.numInputRows == 10L)
    assert(new java.io.File(s"$cp/commits/0").exists, "batch 0 not committed")
    val okIds = spark.read.parquet(ok).select("id").as[Long].collect().toSeq
    val dlqIds = spark.read.parquet(dlq).select("id").as[Long].collect().toSeq
    assert(dlqIds == Seq(7L))
    assert((okIds ++ dlqIds).sorted == ids, "ok ⊎ dlq must equal the input")
  }

  test("a task-side temporary sink failure is retried within the batch") {
    val in = tmpDir("rt-in"); val ok = tmpDir("rt-ok")
    val dlq = tmpDir("rt-dlq"); val cp = tmpDir("rt-cp")
    val ids = 0L until 10L
    ids.map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)
    // the ok route writes through a file system whose first task-side
    // create of a part file throws a temporary IOException, which
    // reaches the driver inside the job's SparkException
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set(s"fs.${FlakyLocalFs.Scheme}.impl", classOf[FlakyLocalFs].getName)
    hadoop.setBoolean(s"fs.${FlakyLocalFs.Scheme}.impl.disable.cache", true)
    FlakyLocalFs.thrown.set(0)
    FlakyLocalFs.armedCreate.set(true)
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      s"${FlakyLocalFs.Scheme}:$ok", dlq, cp, svc)
    q.awaitTermination()
    assert(FlakyLocalFs.thrown.get == 1, "the ok part file never failed")
    assert(q.lastProgress.batchId == 0L && q.lastProgress.numInputRows == 10L)
    assert(new java.io.File(s"$cp/commits/0").exists, "batch 0 not committed")
    val okIds = spark.read.parquet(ok).select("id").as[Long].collect().toSeq
    val dlqIds = spark.read.parquet(dlq).select("id").as[Long].collect().toSeq
    assert((okIds ++ dlqIds).sorted == ids,
      "every input row must be in exactly one sink")
  }
}

/** The local file system under its own scheme, failing once when
  * [[FlakyLocalFs.armed]]: the first driver-side `exists` or
  * `getFileStatus` of a `batchId=0` directory throws a temporary
  * `IOException`, as a flaky sink store would. When
  * [[FlakyLocalFs.armedCreate]], the first task-side `create` of a
  * part file throws one instead. */
class FlakyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  override def getScheme: String = FlakyLocalFs.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$getScheme:///")
  private def look(f: Path): Unit =
    if (f.getName == "batchId=0" && org.apache.spark.TaskContext.get() == null &&
        FlakyLocalFs.armed.compareAndSet(true, false)) {
      FlakyLocalFs.thrown.incrementAndGet()
      throw new IOException(s"sink store unavailable: $f")
    }
  override def exists(f: Path): Boolean = { look(f); super.exists(f) }
  override def getFileStatus(f: Path): FileStatus = { look(f); super.getFileStatus(f) }
  // every create of this file system opens its file here
  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, p: FsPermission): java.io.OutputStream = {
    if (f.getName.startsWith("part-") &&
        org.apache.spark.TaskContext.get() != null &&
        FlakyLocalFs.armedCreate.compareAndSet(true, false)) {
      FlakyLocalFs.thrown.incrementAndGet()
      throw new IOException(s"sink store unavailable: $f")
    }
    super.createOutputStreamWithMode(f, append, p)
  }
}

object FlakyLocalFs {
  val Scheme = "flakyfs"
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val armedCreate = new java.util.concurrent.atomic.AtomicBoolean(false)
  val thrown = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** A service whose outcome is a seeded function of (id, call index):
  * 20% of calls fail, half of those temporarily — the reference's
  * random failure model (Services.scala:100-121). Calls are counted
  * per id in this JVM, which local mode shares with the executors. */
object CallFaults {
  private val counts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Long, Int]]()

  private def of(ns: String) = counts.computeIfAbsent(ns,
    _ => new java.util.concurrent.ConcurrentHashMap[Long, Int]())

  def service(ns: String, seed: Long): String => String = { s =>
    val id = s.split(": ").last.toLong
    val call = of(ns).merge(id, 1, _ + _) - 1
    val r = Math.floorMod(
      scala.util.hashing.MurmurHash3.productHash((seed, id, call)), 100)
    if (r < 10) throw new IOException(s"temporary $id/$call")
    if (r < 20) throw new IllegalArgumentException(s"invalid $id/$call")
    s"stored $id"
  }

  def calls(ns: String): Map[Long, Int] = {
    import scala.jdk.CollectionConverters._
    of(ns).asScala.toMap
  }
}
