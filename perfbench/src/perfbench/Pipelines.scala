package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.EnrichmentPipeline

/** The pipeline workload: an open-loop generator feeds
  * `EnrichmentPipeline.start` through a replayable parquet file queue,
  * and ack times come from the checkpoint's commit log, so an untraced
  * run registers no listener. */
object Pipelines {
  val RatePerS = 500
  val TickMs = 200
  val TriggerMs = 2000L
  /** The reference's 0–5 s service latency scaled into 0–0.5 ms. */
  val LatencyScale = 1e-4
  /** Warm-up after the first batch with messages, before the window. */
  val WarmUs = 8000000L
  /** First id of the warm-up messages. The messages due in the timed
    * window are ids `0 until window / gap`, so every run with one seed
    * and `--seconds` counts the same messages, whatever the warm-up
    * took. */
  val WarmIds = 1L << 29

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private val ParquetSchema = MessageTypeParser.parseMessageType(
    "message m { required int64 id; required binary value (UTF8); }")
  private lazy val hadoopConf = {
    val c = new Configuration(false)
    c.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  final case class Dirs(root: File) {
    val src = new File(root, "src")
    val stage = new File(root, "stage")
    val ok = new File(root, "ok")
    val dlq = new File(root, "dlq")
    val ckpt = new File(root, "checkpoint")
    src.mkdirs()
    stage.mkdirs()
  }

  /** Writes messages `[first, first + n)` into one parquet file, without
    * Spark, so the generator never queues jobs on the scheduler under
    * test. */
  def writeFile(dir: File, seed: Long, first: Long, n: Int): File = {
    val f = new File(dir, f"msgs-$first%012d-$n.parquet")
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(f.toURI), hadoopConf))
      .withType(ParquetSchema).withConf(hadoopConf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val g = new SimpleGroupFactory(ParquetSchema)
    try {
      var id = first
      while (id < first + n) {
        w.write(g.newGroup().append("id", id).append("value", Messages.value(seed, id)))
        id += 1
      }
    } finally w.close()
    f
  }

  /** Makes staged files visible to the source, one atomic rename each. */
  def publish(files: Seq[File], src: File): Unit = files.foreach { f =>
    Files.move(f.toPath, new File(src, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The checkpoint read as an ack log: each batch's commit time (the
    * commit file's mtime, epoch µs) and the batch each file was read in. */
  final case class Acks(commitUs: Map[Long, Long], fileBatch: Map[String, Long]) {
    def ackUs(file: String): Long = commitUs(fileBatch(file))
    /** Messages per batch, from the counts in the file names. */
    lazy val msgs: Map[Long, Long] = fileBatch.toSeq
      .groupMapReduce(_._2)(f => f._1.split("[-.]")(2).toLong)(_ + _)
  }

  private val EntryRe = "\"path\":\"([^\"]*)\".*?\"batchId\":(\\d+)".r

  def readAcks(ckpt: File): Acks = {
    def ls(d: File) = Option(d.listFiles).map(_.toSeq).getOrElse(Nil)
    val commits = ls(new File(ckpt, "commits"))
      .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong ->
        Files.getLastModifiedTime(f.toPath).to(TimeUnit.MICROSECONDS)).toMap
    val files = ls(new File(ckpt, "sources/0")).filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap(l => EntryRe.findFirstMatchIn(l))
      .map(m => m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong)
      .toMap
    Acks(commits, files)
  }

  /** Reads both sinks and counts every timed message `0 until sent`.
    * Rows of warm-up messages (`warm`) are checked for content only:
    * the last value is how many of them are wrong. */
  def ledger(spark: SparkSession, d: Dirs, seed: Long, sent: Long, warm: Long => Boolean)
      : (Ledger.Tally, Long => (Int, Int), Long) = {
    def s(r: Row, i: Int): String = if (r.isNullAt(i)) null else r.getString(i)
    def l(r: Row, i: Int): Long = if (r.isNullAt(i)) -1L else r.getLong(i)
    val ok = spark.read.parquet(d.ok.getPath).select(col("id"),
        col("data.input.id"), col("data.input.value"), col("data.extra1"),
        col("data.extra2"), col("data.extra3.name"), col("additional"))
      .toLocalIterator().asScala.map(r => Ledger.OkRow(l(r, 0), l(r, 1),
        s(r, 2), s(r, 3), s(r, 4), s(r, 5), s(r, 6)))
    val dlq = spark.read.parquet(d.dlq.getPath)
      .select(col("id"), col("value"), col("error_class"))
      .toLocalIterator().asScala.map(r => Ledger.DlqRow(l(r, 0), s(r, 1), s(r, 2)))
    // which sinks hold each timed and warm-up message, for the layers
    val okIds, dlqIds = new java.util.BitSet()
    def slot(id: Long): Int = (if (id < WarmIds) id else sent + id - WarmIds).toInt
    def mark(b: java.util.BitSet)(id: Long): Unit =
      if ((id >= 0 && id < sent) || warm(id)) b.set(slot(id))
    var warmWrong = 0L
    def timed[R](id: R => Long, right: R => Boolean)(r: R): Boolean = !warm(id(r)) || {
      if (!right(r)) warmWrong += 1
      false
    }
    val t = Ledger.tally(seed, sent,
      ok.tapEach(r => mark(okIds)(r.id)).filter(timed[Ledger.OkRow](_.id, Ledger.rightOk(seed, _))),
      dlq.tapEach(r => mark(dlqIds)(r.id)).filter(timed[Ledger.DlqRow](_.id, Ledger.rightDlq(seed, _))))
    (t, id => ((if (okIds.get(slot(id))) 1 else 0), if (dlqIds.get(slot(id))) 1 else 0), warmWrong)
  }

  private def m(v: Double, unit: String) = Metric(v, unit)
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
  private def startUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000

  private val Phases =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Batch spans under their phase span, the six progress phases laid
    * end to end from the batch start (progress gives durations, not
    * start times), and each job under its batch's `addBatch`. */
  private def batchSpans(ps: Seq[StreamingQueryProgress], phaseOf: Long => Long,
      probe: Option[SchedProbe]): Unit = if (Trace.on) {
    val jobs = probe.map(_.finished.groupBy(_.batchId)).getOrElse(Map.empty)
    ps.foreach { p =>
      val bid = Trace.nextId()
      val s0 = startUs(p)
      Trace.add(Span(bid, phaseOf(p.batchId), s"batch ${p.batchId}", s0,
        s0 + (dur(p, "triggerExecution") * 1000).toLong,
        Map("rows" -> p.numInputRows.toDouble)))
      var t = s0
      Phases.foreach { ph =>
        val id = Trace.nextId()
        val e = t + (dur(p, ph) * 1000).toLong
        Trace.add(Span(id, bid, ph, t, e))
        if (ph == "addBatch")
          jobs.getOrElse(Some(p.batchId), Nil).foreach(_.spans(id).foreach(Trace.add))
        t = e
      }
    }
  }

  /** Per-layer metrics over the timed batches `ps` holding messages
    * `ids`, which the run saw for `windowUs`. */
  private def layers(ps: Seq[StreamingQueryProgress], acks: Acks, ids: Seq[Long], seed: Long,
      sinkOf: Long => (Int, Int), probe: Option[SchedProbe],
      windowUs: Double): Seq[(String, Metric)] = {
    def msgsOf(xs: Seq[StreamingQueryProgress]) = xs.map(p => acks.msgs(p.batchId)).sum.toDouble
    val msgs = msgsOf(ps)
    val trig = ps.map(dur(_, "triggerExecution"))
    val addB = ps.map(dur(_, "addBatch"))
    val calls = ids.map(id => ServiceCalls.callsOf(id).toLong)
    val callsN = calls.sum.toDouble
    val failures = ids.zip(calls).map { case (id, c) =>
      (0 until c.toInt).count(k => FaultModel.outcome(seed, id, k) != FaultModel.Ok)
    }.sum
    val waitNs = ids.zip(calls).map { case (id, c) =>
      (0 until c.toInt).map(k => FaultModel.latencyNanos(seed, id, k, LatencyScale)).sum
    }.sum.toDouble
    val useful = ids.map { id => val (o, d) = sinkOf(id); o + d }.sum
    val batchIds = ps.map(_.batchId).toSet
    val jobs = probe.map(_.finished.filter(_.batchId.exists(batchIds))).getOrElse(Nil)
    val runMs = jobs.map(_.runMs).sum.toDouble
    val third = math.max(1, ps.size / 3)
    def perMsg(xs: Seq[StreamingQueryProgress]) = xs.map(dur(_, "triggerExecution")).sum / msgsOf(xs)
    Seq(
      "source.rows_read_per_msg" -> m(ps.map(_.numInputRows).sum / msgs, "ratio"),
      "source.latest_offset_ms" -> m(Stats.mean(ps.map(dur(_, "latestOffset"))), "ms"),
      "source.get_batch_ms" -> m(Stats.mean(ps.map(dur(_, "getBatch"))), "ms"),
      "reliability.svc_calls_per_msg" -> m(callsN / ids.size, "ratio"),
      "reliability.svc_useful_frac" -> m(if (callsN > 0) useful / callsN else 0.0, "fraction"),
      "reliability.svc_failures" -> m(failures.toDouble, "count"),
      "reliability.svc_wait_frac" -> m(if (runMs > 0) waitNs / 1e6 / runMs else 0.0, "fraction"),
      "sink.jobs_per_batch" -> m(jobs.size.toDouble / ps.size, "ratio"),
      "sink.retries" -> m(jobs.count(!_.ok).toDouble, "count"),
      "sink.cpu_ms_per_kmsg" -> m(jobs.map(_.cpuNs).sum / 1e6 / msgs * 1000, "ms"),
      "microbatch.batches" -> m(ps.size.toDouble, "count"),
      "microbatch.batch_p50_ms" -> m(Stats.median(trig), "ms"),
      // a batch's messages over the time it ran: the rate the pipeline
      // could take at this batch size, moved by per-batch and per-row cost
      "microbatch.capacity_per_s" -> m(Stats.median(ps.map(p =>
        acks.msgs(p.batchId) / (dur(p, "triggerExecution") / 1000))), "1/s"),
      "microbatch.add_batch_ms" -> m(Stats.mean(addB), "ms"),
      "microbatch.query_planning_ms" -> m(Stats.mean(ps.map(dur(_, "queryPlanning"))), "ms"),
      "microbatch.wal_commit_ms" -> m(Stats.mean(ps.map(dur(_, "walCommit"))), "ms"),
      "microbatch.commit_offsets_ms" -> m(Stats.mean(ps.map(dur(_, "commitOffsets"))), "ms"),
      "microbatch.outside_add_batch_frac" -> m(1 - addB.sum / trig.sum, "fraction"),
      "timed.first_last_ratio" -> m(perMsg(ps.take(third)) / perMsg(ps.takeRight(third)), "ratio")
    ) ++ SchedProbe.schedulerMetrics(jobs, windowUs / 1000, Main.Cores)
  }

  /** One published file: messages `[first, first + n)`, the first due
    * at `dueUs`, the rest every 1/rate after it. */
  final case class Sent(name: String, first: Long, n: Int, dueUs: Long,
      scheduledUs: Long, publishedUs: Long)

  /** Open-loop generator on its own thread: one message is due every
    * 1/rate from a tick boundary of the clock on; every tick it writes
    * the messages that fell due during the tick into one file and
    * publishes it, however far the pipeline lags. Messages due before
    * the timed window get warm-up ids, those in it ids from 0. */
  final class Generator(d: Dirs, seed: Long) extends Thread("perfbench-generator") {
    private val perTick = RatePerS * TickMs / 1000
    private val gapUs = 1000000L / RatePerS
    @volatile private var window = (Long.MaxValue, Long.MaxValue)
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    setDaemon(true)

    /** Numbers the messages due in `[t0, t1)` from 0, publishes the
      * last of them, then stops. `t0` must be a tick boundary not yet
      * reached. */
    def timeWindow(t0: Long, t1: Long): Unit = window = (t0, t1)

    override def run(): Unit = {
      val tick = perTick * gapUs
      val start = (Trace.nowUs() / tick + 1) * tick
      var k = 0L
      while (start + k * tick < window._2) {
        val due = start + k * tick
        val t0 = window._1
        val first = if (due >= t0) (due - t0) / gapUs else WarmIds + k * perTick
        val tickUs = due + tick
        val waitUs = tickUs - Trace.nowUs()
        if (waitUs > 0) Thread.sleep(waitUs / 1000, (waitUs % 1000).toInt * 1000)
        val f = writeFile(d.stage, seed, first, perTick)
        publish(Seq(f), d.src)
        sent.add(Sent(f.getName, first, perTick, due, tickUs, Trace.nowUs()))
        k += 1
      }
    }
  }

  /** Feeds a fixed rate below capacity under a processing-time trigger
    * and times each message from its due time to the commit of the
    * batch that acks it. */
  def live(spark: SparkSession, work: File, seed: Long, seconds: Int,
      probe: Option[SchedProbe], runSpan: Long, launchUs: Long): Result = {
    val d = Dirs(work)
    val q = EnrichmentPipeline.start(spark.readStream.schema(Schema).parquet(d.src.getPath),
      d.ok.getPath, d.dlq.getPath, d.ckpt.getPath, Service(seed, LatencyScale),
      trigger = Trigger.ProcessingTime(TriggerMs))
    val gen = new Generator(d, seed)
    val warmUs = Trace.nowUs()
    gen.start()
    while (!q.recentProgress.exists(_.numInputRows > 0)) {
      require(q.isActive, s"pipeline stopped: ${q.exception}")
      Thread.sleep(20)
    }
    // the trigger fires on wall-clock multiples of its interval; align
    // the window to them so it holds a whole number of batches
    val trigUs = TriggerMs * 1000
    val t0 = ((Trace.nowUs() + WarmUs) / trigUs + 1) * trigUs
    val windowUs = math.max(1L, seconds * 1000000L / trigUs) * trigUs
    val t1 = t0 + windowUs
    gen.timeWindow(t0, t1)
    val w = t0 - Trace.nowUs()
    if (w > 0) Thread.sleep(w / 1000 + 1)
    Stats.resetHeapPeak()
    val gc0 = Stats.gcMs()
    gen.join()
    q.processAllAvailable()
    val rssMb = Stats.peakRssMb()
    val gcMs = Stats.gcMs() - gc0
    val heapMb = Stats.heapPeakMb()
    q.stop()
    val acks = readAcks(d.ckpt)
    val sent = gen.sent.asScala.toSeq.sortBy(_.dueUs)
    val gapUs = 1000000L / RatePerS
    // the messages due in the window, ids 0 until n
    val n = windowUs / gapUs
    val timedSent = sent.filter(_.dueUs >= t0)
    require(timedSent.map(_.n).sum == n && timedSent.forall(_.first < n),
      s"generator sent ${timedSent.map(_.n).sum} timed messages, not $n")
    val lat = for {
      s <- timedSent
      ack = acks.ackUs(s.name)
      i <- 0 until s.n
    } yield (ack - (s.dueUs + i * gapUs)) / 1000.0
    def inWindow(us: Long) = us > t0 && us <= t1
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val timed = batches.filter(p => inWindow(acks.commitUs(p.batchId)))
    val lastAckUs = timedSent.map(s => acks.ackUs(s.name)).max
    // published but not yet acked, sampled at each publish in the window
    val published = sent.filter(s => s.publishedUs >= t0 && s.publishedUs <= t1)
    val backlog = published.map { p =>
      sent.filter(_.publishedUs <= p.publishedUs).map(_.n).sum -
        sent.filter(s => acks.ackUs(s.name) <= p.publishedUs).map(_.n).sum
    }
    val warmEnd = sent.map(s => s.first + s.n).max
    val (tally, sinkOf, warmWrong) = ledger(spark, d, seed, n, id => id >= WarmIds && id < warmEnd)
    probe.foreach(_ => org.apache.spark.GraftListenerFlush.flush(spark.sparkContext))

    val warmSpan = Trace.nextId()
    val timedSpan = Trace.nextId()
    Trace.add(Span(Trace.nextId(), runSpan, "setup", launchUs, warmUs))
    Trace.add(Span(warmSpan, runSpan, "warm-up", warmUs, t0))
    Trace.add(Span(timedSpan, runSpan, "timed", t0, t1, Map("messages" -> lat.size.toDouble)))
    batchSpans(batches, b => if (inWindow(acks.commitUs(b))) timedSpan else warmSpan, probe)

    val timedIds = sent.filter(s => inWindow(acks.ackUs(s.name)))
      .flatMap(s => s.first until s.first + s.n)
    Result(tally.wrong == 0 && tally.unknown == 0 && warmWrong == 0, tally.attempted, tally.failed, Seq(
      "setup_s" -> m((t0 - launchUs) / 1e6, "s"),
      // the window's messages over the time from its start to the ack
      // of the last of them: about the offered rate while the pipeline
      // keeps up, so it shows a regression only once batches fall
      // behind; microbatch.capacity_per_s follows batch cost
      "throughput_per_s" -> m(n / ((lastAckUs - t0) / 1e6), "1/s"),
      "latency_p50_ms" -> m(Stats.percentile(lat, 0.5), "ms"),
      "latency_p99_ms" -> m(Stats.percentile(lat, 0.99), "ms"),
      "delivered_frac" -> m(tally.delivered.toDouble / tally.attempted, "fraction"),
      "peak_rss_mb" -> m(rssMb, "MiB"),
      "jvm.gc_ms" -> m(gcMs.toDouble, "ms"),
      "jvm.heap_peak_mb" -> m(heapMb, "MiB"),
      "live.gen_late_ms_max" -> m(published.map(s => s.publishedUs - s.scheduledUs).max / 1000.0, "ms"),
      "live.backlog_max_msgs" -> m(backlog.max.toDouble, "count"),
      "live.backlog_growth_msgs" -> m((backlog.last - backlog.head).toDouble, "count")
    ) ++ layers(timed, acks, timedIds, seed, sinkOf, probe, windowUs.toDouble),
      Seq(s"ledger: ${tally.attempted} sent, ${tally.delivered} delivered, ${tally.lost} lost, " +
        s"${tally.dual} in both sinks, ${tally.wrong} wrong, ${tally.unknown} unknown ids; " +
        s"$warmWrong warm-up rows wrong",
        s"latency samples: ${lat.size}"))
  }
}
