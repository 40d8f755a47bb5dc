package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The fixpoint-query workload: `SparkEntry.queries` entries forced
  * with a `noop` write, as `graft.Bench` does, in interleaved passes
  * after a digest check and a fixed number of warm-up passes. */
object Iterative {
  /** The queries timed, from the iterative family that ROADMAP item 4
    * moves onto one fixpoint loop; README.md says why the other five
    * are left out. */
  val Queries: Seq[String] = Seq("ev_user_pagerank")
  /** Untimed passes after the digest run. Passes keep getting faster
    * for 30 and more passes (about 5.5 s to 2.5 s), in steps that
    * host noise hides, so a stopping rule ends the warm-up at a
    * different point of that ramp in every run; a fixed count puts
    * every run's timed passes at the same point. Three passes keep a
    * run within the time a benchmark round allows on a slow host. */
  val WarmPasses = 3
  val MinTimedPasses = 2

  /** Order-independent digest of a result: its schema and its rows,
    * each rendered exactly (doubles in round-trip form), sorted. */
  def digest(df: DataFrame): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.simpleString.getBytes("UTF-8"))
    df.collect().map(canon).sorted.foreach { r =>
      md.update('\n'.toByte)
      md.update(r.getBytes("UTF-8"))
    }
    md.digest().map(x => f"$x%02x").mkString
  }

  def expectedDigests(file: java.io.File): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(file)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  def sha256(f: java.io.File): String =
    MessageDigest.getInstance("SHA-256").digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map(x => f"$x%02x").mkString

  /** Input files whose SHA-256 differs from its `input.<file>` entry in
    * `expected`: the digests hold only for the data they were taken on. */
  def changedInputs(data: String, expected: Map[String, String]): Seq[String] =
    expected.toSeq.collect { case (k, h) if k.startsWith("input.") => k.stripPrefix("input.") -> h }
      .filterNot { case (f, h) => sha256(new java.io.File(data, f)) == h }.map(_._1).sorted

  final case class Run(name: String, startUs: Long, endUs: Long, span: Long) {
    def seconds: Double = (endUs - startUs) / 1e6
  }

  /** Runs `f` in span `name`, tagging the jobs it starts with the span. */
  private def under[T](spark: SparkSession, name: String, parent: Long)(f: Long => T): T =
    Trace.span(name, parent) { id =>
      spark.sparkContext.setLocalProperty(SchedProbe.SpanKey, id.toString)
      try f(id) finally spark.sparkContext.setLocalProperty(SchedProbe.SpanKey, null)
    }

  /** One execution of every query. */
  private def pass(spark: SparkSession, data: String, parent: Long): Seq[Run] =
    Queries.map { n =>
      under(spark, s"query $n", parent) { id =>
        val t0 = Trace.nowUs()
        SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
        Run(n, t0, Trace.nowUs(), id)
      }
    }

  def run(spark: SparkSession, data: String, expected: Map[String, String],
      seconds: Int, probe: Option[SchedProbe], runSpan: Long, launchUs: Long): Result = {
    val warmUs = Trace.nowUs()
    val changed = changedInputs(data, expected)
    val warmSpan = Trace.nextId()
    val mismatched = under(spark, "digest", warmSpan) { _ =>
      Queries.filterNot(n => expected.get(n).contains(digest(SparkEntry.queries(n)(spark, data))))
    }
    val warm = (1 to WarmPasses).map(_ => pass(spark, data, warmSpan).map(_.seconds).sum)
    Stats.resetHeapPeak()
    val gc0 = Stats.gcMs()
    val timedUs = Trace.nowUs()
    val timedSpan = Trace.nextId()
    var passes = Vector.empty[Seq[Run]]
    while (passes.size < MinTimedPasses || Trace.nowUs() - timedUs < seconds * 1e6)
      passes :+= pass(spark, data, timedSpan)
    val endUs = Trace.nowUs()
    val rssMb = Stats.peakRssMb()
    val gcMs = Stats.gcMs() - gc0
    val heapMb = Stats.heapPeakMb()
    probe.foreach(_ => org.apache.spark.GraftListenerFlush.flush(spark.sparkContext))

    Trace.add(Span(Trace.nextId(), runSpan, "setup", launchUs, warmUs))
    Trace.add(Span(warmSpan, runSpan, "warm-up", warmUs, timedUs,
      Map("passes" -> warm.size.toDouble)))
    Trace.add(Span(timedSpan, runSpan, "timed", timedUs, endUs,
      Map("passes" -> passes.size.toDouble)))
    val jobsBySpan = probe.map(_.finished.groupBy(_.span)).getOrElse(Map.empty)
    if (Trace.on) for ((id, js) <- jobsBySpan; j <- js) j.spans(id.getOrElse(runSpan)).foreach(Trace.add)

    val runs = passes.flatten
    def jobsOf(r: Run) = jobsBySpan.getOrElse(Some(r.span), Nil)
    val medians = Queries.map(n => Stats.median(runs.filter(_.name == n).map(_.seconds)))
    val times = runs.map(_.seconds * 1000)
    def m(v: Double, unit: String) = Metric(v, unit)
    val perQuery = Queries.zip(medians).flatMap { case (n, median) =>
      val mine = runs.filter(_.name == n)
      def med(f: (Run, Seq[SchedProbe.JobRec]) => Double) =
        Stats.median(mine.map(r => f(r, jobsOf(r))))
      Seq(
        s"iter.$n.s" -> m(median, "s"),
        s"iter.$n.jobs" -> m(med((_, js) => js.size.toDouble), "count"),
        s"iter.$n.stages" -> m(med((_, js) => js.map(_.stages.size).sum.toDouble), "count"),
        // wall time with no job running: planning, codegen and the
        // per-round work between jobs, as seen from outside
        s"iter.$n.outside_jobs_ms" -> m(med((r, js) => Trace.selfUs(Span(0, 0, "", r.startUs, r.endUs),
          js.map(j => Span(0, 0, "", j.startMs * 1000, j.endMs * 1000))) / 1000.0), "ms"),
        s"iter.$n.shuffle_write_bytes" -> m(med((_, js) => js.map(_.shuffleWrite).sum.toDouble), "bytes"),
        s"iter.$n.task_busy_frac" -> m(med((r, js) =>
          js.map(_.runMs).sum / (r.seconds * 1000 * Main.Cores)), "fraction"),
        s"iter.$n.cut_jobs" -> m(med((_, js) =>
          js.count(_.callSite.startsWith("localCheckpoint")).toDouble), "count"))
    }
    val passTotals = passes.map(_.map(_.seconds).sum)
    val failed = mismatched.size
    Result(failed == 0 && changed.isEmpty, Queries.size.toLong, failed.toLong, Seq(
      "setup_s" -> m((timedUs - launchUs) / 1e6, "s"),
      "throughput_per_s" -> m(Queries.size / medians.sum, "1/s"),
      "latency_p50_ms" -> m(Stats.median(times), "ms"),
      // a run holds about 5 executions, too few for a tail percentile
      // (ten samples beyond it), so this field carries the median too
      "latency_p99_ms" -> m(Stats.median(times), "ms"),
      "delivered_frac" -> m(1 - failed.toDouble / Queries.size, "fraction"),
      "peak_rss_mb" -> m(rssMb, "MiB"),
      "jvm.gc_ms" -> m(gcMs.toDouble, "ms"),
      "jvm.heap_peak_mb" -> m(heapMb, "MiB"),
      "timed.first_last_ratio" -> m(passTotals.head / Stats.median(passTotals.tail), "ratio")
    ) ++ perQuery ++
      SchedProbe.schedulerMetrics(runs.flatMap(jobsOf), (endUs - timedUs) / 1000.0, Main.Cores),
      Seq(s"warm-up passes (s): ${warm.map(x => f"$x%.2f").mkString(" ")}",
        s"timed passes (s): ${passTotals.map(x => f"$x%.2f").mkString(" ")}") ++
        mismatched.map(n => s"digest mismatch: $n") ++
        changed.map(f => s"input differs from the data the digests were taken on: $f"))
  }
}
