package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span of the trace tree; times are epoch microseconds. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, counters: Map[String, Double] = Map.empty)

/** Spans kept in memory and written as JSONL when the run ends. Off in
  * untraced runs: [[add]] then drops everything. */
object Trace {
  @volatile private var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def enable(): Unit = enabled = true
  def on: Boolean = enabled
  def nextId(): Long = ids.incrementAndGet()
  def size: Int = spans.size

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Runs `f` inside a span named `name` whose id `f` receives. */
  def span[T](name: String, parent: Long)(f: Long => T): T = {
    val id = nextId()
    val t0 = nowUs()
    try f(id) finally add(Span(id, parent, name, t0, nowUs()))
  }

  /** Duration minus the part of it covered by child spans. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs),
      math.min(c.endUs, s.endUs))).filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endUs - s.startUs) - covered
  }

  def write(path: java.nio.file.Path): Unit = {
    val all = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":${selfUs(s, kids.getOrElse(s.id, Nil))},""" +
        s""""counters":{$cs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Scheduler-side counters per job and stage, registered only in traced
  * runs. A job is attributed to a micro-batch by Spark's
  * `streaming.sql.batchId` local property and to a harness span by
  * [[SchedProbe.SpanKey]]. */
final class SchedProbe extends SparkListener {
  import SchedProbe._
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val r = new JobRec(e.jobId, e.time,
      prop("streaming.sql.batchId").map(_.toLong),
      prop(SpanKey).map(_.toLong),
      e.stageInfos.headOption.map(_.name).getOrElse(""))
    jobs.put(e.jobId, r)
    e.stageIds.foreach(stageJob.putIfAbsent(_, r))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      val i = e.taskInfo
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.recordsRead += m.inputMetrics.recordsRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.delayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            i.gettingResultTime)
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stageJob.get(s.stageId)).foreach { r =>
      r.synchronized {
        r.stages += StageRec(s.name, s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L), s.numTasks)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { r =>
      r.endMs = e.time
      r.ok = e.jobResult == JobSucceeded
    }

  /** Finished jobs, in start order. */
  def finished: Seq[JobRec] =
    jobs.values.asScala.filter(_.endMs > 0).toSeq.sortBy(_.id)
}

object SchedProbe {
  val SpanKey = "perfbench.span"

  final case class StageRec(name: String, startMs: Long, endMs: Long, tasks: Int)

  final class JobRec(val id: Int, val startMs: Long, val batchId: Option[Long],
      val span: Option[Long], val callSite: String) {
    @volatile var endMs = 0L
    @volatile var ok = true
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var recordsRead = 0L
    var shuffleWrite = 0L
    var delayMs = 0L
    val stages = ArrayBuffer.empty[StageRec]

    def counters: Map[String, Double] = Map(
      "stages" -> stages.size.toDouble, "tasks" -> tasks.toDouble,
      "task_run_ms" -> runMs.toDouble, "task_cpu_ms" -> cpuNs / 1e6,
      "records_read" -> recordsRead.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "scheduler_delay_ms" -> delayMs.toDouble, "failed" -> (if (ok) 0.0 else 1.0))

    /** Job span plus one span per completed stage under it. */
    def spans(parent: Long): Seq[Span] = {
      val jid = Trace.nextId()
      Span(jid, parent, s"job ${callSite}", startMs * 1000, endMs * 1000, counters) +:
        stages.toSeq.map(s => Span(Trace.nextId(), jid, s"stage ${s.name}",
          s.startMs * 1000, s.endMs * 1000, Map("tasks" -> s.tasks.toDouble)))
    }
  }

  /** Scheduler metrics over `jobs` run in a window of `windowMs` on
    * `cores` task slots. */
  def schedulerMetrics(jobs: Seq[JobRec], windowMs: Double, cores: Int)
      : Seq[(String, Metric)] = {
    val tasks = jobs.map(_.tasks).sum
    Seq(
      "scheduler.jobs" -> Metric(jobs.size.toDouble, "count"),
      "scheduler.stages" -> Metric(jobs.map(_.stages.size).sum.toDouble, "count"),
      "scheduler.tasks" -> Metric(tasks.toDouble, "count"),
      "scheduler.task_busy_frac" -> Metric(
        if (windowMs > 0) jobs.map(_.runMs).sum / (windowMs * cores) else 0.0, "fraction"),
      "scheduler.delay_ms" -> Metric(
        if (tasks > 0) jobs.map(_.delayMs).sum.toDouble / tasks else 0.0, "ms"))
  }
}
