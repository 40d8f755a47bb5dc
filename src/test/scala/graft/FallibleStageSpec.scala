package graft

import java.io.{File, IOException}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{EnrichmentPipeline, Reliability}

/** The concurrent fallible stage ([[Reliability.fallible]]): calls of
  * one partition overlap, rows keep input order and their own outcome,
  * a fatal throwable fails the batch instead of becoming a DLQ row, and
  * a failed task leaves no call of its own behind. */
class FallibleStageSpec extends SparkSpec {
  import spark.implicits._

  test("two calls of one partition are in flight together") {
    // each call waits for the other: a serial stage times the first out
    val rows = Reliability.fallible(Seq("a", "b").toDF("v").coalesce(1),
        "v", "r", StageProbes.pair("pair"))
      .select(col("v"), col("r"), col("error.clazz"))
      .as[(String, String, String)].collect().toSeq
    assert(rows == Seq(("a", "A", null), ("b", "B", null)))
  }

  test("seeded random delays: calls finish out of order, yet each row " +
      "keeps its own outcome, in input order") {
    val in = Checkpointing.cut((0 until 300).map(i => s"m$i").toDF("v")
      .coalesce(1))
    val inOrder = in.as[String].collect().toSeq
    val out = Reliability.fallible(in, "v", "r",
        StageProbes.delayed("delays", seed = 23L))
      .select(col("v"), col("r"), col("error.clazz"), col("error.msg"))
      .as[(String, String, String, String)].collect().toSeq
    assert(out.map(_._1) == inOrder, "rows must leave in input order")
    out.foreach { case (v, r, clazz, msg) =>
      val want = StageProbes.outcome(v, 23L)
      assert((r, clazz, msg) == want, s"row $v")
    }
    assert(out.exists(_._3 != null) && out.exists(_._3 == null),
      "the fault model must bite")
    val finished = StageProbes.finished("delays")
    assert(finished.sorted == inOrder.sorted)
    assert(finished != inOrder, "the delays never reordered a call")
  }

  test("a fatal throwable from the service fails the query and writes " +
      "no DLQ row") {
    val in = tmpDir("fatal-in"); val ok = tmpDir("fatal-ok")
    val dlq = tmpDir("fatal-dlq"); val cp = tmpDir("fatal-cp")
    (0L until 10L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp, StageProbes.fatalOn("Input Data: 3"))
    val e = intercept[StreamingQueryException](q.awaitTermination())
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[LinkageError]),
      s"the query failed, but not with the service's error: $e")
    def parquetUnder(d: String): Seq[File] = {
      def walk(f: File): Seq[File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(walk) :+ f
      walk(new File(d)).filter(_.getName.endsWith(".parquet"))
    }
    assert(parquetUnder(dlq).isEmpty, "a fatal error became a DLQ row")
    assert(parquetUnder(ok).isEmpty, "the failed batch wrote its ok route")
  }

  test("a failed task leaves none of its calls queued or running") {
    // hold all pool threads but one, so the task's later calls queue
    val gate = new CountDownLatch(1)
    val held = new CountDownLatch(Reliability.PoolThreads - 1)
    (1 until Reliability.PoolThreads).foreach { _ =>
      Reliability.pool.execute(() => { held.countDown(); gate.await() })
    }
    try {
      assert(held.await(30, TimeUnit.SECONDS), "pool threads never started")
      val rows = "fatal" +: (1 until 20).map(i => s"slow$i")
      intercept[SparkException] {
        Reliability.fallible(rows.toDF("v").coalesce(1), "v", "r",
          StageProbes.fatalFirst("failed")).collect()
      }
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (StageProbes.running("failed") > 0 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(StageProbes.running("failed") == 0,
        "a call of the failed task is still running")
      assert(Reliability.pool.getQueue.isEmpty,
        "a call of the failed task is still queued")
      val started = StageProbes.started("failed")
      assert(started >= 1 && started <= 2, s"$started calls started")
      Thread.sleep(300)
      assert(StageProbes.started("failed") == started,
        "a call of the failed task started after the task ended")
    } finally gate.countDown()
  }
}

/** Services for [[FallibleStageSpec]]. Their state lives in this
  * JVM-global object, which local mode shares with the executors, so
  * the closures stay serializable. */
object StageProbes {
  private val latches = new ConcurrentHashMap[String, CountDownLatch]()
  private val done = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  private val starts = new ConcurrentHashMap[String, AtomicInteger]()
  private val runs = new ConcurrentHashMap[String, AtomicInteger]()

  private def counter(m: ConcurrentHashMap[String, AtomicInteger], ns: String) =
    m.computeIfAbsent(ns, _ => new AtomicInteger(0))

  /** Succeeds only if another call of `ns` arrives within 5 s. */
  def pair(ns: String): String => String = { s =>
    val l = latches.computeIfAbsent(ns, _ => new CountDownLatch(2))
    l.countDown()
    if (!l.await(5, TimeUnit.SECONDS)) throw new TimeoutException(s"$s waited alone")
    s.toUpperCase
  }

  /** (value, error class, error message) the [[delayed]] service gives `v`. */
  def outcome(v: String, seed: Long): (String, String, String) =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(v, seed.toInt), 10) match {
      case 0 => (null, "java.lang.IllegalArgumentException", s"invalid $v")
      case 1 => (null, "java.io.IOException", s"temporary $v")
      case _ => (s"done $v", null, null)
    }

  /** Waits a seeded 0–3 ms, records that `v` finished, then answers
    * [[outcome]]. */
  def delayed(ns: String, seed: Long): String => String = { v =>
    Thread.sleep(new scala.util.Random(seed * 31 + v.hashCode).nextInt(4).toLong)
    done.computeIfAbsent(ns, _ => new ConcurrentLinkedQueue[String]()).add(v)
    outcome(v, seed) match {
      case (r, null, _) => r
      case (_, "java.io.IOException", m) => throw new IOException(m)
      case (_, _, m) => throw new IllegalArgumentException(m)
    }
  }

  def finished(ns: String): Seq[String] =
    Option(done.get(ns)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Throws a fatal (not `NonFatal`) error on `value`. */
  def fatalOn(value: String): String => String = { s =>
    if (s == value) throw new LinkageError(s"fatal $s")
    s"stored $s"
  }

  /** `"fatal"` throws a fatal error at once; every other call sleeps a
    * minute unless interrupted. Counts calls started and running. */
  def fatalFirst(ns: String): String => String = { s =>
    counter(starts, ns).incrementAndGet()
    counter(runs, ns).incrementAndGet()
    try {
      if (s == "fatal") throw new LinkageError("fatal")
      Thread.sleep(60000)
      s
    } finally counter(runs, ns).decrementAndGet()
  }

  def started(ns: String): Int = counter(starts, ns).get
  def running(ns: String): Int = counter(runs, ns).get
}
