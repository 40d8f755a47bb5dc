package graft

import java.io.IOException
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.streaming.Reliability

/** The reference's reliability semantics (SURVEY.md §2.6), mirroring
  * its four actor tests (AkkaPipelineActorsTest.scala) plus the
  * Either-merge law (ErrorHandlingRxEnrichmentPipeline.scala:31-36). */
class ReliabilitySpec extends SparkSpec {
  import spark.implicits._

  test("E2 classification: IOException/Timeout temporary, rest not") {
    assert(Reliability.isTemporary(new IOException("x")))
    assert(Reliability.isTemporary(new TimeoutException("x")))
    assert(!Reliability.isTemporary(new IllegalArgumentException("x")))
    assert(!Reliability.isTemporary(new RuntimeException("x")))
  }

  test("E4 retry: succeeds after temporary failures (test 2 analog)") {
    val calls = new AtomicInteger(0)
    val r = Reliability.retry(5) {
      if (calls.incrementAndGet() <= 2) throw new IOException("flaky")
      "success!"
    }
    assert(r == "success!")
    assert(calls.get() == 3)
  }

  test("E4 retry: unrecoverable error short-circuits (test 3 analog)") {
    val calls = new AtomicInteger(0)
    intercept[IllegalArgumentException] {
      Reliability.retry(5) {
        calls.incrementAndGet()
        throw new IllegalArgumentException("bad message")
      }
    }
    assert(calls.get() == 1, "must not retry unrecoverable failures")
  }

  test("E4 retry: exhausting attempts rethrows the temporary error") {
    val calls = new AtomicInteger(0)
    intercept[IOException] {
      Reliability.retry(3) {
        calls.incrementAndGet(); throw new IOException("always down")
      }
    }
    assert(calls.get() == 3)
  }

  test("E9 withTimeout: hanging call classified temporary after N ms") {
    val t0 = System.nanoTime()
    val e = intercept[TimeoutException] {
      Reliability.withTimeout(200) { Thread.sleep(60000); "never" }
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(Reliability.isTemporary(e), "timeout must be retryable")
    assert(elapsedMs < 5000, s"returned in ${elapsedMs}ms, not hung")
  }

  test("E9 withTimeout: fast calls pass through, errors unwrapped") {
    assert(Reliability.withTimeout(5000)("ok") == "ok")
    intercept[IllegalArgumentException] {
      Reliability.withTimeout[String](5000) {
        throw new IllegalArgumentException("bad")
      }
    }
  }

  test("E9 stack: hung service rows land in DLQ, stream survives") {
    // per-attempt timeout + 2 attempts + error-as-value: the hanging
    // row exhausts its retries and carries a temporary TimeoutException
    // error; healthy rows are unaffected (the batch completes)
    val lifted = Reliability.fallibleWithTimeout(
      { case "hang" => Thread.sleep(60000); "never"; case s => s.toUpperCase },
      timeoutMs = 150, attempts = 2)
    val df = Seq("a", "hang", "b").toDF("value")
      .select(col("value"), lifted(col("value")).as("res"))
      .select(col("value"), col("res.value").as("out"),
        col("res.error").as(Reliability.ErrorCol))
    val (ok, dlq) = Reliability.split(df)
    assert(ok.select("out").as[String].collect().sorted.toSeq == Seq("A", "B"))
    val err = dlq.select(col("value"),
      col(s"${Reliability.ErrorCol}.clazz"),
      col(s"${Reliability.ErrorCol}.temporary")).collect()
    assert(err.length == 1)
    assert(err(0).getString(0) == "hang")
    assert(err(0).getString(1) == classOf[TimeoutException].getName)
    assert(err(0).getBoolean(2), "timeout must be classified temporary")
  }

  test("observedSplit: ok/DLQ ledger rides the sink action in one pass") {
    val df = Seq("a", "b", "c", "d").toDF("v")
      .withColumn("err",
        when(col("v").isin("b", "d"), concat(lit("fail-"), col("v"))))
    val (ok, _, obs) = Reliability.observedSplit(df, "err")
    // ONE sink action; the observe node sits above the split, so the
    // full ledger comes back without any extra scan
    ok.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_ok") === 2L && m("n_dlq") === 2L && m("n_total") === 4L,
      s"ledger: $m")
    // and the branches themselves route correctly (fresh, unobserved)
    val (ok2, dlq2) = Reliability.split(df, "err")
    assert(ok2.select("v").as[String].collect().toSet === Set("a", "c"))
    assert(dlq2.select("v").as[String].collect().toSet === Set("b", "d"))
  }

  test("E8 fallible: value XOR error, classification preserved") {
    val f = Reliability.fallible {
      case "boom" => throw new IllegalArgumentException("bad")
      case "flaky" => throw new IOException("net")
      case s => s.toUpperCase
    }
    val rows = Seq("ok", "boom", "flaky").toDF("v")
      .select(f(col("v")).as("r"))
      .select(col("r.value"), col("r.error.clazz"),
        coalesce(col("r.error.temporary"), lit(false)))
      .as[(String, String, Boolean)].collect().toSeq
    assert(rows(0) == (("OK", null, false)))
    assert(rows(1)._1 == null)
    assert(rows(1)._2 == "java.lang.IllegalArgumentException")
    assert(!rows(1)._3)
    assert(rows(2)._2 == "java.io.IOException")
    assert(rows(2)._3)
  }

  test("E3 row-level bounded retry inside fallible(f, attempts)") {
    // deterministic flaky service: fails twice per distinct input then
    // succeeds (mock-Dao pattern, AkkaPipelineActorsTest.scala:59-77)
    val f = Reliability.fallible(
      FlakyRegistry.failTwiceThenUpper("rspec1"), attempts = 3)
    val g = Reliability.fallible(
      FlakyRegistry.failTwiceThenUpper("rspec2"), attempts = 2)
    val ok = Seq("a").toDF("v").select(f(col("v")).as("r"))
      .select("r.value").as[String].head()
    assert(ok == "A", "3 attempts survive 2 temporary failures")
    val err = Seq("b").toDF("v").select(g(col("v")).as("r"))
      .select("r.error.temporary").as[Boolean].head()
    assert(err, "2 attempts exhaust and surface the temporary error")
  }

  test("E8 attempt: only NonFatal throwables become error values") {
    // the row function is called directly: a fatal error inside a
    // local-mode Spark task could take the test JVM down with it
    val calls = new AtomicInteger(0)
    val bad = Reliability.attempt({ _ =>
      calls.incrementAndGet(); throw new IllegalStateException("x")
    }, 3)("a")
    assert(bad.value == null)
    assert(bad.error.clazz == "java.lang.IllegalStateException")
    assert(!bad.error.temporary)
    assert(calls.get() == 1, "unrecoverable failures must not retry")
    def raise(t: Throwable): String => String = _ => throw t
    intercept[OutOfMemoryError] {
      Reliability.attempt(raise(new OutOfMemoryError("vm")), 3)("a")
    }
    intercept[InterruptedException] {
      Reliability.attempt(raise(new InterruptedException("stop")), 3)("a")
    }
    intercept[LinkageError] {
      Reliability.attempt(raise(new LinkageError("link")), 3)("a")
    }
  }

  test("J4 merge: first error wins, success iff all null") {
    val df = Seq(
      (null.asInstanceOf[String], null.asInstanceOf[String], "e3"),
      (null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String]),
      ("e1", "e2", null.asInstanceOf[String]))
      .toDF("a", "b", "c")
    val got = df.select(
      Reliability.mergeErrors(col("a"), col("b"), col("c"))).as[String]
      .collect().toSeq
    assert(got == Seq("e3", null, "e1"))
  }

  test("E6 split: ok and dlq partition the input") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "boom"), (3L, null.asInstanceOf[String]))
      .toDF("id", "error")
    val (ok, dlq) = Reliability.split(df)
    assert(ok.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(dlq.select("id").as[Long].collect().toSeq == Seq(2L))
  }
}

/** Executor-side registry of stateful flaky services (udf closures
  * must be serializable; state lives in this JVM-global object, which
  * works in local mode where driver and executors share the JVM). */
object FlakyRegistry {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()

  def failTwiceThenUpper(ns: String): String => String = { s =>
    val k = ns + "/" + s
    val c = counts.computeIfAbsent(k, _ => new AtomicInteger(0))
    if (c.incrementAndGet() <= 2) throw new IOException("flaky " + k)
    s.toUpperCase
  }
}
