package graft

import java.io.IOException
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.streaming.Reliability

/** The reference's reliability semantics (SURVEY.md §2.6), mirroring
  * its four actor tests (AkkaPipelineActorsTest.scala). */
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

  test("E8 fallible: value XOR error, classification preserved") {
    val f: String => String = {
      case "boom" => throw new IllegalArgumentException("bad")
      case "flaky" => throw new IOException("net")
      case s => s.toUpperCase
    }
    val rows = Reliability.fallible(Seq("ok", "boom", "flaky").toDF("v"),
        "v", "value", f, attempts = 1)
      .select(col("value"), col("error.clazz"),
        coalesce(col("error.temporary"), lit(false)))
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
    val ok = Reliability.fallible(Seq("a").toDF("v"), "v", "r",
        FlakyRegistry.failTwiceThenUpper("rspec1"), attempts = 3)
      .select("r").as[String].head()
    assert(ok == "A", "3 attempts survive 2 temporary failures")
    val err = Reliability.fallible(Seq("b").toDF("v"), "v", "r",
        FlakyRegistry.failTwiceThenUpper("rspec2"), attempts = 2)
      .select("error.temporary").as[Boolean].head()
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

  test("E6 split: ok and dlq partition the input") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "boom"), (3L, null.asInstanceOf[String]))
      .toDF("id", "error")
    val (ok, dlq) = Reliability.split(df)
    assert(ok.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(dlq.select("id").as[Long].collect().toSeq == Seq(2L))
  }
}

/** Executor-side registry of stateful flaky services (task closures
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
