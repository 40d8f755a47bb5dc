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
        "v", "value", f)
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

  test("E8 attempt: only NonFatal throwables become error values") {
    // the row function is called directly: a fatal error inside a
    // local-mode Spark task could take the test JVM down with it
    val calls = new AtomicInteger(0)
    val bad = Reliability.attempt({ _ =>
      calls.incrementAndGet(); throw new IllegalStateException("x")
    })("a")
    assert(bad.value == null)
    assert(bad.error.clazz == "java.lang.IllegalStateException")
    assert(!bad.error.temporary)
    assert(calls.get() == 1, "unrecoverable failures must not retry")
    def raise(t: Throwable): String => String = _ => throw t
    intercept[OutOfMemoryError] {
      Reliability.attempt(raise(new OutOfMemoryError("vm")))("a")
    }
    intercept[InterruptedException] {
      Reliability.attempt(raise(new InterruptedException("stop")))("a")
    }
    intercept[LinkageError] {
      Reliability.attempt(raise(new LinkageError("link")))("a")
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
