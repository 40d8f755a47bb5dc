package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Checks of the harness's own arithmetic, run before every workload. */
object SelfTest {
  def run(): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) errs += s"self-check: $what"

    // planted sinks over ids 0..5: 0 and 5 ok, 1 dead-lettered, 2 ok
    // with a wrong upper-case field, 3 in both sinks, 4 in neither
    val seed = 7L
    val ok = Seq(Ledger.expectedOk(seed, 0), Ledger.expectedOk(seed, 2).copy(extra2 = "X"),
      Ledger.expectedOk(seed, 3), Ledger.expectedOk(seed, 5))
    val dlq = Seq(
      Ledger.DlqRow(1, Messages.value(seed, 1), FaultModel.TemporaryClass),
      Ledger.DlqRow(3, Messages.value(seed, 3), FaultModel.UnrecoverableClass))
    val t = Ledger.tally(seed, 6, ok.iterator, dlq.iterator)
    check(t == Ledger.Tally(6, 3, 1, 1, 1, 0, 4, 2) && t.failed == 3, s"planted ledger gave $t")

    val xs = (100 to 1 by -1).map(_.toDouble)
    check(Stats.percentile(xs, 0.5) == 50 && Stats.percentile(xs, 0.99) == 99 &&
      Stats.percentile(xs, 1.0) == 100 && Stats.percentile(Seq(3.0, 1.0, 2.0), 0.99) == 3 &&
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "percentile helper")

    def draws(s: Long) = for (id <- 0L until 20000L; c <- 0 until 3)
      yield FaultModel.outcome(s, id, c)
    val a = draws(42)
    check(a == draws(42), "same seed, different fault outcomes")
    check(a != draws(43), "fault outcomes ignore the seed")
    val fail = a.count(_ != FaultModel.Ok).toDouble / a.size
    val temp = a.count(_ == FaultModel.Temporary).toDouble / a.size
    check(math.abs(fail - 0.2) < 0.01 && math.abs(temp - 0.1) < 0.01,
      f"fault shares $fail%.4f failed, $temp%.4f temporary")
    check((0L until 1000L).forall(id => Messages.idOf(Messages.value(3, id)) == id),
      "message id round trip")
    errs.toSeq
  }
}

object Main {
  val Cores = 4

  private def session(work: File): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder().master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000"), Cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `--workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR
    * --launch-us T [--trace-out FILE]`, or `--digest DIR --query Q` to
    * print the digest of a saved query result. */
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.contains("digest")) {
      val spark = session(new File(a("work")))
      println(s"${a("query")}=${Iterative.digest(spark.read.parquet(a("digest")))}")
      spark.stop()
      return
    }
    val launchUs = a("launch-us").toLong
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val work = new File(a("work"))
    val data = new File(a("data"))
    val selfCheck = SelfTest.run()
    if (a("trace") == "1") Trace.enable()
    val spark = session(work)
    val probe = if (Trace.on) {
      val p = new SchedProbe
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    val runSpan = Trace.nextId()
    val r = a("workload") match {
      case "pipeline_live" =>
        Pipelines.live(spark, new File(work, "pipeline"), seed, seconds, probe, runSpan, launchUs)
      case "queries_iterative" =>
        Iterative.run(spark, new File(data, "sf0.1").getAbsolutePath,
          Iterative.expectedDigests(new File(data, "expected_digests.properties")),
          seconds, probe, runSpan, launchUs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spark.stop()
    Trace.add(Span(runSpan, 0, s"run ${a("workload")} seed $seed", launchUs, Trace.nowUs()))
    a.get("trace-out").filter(_ => Trace.on).foreach(p => Trace.write(new File(p).toPath))
    val spans = Seq("trace.spans" -> Metric(Trace.size.toDouble, "count"))
    println(Json.result(r.copy(correct = r.correct && selfCheck.isEmpty,
      metrics = r.metrics ++ spans, notes = r.notes ++ selfCheck)))
  }
}
