package graft

/** Benchmark main: times every SparkEntry query at
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Each query is forced end-to-end with a `noop`-format write — a
  * plain `count()` would let Catalyst prune the whole projection and
  * time only the scan. One cheap untimed warm-up per source table
  * absorbs JVM/codegen startup and first-scan costs, so per-query
  * numbers measure the plan rather than whichever query happened to
  * touch a table first.
  *
  * FORMAT v2 (round 13): the headline `value` is the sum of
  * PER-QUERY MEDIANS over [[BenchReps]] interleaved full passes
  * (pass 1 all queries, pass 2 all queries, …), the probe harness's
  * own discipline applied to the committed bench. Round 12 proved a
  * single-pass total cannot be reproduced on a bursty host (two
  * same-binary runs disagreed 10% raw) and that normalizing by a
  * canary scalar measured at one instant AMPLIFIES the noise (45%
  * apart normalized): a 6-minute suite samples host load once per
  * query, so the only honest statistic is per-query, with the reps
  * spread ~6 minutes apart in time. The canary stays measured and
  * serialized as a HOST-HEALTH flag (`canary_ratio` far from 1.0 =
  * don't trust cross-round comparison), but `value_canary_norm` is
  * retired — nothing is normalized any more. `value_pass1` retains
  * the v1 single-pass raw total for cross-round continuity.
  *
  * The JSON result line is printed to stdout AND written to
  * `bench_result.json` in the working directory — under sbt the
  * logger prefixes stdout lines, which round 1 showed breaks the
  * driver's parse. Per-rep per-query raw times land in
  * `bench_reps.json` so dispersion is auditable per query.
  */
object Bench {
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Full interleaved suite passes for the committed bench. 3 is the
    * probe scripts' own rep count; the per-query median of 3 passes
    * ~6 minutes apart is robust to one bursty window in either
    * direction. Filtered (arg-list) invocations default to ONE pass
    * because the probe harness supplies its own outer rep loop;
    * SPARK_GRAFT_BENCH_REPS overrides both. */
  val BenchReps = 3

  /** Median of the non-negative (successful) rep times; -1.0 when
    * every rep failed — the v1 single-run failure convention, kept so
    * downstream tooling's `filter(_ >= 0)` math is unchanged. */
  private[graft] def medianRep(reps: Seq[Double]): Double = {
    val ok = reps.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
  }

  /** Fixed host-speed canary: 10 cheap queries spanning scan, hash
    * agg, join, as-of window, text codegen, fingerprint groupBy and
    * vector math — run (post-warm-up, pre-suite) so every committed
    * bench carries its own measurement of AMBIENT HOST SPEED. Two
    * rounds on drifted hardware showed a uniform 1.34× swing on
    * queries with zero-line plan diffs; the canary ratio
    * (canary_sec / committed reference) flags that. HOST-HEALTH FLAG
    * ONLY since format v2: round 12 proved a scalar measured at one
    * instant cannot normalize a 6-minute suite on a bursty host (two
    * same-binary runs normalized 45% apart — the division AMPLIFIED
    * noise), so `value_canary_norm` is retired and the headline is
    * the per-query median over interleaved passes instead. A ratio
    * far from 1.0 still means "different host speed than the
    * reference — don't read cross-round deltas literally". The set is
    * FROZEN — changing it invalidates `benchdata/canary_ref.json`
    * (re-measure the reference in the same commit, CanarySpec pins
    * the pairing). */
  val CanaryNames: Seq[String] = Seq(
    "q0_scan", "q1_pricing_summary", "q2_revenue_by_nation",
    "ev_asof_join", "ev_type_stats", "text_token_count",
    "doc_unigram_score", "dedup_exact", "emb_rand_proj", "mm_meta")
  val CanaryReps = 5
  private[graft] val CanaryRefPath = "benchdata/canary_ref.json"

  /** MEDIAN-across-reps of the canary totals. Round 11 used min-of-3
    * — right on an idle host (noise only adds time) and wrong under
    * bursty load: one lucky rep in a 31%-dispersed set minted a
    * phantom 17% "regression" (two same-binary runs two hours apart
    * disagreed by 22%). The median ignores one-sided outliers in BOTH
    * directions; with 5 reps it is a 3-rep agreement. The rep spread
    * ((max-min)/median, recorded in bench_canary.json) lets a
    * dispersed canary flag itself. */
  private[graft] def canarySec(repTotals: Seq[Double]): Double = {
    val s = repTotals.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Relative rep dispersion: (max − min) / median. */
  private[graft] def canarySpread(repTotals: Seq[Double]): Double =
    (repTotals.max - repTotals.min) / canarySec(repTotals)

  /** The committed reference canary seconds, if present. */
  private[graft] def canaryRef(): Option[Double] = {
    val p = java.nio.file.Paths.get(CanaryRefPath)
    if (!java.nio.file.Files.exists(p)) None
    else {
      // single-value extraction, no JSON lib on the main classpath:
      // the file is written by this object (writeCanary) so the
      // shape is fixed
      val s = java.nio.file.Files.readString(p)
      val m = """"canary_sec"\s*:\s*([0-9.]+)""".r
        .findFirstMatchIn(s)
      m.map(_.group(1).toDouble)
    }
  }

  /** (canary_sec, ref, ratio) serialized into the result lines; None
    * when the canary was skipped (filtered run / env opt-out). */
  private[graft] def canaryFields(c: Option[(Double, Option[Double])]): String =
    c match {
      case None => ""
      case Some((sec, ref)) =>
        val base = s""","canary_sec":${fmt(sec)}"""
        ref match {
          case None => base
          case Some(r) =>
            // 6 decimals: at 3 the rounded ratio drifts the implied
            // value/value_canary_norm relation by whole seconds
            val ratio = String.format(java.util.Locale.ROOT, "%.6f",
              Double.box(sec / r))
            base + s""","canary_ref_sec":${fmt(r)}""" +
              s""","canary_ratio":$ratio"""
        }
    }

  /** v2 continuity/provenance fields: the v1 single-pass raw total
    * (pass 1's sum — what every BENCH_r{N<13} "value" measured) and
    * the pass count behind the per-query medians. Empty for
    * single-pass runs, whose `value` IS the v1 statistic. */
  private def repFields(passTotals: Seq[Double]): String =
    if (passTotals.size <= 1) ""
    else s""","format":"v2","reps":${passTotals.size}""" +
      s""","value_pass1":${fmt(passTotals.head)}"""

  /** `"cache_build":…` field — the warm-up phase's wall seconds,
    * reported as its OWN line item so shared index/cache construction
    * (LSH buckets, components labeling, ANN index, PQ codes, BPE
    * merges, CDC chunk store) is never misattributed to whichever
    * timed query touches a family first (round-10 verdict: the
    * first-touch query read 5× its marginal cost). The timed
    * per-query numbers measure MARGINAL cost; total engine cost for a
    * cold run is `cache_build + value`. */
  private def cacheBuildField(c: Option[Double]): String =
    c.map(s => s""","cache_build":${fmt(s)}""").getOrElse("")

  /** Full per-query JSON (values = per-query medians under v2) —
    * grows with the query count, so it is NOT the final stdout line
    * (see below). */
  private[graft] def fullLine(results: Seq[(String, Double)], sfDir: String,
      canary: Option[(Double, Option[Double])] = None,
      cacheBuild: Option[Double] = None,
      passTotals: Seq[Double] = Nil): String = {
    val qs = results.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      repFields(passTotals) + canaryFields(canary) +
      cacheBuildField(cacheBuild) +
      s""","queries":$qs,"sf":"$sfDir"}"""
  }

  /** Compact fixed-size summary (~110 B raw, ~250 B with the canary
    * triple, rep fields and cache_build; bounded ≤256 B by
    * DriverContractSpec) printed as the very last stdout line. */
  private[graft] def summaryLine(results: Seq[(String, Double)], sfDir: String,
      canary: Option[(Double, Option[Double])] = None,
      cacheBuild: Option[Double] = None,
      passTotals: Seq[Double] = Nil): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      repFields(passTotals) + canaryFields(canary) +
      cacheBuildField(cacheBuild) +
      s""","n_queries":${results.size},"sf":"$sfDir"}"""
  }

  /** Per-query shuffle attribution: stage-aggregated shuffle WRITE
    * bytes, completed-stage and started-job counts, accumulated by a
    * listener and snapshotted around each timed query (with a
    * listener-bus flush barrier on both sides — events post
    * asynchronously). Makes plan drift arithmetic the way the canary
    * made host drift arithmetic: a query whose wall time moved with a
    * zero-line diff either moved its shuffle bytes too (plan change —
    * investigate) or did not (ambient — ignore).
    * `scripts/probe_report.py` flags >20% round-over-round movement. */
  private[graft] final class ShuffleListener
      extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      ()
    }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      Option(e.stageInfo.taskMetrics).foreach(m =>
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: one cheap scan per table family plus one string-keyed
    // shuffle (first-shuffle JIT/codegen otherwise lands on whichever
    // timed query shuffles strings first), untimed. The rest build the
    // shared indexes — each an IndexCache entry, cut once per dataset
    // and read by several queries — so that timing a build inside
    // whichever consumer runs first would not charge one query for
    // all of them: ann_ivf the ANN index, dedup_lsh_pairs the LSH
    // bucket index, dedup_components the component labeling,
    // kmeans_train the label centroids and the trained quantizer,
    // emb_pq_encode the PQ codes, tf_bpe_train the BPE vocab and merge
    // table, emb_components the semantic labeling, and mm_near_dup the
    // perceptual index and the CDC chunk store. Timed queries then
    // measure marginal cost only.
    // SPARK_GRAFT_WARMUP_NAMES overrides the list for controlled
    // local probes (e.g. a minimal warm-up so index builds land
    // INSIDE their first timed consumer — the cold-build scaling
    // measurement); the driver never sets it, so its contract is the
    // default below.
    val warmup = sys.env.get("SPARK_GRAFT_WARMUP_NAMES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq("ann_ivf", "text_stats", "ev_type_stats", "q0_scan",
        "mm_meta", "dedup_exact", "dedup_lsh_pairs", "dedup_components",
        "kmeans_train", "emb_pq_encode", "tf_bpe_train", "emb_components",
        "mm_near_dup"))
    require(warmup.forall(SparkEntry.queries.contains),
      s"stale warm-up name: ${warmup.filterNot(SparkEntry.queries.contains)}")
    val tWarm0 = System.nanoTime()
    warmup.foreach(run)
    val cacheBuild = Some((System.nanoTime() - tWarm0) / 1e9)
    // optional args = query-name filter for controlled local reruns
    // (the driver always invokes with no args -> full sorted set);
    // unknown names fail loudly — a typo'd rerun must not "measure"
    // an empty set as 0.0s
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // host-speed canary: full-suite (driver) invocations only —
    // filtered local reruns and the sf1 probes compare within one
    // host/session and would just pay 3 extra reps
    val canary: Option[(Double, Option[Double])] =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_CANARY").contains("0"))
        None
      else {
        val reps = (1 to CanaryReps)
          .map(_ => CanaryNames.map(run).filter(_ >= 0).sum)
        val sec = canarySec(reps)
        val ref = canaryRef()
        val repsJson = reps.map(fmt).mkString("[", ",", "]")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("bench_canary.json"),
          s"""{"canary_sec":${fmt(sec)},"statistic":"median",""" +
            s""""spread":${fmt(canarySpread(reps))},"reps":$repsJson""" +
            ref.map(r => s""","ref_sec":${fmt(r)},"ratio":${fmt(sec / r)}""")
              .getOrElse("") +
            s""","names":${CanaryNames.map(n => s""""$n"""")
              .mkString("[", ",", "]")},"sf":"$sfDir"}\n""")
        Some((sec, ref))
      }
    // canary-only probe mode: measure ambient host speed (warm-up +
    // canary reps, bench_canary.json written above) and exit — the
    // re-baselining tool for canary_ref.json, never set by the driver
    if (sys.env.get("SPARK_GRAFT_CANARY_ONLY").contains("1")) {
      spark.stop()
      println(s"""{"metric":"canary_only","canary_sec":${
        fmt(canary.map(_._1).getOrElse(-1.0))}}""")
      return
    }
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.nonEmpty) names0.filter(args.toSet) else names0
    // v2 pass count: full-suite (driver) runs take the per-query
    // median of BenchReps interleaved passes; filtered runs stay
    // single-pass because the probe harness reps OUTSIDE the JVM
    // (cold-index measurements must not warm across reps)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt)
      .getOrElse(if (args.nonEmpty) 1 else BenchReps)
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)
    def flush(): Unit =
      org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
    // every pass snapshots the listener around each query (the flush
    // barrier costs ms); the sidecar attributes each query's bytes/
    // stages from its FIRST SUCCESSFUL rep — round-13 ADVICE: a
    // query that fails pass 1 but succeeds later must not record the
    // failed partial run's bytes as "the plan". IndexedSeq so the
    // per-index lookups below stay O(1).
    val idxNames = names.toIndexedSeq
    val passes: IndexedSeq[IndexedSeq[(Double, Long, Long, Long)]] =
      (1 to reps).map { _ =>
        idxNames.map { n =>
          flush()
          val (b0, s0, j0) = (listener.bytes.get(),
            listener.stages.get(), listener.jobs.get())
          val sec = run(n)
          flush()
          (sec, listener.bytes.get() - b0, listener.stages.get() - s0,
            listener.jobs.get() - j0)
        }
      }.toIndexedSeq
    val results = idxNames.zipWithIndex.map { case (n, i) =>
      n -> medianRep(passes.map(_(i)._1))
    }
    val passTotals = passes.map(_.map(_._1).filter(_ >= 0).sum)
    // per-query shuffle attribution sidecar (NOT on stdout — the
    // driver's tail window is for the two result lines only); a
    // query with no successful rep is marked rather than silently
    // publishing a failed run's partial bytes
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_shuffle.json"),
      idxNames.zipWithIndex.map { case (n, i) =>
        passes.find(_(i)._1 >= 0).map(_(i)) match {
          case Some((_, b, st, jb)) =>
            s""""$n":{"shuffle_bytes":$b,"stages":$st,"jobs":$jb}"""
          case None =>
            s""""$n":{"shuffle_bytes":-1,"stages":-1,"jobs":-1,"all_reps_failed":true}"""
        }
      }.mkString("""{"queries":{""", ",", s"""},"sf":"$sfDir"}""") + "\n")
    // per-pass raw times sidecar: the dispersion audit trail behind
    // every committed median (flags a query whose reps disagree)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_reps.json"),
      idxNames.zipWithIndex.map { case (n, i) =>
        s""""$n":${passes.map(p => fmt(p(i)._1)).mkString("[", ",", "]")}"""
      }.mkString("""{"reps":""" + reps + ""","queries":{""", ",",
        s"""},"sf":"$sfDir"}""") + "\n")
    // The driver parses a ~2.2 KB tail of stdout. The full per-query
    // line grows with the query count (≈2.9 KB at 88 queries) and
    // overflowed that window for three rounds — so the LAST line is
    // the compact fixed-size summary that always fits, with the full
    // per-query map on the line before it and in `bench_result.json`.
    // Whichever of the two tail lines the driver's parser grabs, it
    // parses.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_result.json"),
      fullLine(results, sfDir, canary, cacheBuild, passTotals) + "\n")
    // stop FIRST so no shutdown logging can land after the JSON: the
    // driver reads the tail of stdout and must see these lines last
    spark.stop()
    println(fullLine(results, sfDir, canary, cacheBuild, passTotals))
    println(summaryLine(results, sfDir, canary, cacheBuild, passTotals))
  }
}
