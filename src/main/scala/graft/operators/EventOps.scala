package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Checkpointing.{denseFrame, driverRounds, roundRelation,
  vectorRound}
import graft.functions.Exact._
import graft.functions.Hashing
import graft.sources.Tables

/** Query surface over the `events` table: JSON prop extraction,
  * event-time bucketing, sessionization, exact dedup, top-k.
  *
  * Time arithmetic is done on integer epoch seconds
  * (`unix_timestamp` / floored `epoch`) so the parquet file's
  * nanosecond timestamps — which Spark truncates to microseconds but
  * DuckDB keeps — can never flip a comparison between the engines.
  * Time-bucket outputs are formatted strings for the same reason.
  */
object EventOps {
  type Q = (SparkSession, String) => DataFrame

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** JSON extraction from the `props` string column (SURVEY §2.8). */
  val evJson: Q = (s, d) =>
    ev(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** Tumbling 1-hour event-time buckets per event type. */
  val evHourly: Q = (s, d) =>
    ev(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        asD(sum(money(col("value")))).as("total_value"))
      .orderBy("hour", "event_type")

  /** Hourly volume anomaly scoring: each (event_type, hour) bucket's
    * z-score against that type's own hourly distribution — the ops
    * monitor that flags a traffic spike or outage hour. Exactness:
    * the moments are exact integer sums (count, Σn, Σn²), the
    * population mean/variance are the same correctly-rounded double
    * expression tree on both engines, and `sqrt` is correctly rounded
    * (safe, unlike ln — see the keyterms rationale); a degenerate
    * all-hours-equal type gets z = 0 via the std > 0 guard (the
    * greatest(…, 0) clamps the tiny negative E[x²]−mean² rounding can
    * produce). Scale shape: two combinable aggregations and one
    * broadcast of the per-type stats — the fact table shuffles once
    * on (hour, type). */
  val evHourlyAnomaly: Q = (s, d) => {
    val hourly = ev(s, d)
      .select(expr("unix_timestamp(ts) div 3600").as("hr"),
        col("event_type"))
      .groupBy((col("hr") * 3600).as("hour_sec"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val mean = col("sum_n").cast("double") / col("n_hours").cast("double")
    val stats = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n")).as("sum_n"),
        sum(col("n") * col("n")).as("sum_sq"))
      .select(col("event_type"), mean.as("mean"),
        sqrt(greatest(
          col("sum_sq").cast("double") / col("n_hours").cast("double")
            - mean * mean, lit(0.0))).as("std"))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_sec"), col("n"),
        when(col("std") > 0.0,
          (col("n").cast("double") - col("mean")) / col("std"))
          .otherwise(lit(0.0)).as("z"))
      .orderBy("event_type", "hour_sec")
  }

  /** Discrete-time survival / hazard table (`ev_user_lifespan`) —
    * the retention curve the cohort triangle cannot give you: per
    * activity age a (days between a user's first and last event),
    * the users still AT RISK at a (lifespan ≥ a), the users whose
    * activity ENDED at exactly a, and the discrete hazard
    * n_churned/n_at_risk — with RIGHT-CENSORING handled honestly:
    * a user whose last event falls on the corpus max day has not
    * churned, their lifespan is merely cut off by the observation
    * window, so they leave the risk set without entering the event
    * count (dropping censoring inflates late-age hazard, the classic
    * survival-analysis bug). All integer except the one hazard
    * division; the risk set is a reverse cumulative sum over the
    * O(ages) series, never a per-user window. Scale shape: one
    * combinable min/max groupBy over events (O(users) out), one
    * O(lifespans) rollup, one O(ages) window. */
  val evUserLifespan: Q = (s, d) => {
    val spans = ev(s, d)
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val maxd = spans.agg(max(col("d1")).as("maxd"))
    val ls = spans.crossJoin(broadcast(maxd))
      .select((col("d1") - col("d0")).as("lifespan"),
        (col("d1") === col("maxd")).cast("long").as("cens"))
      .groupBy("lifespan")
      .agg(count(lit(1)).as("n_total"), sum(col("cens")).as("n_cens"))
      .transform(graft.Checkpointing.cut)
    val grid = ls.agg(max(col("lifespan")).as("mx"))
      .select(explode(sequence(lit(0L), col("mx"))).as("age_days"))
    val wRev = Window.orderBy(col("age_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(ls, grid("age_days") === ls("lifespan"), "left")
      .select(col("age_days"),
        coalesce(col("n_total"), lit(0L)).as("n_here"),
        coalesce(col("n_cens"), lit(0L)).as("n_censored"),
        (coalesce(col("n_total"), lit(0L)) -
          coalesce(col("n_cens"), lit(0L))).as("n_churned"))
      .withColumn("n_at_risk", sum(col("n_here")).over(wRev))
      .select(col("age_days"), col("n_at_risk"), col("n_churned"),
        col("n_censored"),
        (col("n_churned").cast("double") /
          col("n_at_risk").cast("double")).as("hazard"))
      .orderBy("age_days")
  }

  /** ROBUST daily anomaly scoring (`ev_anomaly_mad`) — the
    * median/MAD complement of [[evHourlyAnomaly]]'s z-score: mean and
    * std are themselves dragged by the outliers they are supposed to
    * flag (one 10× spike inflates σ enough to hide a 3× spike;
    * breakdown point 0), while the median absolute deviation ignores
    * up to half the days being garbage — the robust monitor you
    * actually run against a corpus with real incidents. ALL-INTEGER:
    * medians are kept ×2 as the sum of the two middle order
    * statistics (`med2`, exact for even day counts with no halves),
    * deviations as `dev2 = |2n − med2|` (= 4×MAD when medianed →
    * `mad4`), and the 3-MAD flag is the cross-multiplication
    * `2·dev2 > 3·mad4` — no double exists anywhere, so both engines
    * agree to the bit. The standard caveat is preserved, not hidden:
    * when over half the days share the median count, mad4 = 0 and ANY
    * deviation flags. Scale shape: one combinable daily rollup, then
    * two row_number windows over the O(types × days) series — the
    * order statistics never touch the fact table. */
  val evAnomalyMad: Q = (s, d) => {
    val daily = ev(s, d)
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        col("event_type"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Checkpointing.cut)
    val wT = Window.partitionBy(col("event_type"))
    // 2×median of `vcol` per type: the sum of the two middle order
    // statistics ((cnt+1) div 2 and cnt div 2 + 1 — equal when cnt is
    // odd, so that row contributes twice)
    def twoMid(vcol: String, out: String)(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(vcol), col("day"))
      df.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wT))
        .withColumn("lo", expr("(cnt + 1) div 2"))
        .withColumn("hi", expr("cnt div 2 + 1"))
        .groupBy("event_type")
        .agg(sum((col("rn") === col("lo")).cast("long") * col(vcol) +
          (col("rn") === col("hi")).cast("long") * col(vcol)).as(out))
    }
    val med = daily.transform(twoMid("n", "med2"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev2", abs(col("n") * 2L - col("med2")))
    val mad = dev.transform(twoMid("dev2", "mad4"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), (col("day") * 86400L).as("day_sec"),
        col("n"), col("med2"), col("dev2"), col("mad4"),
        when(col("dev2") * 2L > col("mad4") * 3L, "anomaly")
          .otherwise("normal").as("verdict"))
      .orderBy("event_type", "day_sec")
  }

  /** Gap-based sessionization (30-minute inactivity), the batch
    * equivalent of a streaming session window: lag → boundary flag →
    * running sum = session id → per-session aggregate. One shuffle on
    * user_id serves both window and aggregation. */
  val evSessionize: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("event_id"))
    ev(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tsec"))
      .withColumn("prev", lag(col("tsec"), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev").isNull || col("tsec") - col("prev") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("boundary")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsec")).as("start_sec"),
        max(col("tsec")).as("end_sec"))
      .orderBy("user_id", "session_id")
  }

  /** Top journeys kept by [[evSessionPaths]]. */
  val SessionPathK = 20L

  /** Session journey mining (`ev_session_paths`) — the top
    * [[SessionPathK]] three-step event-type paths WITHIN sessions
    * (the same 30-minute-gap sessionization as [[evSessionize]]):
    * where `ev_transitions` counts memoryless bigrams over the whole
    * stream, this mines bounded JOURNEYS — view>click>purchase vs
    * view>view>view is the difference between a converting funnel and
    * doomscrolling, and a path can never span a session boundary
    * (spec-pinned). Plan: the sessionizer's one user-partitioned
    * window + two leads per row, a combinable path count, and a rank
    * window over the ≤|types|³-row aggregate (the q15 rule — the
    * global window runs on the vocabulary, never the corpus). All
    * integer counts. */
  val evSessionPaths: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("tsec"), col("event_id"))
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
      .withColumn("prev", lag(col("tsec"), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev").isNull || col("tsec") - col("prev") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("boundary")).over(
          byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .withColumn("e2", lead(col("event_type"), 1).over(bySess))
      .withColumn("e3", lead(col("event_type"), 2).over(bySess))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("path")))
          .cast("long"))
      .filter(col("rank") <= SessionPathK)
      .select(col("rank"), col("path"), col("n"))
      .orderBy("rank")
  }

  /** Global-sweep peak concurrency (`ev_peak_concurrency_audit`) —
    * the AUDIT TIER: the classic SWEEP-LINE over the sessionizer's
    * intervals as one unpartitioned window: +1 at each session start,
    * −1 one second past its inclusive end, running sum, max — the
    * capacity number ("how many sessions were ever live at once")
    * that no per-session aggregate can produce. Tie convention is
    * pinned by ordering (time asc, delta ASC — departures before
    * arrivals): a session starting the second another's inclusive
    * end expires does NOT overlap it, while same-second start/start
    * stack. (The running max is order-invariant within a same-delta
    * tie group, so ROWS-frame peer order cannot leak into either
    * output.) The boundary stream is O(2·sessions), so this form is
    * fine on a small interval grid and is the SPEC of the semantics —
    * but the single unpartitioned window measured 3.4× at 10× rows,
    * so the PRODUCTION name `ev_peak_concurrency` carries the
    * day-sharded execution ([[evPeakConcurrencySharded]]), the q23
    * three-tier precedent applied to a window plan (round-13
    * demotion). Earliest peak second reported on ties. All
    * integer. */
  val evPeakConcurrency: Q = (s, d) => {
    val sessions = evSessionize(s, d)
      .select(col("start_sec"), col("end_sec"))
    val bounds = sessions
      .select(col("start_sec").as("t"), lit(1L).as("delta"))
      .unionAll(sessions
        .select((col("end_sec") + 1L).as("t"), lit(-1L).as("delta")))
    val sweep = Window.orderBy(col("t").asc, col("delta").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = bounds
      .withColumn("live", sum(col("delta")).over(sweep))
    val peak = run.agg(max(col("live")).as("peak_concurrent"))
    val n = sessions.agg(count(lit(1)).as("n_sessions"))
    run.crossJoin(broadcast(peak))
      .filter(col("live") === col("peak_concurrent"))
      .agg(min(col("t")).as("first_peak_sec"))
      .crossJoin(broadcast(peak))
      .crossJoin(broadcast(n))
      .select(col("n_sessions"), col("peak_concurrent"),
        col("first_peak_sec"))
  }

  /** Day-sharded peak concurrency — the PRODUCTION plan registered
    * as `ev_peak_concurrency` (round 13 promoted it over the global
    * sweep, now the `_audit` tier): the 100 TB execution of
    * [[evPeakConcurrency]]'s sweep, PROVING the "shard the sweep by
    * day with a carried seed" plan instead of just asserting it:
    * boundary
    * events shard by UTC day; each shard's running sum is seeded with
    * the sum of ALL prior shards' deltas (one O(days) rollup + one
    * prefix window over the O(days) series — never a corpus-sized
    * unpartitioned exchange); the within-shard sweeps are ordinary
    * day-PARTITIONED windows that run in parallel. Each `live` value
    * — hence the peak and its first second — is IDENTICAL to the
    * unpartitioned sweep by prefix-sum associativity (day blocks are
    * t-ranges, the (t, delta asc) order within a day is the global
    * order restricted to it, and a shard's seed is exactly the
    * sessions still open at its midnight). Gated against the SAME
    * oracle as the global form: equality IS the shard-decomposition
    * proof, the `q33_topk_delta` gating pattern applied to a window
    * plan. */
  val evPeakConcurrencySharded: Q = (s, d) => {
    val sessions = evSessionize(s, d)
      .select(col("start_sec"), col("end_sec"))
    val bounds = sessions
      .select(col("start_sec").as("t"), lit(1L).as("delta"))
      .unionAll(sessions
        .select((col("end_sec") + 1L).as("t"), lit(-1L).as("delta")))
      .withColumn("day", floor(col("t") / lit(86400L)))
    val daySeeds = bounds.groupBy("day")
      .agg(sum(col("delta")).as("day_sum"))
      .withColumn("seed", coalesce(sum(col("day_sum")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("day", "seed")
    val sweep = Window.partitionBy(col("day"))
      .orderBy(col("t").asc, col("delta").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = bounds.join(broadcast(daySeeds), Seq("day"))
      .withColumn("live", col("seed") + sum(col("delta")).over(sweep))
    val peak = run.agg(max(col("live")).as("peak_concurrent"))
    val n = sessions.agg(count(lit(1)).as("n_sessions"))
    run.crossJoin(broadcast(peak))
      .filter(col("live") === col("peak_concurrent"))
      .agg(min(col("t")).as("first_peak_sec"))
      .crossJoin(broadcast(peak))
      .crossJoin(broadcast(n))
      .select(col("n_sessions"), col("peak_concurrent"),
        col("first_peak_sec"))
  }

  /** Built-in `session_window` sessionization (the declarative twin of
    * [[evSessionize]]'s lag/cumsum plan): Spark merges session windows
    * per user in one pass. Event times are truncated to whole seconds
    * BEFORE windowing so the oracle's arithmetic is identical.
    * Boundary semantics (pinned at sf0.1, where an exactly-30-minute
    * gap exists): Spark merges when the next window's start <= the
    * current session's end — a gap of EXACTLY the gap duration still
    * merges, identical to the lag plan's `> 1800` split condition. */
  val evSessionWindow: Q = (s, d) =>
    ev(s, d)
      .select(col("user_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("tss"),
        col("event_id"))
      .groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_sec"),
        unix_timestamp(col("w.end")).as("end_sec_excl"),
        col("n_events"))
      .orderBy("user_id", "start_sec")

  /** Exact dedup: earliest event per (user, type), with duplicate
    * count — aggregate form (map-side combinable) rather than a
    * row_number window, so it scales without a per-partition sort. */
  val evDedupFirst: Q = (s, d) =>
    ev(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"),
        count(lit(1)).as("n_dups"))
      .orderBy("user_id", "event_type")

  /** Top-10 users by purchase value (filter → agg → top-k). */
  val evTopUsers: Q = (s, d) =>
    ev(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(asD(sum(money(col("value")))).as("total_purchase"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("total_purchase").desc, col("user_id"))
      .limit(10)

  /** As-of (attribution) join — the time-series operator Spark has no
    * built-in for: each purchase matched to the SAME user's most
    * recent click at-or-before it. Composed from existing operators
    * (SURVEY §2.8 preference (a)): tag clicks/purchases, union, one
    * window partitioned by user ordered by (tsec, tag, …) where a
    * running `max(struct(click_tsec, click_id))` carries the latest
    * click seen so far — struct comparison is lexicographic, so ties
    * on tsec resolve to the highest click event_id, and clicks sort
    * before same-tsec purchases (tag 0 < 1) to honor the `<=` as-of
    * boundary.
    *
    * Scale shape: ONE shuffle on user_id + a per-partition sort —
    * the merge-scan as-of, never a range cross-join. The oracle is
    * DuckDB's native ASOF LEFT JOIN over clicks deduped to one per
    * (user, tsec). */
  val evAttribution: Q = (s, d) => {
    val base = ev(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tsec"), col("event_type"))
    val clicks = base.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("tsec"))
      .agg(max(col("event_id")).as("event_id"))
      .select(col("user_id"), col("tsec"), col("event_id"),
        lit(0).as("tag"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsec"), col("event_id"), lit(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click",
        max(when(col("tag") === 0, struct(col("tsec").as("cts"),
          col("event_id").as("cid")))).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("tsec").as("purchase_tsec"),
        col("last_click.cid").as("click_id"),
        col("last_click.cts").as("click_tsec"))
      .orderBy("purchase_id")
  }

  /** Purchase packing scale for [[evAttributionLinear]]: a purchase
    * identity travels through the forward-min window as ONE BIGINT
    * `tsec·scale + event_id`, so the earliest following purchase is a
    * plain MIN (no struct ordering semantics to match cross-engine).
    * Exact while event_id < 10⁷ (gate ids are ≤10⁶; the 100 TB form
    * widens to DECIMAL or a two-column min_by). */
  val AttrPackScale = 10000000L

  /** Linear multi-touch attribution (`ev_attribution_linear`) — the
    * fair-share counterpart of [[evAttribution]]'s last-touch: every
    * click is assigned to the FIRST purchase at-or-after it in its
    * user's stream (forward as-of via one packed-BIGINT min over the
    * following frame), and each purchase's exact cents are split
    * across its k touches by LARGEST REMAINDER — every touch gets
    * `cents div k`, the first `cents mod k` touches in time order get
    * one extra cent. Conservation is exact by construction: credits
    * sum to the purchase's cents with no rounding residue (the
    * property any float split violates), spec-pinned. Readout is the
    * marketing view: credit by click HOUR-OF-DAY. Plan: one
    * user-partitioned window (the attribution family's partitioning)
    * + combinable per-purchase counts + an O(24) rollup; all integer
    * until the final division. */
  val evAttributionLinear: Q = (s, d) =>
    attrRankedTouches(s, d)
      .withColumn("credit_c", expr(
        "pcents div k + (case when rnk <= pcents % k then 1 else 0 end)"))
      .transform(attrHourRollup)

  /** The multi-touch machinery shared by `ev_attribution_linear` and
    * `ev_attribution_position`: every click joined to its NEXT
    * purchase (packed (tsec, event_id) key), with the touch's 1-based
    * rank inside its conversion path, the path length k, and the
    * purchase cents — the relation every credit-split model prices. */
  private def attrRankedTouches(s: SparkSession, d: String): DataFrame = {
    val base = ev(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tsec"), col("event_type"),
        col("value"), hour(col("ts")).as("hh"))
    val u = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsec"), col("event_id"),
        lit(0).as("tag"), col("hh"),
        lit(null).cast("long").as("pcents"))
      .unionByName(base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsec"), col("event_id"),
          lit(1).as("tag"), lit(null).cast("int").as("hh"),
          (money(col("value")) * 100).cast("long").as("pcents")))
    // the forward as-of "min over [currentRow, unboundedFollowing)"
    // is computed as a RUNNING min over the REVERSED total order —
    // row-identical (the frame's row set is exactly {rows ≥ current
    // in (tsec, tag, event_id) order} either way, and event_id makes
    // the order total), but Spark's UnboundedFollowing frame
    // re-aggregates the tail PER ROW — O(rows²) in the partition,
    // which the round-14 skew probe caught as 55× at skew1 (a 20%
    // hot user makes one partition corpus-sized; 2.1 s → 117 s).
    // Running frames are O(rows): skew1 back to ~1× (genuine-work
    // ratio), same answer, oracle unchanged.
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec").desc, col("tag").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touches = u
      .withColumn("nxt", min(when(col("tag") === 1,
        col("tsec") * AttrPackScale + col("event_id"))).over(fwd))
      .filter(col("tag") === 0 && col("nxt").isNotNull)
      .select(col("hh"), col("tsec"), col("event_id"), col("nxt"))
    val k = touches.groupBy(col("nxt")).agg(count(lit(1)).as("k"))
    val pc = u.filter(col("tag") === 1)
      .select((col("tsec") * AttrPackScale + col("event_id")).as("nxt"),
        col("pcents"))
    touches
      .withColumn("rnk", row_number().over(Window.partitionBy(col("nxt"))
        .orderBy(col("tsec"), col("event_id"))))
      .join(k, "nxt").join(pc, "nxt")
  }

  /** Shared by-click-hour rollup of a credited touch relation. */
  private def attrHourRollup(credited: DataFrame): DataFrame =
    credited
      .groupBy(col("hh"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("nxt")).as("n_purchases"),
        sum(col("credit_c")).as("credit_cents"))
      .select(col("hh").cast("long").as("click_hour"), col("n_touches"),
        col("n_purchases"), col("credit_cents"),
        (col("credit_cents").cast("double") / lit(100.0)).as("credit"))
      .orderBy("click_hour")

  /** Position-based (U-shaped) attribution
    * (`ev_attribution_position`) — the third standard credit model,
    * completing last-touch (`ev_attribution`) and linear
    * (`ev_attribution_linear`): 40% to the FIRST touch, 40% to the
    * LAST, the middle 20% split across interior touches — the model
    * that prices discovery and closing above nurture. All-integer on
    * cents with exact conservation by construction: the endpoint
    * shares are `(pcents·40) div 100` each, the middle pool is the
    * REMAINDER `pcents − 2·first` (never a third rounding), interior
    * touches take `pool div (k−2)` with the leftover going +1 to the
    * earliest interior ranks; k = 1 takes everything, k = 2 splits
    * `pcents − pcents div 2 / pcents div 2`. Same touch machinery,
    * same O(hours) rollup as the siblings. */
  val evAttributionPosition: Q = (s, d) =>
    attrRankedTouches(s, d)
      .withColumn("credit_c", expr(
        """case
             when k = 1 then pcents
             when k = 2 then case when rnk = 1
               then pcents - pcents div 2 else pcents div 2 end
             when rnk = 1 or rnk = k then (pcents * 40) div 100
             else (pcents - 2 * ((pcents * 40) div 100)) div (k - 2)
               + (case when rnk - 1 <=
                   (pcents - 2 * ((pcents * 40) div 100)) % (k - 2)
                 then 1 else 0 end)
           end"""))
      .transform(attrHourRollup)

  /** Conversion-latency histogram (`ev_conversion_latency`) — the
    * sizing evidence behind `ev_conversion_window`'s attribution
    * window and `stream_interval_join`'s bounds: for every purchase
    * with an attributed last click ([[evAttribution]]'s pairing,
    * reused verbatim), the click→purchase latency bucketed in log
    * decades (≤1s, ≤10s, …, >10⁴s) — the same decade framing as the
    * session-gap histogram, on the conversion axis. A window cutting
    * left of the mass under-attributes; the histogram shows exactly
    * how much. Integer seconds end-to-end; the share is one
    * division. Unattributed purchases are reported as their own
    * `unattributed` bucket, not dropped. Plan: the attribution
    * window + one combinable O(buckets) rollup. */
  val evConversionLatency: Q = (s, d) => {
    val att = evAttribution(s, d)
      .select(col("purchase_tsec"), col("click_tsec"))
    val bucket = when(col("click_tsec").isNull, "unattributed")
      .when(col("purchase_tsec") - col("click_tsec") <= 1L, "d0_1s")
      .when(col("purchase_tsec") - col("click_tsec") <= 10L, "d1_10s")
      .when(col("purchase_tsec") - col("click_tsec") <= 100L,
        "d2_100s")
      .when(col("purchase_tsec") - col("click_tsec") <= 1000L,
        "d3_1000s")
      .when(col("purchase_tsec") - col("click_tsec") <= 10000L,
        "d4_10000s")
      .otherwise("d5_over")
    val counts = att.select(bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n"),
        (col("n").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("bucket")
  }

  /** [[evTopUsers]] computed skew-resistantly: phase 1 pre-aggregates
    * on (user_id, salt) so one hot user spreads across 16 reducers,
    * phase 2 combines the partials. Decimal partial sums re-associate
    * exactly, so the result — and the oracle — are identical to the
    * unsalted plan. The salt is a deterministic hash of event_id
    * (same spread as a random salt, but replayable/testable). */
  val evTopUsersSalted: Q = (s, d) =>
    ev(s, d)
      .filter(col("event_type") === "purchase")
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("user_id"), col("salt"))
      .agg(sum(money(col("value"))).as("pv"), count(lit(1)).as("pn"))
      .groupBy(col("user_id"))
      .agg(asD(sum(col("pv"))).as("total_purchase"),
        sum(col("pn")).as("n_purchases"))
      .orderBy(col("total_purchase").desc, col("user_id"))
      .limit(10)

  /** Ordered funnel (view → click → purchase): per user, the first
    * view, the first click AT-OR-AFTER that view, and the first
    * purchase at-or-after that click — the standard product-analytics
    * sequencing query. Each stage is one key-partitioned aggregate +
    * equi-join (no window over the full event stream, no cross
    * products); users drop to null at the stage they abandoned. */
  val evFunnel: Q = (s, d) => {
    val base = ev(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
    val views = base.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tsec")).as("view_sec"))
    val clicks = base.filter(col("event_type") === "click")
      .join(views, "user_id")
      .filter(col("tsec") >= col("view_sec"))
      .groupBy("user_id").agg(min(col("tsec")).as("click_sec"))
    val purchases = base.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("tsec") >= col("click_sec"))
      .groupBy("user_id").agg(min(col("tsec")).as("purchase_sec"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("view_sec"), col("click_sec"),
        col("purchase_sec"))
      .orderBy("user_id")
  }

  /** Cohort retention: users grouped by their first-seen day, counted
    * on each subsequent activity day as an offset from it — the
    * standard product-analytics retention triangle. Scale shape: one
    * distinct on (user, day) and two map-side-combinable aggregates
    * keyed (user) then (cohort, offset); the per-(cohort, offset)
    * count is a plain COUNT(*) because activity is already distinct
    * per (user, day) — never a COUNT(DISTINCT) over raw events. Day
    * arithmetic is integer epoch-day division on both engines. */
  val evRetention: Q = (s, d) => {
    val days = ev(s, d)
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Cohort LTV triangle (`ev_cohort_ltv`) — the revenue companion of
    * [[evRetention]]'s presence triangle: users cohorted by FIRST
    * purchase week, revenue accumulated per (cohort_week, age_week)
    * cell, with cohort size and revenue-per-cohort-user. Reading a
    * column down the triangle answers "is week-3 monetization
    * improving cohort-over-cohort" — the payback-curve evidence
    * behind any engagement-weighted selection or retention target.
    * Exactness: weeks are integer epoch-day divisions, revenue goes
    * through the exact DECIMAL(12,2) cents path and stays integer
    * until the final per-user division; cohort size is a combinable
    * distinct-by-construction count (first-week rows). Plan: two
    * combinable groupBys + one broadcast-able cohort-size join;
    * output is O(weeks²). */
  val evCohortLtv: Q = (s, d) => {
    val purchases = ev(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 604800").as("week"),
        (money(col("value")) * 100).cast("long").as("cents"))
    val first = purchases.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val sizes = first.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    purchases.join(first, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_week"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_week"), col("cohort_users"),
        col("n_purchases"), col("revenue_cents"),
        (col("revenue_cents").cast("double") /
          (col("cohort_users") * 100L).cast("double"))
          .as("revenue_per_user"))
      .orderBy("cohort_week", "age_week")
  }

  /** Bot-suspect triage (`ev_bot_score`) — the rule-based exclusion
    * list a graph-weighted sampler consults before trusting
    * engagement: a user is a SUSPECT on any of three exact integer
    * rules and a BOT on two or more —
    *   rate: more than 3× an equal share of corpus events
    *     (`n_u·n_users > 3·total`, cross-multiplied);
    *   all-hours: active in ≥ 20 of 24 hours-of-day (humans sleep;
    *     click farms staff shifts);
    *   ring: referral clustering ≥ 0.8 at degree ≥ 4
    *     (`10·tri ≥ 4·d·(d−1)` — a reciprocally-referring clique,
    *     the [[evUserTriangles]] cohesion signal as a rule).
    * Rules are deliberately interpretable and separable (each bit
    * ships, not just the verdict) so governance can audit WHY a user
    * was excluded — the same per-rule discipline as
    * `doc_keep_decision`. All counting combinable; the triangle side
    * reuses the degree-oriented census; output is O(suspects). */
  val evBotScore: Q = (s, d) => {
    val perUser = ev(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(hour(col("ts"))).as("n_hours"))
    val totals = perUser.agg(count(lit(1)).as("n_users"),
      sum(col("n_events")).as("total_events"))
    val tri = trianglesOf(referralUndirected(s, d))
      .select(col("node").as("user_id"), col("degree"),
        col("tri_count"))
    perUser.crossJoin(broadcast(totals))
      .join(tri, Seq("user_id"), "left")
      .na.fill(0L, Seq("degree", "tri_count"))
      .select(col("user_id"), col("n_events"), col("n_hours"),
        col("degree"), col("tri_count"),
        (col("n_events") * col("n_users") >
          col("total_events") * 3L).as("rate_flag"),
        (col("n_hours") >= 20L).as("allhours_flag"),
        (col("degree") >= 4L &&
          col("tri_count") * 10L >=
            col("degree") * (col("degree") - 1L) * 4L).as("ring_flag"))
      .withColumn("n_flags",
        col("rate_flag").cast("long") + col("allhours_flag").cast("long") +
          col("ring_flag").cast("long"))
      .filter(col("n_flags") >= 1L)
      .withColumn("bot", col("n_flags") >= 2L)
      .orderBy("user_id")
  }

  /** A/A experiment harness (`ev_ab_lift`) — the calibration run
    * every experimentation pipeline needs BEFORE real experiments:
    * users split into two arms by a deterministic hash coin, view →
    * purchase conversion compared with the two-proportion z statistic.
    * Because the assignment is a hash of user_id, the two arms are
    * exchangeable BY CONSTRUCTION — a |z| that is not small means the
    * metric plumbing (dedup, sessionization, joins) leaks between
    * arms, not that an effect exists. Exactness: conversion counting
    * is integer (per-user EXISTS flags, one combinable rollup); the
    * rates, lift, and z are ONE fixed double-expression tree over the
    * four exact counts (sqrt is a single correctly-rounded IEEE op,
    * same on both engines). Output is one row. */
  val evAbLift: Q = (s, d) => {
    val perUser = ev(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("viewed"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .filter(col("viewed") === 1L)
      .select(
        (Hashing.charHash(col("user_id").cast("string")) % 2L).as("arm"),
        col("converted"))
    val agg = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0L, col("converted")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("arm") === 1L, col("converted")).otherwise(0L))
        .as("conv_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    // a degenerate pool (nobody or everybody converts) has zero
    // variance and therefore no z — pinned to 0.0, matching the
    // zero-variance convention everywhere else (and ANSI mode makes
    // the unguarded /0 an error, not an Infinity)
    val degenerate = col("n_a") === 0L || col("n_b") === 0L ||
      col("conv_a") + col("conv_b") === 0L ||
      col("conv_a") + col("conv_b") === col("n_a") + col("n_b")
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      when(col("n_a") > 0L, pa).otherwise(lit(0.0)).as("rate_a"),
      when(col("n_b") > 0L, pb).otherwise(lit(0.0)).as("rate_b"),
      when(degenerate, lit(0.0)).otherwise(pb - pa).as("lift"),
      when(degenerate, lit(0.0))
        .otherwise((pb - pa) /
          sqrt(pool * (lit(1.0) - pool) *
            (lit(1.0) / na + lit(1.0) / nb)))
        .as("z"))
  }

  /** CUSUM change-point detection (`ev_cusum_change`) — the
    * sequential-shift alarm `ev_hourly_anomaly` (pointwise) cannot
    * raise: per event type, the cumulative sum of daily-count
    * deviations from the corpus mean, its extreme, and the day it
    * peaks — the classic level-shift locator (a crawl source turning
    * off mid-month moves no single day far enough to flag pointwise,
    * but the CUSUM walks away linearly from the shift onward).
    * Exactness: the statistic is kept PRE-DIVISION — S'_t =
    * Σ(x_i·D − T) = D·CUSUM_t with D = day count and T = total, all
    * BIGINT on the dense calendar grid (zero days count) — so no
    * mean ever materializes; the one double is the final
    * normalization. Argmax ties break earliest-day. Window runs on
    * the O(types·days) grid. */
  val evCusumChange: Q = (s, d) => {
    val daily = ev(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("d0"),
      max(col("day")).as("d1"))
    val dense = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
    val totals = dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("dd"), sum(col("n")).as("tt"))
    val wCum = Window.partitionBy(col("event_type"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s")).desc, col("day"))
    dense.join(broadcast(totals), "event_type")
      .withColumn("s", sum(col("n") * col("dd") - col("tt")).over(wCum))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("dd").as("n_days"),
        col("tt").as("total"), col("day").as("change_day"),
        abs(col("s")).as("max_abs_s"),
        (abs(col("s")).cast("double") / col("dd").cast("double"))
          .as("max_cusum"))
      .orderBy("event_type")
  }

  /** Lag-1 autocorrelation of daily counts (`ev_autocorr_daily`) —
    * per event type, the Pearson correlation between consecutive
    * days' volumes on the dense calendar grid (zero days count, as in
    * [[evCusumChange]]): the one-number answer to "is this source's
    * volume momentum or noise", which decides whether yesterday's
    * spike predicts today's (autocorrelated sources need trend-aware
    * alarms; white-noise ones can use pointwise bands). Exactness
    * follows `corpus_correlations`: every Σ is a DECIMAL(38,0) sum of
    * DECIMAL(19,0)-widened products (overflow-free at any volume) and
    * r is ONE fixed double tree over the cast moments, with the
    * degenerate zero-variance branch pinned to 0.0 on both engines
    * (evaluated on the same doubles, so the CASE routes identically).
    * One scan → the O(types·days) grid; the lead() and moments run
    * there, never over events. */
  val evAutocorrDaily: Q = (s, d) => {
    val daily = ev(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("d0"),
      max(col("day")).as("d1"))
    val dense = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
    val wLead = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pairs = dense
      .select(col("event_type"), col("n").as("x"),
        lead(col("n"), 1).over(wLead).as("y"))
      .filter(col("y").isNotNull)
    def m(x: Column) = sum(x.cast("decimal(38,0)"))
    def m2(x: Column, y: Column) =
      sum(x.cast("decimal(19,0)") * y.cast("decimal(19,0)"))
    val agg = pairs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_pairs"),
      m(col("x")).as("sx"), m(col("y")).as("sy"),
      m2(col("x"), col("x")).as("sxx"), m2(col("y"), col("y")).as("syy"),
      m2(col("x"), col("y")).as("sxy"))
    val n = col("n_pairs").cast("double")
    def D(cn: String) = col(cn).cast("double")
    val vx = n * D("sxx") - D("sx") * D("sx")
    val vy = n * D("syy") - D("sy") * D("sy")
    agg.select(col("event_type"), col("n_pairs"),
        when(vx <= 0.0 || vy <= 0.0, lit(0.0))
          .otherwise((n * D("sxy") - D("sx") * D("sy")) /
            (sqrt(vx) * sqrt(vy))).as("r_lag1"))
      .orderBy("event_type")
  }

  /** Theil–Sen trend (`ev_theilsen_trend`) — the robust slope of each
    * type's daily volume: the MEDIAN of all pairwise day-pair slopes
    * on the dense calendar grid, the estimator a single crawl-outage
    * day cannot drag (least-squares slope has breakdown point 0; this
    * one survives ~29% contamination). Completes the robust triad:
    * MAD (level, `ev_anomaly_mad`), CUSUM (shift), Theil–Sen (slope).
    *
    * Determinism: each slope is the exact rational (n₂−n₁)/(d₂−d₁)
    * with positive denominator; pairs sort by the mirrored double
    * value with (num, den, d1, d2) tiebreaks — a TOTAL order, so both
    * engines rank identically even where distinct rationals share a
    * double — and the median is the (cnt+1) div 2 / (cnt+2) div 2
    * rank pair (one row when odd), averaged as one mirrored division.
    * Cost: the grid is O(types·days) and pairs O(types·days²) — days
    * grow with CALENDAR SPAN, not corpus size, so 10× rows costs ~1×;
    * a multi-year span would band pairs by week the way the interval
    * join bands by hour. */
  val evTheilsenTrend: Q = (s, d) => {
    val daily = ev(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("d0"),
      max(col("day")).as("d1"))
    val dense = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
    val pairs = dense.as("a")
      .join(dense.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        (col("b.n") - col("a.n")).as("num"),
        (col("b.day") - col("a.day")).as("den"),
        col("a.day").as("d1"), col("b.day").as("d2"))
      .withColumn("slope_d",
        col("num").cast("double") / col("den").cast("double"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("slope_d"), col("num"), col("den"),
        col("d1"), col("d2"))
    val wCnt = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .filter(col("rn") === expr("(cnt + 1) div 2") ||
        col("rn") === expr("(cnt + 2) div 2"))
      .groupBy(col("event_type"), col("cnt").as("n_pairs"))
      .agg((sum(col("slope_d")) / count(lit(1)).cast("double"))
        .as("median_slope"))
      .select(col("event_type"), col("n_pairs"), col("median_slope"))
      .orderBy("event_type")
  }

  /** Binary-segmentation changepoints (`ev_changepoint_binseg`) —
    * the two-level extension of [[evCusumChange]]: the full-series
    * CUSUM argmax splits each type's dense daily grid, then the SAME
    * statistic re-runs inside the left and right segments — the
    * classic recursive scheme (Scott & Knott) that finds the second
    * shift a single CUSUM walks past (a source that turns off AND
    * later recovers has two level shifts; the full-series statistic
    * peaks at one of them and shadows the other). One long row per
    * (type, segment ∈ full/left/right): the segment bounds, its
    * length and total, the in-segment argmax day and the pre-division
    * |S'| extreme — all BIGINT on the grid exactly as the parent
    * (S'_t = Σ(x·D_seg − T_seg), ties earliest-day). A length-1
    * segment degenerates to S' = 0 at its only day, identically on
    * both engines. Cost: the level-0 pick is an O(types) relation
    * joined back once; every window still runs on the O(types·days)
    * grid — two passes of the parent's plan, never more. */
  val evChangepointBinseg: Q = (s, d) => {
    val daily = ev(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("d0"),
      max(col("day")).as("d1"))
    val dense = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
    // one segmented CUSUM pass: per (type, seg) totals -> prefix
    // S' -> argmax (|S'| desc, day asc)
    def pick(seg: DataFrame): DataFrame = {
      val totals = seg.groupBy(col("event_type"), col("seg"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
      val wCum = Window.partitionBy(col("event_type"), col("seg"))
        .orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy(col("event_type"), col("seg"))
        .orderBy(abs(col("s")).desc, col("day"))
      seg.join(totals, Seq("event_type", "seg"))
        .withColumn("s", sum(col("n") * col("n_days") - col("total"))
          .over(wCum))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("seg"), col("n_days"),
          col("total"), col("day").as("change_day"),
          abs(col("s")).as("max_abs_s"))
    }
    val full = pick(dense.withColumn("seg", lit("full")))
    val c0 = full.select(col("event_type"),
      col("change_day").as("c0"))
    val children = dense.join(c0, "event_type")
      .withColumn("seg",
        when(col("day") <= col("c0"), "left").otherwise("right"))
      .drop("c0")
    full.unionByName(pick(children))
      .select(col("event_type"), col("seg"), col("n_days"),
        col("total"), col("change_day"), col("max_abs_s"))
      .orderBy("event_type", "seg")
  }

  /** Daily new-vs-returning split (`ev_new_vs_returning`) — the
    * operational twin of the retention triangle: per active day, how
    * many users are seen for the FIRST time vs returning, and the
    * new-user share. Growth that is all new users with no returning
    * base is churn in disguise — the one-glance health metric every
    * ingest dashboard carries. Two combinable aggregates (distinct
    * user-days; per-user min day) + one equi-join; all integer with
    * one final division; output is O(days). */
  val evNewVsReturning: Q = (s, d) => {
    val days = ev(s, d)
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val first = days.groupBy("user_id")
      .agg(min(col("day")).as("first_day"))
    days.join(first, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        (col("n_new").cast("double") / col("n_active").cast("double"))
          .as("new_share"))
      .orderBy("day")
  }

  /** Audience-overlap matrix (`ev_type_overlap`) — exact pairwise
    * Jaccard of USER sets across event types: the audience-planning
    * twin of the KMV cross-SOURCE matrix (`dedup_kmv_matrix`), exact
    * here because the pair space is |types|² = tiny while the
    * distinct (type, user) relation is one combinable projection.
    * The full pair grid is completed from the broadcast size table
    * before the left join, so disjoint audiences report Jaccard 0
    * instead of vanishing (the t-closeness grid rule). One
    * self-equi-join on user_id; all integer until the one division. */
  val evTypeOverlap: Q = (s, d) => {
    val tu = ev(s, d).select(col("event_type"), col("user_id"))
      .distinct()
      .transform(graft.Checkpointing.cut)
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
    val grid = sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))))
      .filter(col("type_a") < col("type_b"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    grid.join(inter, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** Seasonal lag (hours) for [[evSeasonalNaive]] — one week. */
  val SeasonalLagHours = 168L

  /** Seasonal-naive forecast audit (`ev_seasonal_naive`) — the
    * capacity-planning sanity check: forecast each hour's event count
    * with the count from the same hour LAST WEEK, and report per-type
    * MAE and wMAPE. Any fancier forecaster must beat this floor; a
    * type whose wMAPE is already near 0 is strongly weekly-periodic
    * (schedule batch work around it), and a spike above the floor is
    * the anomaly `ev_hourly_anomaly` localizes. Exactness: the hour
    * GRID is completed from broadcast min/max scalars before joining
    * actuals (a calendar join, not a row-offset lag — zero-event
    * hours forecast and are forecast against), so every error term
    * is an exact integer |a − f|; the two rates are one division
    * each. Plan: combinable hourly rollup, grid of O(types·hours)
    * rows, two broadcast-able joins; output O(types). */
  val evSeasonalNaive: Q = (s, d) => {
    val hourly = ev(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("hour"))
      .agg(count(lit(1)).as("n"))
    val bounds = hourly.agg(min(col("hour")).as("h0"),
      max(col("hour")).as("h1"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hour"))
    val dense = grid.join(hourly, Seq("event_type", "hour"), "left")
      .na.fill(0L, Seq("n"))
    val eval = dense.as("now").join(
        dense.select(col("event_type"),
          (col("hour") + SeasonalLagHours).as("hour"),
          col("n").as("f")),
        Seq("event_type", "hour"))
    eval.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n")).as("total_actual"),
        sum(abs(col("n") - col("f"))).as("total_abs_err"))
      .select(col("event_type"), col("n_hours"), col("total_actual"),
        col("total_abs_err"),
        (col("total_abs_err").cast("double") /
          col("n_hours").cast("double")).as("mae"),
        when(col("total_actual") > 0L,
          col("total_abs_err").cast("double") /
            col("total_actual").cast("double"))
          .otherwise(lit(0.0)).as("wmape"))
      .orderBy("event_type")
  }

  /** Per-type value stats; min/max of untouched doubles are exact. */
  val evTypeStats: Q = (s, d) =>
    ev(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        asD(sum(money(col("value")))).as("total_value"),
        meanOf(sum(money(col("value"))), count(lit(1))).as("avg_value"))
      .orderBy("event_type")

  /** Sketch-based profile: approximate distinct users and approximate
    * value quantiles per event type. Sketches (HLL++ /
    * KLL-style percentile_approx) are mergeable partial aggregates —
    * the only way COUNT(DISTINCT)-like questions scale to 100 TB
    * without a full shuffle of the key set. Approximate answers are
    * engine-specific, so there is deliberately NO DuckDB oracle entry:
    * the driver applies its weaker rows-only gate, and the exactness
    * contract is documented here instead. */
  val evApproxStats: Q = (s, d) =>
    ev(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000))
          .as("approx_median_value"))
      .orderBy("event_type")

  /** First-order Markov transition matrix over each user's event
    * sequence: (type → next type) counts and row-normalized
    * probabilities — the behavioral fingerprint behind funnel design
    * and bot detection (a scripted user's matrix is near-degenerate).
    * Sequence order is (epoch second, event_id) so sub-second
    * timestamp precision — which the engines truncate differently —
    * can never flip adjacency. One window pass partitioned by user
    * (the fact table's one shuffle), then a combinable count agg on
    * the |types|² relation; the row normalizer is a window over that
    * tiny aggregate, and the division is one exact integer-ratio
    * IEEE op. */
  val evTransitions: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"), col("event_id"))
    val tr = ev(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("ts_sec"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    tr.select(col("event_type"), col("next_type"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("event_type")))
            .cast("double")).as("p"))
      .orderBy("event_type", "next_type")
  }

  /** Exact rolling 7-day active users (WAU) alongside daily actives
    * (DAU) and the DAU/WAU stickiness ratio. Sliding distinct counts
    * don't decompose from daily distincts, so the scalable EXACT form
    * is window-explode: each distinct (user, day) contributes to the
    * 7 windows ending on day..day+6, deduped per (user, window) — 7×
    * the distinct-activity relation (already ≪ the event table), all
    * combinable aggs, no per-window rescans. The approximate
    * alternative (mergeable HLL sketches per day) is
    * `ev_approx_stats`' territory; this is the exact tier. */
  val evRollingWau: Q = (s, d) => {
    val ud = ev(s, d)
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      .distinct()
    val days = ud.select(col("day")).distinct()
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
      .join(days, col("wday") === col("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    dau.join(wau, "day")
      .select((col("day") * 86400).as("day_sec"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day_sec")
  }

  /** Value-band classification as a genuine NON-EQUI range join: the
    * tiny band table broadcasts and each event lands in its
    * [lo, hi) band — the join form you need when bands come from data
    * (dynamic pricing tiers, SLA buckets) and a CASE expression can't
    * be compiled in. BroadcastNestedLoopJoin against 4 rows ≈ a
    * 4-way CASE per row; the fact table never shuffles for the join. */
  val evValueBands: Q = (s, d) => {
    val bands = s.createDataFrame(Seq(
      ("micro", 0.0, 50.0), ("small", 50.0, 150.0),
      ("mid", 150.0, 300.0), ("large", 300.0, 1000.0)))
      .toDF("band", "lo", "hi")
    ev(s, d)
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"), col("lo"))
      .agg(count(lit(1)).as("n"),
        asD(sum(money(col("value")))).as("total_value"))
      .orderBy("lo")
  }

  /** Half-life (days) for [[evDecayedValue]] — one halving per week
    * of age. Fixed forever. */
  val DecayHalfLifeDays = 7L

  /** `cents >> age-in-half-lives`, with the shift CLAMPED to 63: Java
    * shift semantics mask the amount mod 64, so an unclamped value
    * ≥ 64 half-lives old (~15 months at the 7-day half-life) would
    * WRAP and contribute its full undecayed cents — silent
    * engine/oracle divergence on any corpus spanning that long
    * (DuckDB's `>>` does not wrap). Shift 63 of nonnegative cents is
    * 0, preserving decay-to-zero. [[sqlDecayShift]] is the DuckDB
    * side of the same clamp. */
  private[graft] def decayShift(cents: Column, ageDays: Column): Column =
    call_function("shiftright", cents,
      least(floor(ageDays / lit(DecayHalfLifeDays)), lit(63L)).cast("int"))

  /** DuckDB mirror of [[decayShift]] over column exprs in cents /
    * age-days. DuckDB `>>` doesn't wrap, but the clamp keeps both
    * sides the SAME function of the data rather than agreeing only
    * where the corpus is narrow. */
  private[graft] def sqlDecayShift(cents: String, ageDays: String): String =
    s"($cents >> CAST(least($ageDays // $DecayHalfLifeDays, 63) AS INT))"

  /** Time-decayed user value (`ev_decayed_value`) — the recency-
    * weighted engagement score a data-selection pipeline uses where
    * lifetime totals over-credit long-dormant users: each event
    * contributes its value halved once per [[DecayHalfLifeDays]] of
    * age (age measured against the corpus max date, broadcast as a
    * scalar). Exactness: the decay is a QUANTIZED integer shift —
    * value goes through the [[graft.functions.Exact.money]]
    * DECIMAL(12,2) cast to exact cents, then `cents >> age_weeks`
    * (arithmetic shift = floor-div by 2^weeks on the nonnegative
    * event values; the per-event floor makes the sum order-
    * independent, unlike any float pow(0.5, age) form). The one
    * double is the final cents→value division. Plan: ONE combinable
    * groupBy over events with the scalar max date broadcast —
    * O(users) output, no window, identical at 100 TB. */
  val evDecayedValue: Q = (s, d) => {
    val maxd = ev(s, d).agg(max(to_date(col("ts"))).as("maxd"))
    ev(s, d).crossJoin(broadcast(maxd))
      .select(col("user_id"),
        (money(col("value")) * 100).cast("long").as("cents"),
        datediff(col("maxd"), to_date(col("ts"))).cast("long")
          .as("age_days"))
      .withColumn("decayed", decayShift(col("cents"), col("age_days")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("decayed")).as("decayed_cents"),
        min(col("age_days")).as("last_age_days"))
      .select(col("user_id"), col("n_events"), col("raw_cents"),
        col("decayed_cents"), col("last_age_days"),
        (col("decayed_cents").cast("double") / lit(100.0))
          .as("decayed_value"))
      .orderBy("user_id")
  }

  /** MERGEABLE-HISTOGRAM quantile estimation
    * (`ev_histogram_quantiles`) — the sketch-shaped counterpart to
    * `q23_percentiles`' exact window rank: ONE map-side-combinable
    * groupBy folds the fact table into fixed-width value bins (the
    * histogram is associative and commutative, so partial aggregates
    * merge freely across partitions, days, or clusters — the property
    * exact rank-based percentiles lack), and everything after the
    * shuffle operates on |bins| rows: a cumulative window, then the
    * first bin whose cumulative count crosses each requested rank.
    *
    * At 100 TB this is THE quantile plan: the exact sort-based
    * percentile needs a total order over the fact table (q23's range
    * exchange), while the histogram needs one combinable aggregation
    * and bounds the answer to a bin — with per-day histograms stored,
    * yesterday's sketch merges into today's by adding counts. All
    * rank arithmetic is integer (`cum*100 >= p*N`), and the bin
    * boundaries are exact small-integer products, so the estimate is
    * deterministic and bit-matches the oracle. */
  /** The integer-rank quantile readout shared by all three histogram
    * queries: over a (groupCols..., bin, n) histogram relation, per
    * group and requested percentile the FIRST bin whose cumulative
    * count crosses the rank (`cum_n·100 >= p·n_total` — all integer,
    * so both engines agree to the bit). Factored so the three
    * consumers cannot drift — [[graft.SketchSpec]]'s merge test pins
    * the single-pass and merged readouts EQUAL, which this makes
    * structural. Returns (groupCols..., p, est_bin, n_total). */
  private def histRankPick(s: SparkSession, bins: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    import s.implicits._
    val part = Window.partitionBy(groupCols.map(col): _*)
    val wCum = part.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("n_total", sum(col("n")).over(part))
    val ps = Seq(50L, 90L, 99L).toDF("p")
    cum.crossJoin(broadcast(ps))
      .filter(col("cum_n") * lit(100L) >= col("p") * col("n_total"))
      .groupBy((groupCols :+ "p").map(col): _*)
      .agg(min(col("bin")).as("est_bin"),
        max(col("n_total")).as("n_total"))
  }

  /** [[histRankPick]] pivoted to one row per group with
    * p50/p90/p99 bin columns. */
  private def histQuantPivot(s: SparkSession, bins: DataFrame,
      groupCols: Seq[String]): DataFrame =
    histRankPick(s, bins, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(max(when(col("p") === 50L, col("est_bin"))).as("p50_bin"),
        max(when(col("p") === 90L, col("est_bin"))).as("p90_bin"),
        max(when(col("p") === 99L, col("est_bin"))).as("p99_bin"))

  val evHistogramQuantiles: Q = (s, d) => {
    val bins = ev(s, d)
      .filter(col("value").isNotNull)
      .groupBy(floor(col("value") / 10.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    histRankPick(s, bins, Nil)
      .select(col("p"), col("est_bin"),
        (col("est_bin").cast("double") * lit(10.0)).as("lo"),
        (col("est_bin").cast("double") * lit(10.0) + lit(10.0)).as("hi"),
        col("n_total"))
      .orderBy("p")
  }

  /** Per-GROUP histogram quantiles (`ev_histogram_by_type`) — the
    * per-tenant/per-endpoint percentile monitor, and the proof the
    * mergeable-histogram tier composes with grouping the way
    * `tf_hll_by_source` proves it for HLL registers: ONE combinable
    * groupBy folds the fact table into (group, bin) counts, then all
    * rank arithmetic — a per-group cumulative window and the integer
    * rank cross — runs on |groups|·|bins| rows. State is
    * |groups|·|bins| integers where exact per-group percentiles need
    * a per-group total order over the facts; per-day per-group
    * histograms roll up by addition ([[evHistogramMerge]]'s
    * contract), so yesterday's sketch answers today's per-tenant p99.
    * Per-group count and extreme bins ride along for error
    * accounting, derived from the SAME bins relation (floor is
    * monotone, so min(bin) = floor(min(value)/10)) — the fact table
    * is scanned exactly once. */
  val evHistogramByType: Q = (s, d) => {
    val bins = ev(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        floor(col("value") / 10.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    val quants = histQuantPivot(s, bins, Seq("event_type"))
    // derived from the SAME bins relation — floor is monotone, so
    // min(bin) IS floor(min(value)/10); the fact table is scanned once
    val exacts = bins.groupBy("event_type")
      .agg(sum(col("n")).as("n_total"),
        min(col("bin")).as("min_bin"),
        max(col("bin")).as("max_bin"))
    exacts.join(quants, Seq("event_type"))
      .select(col("event_type"), col("n_total"), col("min_bin"),
        col("max_bin"), col("p50_bin"), col("p90_bin"), col("p99_bin"))
      .orderBy("event_type")
  }

  /** Shard count for the histogram mergeability demonstration —
    * mirrors the sketch tier's 4-way convention
    * ([[graft.operators.SketchOps.HllShards]]). */
  val HistShards: Long = 4L

  /** The mergeable-histogram *distributed contract*, oracle-gated —
    * [[evHistogramQuantiles]] claims its bins "merge freely across
    * partitions, days, or clusters"; this query PROVES it the way
    * `tf_hll_merge`/`tf_cms_merge` prove theirs: per-shard bin counts
    * over a 4-way `event_id` split, merged by PER-BIN ADDITION. An
    * event lands in exactly one shard, addition is associative, and
    * bin addressing (`floor(value/10)`) is shard-independent, so the
    * merged histogram is BIT-IDENTICAL to the single-pass global
    * build — proven at BIN level by a full-outer equality rollup (a
    * bug that shifted counts between bins would fool a total-sum
    * comparison). The quantile estimates are then read off the MERGED
    * histogram with [[evHistogramQuantiles]]'s integer-rank
    * arithmetic, so the output pins the whole production path:
    * per-day/per-executor histograms roll up by addition and
    * yesterday's sketch answers today's percentile question without
    * re-reading a single event. */
  val evHistogramMerge: Q = (s, d) => {
    val binned = ev(s, d)
      .filter(col("value").isNotNull)
      .select((col("event_id") % HistShards).as("shard"),
        floor(col("value") / 10.0).cast("long").as("bin"))
    val sharded = binned.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n"))
    // the merge: per-bin ADDITION across the shard histograms
    val merged = sharded.groupBy("bin").agg(sum(col("n")).as("n"))
    val global = ev(s, d)
      .filter(col("value").isNotNull)
      .groupBy(floor(col("value") / 10.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    val diff = merged.as("m")
      .join(global.as("g"), Seq("bin"), "full")
      .select(when(coalesce(col("m.n"), lit(-1L)) ===
          coalesce(col("g.n"), lit(-2L)), 0L).otherwise(1L).as("bad"))
      .agg(sum(col("bad")).as("n_diff"))
    // quantiles off the MERGED histogram — the shared readout
    val quants = histQuantPivot(s, merged, Nil)
    val nSh = sharded.select(col("shard")).distinct()
      .agg(count(lit(1)).as("n_shards"))
    val mstats = merged.agg(count(lit(1)).as("n_bins"),
      sum(col("n")).as("n_total"))
    nSh.crossJoin(mstats).crossJoin(quants).crossJoin(diff)
      .select(col("n_shards"), col("n_bins"), col("n_total"),
        col("p50_bin"), col("p90_bin"), col("p99_bin"),
        (coalesce(col("n_diff"), lit(0L)) === 0L)
          .cast("long").as("bins_identical"))
  }

  /** Windowed funnel conversion: the share of view events followed by
    * a click from the SAME user within one hour, per day — `ev_funnel`
    * without its unbounded lookahead. The EXISTS is a LEFT SEMI join
    * (each view emitted at most once, no click multiplicity) with an
    * equi key on user and a range predicate on event time — the batch
    * mirror of the watermarked stream-stream interval join
    * (`stream_interval_join`), and the join shape that bounds state
    * when this runs on an unbounded stream. */
  val evConversionWindow: Q = (s, d) => {
    val base = ev(s, d).select(col("user_id"), col("event_type"),
      expr("unix_timestamp(ts)").as("ts_sec"))
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_sec"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_sec").as("cts"))
    val converted = views.join(clicks,
      col("user_id") === col("cu") &&
        col("cts") >= col("ts_sec") && col("cts") <= col("ts_sec") + 3600,
      "left_semi")
    def daily(df: DataFrame, name: String) =
      df.groupBy((col("ts_sec") - (col("ts_sec") % 86400)).as("day_sec"))
        .agg(count(lit(1)).as(name))
    daily(views, "n_views")
      .join(daily(converted, "n_converted"), Seq("day_sec"), "left")
      .na.fill(0L, Seq("n_converted"))
      .select(col("day_sec"), col("n_views"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_views").cast("double"))
          .as("conversion_rate"))
      .orderBy("day_sec")
  }

  /** Weekly traffic heatmap: event counts per (day-of-week,
    * hour-of-day) cell with corpus share — the capacity-planning /
    * anomaly-baseline view `ev_hourly_anomaly` scores against. Both
    * coordinates come from INTEGER epoch arithmetic (epoch day 0 was
    * a Thursday, so dow = (day + 4) % 7 with 0 = Sunday) — no engine
    * calendar/locale functions, whose week-start conventions differ
    * between Spark and DuckDB. One combinable agg; the share divides
    * by a broadcast scalar total. */
  val evWeekHeatmap: Q = (s, d) => {
    val cells = ev(s, d)
      .select(expr("((unix_timestamp(ts) div 86400) + 4) % 7").as("dow"),
        expr("(unix_timestamp(ts) % 86400) div 3600").as("hour"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n"))
    val total = cells.agg(sum(col("n")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hour"), col("n"),
        (col("n").cast("double") / col("n_total").cast("double"))
          .as("share"))
      .orderBy("dow", "hour")
  }

  /** AS-OF (point-in-time) join: each click matched to the MOST
    * RECENT view by the same user at-or-before the click — the
    * feature-store lookup shape ("the feature value as of the label's
    * timestamp") that naive SQL needs a correlated MAX subquery or a
    * theta join for. Spark has no asof-join operator, so this is the
    * composition that replaces it: tag both sides, union, ONE shuffle
    * on the equi key, and a running `last(..., ignoreNulls)` ordered
    * by (time, side) — views sort before clicks at equal timestamps,
    * giving the <=-semantics DuckDB's native ASOF JOIN implements.
    * Per-row state is O(1) (the last view seen), so a partition
    * streams through the sort with no pair enumeration and no
    * BroadcastNestedLoop/Cartesian fallback anywhere in the plan
    * ([[graft.AsofRangeSpec]] pins both the plan and equality with a
    * naive per-click theta-join mirror). At 100 TB the single
    * user-keyed exchange is the whole cost — contrast a range join,
    * which Spark plans as a nested loop. Clicks with no prior view
    * keep the -1 sentinel (left-join semantics, null-free output). */
  val evAsofJoin: Q = (s, d) => {
    val base = ev(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), expr("unix_timestamp(ts)").as("ts_sec"))
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_sec").as("t"),
        lit(0L).as("kind"), lit(-1L).as("event_id"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_sec").as("t"),
        lit(1L).as("kind"), col("event_id"))
    val ordered = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("view_ts_sec",
        last(when(col("kind") === 0L, col("t")), ignoreNulls = true)
          .over(ordered))
      .filter(col("kind") === 1L)
      .select(col("event_id"), col("user_id"),
        col("t").as("click_ts_sec"),
        coalesce(col("view_ts_sec"), lit(-1L)).as("view_ts_sec"),
        coalesce(col("t") - col("view_ts_sec"), lit(-1L)).as("gap_sec"))
      .orderBy("event_id")
  }

  /** Time-bucket width (seconds) for the salted as-of variant. */
  val AsofBucketSec = 86400L

  /** Hot-key-safe AS-OF join — identical semantics (and oracle) to
    * [[evAsofJoin]], different plan: the plain composition sorts each
    * user's whole history in ONE task, which is unbounded when a
    * single key dominates (the skew probe's 20%-one-user shape; at
    * 100 TB a hot key is a stuck executor). The classic fix is
    * salting the running scan by TIME BUCKET with a boundary handoff:
    *
    *  1. local pass, keyed (user, day-bucket): the same union+window
    *     running-last-view — parallel across a hot user's buckets;
    *  2. per-(user, bucket) summary = most recent view in the bucket
    *     (one combinable aggregate, \|users\|·\|buckets\| rows — the
    *     SMALL relation);
    *  3. carry pass over the summary only: running max over earlier
    *     buckets per user (a per-user window over bucket counts, not
    *     events);
    *  4. a click's match = coalesce(in-bucket last view, carried
    *     max) — joined back on the same (user, bucket) key.
    *
    * The only per-user sequential scan left runs over the summary
    * relation (rows = active buckets), never over events.
    * [[graft.AsofRangeSpec]] pins row-for-row equality with
    * [[evAsofJoin]]. */
  val evAsofBucketed: Q = (s, d) => {
    val base = ev(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), expr("unix_timestamp(ts)").as("ts_sec"))
    val uni = base.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_sec").as("t"),
        lit(0L).as("kind"), lit(-1L).as("event_id"))
      .unionByName(base.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_sec").as("t"),
          lit(1L).as("kind"), col("event_id")))
      .withColumn("bucket", expr(s"t div $AsofBucketSec"))
    val localW = Window.partitionBy(col("user_id"), col("bucket"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = uni.withColumn("local_view_ts",
      last(when(col("kind") === 0L, col("t")), ignoreNulls = true)
        .over(localW))
    val carry = uni
      .groupBy(col("user_id"), col("bucket"))
      .agg(max(when(col("kind") === 0L, col("t")))
        .as("bucket_last_view"))
      .withColumn("carry_prev",
        max(col("bucket_last_view")).over(
          Window.partitionBy(col("user_id")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("user_id"), col("bucket"), col("carry_prev"))
    val v = coalesce(col("local_view_ts"), col("carry_prev"))
    local.filter(col("kind") === 1L)
      .join(carry, Seq("user_id", "bucket"))
      .select(col("event_id"), col("user_id"),
        col("t").as("click_ts_sec"),
        coalesce(v, lit(-1L)).as("view_ts_sec"),
        coalesce(col("t") - v, lit(-1L)).as("gap_sec"))
      .orderBy("event_id")
  }

  /** Large-to-large interval-overlap join WITHOUT pair enumeration:
    * per (user, day) "active window" [first event, last event], count
    * how many OTHER same-day windows each window overlaps — the
    * concurrency analysis behind capacity planning and ad-delivery
    * pacing. A window overlaps w iff start <= w.end AND end >=
    * w.start, so the count collapses to rank arithmetic over two
    * sorted endpoint multisets:
    *
    *   n_concurrent(w) = |{x: start_x <= end_w}|
    *                   − |{x: end_x < start_w}| − 1
    *
    * (the subtracted set is contained in the first, and w itself
    * contributes exactly the −1). Both counts ride ONE day-partitioned
    * sorted pass: every window emits four tagged endpoint rows —
    * start (kind 0), start-probe (1), end-probe (2), end (3) — and
    * the tag IS the tie-break that encodes closed-interval semantics:
    * starts (0) sort before end-probes (2), so a start equal to the
    * probed end counts (<=); start-probes (1) sort before ends (3),
    * so an end equal to the probed start does not (<). Two running
    * sums over the same sort give both counts. Cost is one
    * O(n log n) sort of 4 rows/window, ZERO pairs materialized —
    * where both the naive theta join and a bucket-explode scheme go
    * quadratic in the windows-per-day (the oracle RUNS that quadratic
    * join; DuckDB's IEJoin makes it feasible at gate scale). Windows
    * never span days (day = epoch-day of the event), so `day` is the
    * natural partition key a 1000-executor sort distributes on. */
  val evOverlapCount: Q = (s, d) => {
    val win = ev(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts)").as("ts_sec"))
      .groupBy(col("user_id"), expr("ts_sec div 86400").as("day"))
      .agg(min(col("ts_sec")).as("s"), max(col("ts_sec")).as("e"))
    def tagged(v: String, kind: Long, probe: Boolean) =
      win.select(col("day"), col(v).as("v"), lit(kind).as("kind"),
        (if (probe) col("user_id") else lit(-1L)).as("user_id"))
    val ordered = Window.partitionBy(col("day"))
      .orderBy(col("v"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counted = tagged("s", 0L, probe = false)
      .unionByName(tagged("s", 1L, probe = true))
      .unionByName(tagged("e", 2L, probe = true))
      .unionByName(tagged("e", 3L, probe = false))
      // one select, same window spec => ONE Window node (withColumn
      // chaining would stack two nodes over the shared sort)
      .select(col("day"), col("kind"), col("user_id"),
        sum(when(col("kind") === 0L, 1L).otherwise(0L))
          .over(ordered).as("n_s"),
        sum(when(col("kind") === 3L, 1L).otherwise(0L))
          .over(ordered).as("n_e"))
    // both probe readings fold back to one row per window in a single
    // aggregate — branching into two filtered projections would make
    // Catalyst'S column pruning re-derive the whole union+window per
    // branch (two sorts again, which defeats the point)
    val probes = counted
      .filter(col("kind") === 1L || col("kind") === 2L)
      .groupBy(col("day"), col("user_id"))
      .agg(max(when(col("kind") === 2L, col("n_s"))).as("n_starts_le"),
        max(when(col("kind") === 1L, col("n_e"))).as("n_ends_lt"))
    win.join(probes, Seq("day", "user_id"))
      .select(col("user_id"), (col("day") * 86400L).as("day_sec"),
        col("s"), col("e"),
        (col("n_starts_le") - col("n_ends_lt") - 1L).as("n_concurrent"))
      .orderBy("day_sec", "user_id")
  }

  /** Fixed-point rank scale: ranks are BIGINTs in units of 10⁻¹² —
    * integer addition is associative, so the per-iteration sums are
    * bit-identical under ANY partitioning / accumulation order (a
    * double-rank PageRank would diverge between engines and between
    * runs the moment a shuffle reorders the adds). Fixed forever. */
  val PrScale = 1000000000000L
  /** Per-edge out-share scale (10⁶): each edge's transition share is
    * pre-quantized to share = (w·10⁶) div W_out once, so the
    * per-iteration contribution (rank·share) div 10⁶ never multiplies
    * rank by a raw edge count — rank·share ≤ 10¹²·10⁶ < 2⁶³ no matter
    * how heavy the edge. */
  val PrEdgeScale = 1000000L
  /** Damping d = 0.85 as the integer pair (85, 100). */
  val PrDampNum = 85L
  val PrIters = 8

  /** PageRank over the event-type transition graph — the generic
    * edge-relation power iteration a training pipeline runs as
    * domain-authority scoring (rank CommonCrawl domains by the link
    * graph, then weight or gate documents by their domain's rank; here
    * nodes are event types and edges the observed next-event
    * transitions, the same graph [[evTransitions]] reports).
    *
    * Exactness: ALL-INTEGER fixed point. Ranks live at [[PrScale]];
    * edge shares are pre-quantized integers ([[PrEdgeScale]]); one
    * iteration is new_rank(v) = base + (85·Σ contrib) div 100 with
    * contrib(u→v) = (rank_u·share_uv) div 10⁶ — every operation is
    * integer multiply/divide/SUM, so the result is bit-identical on
    * both engines and under any execution order. Dangling nodes are
    * NEVER materialized as edges: per iteration their rank mass is
    * folded to ONE scalar D = Σ_u (rank_u · s) div 10⁶ with
    * s = 10⁶ div N — the per-term quantization is the SAME floor the
    * edge formula applies, so D added into every node's contribution
    * sum is bit-identical to summing the synthetic (u → every v)
    * fan-out rows a textbook formulation would materialize
    * (O(|dangling|·N) rows — 10¹³⁺ on a 30%-dangling domain graph;
    * here the dangling cost is ONE |dangling|-term sum per
    * iteration, independent of N on the receive side). A node with no
    * in-edges receives exactly `base + damp·D`. The single double
    * division (rank_scaled / 10¹²) happens at output.
    *
    * Scale shape: a static setup once per query, then one narrow job
    * per round. The setup cuts the edges once (one window + one
    * aggregate), builds from that cut the share relation (real edges
    * plus N zero-share self-loops, no dangling rows — pinned by
    * PrDanglingScaleSpec) and the dangling-source set, gives the
    * nodes dense indices 0…N-1, and re-keys the share relation to
    * index pairs, plus one row per dangling source into a virtual sink
    * at share s, hash-partitioned on the destination and cut. Each of
    * the [[PrIters]] rounds then broadcasts the rank vector, sums
    * (rank·share) div 10⁶ per destination inside each partition, and
    * gathers the N + 1 sums on the driver, which adds the sink's sum
    * (D) to every node's and damps. These are the
    * [[graft.Checkpointing]] driver rounds: a relational round (join +
    * aggregate + cut) ran about a dozen jobs each of ≤ 20 ms task work,
    * so per-round scheduling, not graph work, bounded the query
    * (Drizzle, SOSP'17). Edges stay distributed; only the rank vector
    * crosses the driver, and the final (node, rank) frame is built from
    * it, sorted on the driver ([[graft.Checkpointing.sortedFrame]]), so
    * the query plans no Sort. That state is N longs, N < 10⁶ by the
    * guard below: at most 8 MB.
    *
    * Quantization bound: the dangling share s = 10⁶ div N floors to 0
    * once N > 10⁶ — at that point dangling mass would silently drop.
    * [[PrEdgeScale]] must therefore satisfy N << PrEdgeScale; for a
    * domain-scale graph (10⁷⁺ nodes) raise PrEdgeScale (headroom:
    * rank·share ≤ PrScale·PrEdgeScale must stay < 2⁶³, so 10⁶ can
    * grow to ~9·10⁶ at the current PrScale, or PrScale drops a digit
    * to buy another) and re-check the driver-held state. The bound is
    * asserted at runtime. */
  val evTypePagerank: Q = (s, d) => {
    val base = ev(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("ts_sec"))
    val (nodes, rows) = nodesOf(base.select(col("event_type").as("node")))
    // empty input: the oracle's recursion over zero nodes yields an
    // empty relation; mirror it instead of dividing by zero below
    if (rows.isEmpty)
      nodes.select(col("node").as("event_type"),
        lit(0L).as("rank_scaled"), lit(0.0).as("rank"))
    else {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val edges = base
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      pagerankOf(nodes, nonNull(rows), edges, rows.length, None, PrIters)
        .select(col("node").as("event_type"), col("rank_scaled"),
          col("rank"))
    }
  }

  /** Fraction of users that emit referral edges: hash-gated (never
    * `rand()` — the repo-wide determinism convention) so exactly
    * ~[[PrEngagedPct]]% of users are "engaged" sources and the rest
    * are LURKERS — nodes that hold rank but emit none, the ≥30%
    * dangling regime a real domain graph exhibits (pages with no
    * outlinks). Mirrored verbatim in the DuckDB oracle. */
  val PrEngagedPct = 7L

  /** `events` as (user_id, event_id, event_type, ts_sec): the input of
    * every user referral-graph query. */
  private def userEvents(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("user_id"), col("event_id"), col("event_type"),
      expr("unix_timestamp(ts)").as("ts_sec"))

  /** The distinct values of `keys`' one `node` column as a cut
    * relation, and its rows with the `extra` columns, collected in one
    * job: their number is the node count n, the null node included. */
  private def nodesOf(keys: DataFrame, extra: Column*)
      : (DataFrame, Array[Row]) = {
    val nodes = keys.distinct().transform(graft.Checkpointing.cut)
    (nodes, nodes.select(col("node") +: extra: _*).collect())
  }

  /** The rows of a non-null node: a null node joins no edge in the
    * relational form and gets no rank, so PageRank leaves it out. */
  private def nonNull(rows: Array[Row]): Array[Row] = rows.filterNot(_.isNullAt(0))

  /** "Who acted next in my event-type stream" (by ts, event_id): one
    * (user_id, next_user) row per referral, from engaged users only. */
  private def referrals(events: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_sec"), col("event_id"))
    events
      .withColumn("next_user", lead(col("user_id"), 1).over(win))
      .filter(col("next_user").isNotNull)
      .filter(Hashing.charHash(col("user_id").cast("string")) % 10
        < PrEngagedPct)
  }

  /** The weighted referral edges (src, dst, w = referral count) that
    * [[evUserPagerank]], [[evUserTrustrank]] and [[evUserHits]] rank. */
  private def referralEdges(events: DataFrame): DataFrame =
    referrals(events)
      .groupBy(col("user_id").as("src"), col("next_user").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** PageRank over the USER referral graph — the graph-scale sibling
    * of [[evTypePagerank]]: same integer fixed point, but the node
    * universe is every user (thousands at sf0.1, tens of thousands on
    * the 10× scale replica) instead of 5 event types. An edge
    * u → v means v was the next actor (by ts, event_id) in the same
    * event-type activity stream — "who acted after you", the
    * referral/influence shape — and only hash-engaged users
    * ([[PrEngagedPct]]/10) emit edges, so ≥30% of nodes are dangling
    * BY CONSTRUCTION. This is the fixture that proves the scalar
    * dangling-mass formulation: the superseded fan-out design would
    * materialize |dangling|·N synthetic rows (≈6.8M at sf1) where
    * this plan's dangling cost is a |dangling|-term sum per
    * iteration; the committed scale probe runs this query at both
    * SFs. */
  val evUserPagerank: Q = userPagerank(PrIters)

  /** [[evUserPagerank]] with `rounds` power rounds; 0 stops after the
    * static setup. */
  private[graft] def userPagerank(rounds: Int): Q = (s, d) => {
    val events = userEvents(s, d)
    val (nodes, rows) = nodesOf(events.select(col("user_id").as("node")))
    if (rows.isEmpty)
      nodes.select(col("node").as("user_id"),
        lit(0L).as("rank_scaled"), lit(0.0).as("rank"))
    else
      pagerankOf(nodes, nonNull(rows), referralEdges(events), rows.length,
        None, rounds)
        .select(col("node").as("user_id"), col("rank_scaled"),
          col("rank"))
  }

  /** Trust-seed gate for [[evUserTrustrank]]: hash residue 3 (≈10% of
    * users, disjoint from nothing — a seed may or may not also be an
    * engaged edge source). Mirrored verbatim in the oracle. */
  val PrSeedResidue = 3L

  /** TRUSTRANK over the user referral graph — personalized PageRank
    * (Gyöngyi, Garcia-Molina, Pedersen, VLDB'04) with the teleport
    * distribution concentrated on hash-gated TRUST SEEDS instead of
    * uniform: rank mass flows outward from vetted actors, so a
    * spam/bot cluster with no referral path from the seed set decays
    * toward zero however densely it links to itself — the standard
    * source-quality scorer a curation pipeline runs where
    * [[evUserPagerank]] measures raw centrality. Same ALL-INTEGER
    * fixed point and scalar dangling term (dangling mass
    * redistributes uniformly; only the TELEPORT is personalized —
    * documented variant); per-node base = (15%·scale div W) for the
    * W seeds, 0 otherwise, so every arithmetic step remains
    * bit-portable. Scale shape identical to [[evUserPagerank]]; the
    * seed flags are collected once with the node keys, and the seed
    * count W and the per-node base are computed from them on the
    * driver. */
  val evUserTrustrank: Q = (s, d) => {
    val events = userEvents(s, d)
    val (nodes, rows) = nodesOf(events.select(col("user_id").as("node")),
      (Hashing.charHash(col("node").cast("string")) % 10 === PrSeedResidue)
        .cast("long").as("is_seed"))
    val table = nonNull(rows)
    val seeds = table.map(_.getLong(1))
    val w = seeds.sum
    if (w == 0L)
      nodes.select(col("node").as("user_id"),
        lit(0L).as("rank_scaled"), lit(0.0).as("rank"),
        lit(0L).as("is_seed"))
    else
      pagerankOf(nodes, table, referralEdges(events), rows.length,
        Some(seeds.map(_ * ((PrScale * 15L / 100L) / w))), PrIters)
        .select(col("node").as("user_id"), col("rank_scaled"),
          col("rank"), col("is_seed"))
  }

  /** HITS mass scale (hub and authority vectors each L1-normalize to
    * ~this total per iteration) and round count. 10⁶ matches
    * [[PrEdgeScale]]'s ppm granularity; the overflow bound below is
    * the reason it is not larger. */
  val HitsScale = 1000000L
  val HitsIters = 8

  /** HITS hubs & authorities over the user referral graph (Kleinberg,
    * "Authoritative sources in a hyperlinked environment", JACM'99) —
    * the link-analysis axis [[evUserPagerank]]/[[evUserTrustrank]]
    * don't measure: PageRank scores a single centrality; HITS
    * separates REFERRERS (hubs — users whose referrals reach the
    * well-referred) from the REFERRED-TO (authorities), the pair a
    * curation pipeline uses to find scout accounts vs destination
    * accounts. Computed by [[hitsOf]]. */
  val evUserHits: Q = (s, d) => {
    val events = userEvents(s, d)
    val (nodes, rows) = nodesOf(events.select(col("user_id").as("node")))
    val scaled =
      if (rows.isEmpty)
        nodes.select(col("node"), lit(0L).as("auth_scaled"),
          lit(0L).as("hub_scaled"))
      else hitsOf(nodes, rows, referralEdges(events), rows.length)
    scaled
      .select(col("node").as("user_id"), col("auth_scaled"),
        col("hub_scaled"),
        (col("auth_scaled").cast("double") /
          lit(HitsScale.toDouble)).as("authority"),
        (col("hub_scaled").cast("double") /
          lit(HitsScale.toDouble)).as("hub"))
  }

  /** The HITS core: `nodes` has one `node` column (n rows, n > 0),
    * `edges` is (src, dst, w) over those nodes. Output columns (node,
    * auth_scaled, hub_scaled), sorted by node.
    *
    * Variant: weighted adjacency, L1 normalization each half-step —
    * power iteration converges to the principal singular pair under
    * any fixed positive rescaling, and L1 keeps every step
    * ALL-INTEGER: from h_0 = S div n, a_t = (Aᵀh_{t-1})·S div Σ and
    * h_t = (A a_t)·S div Σ, with div floors identical on both engines
    * (mirrored as a DuckDB recursive CTE). A zero sum (no edges)
    * leaves the vector at 0. Overflow bound (the [[HitsScale]]
    * sizing): Σa_raw ≤ S·maxOutW, and the normalize multiplies by S
    * again, so the iteration needs maxOutW < 2⁶³/S² ≈ 9.2·10⁶
    * weighted out-degree — guarded at runtime.
    *
    * Scale shape: the [[pagerankOf]] rounds. The edges are cut once
    * and re-keyed to dense index pairs twice, partitioned by dst for
    * the authority sums and by src for the hub sums; each half-step is
    * one [[graft.Checkpointing.vectorRound]] job, and the normalize is
    * a driver-side sum and floor over the gathered vector. Hub and
    * authority vectors (2n longs, n < S) are the only state on the
    * driver, and the result frame is built from them already sorted by
    * node. */
  private[graft] def hitsOf(nodes: DataFrame, edges: DataFrame, n: Long)
      : DataFrame = hitsOf(nodes, nodes.collect(), edges, n)

  /** [[hitsOf]] over `table`, the collected rows of `nodes`. */
  private def hitsOf(nodes: DataFrame, table: Array[Row], edges: DataFrame,
      n: Long): DataFrame = {
    require(n < HitsScale,
      s"HITS init mass 10^6 div n floors to 0 at n=$n — raise " +
        "HitsScale before running at this graph scale")
    val s = nodes.sparkSession
    val (m, node) = (table.length, nodes.schema("node"))
    val index = denseFrame(s, table, node, "i" -> Array.tabulate(m)(_.toLong))
    val edgesCk = graft.Checkpointing.cut(edges)
    val byDst = byKey(reindexed(edgesCk, index, "dst", "src", "w"))
    val bySrc = byKey(reindexed(edgesCk, index, "src", "dst", "w"))
    // weighted out-degree = A·1
    val maxOutw = vectorRound(bySrc, Array.fill(m)(1L), m, Math.addExact)(
      keyedSum(_ * _)).max
    require(maxOutw < (Long.MaxValue / HitsScale) / HitsScale,
      s"HITS normalize overflows at weighted out-degree $maxOutw " +
        s">= 2^63/HitsScale^2 — lower HitsScale (see Scaladoc)")
    def l1(x: Array[Long]): Array[Long] = {
      val total = x.sum
      if (total == 0L) x else x.map(v => (v * HitsScale) / total)
    }
    val ((auth, hub), _) = driverRounds("hits",
      (new Array[Long](m), Array.fill(m)(HitsScale / n)), HitsIters) {
      case (_, h) =>
        val a = l1(vectorRound(byDst, h, m, Math.addExact)(keyedSum(_ * _)))
        Some((a, l1(vectorRound(bySrc, a, m, Math.addExact)(
          keyedSum(_ * _)))))
    }
    denseFrame(s, table, node, "auth_scaled" -> auth, "hub_scaled" -> hub)
  }

  /** The static PageRank relations: (share, danglingSrc). `share` is
    * real quantized edges + zero-share self-loops ONLY — zero dangling
    * rows, the contract PrDanglingScaleSpec pins; `danglingSrc` is the
    * |dangling|-row source set whose rank mass folds to one scalar per
    * iteration. Exposed (package-private) so the spec can audit the
    * relation the iteration actually reads. */
  private[graft] def pagerankShares(
      nodes: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val outw = edges.groupBy("src").agg(sum(col("w")).as("tw"))
    val real = edges.join(outw, "src")
      .select(col("src"), col("dst"),
        expr(s"(w * $PrEdgeScale) div tw").as("share"))
    val selfZero = nodes.select(col("node").as("src"),
      col("node").as("dst"), lit(0L).as("share"))
    // a left join on the same `outw` as `real`, not an anti join on its
    // keys: a plan that reads both then shuffles the edges' out-weights
    // once
    val danglingSrc = nodes.select(col("node").as("src"))
      .join(outw, Seq("src"), "left").filter(col("tw").isNull)
      .select(col("src"))
    (real.unionByName(selfZero), danglingSrc)
  }

  /** The iteration core: `nodes` has one `node` column, `edges` is
    * (src, dst, w) over those nodes. Output columns (node, rank_scaled,
    * rank), sorted by node — callers rename. With a `baseRel`
    * (node, base, is_seed), one row per node, the teleport is
    * personalized (TrustRank): the node's `base` replaces the uniform
    * base term and the output gains `is_seed`. Dangling mass stays the
    * uniform scalar either way. `rounds` power rounds run; 0 stops
    * after the static setup.
    *
    * The rank vector is held on the driver (round shape in
    * [[evTypePagerank]]); each step is the integer floor and sum of
    * the relational form, so the ranks are bit-identical to it
    * (RankReferenceSpec recomputes them in plain `Long` arithmetic).
    * A null node joins no edge in the relational form and gets no
    * rank, so it is left out here too. */
  private[graft] def pagerankOf(nodes: DataFrame, edges: DataFrame,
      n: Long, baseRel: Option[DataFrame] = None,
      rounds: Int = PrIters): DataFrame = {
    val table = nonNull(baseRel.getOrElse(nodes).collect())
    pagerankOf(nodes, table, edges, n,
      baseRel.map(_ => table.map(_.getAs[Long]("base"))), rounds)
  }

  /** [[pagerankOf]] over `table`, the collected non-null rows of
    * `nodes`, with the per-node `base` in `table`'s order (whose rows
    * then carry `is_seed`). */
  private def pagerankOf(nodes: DataFrame, table: Array[Row],
      edges: DataFrame, n: Long, base: Option[Array[Long]],
      rounds: Int): DataFrame = {
    require(n < PrEdgeScale,
      s"pagerank dangling share 10^6 div n floors to 0 at n=$n >= " +
        s"$PrEdgeScale nodes — raise PrEdgeScale before running at " +
        "this graph scale (see Scaladoc quantization bound)")
    val s = nodes.sparkSession
    val initRank = PrScale / n
    val baseRank = (PrScale * 15L / 100L) / n
    // uniform share a dangling node would give every node — quantized
    // ONCE, exactly as a materialized fan-out row's share would be
    val dShare = PrEdgeScale / n
    val (m, node) = (table.length, nodes.schema("node"))
    val index = denseFrame(s, table, node, "i" -> Array.tabulate(m)(_.toLong))
    val (share, danglingSrc) =
      pagerankShares(nodes, graft.Checkpointing.cut(edges))
    // dangling mass as ONE scalar: each dangling source is one row into
    // a virtual sink, index m, at the uniform share, so the sink's sum
    // is Σ (rank·s) div 10⁶ — the edge formula's per-term floor — and
    // adding it into every node's contribution sum is bit-identical to
    // the O(|dangling|·N) synthetic-edge fan-out it replaces
    val toSink = danglingSrc.join(indexOf(index, "src"), "src")
      .select(lit(m.toLong).as("k"), col("src_i").as("f"),
        lit(dShare).as("x"))
    val byDst = byKey(
      reindexed(share, index, "dst", "src", "share").unionByName(toSink))
    val teleport = base.getOrElse(Array.fill(m)(baseRank))
    val (ranks, _) = driverRounds(base.fold("pagerank")(_ => "trustrank"),
      Array.fill(m)(initRank), rounds) { r =>
      val sums = vectorRound(byDst, r, m + 1, Math.addExact)(
        keyedSum((rank, sh) => (rank * sh) / PrEdgeScale))
      Some(Array.tabulate(m)(
        v => teleport(v) + (PrDampNum * (sums(v) + sums(m))) / 100L))
    }
    denseFrame(s, table, node, Seq("rank_scaled" -> ranks) ++
        base.map(_ => "is_seed" -> table.map(_.getAs[Long]("is_seed"))): _*)
      .withColumn("rank",
        col("rank_scaled").cast("double") / lit(PrScale.toDouble))
  }

  /** The (node, i) `index` relation with its columns renamed to
    * (`c`, `c`_i), for joining on node column `c`. */
  private def indexOf(index: DataFrame, c: String): DataFrame =
    index.select(col("node").as(c), col("i").as(s"${c}_i"))

  /** `rel` as (k, f, x) rows: the `key` and `from` node columns
    * replaced by their `index` positions, `x` kept. */
  private def reindexed(rel: DataFrame, index: DataFrame, key: String,
      from: String, x: String): DataFrame =
    rel.join(indexOf(index, key), key).join(indexOf(index, from), from)
      .select(col(s"${key}_i").as("k"), col(s"${from}_i").as("f"),
        col(x).as("x"))

  /** A (k, f, x) relation as a [[roundRelation]] hash-partitioned on
    * k, so each key is summed in one partition. */
  private def byKey(rel: DataFrame): RDD[(Long, Long, Long)] =
    roundRelation[(Long, Long, Long)](rel.repartition(col("k")))

  /** The rank queries' [[vectorRound]] fold: per key k of a partition
    * of (k, f, x) rows, the sum of `term(vec(f), x)`. */
  private def keyedSum(term: (Long, Long) => Long)(vec: Array[Long],
      rows: Iterator[(Long, Long, Long)]): Iterator[(Int, Long)] = {
    val acc = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { case (k, f, x) =>
      acc(k) = acc.getOrElse(k, 0L) + term(vec(f.toInt), x)
    }
    acc.iterator.map { case (k, sum) => (k.toInt, sum) }
  }

  /** The user referral graph as DISTINCT UNDIRECTED edges `(u, v)`
    * with `u < v` — the same "who acted next in my event-type stream"
    * adjacency [[evUserPagerank]]/[[evUserHits]] rank over
    * ([[referrals]]), symmetrized and self-loop-free. Shared by
    * [[evUserTriangles]] and its spec. */
  private[graft] def referralUndirected(s: SparkSession, d: String)
      : DataFrame =
    referrals(userEvents(s, d))
      .filter(col("user_id") =!= col("next_user"))
      .select(least(col("user_id"), col("next_user")).as("u"),
        greatest(col("user_id"), col("next_user")).as("v"))
      .distinct()

  /** Degree-ordered exact triangle counting core: takes distinct
    * undirected edges (`u` < `v`) and returns per-node degree,
    * triangle count, and local clustering coefficient.
    *
    * Every edge is ORIENTED from its lower-(degree, id) endpoint to
    * the higher, so each triangle is enumerated exactly once — at its
    * lowest-ranked corner — and, decisively for scale, the wedge
    * fan-out per node is bounded by its oriented OUT-degree, which is
    * O(√m) for every node regardless of raw degree (the orientation
    * argument behind the O(m^{3/2}) total-work bound of the
    * MapReduce node-iterator, Suri & Vassilvitskii WWW'11). That is
    * the 100 TB skew story: a celebrity hub with 10⁷ followers
    * contributes wedge PAIRS only at its low-degree neighbors — it is
    * everyone's `dst`, never the pivot — so no task ever sees the
    * 10¹⁴ pairs the unoriented node-iterator would mint. Every step
    * is an equi-join or combinable groupBy on node/edge keys; both
    * checkpointed leaves ([[graft.Checkpointing.cut]]) are O(|E|).
    * The clustering coefficient 2T/(deg·(deg−1)) is one IEEE division
    * of exact integers — both engines divide the same two BIGINTs. */
  private[graft] def trianglesOf(und0: DataFrame): DataFrame = {
    val und = und0.transform(graft.Checkpointing.cut)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val e = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ori = e.select(
        when(uLower, col("u")).otherwise(col("v")).as("src"),
        when(uLower, col("v")).otherwise(col("u")).as("dst"),
        when(uLower, col("dv")).otherwise(col("du")).as("ddeg"))
      .transform(graft.Checkpointing.cut)
    // wedges pivot at the lowest corner; the (ddeg, dst) order on the
    // two spokes aligns with the closing edge's own orientation, so
    // the closing probe is a plain equi-join on (y, z)
    val wedges = ori.select(col("src"), col("dst").as("y"),
        col("ddeg").as("dy"))
      .join(ori.select(col("src"), col("dst").as("z"),
        col("ddeg").as("dz")), Seq("src"))
      .filter(col("dy") < col("dz") ||
        (col("dy") === col("dz") && col("y") < col("z")))
    val tri = wedges.join(
        ori.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .select(col("src").as("x"), col("y"), col("z"))
    val perNode = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (col("tri_count") * 2L).cast("double") /
            (col("degree") * (col("degree") - lit(1L))).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Exact triangle census (`ev_user_triangles`) — per-user triangle
    * count and local clustering coefficient over the referral graph,
    * completing the graph-quality family (PageRank centrality /
    * TrustRank seed-flow / HITS roles / triangles for COHESION): a
    * bot ring that reciprocally refers itself shows near-1.0
    * clustering at low rank, organic hubs show high degree with low
    * clustering — the two-axis view a curation pipeline cuts on.
    * Scale shape in [[trianglesOf]]. */
  val evUserTriangles: Q = (s, d) =>
    trianglesOf(referralUndirected(s, d))
      .select(col("node").as("user_id"), col("degree"),
        col("tri_count"), col("clustering"))
      .orderBy("user_id")

  /** Purchase-value concentration (`ev_value_gini`) — the Gini
    * coefficient and top-decile share of per-user purchase value: the
    * inequality counterpart of the per-source HHI, on the user axis.
    * A training-data pipeline weighting by engagement needs to know
    * whether "engagement" means a broad base or three whales (a
    * whale-dominated corpus turns any value-weighted sampler into a
    * three-user sampler). Exactness: the classic rank form — G_num =
    * 2·Σ(rank·cents) − (n+1)·Σcents over ascending (cents, user)
    * rank — is exact integer (tie order cannot change the sum: tied
    * values share Σ-of-coefficients), DECIMAL(19,0)-widened; Gini and
    * the decile share are one division each. The rank window runs
    * over the O(users) ROLLUP, never events. Zero total pins 0.0. */
  val evValueGini: Q = (s, d) => {
    def d19(c: Column) = c.cast("decimal(19,0)")
    val per = ev(s, d).filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum((money(col("value")) * 100).cast("long")).as("cents"))
    val ranked = per.withColumn("rank",
      row_number().over(Window.orderBy(col("cents"), col("user_id")))
        .cast("long"))
    val base = ranked.agg(count(lit(1)).as("n"),
      sum(col("cents")).as("total_cents"),
      sum(d19(col("rank")) * d19(col("cents"))).as("src"))
    val withN = ranked.crossJoin(broadcast(base.select(col("n"))))
    val top = withN
      .filter(col("rank") > col("n") - expr("(n + 9) div 10"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("top_cents"))
    base.crossJoin(broadcast(top))
      .select(col("n").as("n_users"), col("total_cents"),
        when(col("total_cents") > 0L,
          (lit(2L).cast("decimal(19,0)") * col("src") -
            d19(col("n") + 1L) * d19(col("total_cents")))
            .cast("double") /
            (col("n") * col("total_cents")).cast("double"))
          .otherwise(lit(0.0)).as("gini"),
        when(col("total_cents") > 0L,
          col("top_cents").cast("double") /
            col("total_cents").cast("double"))
          .otherwise(lit(0.0)).as("top_decile_share"))
  }

  /** Degree assortativity (`ev_graph_assortativity`) — the mixing
    * coefficient of the referral graph: the Pearson correlation of
    * endpoint degrees over ordered edge instances (Newman, PRL'02).
    * Positive = hubs refer hubs (organic social cores); strongly
    * negative = hubs fan out to leaves (broadcast/spam shape) — the
    * one-number summary that tells a curation pipeline which graph
    * prior (pagerank damping, core order) to trust. Exactness: the
    * corpus_correlations discipline — every moment is a
    * DECIMAL(19,0)-widened product summed into DECIMAL(38,0)
    * (degrees are bounded by n, so deg·deg products overflow a long
    * at ~3e9-degree hubs; the widening removes the bound), r is ONE
    * fixed double-expression tree over the cast moments, and the
    * degenerate regular graph (zero variance) pins 0.0 via an exact
    * integer zero-test, not a NaN. Both orientations of each edge
    * enter, so the x/y moments coincide and only three sums are
    * needed. Plan: degree join + ONE 1-row aggregate; output is a
    * single row. */
  val evGraphAssortativity: Q = (s, d) =>
    assortativityOf(referralUndirected(s, d))

  /** Moment core of [[evGraphAssortativity]] over distinct undirected
    * edges (u < v) — split out so specs can plant edge sets. */
  private[graft] def assortativityOf(und0: DataFrame): DataFrame = {
    val und = und0.transform(graft.Checkpointing.cut)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val e = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val pairs = e.select(col("du").as("x"), col("dv").as("y"))
      .unionAll(e.select(col("dv").as("x"), col("du").as("y")))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val agg = pairs.agg(count(lit(1)).as("m"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(d19(col("x")) * d19(col("x"))).as("sxx"),
      sum(d19(col("x")) * d19(col("y"))).as("sxy"),
      min(col("x")).as("minx"), max(col("x")).as("maxx"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    agg.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), expr("m div 2").as("n_edges"),
        // zero degree variance (regular graph) and the empty graph
        // pin 0.0 exactly — the min = max test needs no wide product
        when(col("m") === 0L || col("minx") === col("maxx"), lit(0.0))
          .otherwise(
            (col("m").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
            (col("m").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")))
          .as("assortativity"))
  }

  /** Core order for [[evUserKcore]] — nodes must keep >= this many
    * in-core neighbors to survive the peel. Fixed forever. */
  val KcoreK = 3L
  /** Peel rounds unrolled in the DuckDB oracle. Peeling strictly
    * shrinks the edge set every non-final round and is a no-op after
    * the fixpoint, so any unroll >= the true round count is exact;
    * KcoreSpec pins convergence well inside this on the gate corpora
    * (referral graphs peel shallow — hubs survive, chains vanish in
    * round one). */
  val KcorePeelUnroll = 16

  /** Iterative k-core peel of the undirected edges `und` (u, v):
    * drop every node with fewer than [[KcoreK]] surviving neighbors
    * and repeat until no node drops. Output (node, degree,
    * core_degree) per surviving node, sorted by node: its full-graph
    * degree and its degree inside the core.
    *
    * The peel runs on the driver. The nodes and their full-graph
    * degrees are collected once, a node's dense index is its position
    * in that table, and the edges are cut as a [[roundRelation]] of
    * index pairs, both directions of each edge. The state is the
    * degree vector and an alive mark; the degree of an alive node is
    * always its degree in the alive-induced subgraph. Each round
    * takes the peel set {alive, deg < K} and stops if it is empty;
    * otherwise one [[vectorRound]] with a sum combine counts, for each
    * node, its edges into the peel set, and the driver subtracts
    * those counts from the survivors and marks the peel set dead.
    * These are the peel sets, rounds and output of the textbook
    * edge-rewrite form (KcoreSpec pins them against a driver mirror,
    * and the oracle recomputes the peel from scratch). A round is one
    * narrow job; the alive set strictly shrinks every round, so the
    * loop ends. */
  private[graft] def kcoreOf(und0: DataFrame): DataFrame = {
    // cut once: the node table and the index pairs both read the edges
    val und = graft.Checkpointing.cut(und0)
    val s = und.sparkSession
    val ends = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
    val table = ends.groupBy("node").agg(count(lit(1)).as("degree"))
      .collect()
    val (m, node) = (table.length, ends.schema("node"))
    val degree = table.map(_.getLong(1))
    val index = denseFrame(s, table, node, "i" -> Array.tabulate(m)(_.toLong))
    // both directions of each edge, as (node, neighbor, 1) index rows
    val adj = roundRelation[(Long, Long, Long)](reindexed(und.select(col("u"),
      col("v")).unionAll(und.select(col("v"), col("u"))).withColumn("w", lit(1L)),
      index, "u", "v", "w"))
    val ((deg, alive), _) = driverRounds("kcore",
        (degree, Array.fill(m)(true)), Int.MaxValue) { case (deg, alive) =>
      val peel = Array.tabulate(m)(i => if (alive(i) && deg(i) < KcoreK) 1L else 0L)
      Option.when(peel.contains(1L)) {
        val lost = vectorRound(adj, peel, m, Math.addExact)(
          keyedSum((inPeel, _) => inPeel))
        (Array.tabulate(m)(i => deg(i) - lost(i)),
          Array.tabulate(m)(i => alive(i) && peel(i) == 0L))
      }
    }
    graft.Checkpointing.release(und)
    val core = alive.indices.filter(alive).toArray
    denseFrame(s, core.map(table), node, "degree" -> core.map(degree),
      "core_degree" -> core.map(deg))
  }

  /** K-core membership (`ev_user_kcore`) — the cohesion CORE of the
    * referral graph: users surviving the [[KcoreK]]-core peel, with
    * their full-graph and in-core degrees. Where triangles score
    * local cohesion per node, the k-core finds the maximal subgraph
    * in which EVERYONE keeps k in-core neighbors — the standard
    * community-engine / bot-ring-nucleus cut (a ring of mutually
    * referring accounts survives any peel its size supports; organic
    * long-tail users peel away in round one). Output is O(core).
    * Scale/exactness shape in [[kcoreOf]]; everything is integer
    * counts, and the driver-built frame is already sorted by user. */
  val evUserKcore: Q = (s, d) =>
    kcoreOf(referralUndirected(s, d))
      .select(col("node").as("user_id"), col("degree"),
        col("core_degree"))

  /** Candidate watermark delays (seconds) audited by
    * [[evWatermarkAudit]]: no tolerance, 10 minutes, 1 hour (the
    * delay `stream_hourly_wm` actually runs with). */
  val WmDelaysSec: Seq[Long] = Seq(0L, 600L, 3600L)

  /** Watermark-sizing disorder audit (`ev_watermark_audit`) — the
    * measurement a team runs BEFORE choosing `withWatermark(delay)`
    * for the streaming ingest queries: per event-type stream, how
    * out-of-order is event time relative to arrival, and how many
    * events would each candidate delay in [[WmDelaysSec]] DROP?
    * Arrival order is the event_id sequence (the ingestion log's
    * monotone sequence number — deterministic, unlike task arrival
    * order in a replay); an event's disorder is
    * max(ts over earlier arrivals in its stream) − ts, clamped at 0,
    * and Structured Streaming drops it iff disorder > delay (event
    * time below the running-max watermark). Everything is integer
    * seconds — no doubles anywhere. Plan shape: ONE running-max
    * window per event-type partition (bounded by the busiest stream,
    * the same partitioning every referral-graph query already uses)
    * feeding one combinable groupBy; output is O(types). The 100 TB
    * form shards the window by (event_type, day) with a per-day
    * seed max — documented, not needed at gate scale. */
  val evWatermarkAudit: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val disorder = ev(s, d)
      .select(col("event_type"), col("event_id"),
        expr("unix_timestamp(ts)").as("ts_sec"))
      .withColumn("max_prev", max(col("ts_sec")).over(w))
      .withColumn("disorder_sec",
        greatest(coalesce(col("max_prev") - col("ts_sec"), lit(0L)),
          lit(0L)))
    val lateCols = WmDelaysSec.map(dl =>
      sum((col("disorder_sec") > dl).cast("long")).as(s"late_at_${dl}s"))
    val aggCols = Seq(count(lit(1)).as("n_events"),
      max(col("disorder_sec")).as("max_disorder_sec")) ++ lateCols
    disorder.groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy("event_type")
  }

  /** Decade edges (seconds) for [[evGapHistogram]]. */
  val GapEdgesSec: Seq[Long] = Seq(1L, 10L, 100L, 1000L, 10000L)

  /** Inter-event gap histogram (`ev_gap_histogram`) — the calibration
    * evidence behind the sessionizer's 30-minute inactivity gap
    * ([[graft.operators.StreamOps.SessionGapSec]]) and the retention
    * windows: per event type, the distribution of consecutive
    * same-user gaps in log decades. A session gap should sit in a
    * histogram VALLEY (few gaps near the cut → the boundary is
    * stable); this report shows the valley — or that there isn't one
    * — per event type. All integer seconds: gaps from one lag window
    * per (user, type) stream, decade bucketing by CASE, one
    * combinable groupBy; O(types · decades) output. */
  val evGapHistogram: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_sec"), col("event_id"))
    val gaps = ev(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_timestamp(ts)").as("ts_sec"))
      .withColumn("gap_sec", col("ts_sec") - lag(col("ts_sec"), 1).over(w))
      .filter(col("gap_sec").isNotNull)
    val bucket = GapEdgesSec.foldLeft(
      when(lit(false), lit(""))) { (acc, e) =>
      acc.when(col("gap_sec") < e, s"lt_${e}s")
    }.otherwise(s"ge_${GapEdgesSec.last}s")
    gaps.groupBy(col("event_type"), bucket.as("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_sec")).as("min_gap_sec"),
        max(col("gap_sec")).as("max_gap_sec"))
      .orderBy("event_type", "gap_bucket")
  }

  val defs: Map[String, Q] = Map(
    "ev_user_triangles" -> evUserTriangles,
    "ev_user_kcore" -> evUserKcore,
    "ev_graph_assortativity" -> evGraphAssortativity,
    "ev_value_gini" -> evValueGini,
    "ev_session_paths" -> evSessionPaths,
    "ev_cohort_ltv" -> evCohortLtv,
    "ev_type_overlap" -> evTypeOverlap,
    "ev_new_vs_returning" -> evNewVsReturning,
    "ev_ab_lift" -> evAbLift,
    "ev_bot_score" -> evBotScore,
    "ev_peak_concurrency" -> evPeakConcurrencySharded,
    "ev_peak_concurrency_audit" -> evPeakConcurrency,
    "ev_cusum_change" -> evCusumChange,
    "ev_autocorr_daily" -> evAutocorrDaily,
    "ev_theilsen_trend" -> evTheilsenTrend,
    "ev_changepoint_binseg" -> evChangepointBinseg,
    "ev_seasonal_naive" -> evSeasonalNaive,
    "ev_gap_histogram" -> evGapHistogram,
    "ev_watermark_audit" -> evWatermarkAudit,
    "ev_asof_join" -> evAsofJoin,
    "ev_asof_bucketed" -> evAsofBucketed,
    "ev_overlap_count" -> evOverlapCount,
    "ev_week_heatmap" -> evWeekHeatmap,
    "ev_conversion_window" -> evConversionWindow,
    "ev_rolling_wau" -> evRollingWau,
    "ev_value_bands" -> evValueBands,
    "ev_decayed_value" -> evDecayedValue,
    "ev_histogram_quantiles" -> evHistogramQuantiles,
    "ev_histogram_merge" -> evHistogramMerge,
    "ev_histogram_by_type" -> evHistogramByType,
    "ev_transitions" -> evTransitions,
    "ev_approx_stats" -> evApproxStats,
    "ev_attribution" -> evAttribution,
    "ev_attribution_linear" -> evAttributionLinear,
    "ev_attribution_position" -> evAttributionPosition,
    "ev_conversion_latency" -> evConversionLatency,
    "ev_json_extract" -> evJson,
    "ev_hourly" -> evHourly,
    "ev_sessionize" -> evSessionize,
    "ev_session_window" -> evSessionWindow,
    "ev_dedup_first" -> evDedupFirst,
    "ev_top_users" -> evTopUsers,
    "ev_top_users_salted" -> evTopUsersSalted,
    "ev_funnel" -> evFunnel,
    "ev_retention" -> evRetention,
    "ev_hourly_anomaly" -> evHourlyAnomaly,
    "ev_anomaly_mad" -> evAnomalyMad,
    "ev_user_lifespan" -> evUserLifespan,
    "ev_type_pagerank" -> evTypePagerank,
    "ev_user_pagerank" -> evUserPagerank,
    "ev_user_hits" -> evUserHits,
    "ev_user_trustrank" -> evUserTrustrank,
    "ev_type_stats" -> evTypeStats)

  // lazy: oracle strings interpolate constants from SIBLING operator
  // objects (TextOps -> SimilarityOps.Dims, SimilarityOps -> DedupOps
  // delta constants, DedupOps -> TextOps.oracle), so eager init here
  // would make the map's value depend on which object the JVM
  // happened to initialize first (a mid-cycle read sees null). Lazy
  // defers interpolation past every clinit.
  /** The asof oracle — shared verbatim by `ev_asof_join`,
    * `ev_asof_bucketed`, and the streaming lookup `stream_asof`
    * ([[graft.operators.StreamOps.streamAsof]]): one semantic result,
    * three plan costs (the compact/rewrite convention). */
  private[graft] val sqlAsof: String =
    """WITH base AS (
         SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
         FROM events),
       c AS (SELECT event_id, user_id, ts_sec FROM base
             WHERE event_type = 'click'),
       v AS (SELECT user_id, ts_sec FROM base
             WHERE event_type = 'view')
       SELECT c.event_id, c.user_id, c.ts_sec AS click_ts_sec,
         CAST(COALESCE(v.ts_sec, -1) AS BIGINT) AS view_ts_sec,
         CAST(COALESCE(c.ts_sec - v.ts_sec, -1) AS BIGINT) AS gap_sec
       FROM c ASOF LEFT JOIN v
         ON c.user_id = v.user_id AND v.ts_sec <= c.ts_sec
       ORDER BY c.event_id"""

  // Peak-concurrency sweep (sessionize CTEs + sweep line, pinned
  // (tsec, event_id) session tiebreaks and (t, delta asc) sweep tie
  // order). ONE string, gated twice: by the global sweep and by the
  // day-sharded execution, whose equality is the shard proof.
  private lazy val sqlPeakConcurrency =
    """WITH t AS (
         SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         FROM events),
       flagged AS (
         SELECT user_id, event_id, tsec,
           CASE WHEN lag(tsec) OVER w IS NULL
                  OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0
             END AS boundary
         FROM t WINDOW w AS (PARTITION BY user_id
           ORDER BY tsec, event_id)),
       sess AS (
         SELECT user_id, tsec,
           CAST(SUM(boundary) OVER (PARTITION BY user_id
             ORDER BY tsec, event_id ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
         FROM flagged),
       iv AS (
         SELECT MIN(tsec) AS start_sec, MAX(tsec) AS end_sec
         FROM sess GROUP BY user_id, sid),
       bounds AS (
         SELECT start_sec AS t, CAST(1 AS BIGINT) AS delta FROM iv
         UNION ALL
         SELECT end_sec + 1, CAST(-1 AS BIGINT) FROM iv),
       run AS (
         SELECT t, CAST(SUM(delta) OVER (ORDER BY t ASC, delta ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS live
         FROM bounds),
       pk AS (SELECT CAST(MAX(live) AS BIGINT) AS peak_concurrent
              FROM run),
       nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM iv)
       SELECT nn.n_sessions, pk.peak_concurrent,
         (SELECT CAST(MIN(t) AS BIGINT) FROM run, pk
          WHERE run.live = pk.peak_concurrent) AS first_peak_sec
       FROM nn, pk"""

  lazy val oracle: Map[String, String] = Map(
    "ev_asof_join" -> sqlAsof,
    "ev_asof_bucketed" -> sqlAsof,
    "ev_overlap_count" ->
      """WITH base AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           FROM events),
         w AS (
           SELECT user_id, ts_sec // 86400 AS day,
             MIN(ts_sec) AS s, MAX(ts_sec) AS e
           FROM base GROUP BY user_id, ts_sec // 86400)
         SELECT a.user_id, CAST(a.day * 86400 AS BIGINT) AS day_sec,
           a.s, a.e, CAST(COUNT(b.user_id) AS BIGINT) AS n_concurrent
         FROM w a LEFT JOIN w b
           ON a.day = b.day AND b.s <= a.e AND b.e >= a.s
             AND b.user_id <> a.user_id
         GROUP BY a.user_id, a.day, a.s, a.e
         ORDER BY day_sec, a.user_id""",
    "ev_week_heatmap" ->
      """WITH cells AS (
           SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7
               AS dow,
             (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS hour,
             COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells)
         SELECT dow, hour, n,
           CAST(n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
         FROM cells, t ORDER BY dow, hour""",
    "ev_conversion_window" ->
      """WITH base AS (
           SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           FROM events),
         v AS (SELECT user_id, ts_sec FROM base WHERE event_type = 'view'),
         c AS (SELECT user_id, ts_sec FROM base WHERE event_type = 'click'),
         conv AS (
           SELECT v.user_id, v.ts_sec FROM v WHERE EXISTS (
             SELECT 1 FROM c
             WHERE c.user_id = v.user_id
               AND c.ts_sec >= v.ts_sec AND c.ts_sec <= v.ts_sec + 3600)),
         dv AS (SELECT ts_sec - ts_sec % 86400 AS day_sec,
                  COUNT(*) AS n_views FROM v GROUP BY 1),
         dc AS (SELECT ts_sec - ts_sec % 86400 AS day_sec,
                  COUNT(*) AS n_converted FROM conv GROUP BY 1)
         SELECT dv.day_sec, dv.n_views,
           CAST(COALESCE(dc.n_converted, 0) AS BIGINT) AS n_converted,
           CAST(COALESCE(dc.n_converted, 0) AS DOUBLE)
             / CAST(dv.n_views AS DOUBLE) AS conversion_rate
         FROM dv LEFT JOIN dc ON dv.day_sec = dc.day_sec
         ORDER BY dv.day_sec""",
    "ev_rolling_wau" ->
      """WITH ud AS (
           SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400
             AS day, user_id
           FROM events),
         contrib AS (
           SELECT DISTINCT user_id, day + i AS wday
           FROM ud, (SELECT unnest(range(0, 7)) AS i) x),
         wau AS (
           SELECT c.wday AS day, COUNT(*) AS wau
           FROM contrib c
           JOIN (SELECT DISTINCT day FROM ud) dd ON c.wday = dd.day
           GROUP BY c.wday),
         dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
         SELECT dau.day * 86400 AS day_sec, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
         FROM dau JOIN wau ON dau.day = wau.day
         ORDER BY day_sec""",
    // Decayed value: exact cents through the DECIMAL(12,2) cast, one
    // arithmetic right-shift per event (floor-div by 2^age_weeks),
    // order-independent integer sums, one final division.
    "ev_decayed_value" ->
      s"""WITH maxd AS (SELECT CAST(max(ts) AS DATE) AS maxd FROM events),
          evx AS (
            SELECT user_id,
              CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
              CAST(date_diff('day', CAST(ts AS DATE), maxd) AS BIGINT)
                AS age_days
            FROM events, maxd)
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(SUM(cents) AS BIGINT) AS raw_cents,
            CAST(SUM(${sqlDecayShift("cents", "age_days")}) AS BIGINT)
              AS decayed_cents,
            CAST(MIN(age_days) AS BIGINT) AS last_age_days,
            CAST(SUM(${sqlDecayShift("cents", "age_days")}) AS DOUBLE)
              / 100.0 AS decayed_value
          FROM evx GROUP BY user_id ORDER BY user_id""",
    "ev_value_bands" ->
      """WITH bands(band, lo, hi) AS (
           VALUES ('micro', 0.0, 50.0), ('small', 50.0, 150.0),
                  ('mid', 150.0, 300.0), ('large', 300.0, 1000.0))
         SELECT band, CAST(lo AS DOUBLE) AS lo, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         FROM events JOIN bands ON value >= lo AND value < hi
         GROUP BY band, lo ORDER BY lo""",
    "ev_histogram_quantiles" ->
      """WITH bins AS (
           SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
             COUNT(*) AS n
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         cum AS (
           SELECT bin, n,
             SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum_n,
             SUM(n) OVER () AS n_total
           FROM bins),
         ps(p) AS (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
           (CAST(99 AS BIGINT))),
         hit AS (
           SELECT p, MIN(bin) AS est_bin, MAX(n_total) AS n_total
           FROM cum CROSS JOIN ps
           WHERE cum_n * 100 >= p * n_total
           GROUP BY p)
         SELECT p, est_bin,
           CAST(est_bin AS DOUBLE) * 10.0 AS lo,
           CAST(est_bin AS DOUBLE) * 10.0 + 10.0 AS hi,
           CAST(n_total AS BIGINT) AS n_total
         FROM hit ORDER BY p""",
    "ev_histogram_merge" ->
      s"""WITH binned AS (
           SELECT event_id % $HistShards AS shard,
             CAST(floor(value / 10.0) AS BIGINT) AS bin
           FROM events WHERE value IS NOT NULL),
         sharded AS (
           SELECT shard, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
         merged AS (
           SELECT bin, CAST(SUM(n) AS BIGINT) AS n
           FROM sharded GROUP BY bin),
         global AS (
           SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
             COUNT(*) AS n
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         diff AS (
           SELECT CAST(SUM(CASE WHEN COALESCE(m.n, -1) = COALESCE(g.n, -2)
             THEN 0 ELSE 1 END) AS BIGINT) AS n_diff
           FROM merged m FULL JOIN global g ON m.bin = g.bin),
         cum AS (
           SELECT bin,
             SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum_n,
             SUM(n) OVER () AS n_total
           FROM merged),
         ps(p) AS (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
           (CAST(99 AS BIGINT))),
         hit AS (
           SELECT p, MIN(bin) AS est_bin
           FROM cum CROSS JOIN ps
           WHERE cum_n * 100 >= p * n_total
           GROUP BY p),
         quants AS (
           SELECT
             MAX(CASE WHEN p = 50 THEN est_bin END) AS p50_bin,
             MAX(CASE WHEN p = 90 THEN est_bin END) AS p90_bin,
             MAX(CASE WHEN p = 99 THEN est_bin END) AS p99_bin
           FROM hit),
         nsh AS (
           SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
           FROM sharded),
         mstats AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(n) AS BIGINT) AS n_total
           FROM merged)
         SELECT n_shards, n_bins, n_total, p50_bin, p90_bin, p99_bin,
           CAST(CASE WHEN COALESCE(n_diff, 0) = 0 THEN 1 ELSE 0 END
             AS BIGINT) AS bins_identical
         FROM nsh CROSS JOIN mstats CROSS JOIN quants CROSS JOIN diff""",
    "ev_histogram_by_type" ->
      """WITH bins AS (
           SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
             COUNT(*) AS n
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         cum AS (
           SELECT event_type, bin,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
             SUM(n) OVER (PARTITION BY event_type) AS n_total
           FROM bins),
         ps(p) AS (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
           (CAST(99 AS BIGINT))),
         hit AS (
           SELECT event_type, p, MIN(bin) AS est_bin
           FROM cum CROSS JOIN ps
           WHERE cum_n * 100 >= p * n_total
           GROUP BY 1, 2),
         quants AS (
           SELECT event_type,
             MAX(CASE WHEN p = 50 THEN est_bin END) AS p50_bin,
             MAX(CASE WHEN p = 90 THEN est_bin END) AS p90_bin,
             MAX(CASE WHEN p = 99 THEN est_bin END) AS p99_bin
           FROM hit GROUP BY event_type),
         exacts AS (
           SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total,
             MIN(bin) AS min_bin, MAX(bin) AS max_bin
           FROM bins GROUP BY event_type)
         SELECT e.event_type, e.n_total, e.min_bin, e.max_bin,
           q.p50_bin, q.p90_bin, q.p99_bin
         FROM exacts e JOIN quants q ON e.event_type = q.event_type
         ORDER BY e.event_type""",
    "ev_transitions" ->
      """WITH seq AS (
           SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_type
           FROM events),
         tr AS (
           SELECT event_type, next_type, COUNT(*) AS n FROM seq
           WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT event_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
         FROM tr ORDER BY event_type, next_type""",
    "ev_hourly_anomaly" ->
      """WITH hourly AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 * 3600
             AS hour_sec, event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         stats AS (
           SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
             sqrt(greatest(
               CAST(SUM(n * n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 - (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 * (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
               0.0)) AS std
           FROM hourly GROUP BY event_type)
         SELECT h.event_type, h.hour_sec, h.n,
           CASE WHEN s.std > 0.0
             THEN (CAST(h.n AS DOUBLE) - s.mean) / s.std
             ELSE 0.0 END AS z
         FROM hourly h JOIN stats s ON h.event_type = s.event_type
         ORDER BY h.event_type, h.hour_sec""",
    // survival: lifespan rollup, ages grid from range(), reverse
    // cumulative risk set, censored-on-max-day excluded from events
    "ev_user_lifespan" ->
      """WITH spans AS (
           SELECT user_id,
             MIN(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d0,
             MAX(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d1
           FROM events GROUP BY user_id),
         maxd AS (SELECT MAX(d1) AS maxd FROM spans),
         ls AS (
           SELECT d1 - d0 AS lifespan,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN d1 = maxd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cens
           FROM spans, maxd GROUP BY 1),
         grid AS (
           SELECT unnest(range(0,
             (SELECT MAX(lifespan) FROM ls) + 1)) AS age_days),
         j AS (
           SELECT g.age_days,
             COALESCE(l.n_total, 0) AS n_here,
             COALESCE(l.n_cens, 0) AS n_censored,
             COALESCE(l.n_total, 0) - COALESCE(l.n_cens, 0) AS n_churned
           FROM grid g LEFT JOIN ls l ON l.lifespan = g.age_days)
         SELECT age_days,
           CAST(SUM(n_here) OVER (ORDER BY age_days DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(n_churned AS DOUBLE) /
             CAST(SUM(n_here) OVER (ORDER BY age_days DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS hazard
         FROM j ORDER BY age_days""",
    // MAD anomaly: 2x-medians as the sum of the two middle order
    // statistics (identical rn picks and (value, day) tie order on
    // both engines), all-integer 3-MAD cross-multiplication
    "ev_anomaly_mad" ->
      """WITH daily AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         med AS (
           SELECT event_type,
             CAST(SUM(CASE WHEN rn = (cnt + 1) // 2 THEN n ELSE 0 END
               + CASE WHEN rn = cnt // 2 + 1 THEN n ELSE 0 END)
               AS BIGINT) AS med2
           FROM (SELECT event_type, n,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY n, day) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS cnt
                 FROM daily) z
           GROUP BY 1),
         dev AS (
           SELECT d.event_type, d.day, d.n, m.med2,
             abs(d.n * 2 - m.med2) AS dev2
           FROM daily d JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type,
             CAST(SUM(CASE WHEN rn = (cnt + 1) // 2 THEN dev2 ELSE 0 END
               + CASE WHEN rn = cnt // 2 + 1 THEN dev2 ELSE 0 END)
               AS BIGINT) AS mad4
           FROM (SELECT event_type, dev2,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY dev2, day) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS cnt
                 FROM dev) z
           GROUP BY 1)
         SELECT dev.event_type, dev.day * 86400 AS day_sec, dev.n,
           dev.med2, dev.dev2, mad.mad4,
           CASE WHEN dev.dev2 * 2 > mad.mad4 * 3 THEN 'anomaly'
                ELSE 'normal' END AS verdict
         FROM dev JOIN mad USING (event_type)
         ORDER BY dev.event_type, day_sec""",
    "ev_retention" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
           FROM events),
         first AS (
           SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
         SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
           COUNT(*) AS n_users
         FROM days d JOIN first f ON d.user_id = f.user_id
         GROUP BY f.cohort_day, day_offset
         ORDER BY cohort_day, day_offset""",
    "ev_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    "ev_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
          event_type, COUNT(*) AS n,
          CAST(SUM(${sqlMoney("value")}) AS DOUBLE) AS total_value
          FROM events GROUP BY hour, event_type ORDER BY hour, event_type""",
    "ev_sessionize" ->
      """WITH t AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events),
         flagged AS (
           SELECT user_id, event_id, tsec,
             CASE WHEN lag(tsec) OVER w IS NULL
                    OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS boundary
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
         sess AS (
           SELECT user_id, event_id, tsec,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY tsec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(tsec) AS start_sec, MAX(tsec) AS end_sec
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    // Conversion latency: the last-click ASOF pairing + decade
    // buckets; unattributed purchases get their own bucket.
    "ev_conversion_latency" ->
      """WITH base AS (
           SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_type
           FROM events),
         clicks AS (
           SELECT user_id, tsec, MAX(event_id) AS event_id
           FROM base WHERE event_type = 'click' GROUP BY user_id, tsec),
         purchases AS (
           SELECT user_id, event_id, tsec FROM base
           WHERE event_type = 'purchase'),
         att AS (
           SELECT p.tsec AS purchase_tsec, c.tsec AS click_tsec
           FROM purchases p
           ASOF LEFT JOIN clicks c
             ON p.user_id = c.user_id AND p.tsec >= c.tsec),
         counted AS (
           SELECT CASE
               WHEN click_tsec IS NULL THEN 'unattributed'
               WHEN purchase_tsec - click_tsec <= 1 THEN 'd0_1s'
               WHEN purchase_tsec - click_tsec <= 10 THEN 'd1_10s'
               WHEN purchase_tsec - click_tsec <= 100 THEN 'd2_100s'
               WHEN purchase_tsec - click_tsec <= 1000 THEN 'd3_1000s'
               WHEN purchase_tsec - click_tsec <= 10000 THEN 'd4_10000s'
               ELSE 'd5_over' END AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM att GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counted)
         SELECT bucket, n,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
         FROM counted, tot ORDER BY bucket""",

    // Linear attribution: forward as-of via the packed-BIGINT min
    // over the following frame; credit split is pure integer
    // largest-remainder, conserving each purchase's cents exactly.
    "ev_attribution_linear" ->
      s"""WITH base AS (
           SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_type,
             value, hour(ts) AS hh
           FROM events),
         u AS (
           SELECT user_id, tsec, event_id, 0 AS tag, hh,
             CAST(NULL AS BIGINT) AS pcents
           FROM base WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, tsec, event_id, 1, NULL,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
           FROM base WHERE event_type = 'purchase'),
         assigned AS (
           SELECT *, MIN(CASE WHEN tag = 1
               THEN tsec * $AttrPackScale + event_id END)
             OVER (PARTITION BY user_id ORDER BY tsec, tag, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
           FROM u),
         touches AS (
           SELECT hh, tsec, event_id, nxt FROM assigned
           WHERE tag = 0 AND nxt IS NOT NULL),
         kk AS (
           SELECT nxt, CAST(COUNT(*) AS BIGINT) AS k
           FROM touches GROUP BY nxt),
         pc AS (
           SELECT tsec * $AttrPackScale + event_id AS nxt,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS pcents
           FROM base WHERE event_type = 'purchase'),
         ranked AS (
           SELECT t.*, ROW_NUMBER() OVER (PARTITION BY nxt
             ORDER BY tsec, event_id) AS rnk
           FROM touches t),
         credited AS (
           SELECT r.hh, r.nxt,
             pcents // k + CASE WHEN rnk <= pcents % k THEN 1 ELSE 0 END
               AS credit_c
           FROM ranked r JOIN kk USING (nxt) JOIN pc USING (nxt))
         SELECT CAST(hh AS BIGINT) AS click_hour,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT nxt) AS BIGINT) AS n_purchases,
           CAST(SUM(credit_c) AS BIGINT) AS credit_cents,
           CAST(SUM(credit_c) AS DOUBLE) / 100.0 AS credit
         FROM credited GROUP BY hh ORDER BY click_hour""",
    // position-based: identical touch CTEs, the U-shaped 40/20/40
    // integer split (endpoints floor, middle pool = the remainder)
    "ev_attribution_position" ->
      s"""WITH base AS (
           SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_type,
             value, hour(ts) AS hh
           FROM events),
         u AS (
           SELECT user_id, tsec, event_id, 0 AS tag, hh,
             CAST(NULL AS BIGINT) AS pcents
           FROM base WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, tsec, event_id, 1, NULL,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
           FROM base WHERE event_type = 'purchase'),
         assigned AS (
           SELECT *, MIN(CASE WHEN tag = 1
               THEN tsec * $AttrPackScale + event_id END)
             OVER (PARTITION BY user_id ORDER BY tsec, tag, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
           FROM u),
         touches AS (
           SELECT hh, tsec, event_id, nxt FROM assigned
           WHERE tag = 0 AND nxt IS NOT NULL),
         kk AS (
           SELECT nxt, CAST(COUNT(*) AS BIGINT) AS k
           FROM touches GROUP BY nxt),
         pc AS (
           SELECT tsec * $AttrPackScale + event_id AS nxt,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS pcents
           FROM base WHERE event_type = 'purchase'),
         ranked AS (
           SELECT t.*, ROW_NUMBER() OVER (PARTITION BY nxt
             ORDER BY tsec, event_id) AS rnk
           FROM touches t),
         credited AS (
           SELECT r.hh, r.nxt,
             CASE
               WHEN k = 1 THEN pcents
               WHEN k = 2 THEN CASE WHEN rnk = 1
                 THEN pcents - pcents // 2 ELSE pcents // 2 END
               WHEN rnk = 1 OR rnk = k THEN (pcents * 40) // 100
               ELSE (pcents - 2 * ((pcents * 40) // 100)) // (k - 2)
                 + (CASE WHEN rnk - 1 <=
                     (pcents - 2 * ((pcents * 40) // 100)) % (k - 2)
                   THEN 1 ELSE 0 END)
             END AS credit_c
           FROM ranked r JOIN kk USING (nxt) JOIN pc USING (nxt))
         SELECT CAST(hh AS BIGINT) AS click_hour,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT nxt) AS BIGINT) AS n_purchases,
           CAST(SUM(credit_c) AS BIGINT) AS credit_cents,
           CAST(SUM(credit_c) AS DOUBLE) / 100.0 AS credit
         FROM credited GROUP BY hh ORDER BY click_hour""",
    "ev_attribution" ->
      """WITH base AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                  event_type
           FROM events),
         clicks AS (
           SELECT user_id, tsec, MAX(event_id) AS event_id
           FROM base WHERE event_type = 'click' GROUP BY user_id, tsec),
         purchases AS (
           SELECT user_id, event_id, tsec FROM base
           WHERE event_type = 'purchase')
         SELECT p.event_id AS purchase_id, p.user_id,
           p.tsec AS purchase_tsec,
           c.event_id AS click_id, c.tsec AS click_tsec
         FROM purchases p
         ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND p.tsec >= c.tsec
         ORDER BY purchase_id""",
    "ev_session_window" ->
      """WITH t AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events),
         flagged AS (
           SELECT user_id, event_id, tsec,
             CASE WHEN lag(tsec) OVER w IS NULL
                    OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS boundary
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
         sess AS (
           SELECT user_id, tsec,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY tsec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM flagged)
         SELECT user_id, MIN(tsec) AS start_sec,
           MAX(tsec) + 1800 AS end_sec_excl, COUNT(*) AS n_events
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, start_sec""",
    "ev_dedup_first" ->
      """SELECT user_id, event_type, MIN(event_id) AS first_event_id,
           COUNT(*) AS n_dups
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    "ev_top_users" ->
      s"""SELECT user_id,
          CAST(SUM(${sqlMoney("value")}) AS DOUBLE) AS total_purchase,
          COUNT(*) AS n_purchases
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id ORDER BY total_purchase DESC, user_id LIMIT 10""",
    "ev_top_users_salted" ->
      s"""SELECT user_id,
          CAST(SUM(${sqlMoney("value")}) AS DOUBLE) AS total_purchase,
          COUNT(*) AS n_purchases
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id ORDER BY total_purchase DESC, user_id LIMIT 10""",
    "ev_funnel" ->
      """WITH base AS (
           SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events),
         v AS (SELECT user_id, MIN(tsec) AS view_sec FROM base
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT b.user_id, MIN(b.tsec) AS click_sec
               FROM base b JOIN v ON b.user_id = v.user_id
               WHERE b.event_type = 'click' AND b.tsec >= v.view_sec
               GROUP BY b.user_id),
         p AS (SELECT b.user_id, MIN(b.tsec) AS purchase_sec
               FROM base b JOIN c ON b.user_id = c.user_id
               WHERE b.event_type = 'purchase' AND b.tsec >= c.click_sec
               GROUP BY b.user_id)
         SELECT v.user_id, v.view_sec, c.click_sec, p.purchase_sec
         FROM v
         LEFT JOIN c ON v.user_id = c.user_id
         LEFT JOIN p ON v.user_id = p.user_id
         ORDER BY v.user_id""",
    "ev_type_stats" ->
      s"""SELECT event_type, COUNT(*) AS n,
          MIN(value) AS min_value, MAX(value) AS max_value,
          CAST(SUM(${sqlMoney("value")}) AS DOUBLE) AS total_value,
          CAST(SUM(${sqlMoney("value")}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
          FROM events GROUP BY event_type ORDER BY event_type""",
    // Same integer fixed-point arithmetic as [[evTypePagerank]]:
    // DuckDB 1.0 allows GROUP BY in the recursive term, and the
    // working table at step k is exactly the iter=k rank relation, so
    // the recursion IS the power iteration. `//` on non-negative
    // BIGINTs == Spark's `div`.
    "ev_type_pagerank" ->
      s"""WITH RECURSIVE seq AS (
           SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_type
           FROM events),
         edges AS (
           SELECT event_type AS src, next_type AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
           FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT event_type AS node FROM events),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
         allshare AS (
           SELECT e.src, e.dst, (e.w * $PrEdgeScale) // o.tw AS share
           FROM edges e JOIN outw o ON e.src = o.src
           UNION ALL
           SELECT d.node, n2.node, (SELECT $PrEdgeScale // n FROM nc)
           FROM nodes d, nodes n2
           WHERE d.node NOT IN (SELECT src FROM outw)
           UNION ALL
           SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
         pr(iter, node, rank) AS (
           SELECT 0, node, (SELECT $PrScale // n FROM nc) FROM nodes
           UNION ALL
           SELECT pr.iter + 1, a.dst,
             (SELECT ($PrScale * 15 // 100) // n FROM nc)
               + ($PrDampNum * SUM((pr.rank * a.share) // $PrEdgeScale))
                 // 100
           FROM pr JOIN allshare a ON a.src = pr.node
           WHERE pr.iter < $PrIters
           GROUP BY pr.iter, a.dst)
         SELECT node AS event_type, rank AS rank_scaled,
           CAST(rank AS DOUBLE) / $PrScale AS rank
         FROM pr WHERE iter = $PrIters ORDER BY event_type""",

    // the oracle keeps the textbook dangling FAN-OUT (nodes d, nodes
    // n2) the Spark side deliberately avoids — |dangling|·N rows are
    // fine for DuckDB at the gate SF, and running the superseded
    // formulation on the oracle side makes the hash gate a standing
    // proof that the scalar dangling-mass form is bit-identical to it
    "ev_user_pagerank" ->
      s"""WITH RECURSIVE seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         edges AS (
           SELECT user_id AS src, next_user AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
           GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT user_id AS node FROM events),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
         allshare AS (
           SELECT e.src, e.dst, (e.w * $PrEdgeScale) // o.tw AS share
           FROM edges e JOIN outw o ON e.src = o.src
           UNION ALL
           SELECT d.node, n2.node, (SELECT $PrEdgeScale // n FROM nc)
           FROM nodes d, nodes n2
           WHERE d.node NOT IN (SELECT src FROM outw)
           UNION ALL
           SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
         pr(iter, node, rank) AS (
           SELECT 0, node, (SELECT $PrScale // n FROM nc) FROM nodes
           UNION ALL
           SELECT pr.iter + 1, a.dst,
             (SELECT ($PrScale * 15 // 100) // n FROM nc)
               + ($PrDampNum * SUM((pr.rank * a.share) // $PrEdgeScale))
                 // 100
           FROM pr JOIN allshare a ON a.src = pr.node
           WHERE pr.iter < $PrIters
           GROUP BY pr.iter, a.dst)
         SELECT node AS user_id, rank AS rank_scaled,
           CAST(rank AS DOUBLE) / $PrScale AS rank
         FROM pr WHERE iter = $PrIters ORDER BY user_id""",

    // TrustRank: the same referral-graph recursion with the teleport
    // term personalized to the hash-gated seed set (uniform scalar
    // dangling fan-out retained, oracle-side, as in ev_user_pagerank).
    // The final select mirrors the Spark side's zero-seed contract
    // (all-zero ranks when no user hashes into the seed residue —
    // PrDanglingScaleSpec pins it): without the CASE the recursion
    // would emit damped-decay nonzero ranks on a seedless corpus and
    // the gate would diverge exactly there (round-10 advisory)
    "ev_user_trustrank" ->
      s"""WITH RECURSIVE seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         edges AS (
           SELECT user_id AS src, next_user AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
           GROUP BY 1, 2),
         nodes AS (
           SELECT DISTINCT user_id AS node,
             CASE WHEN ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 = $PrSeedResidue THEN 1 ELSE 0 END AS is_seed
           FROM events),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(is_seed) AS BIGINT) AS w FROM nodes),
         bases AS (
           SELECT node, is_seed,
             CASE WHEN is_seed = 1
               THEN (SELECT ($PrScale * 15 // 100) // w FROM nc)
               ELSE CAST(0 AS BIGINT) END AS base
           FROM nodes),
         outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
         allshare AS (
           SELECT e.src, e.dst, (e.w * $PrEdgeScale) // o.tw AS share
           FROM edges e JOIN outw o ON e.src = o.src
           UNION ALL
           SELECT d.node, n2.node, (SELECT $PrEdgeScale // n FROM nc)
           FROM nodes d, nodes n2
           WHERE d.node NOT IN (SELECT src FROM outw)
           UNION ALL
           SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
         pr(iter, node, rank) AS (
           SELECT 0, node, (SELECT $PrScale // n FROM nc) FROM nodes
           UNION ALL
           SELECT pr.iter + 1, a.dst,
             (SELECT base FROM bases WHERE bases.node = a.dst)
               + ($PrDampNum * SUM((pr.rank * a.share) // $PrEdgeScale))
                 // 100
           FROM pr JOIN allshare a ON a.src = pr.node
           WHERE pr.iter < $PrIters
           GROUP BY pr.iter, a.dst)
         SELECT p.node AS user_id,
           CASE WHEN (SELECT w FROM nc) = 0 THEN CAST(0 AS BIGINT)
             ELSE p.rank END AS rank_scaled,
           CASE WHEN (SELECT w FROM nc) = 0 THEN 0.0
             ELSE CAST(p.rank AS DOUBLE) / $PrScale END AS rank,
           CAST(b.is_seed AS BIGINT) AS is_seed
         FROM pr p JOIN bases b ON p.node = b.node
         WHERE p.iter = $PrIters ORDER BY user_id""",

    "ev_gap_histogram" -> {
      val caseArms = GapEdgesSec.map(e =>
        s"WHEN gap_sec < $e THEN 'lt_${e}s'").mkString("\n              ")
      s"""WITH gaps AS (
            SELECT event_type,
              ts_sec - lag(ts_sec) OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts_sec, event_id) AS gap_sec
            FROM (
              SELECT user_id, event_type, event_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
              FROM events))
          SELECT event_type,
            CASE $caseArms
              ELSE 'ge_${GapEdgesSec.last}s' END AS gap_bucket,
            CAST(COUNT(*) AS BIGINT) AS n_gaps,
            CAST(MIN(gap_sec) AS BIGINT) AS min_gap_sec,
            CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
          FROM gaps WHERE gap_sec IS NOT NULL
          GROUP BY event_type, gap_bucket
          ORDER BY event_type, gap_bucket""" },
    "ev_watermark_audit" -> {
      val lateSelects = WmDelaysSec.map(dl =>
        s"""CAST(SUM(CASE WHEN disorder_sec > $dl THEN 1 ELSE 0 END)
              AS BIGINT) AS late_at_${dl}s""").mkString(",\n            ")
      s"""WITH dis AS (
            SELECT event_type,
              GREATEST(COALESCE(
                MAX(ts_sec) OVER (PARTITION BY event_type
                  ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                - ts_sec, 0), 0) AS disorder_sec
            FROM (
              SELECT event_type, event_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
              FROM events))
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(MAX(disorder_sec) AS BIGINT) AS max_disorder_sec,
            $lateSelects
          FROM dis GROUP BY event_type ORDER BY event_type""" },

    // Triangle census: with every undirected edge stored once as
    // u < v, a triangle {a < b < c} is enumerated exactly once as
    // (a,b)+(b,c) closed by (a,c) — the oracle skips the Spark
    // side's degree orientation (a pure work-bound device; the
    // enumerated SET is identical) and counts directly. Clustering
    // is one IEEE division of the same two BIGINTs on both engines.
    "ev_user_triangles" ->
      s"""WITH seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         und AS (
           SELECT DISTINCT least(user_id, next_user) AS u,
             greatest(user_id, next_user) AS v
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
             AND user_id <> next_user),
         deg AS (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
             SELECT u AS node FROM und
             UNION ALL SELECT v AS node FROM und) t
           GROUP BY 1),
         tri AS (
           SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM und e1
           JOIN und e2 ON e2.u = e1.v
           JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
         pern AS (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_count FROM (
             SELECT x AS node FROM tri
             UNION ALL SELECT y AS node FROM tri
             UNION ALL SELECT z AS node FROM tri) t
           GROUP BY 1)
         SELECT d.node AS user_id, d.degree,
           COALESCE(p.tri_count, CAST(0 AS BIGINT)) AS tri_count,
           CASE WHEN d.degree >= 2 THEN
             CAST(COALESCE(p.tri_count, 0) * 2 AS DOUBLE)
               / CAST(d.degree * (d.degree - 1) AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END AS clustering
         FROM deg d LEFT JOIN pern p ON p.node = d.node
         ORDER BY user_id""",

    // Peak concurrency: the sessionize CTEs + the sweep line with the
    // pinned (time asc, delta ASC) tie order — departures process
    // before arrivals, so end+1 == start never fakes an overlap;
    // shared verbatim by the day-sharded execution.
    // the production name carries the day-sharded execution, gated
    // against the SAME global-sweep oracle as the audit form:
    // equality is the shard-decomposition proof
    "ev_peak_concurrency" -> sqlPeakConcurrency,
    "ev_peak_concurrency_audit" -> sqlPeakConcurrency,

    // Bot triage: the triangle CTEs verbatim + per-user combinable
    // counts; every rule is an integer cross-multiplication.
    "ev_bot_score" ->
      s"""WITH seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         und AS MATERIALIZED (
           SELECT DISTINCT least(user_id, next_user) AS u,
             greatest(user_id, next_user) AS v
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
             AND user_id <> next_user),
         deg AS (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
             SELECT u AS node FROM und
             UNION ALL SELECT v AS node FROM und) t
           GROUP BY 1),
         tri AS (
           SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM und e1
           JOIN und e2 ON e2.u = e1.v
           JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
         pern AS (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_count FROM (
             SELECT x AS node FROM tri
             UNION ALL SELECT y AS node FROM tri
             UNION ALL SELECT z AS node FROM tri) t
           GROUP BY 1),
         pu AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT hour(ts)) AS BIGINT) AS n_hours
           FROM events GROUP BY user_id),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_events) AS BIGINT) AS total_events
           FROM pu),
         scored AS (
           SELECT pu.user_id, pu.n_events, pu.n_hours,
             COALESCE(d.degree, CAST(0 AS BIGINT)) AS degree,
             COALESCE(p.tri_count, CAST(0 AS BIGINT)) AS tri_count,
             (pu.n_events * t.n_users > t.total_events * 3)
               AS rate_flag,
             (pu.n_hours >= 20) AS allhours_flag,
             (COALESCE(d.degree, 0) >= 4
               AND COALESCE(p.tri_count, 0) * 10
                 >= COALESCE(d.degree, 0)
                   * (COALESCE(d.degree, 0) - 1) * 4) AS ring_flag
           FROM pu CROSS JOIN tot t
           LEFT JOIN deg d ON d.node = pu.user_id
           LEFT JOIN pern p ON p.node = pu.user_id)
         SELECT user_id, n_events, n_hours, degree, tri_count,
           rate_flag, allhours_flag, ring_flag,
           CAST((CASE WHEN rate_flag THEN 1 ELSE 0 END)
             + (CASE WHEN allhours_flag THEN 1 ELSE 0 END)
             + (CASE WHEN ring_flag THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flags,
           ((CASE WHEN rate_flag THEN 1 ELSE 0 END)
             + (CASE WHEN allhours_flag THEN 1 ELSE 0 END)
             + (CASE WHEN ring_flag THEN 1 ELSE 0 END)) >= 2 AS bot
         FROM scored
         WHERE (CASE WHEN rate_flag THEN 1 ELSE 0 END)
             + (CASE WHEN allhours_flag THEN 1 ELSE 0 END)
             + (CASE WHEN ring_flag THEN 1 ELSE 0 END) >= 1
         ORDER BY user_id""",

    // A/A harness: identical hash coin, integer conversion counts,
    // one fixed double tree for rates/lift/z (sqrt is one IEEE op).
    "ev_ab_lift" ->
      s"""WITH pu AS (
           SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS viewed,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
               ELSE 0 END) AS BIGINT) AS converted
           FROM events GROUP BY user_id),
         armed AS (
           SELECT ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 2 AS arm, converted
           FROM pu WHERE viewed = 1),
         agg AS (
           SELECT
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
               AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
               AS BIGINT) AS conv_b
           FROM armed)
         SELECT n_a, n_b, conv_a, conv_b,
           CASE WHEN n_a > 0
             THEN CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             ELSE 0.0 END AS rate_a,
           CASE WHEN n_b > 0
             THEN CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
             ELSE 0.0 END AS rate_b,
           CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
               OR conv_a + conv_b = n_a + n_b THEN 0.0
             ELSE CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) END
             AS lift,
           CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
               OR conv_a + conv_b = n_a + n_b THEN 0.0
             ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
             / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE))
               * (1.0 / CAST(n_a AS DOUBLE)
                 + 1.0 / CAST(n_b AS DOUBLE))) END AS z
         FROM agg""",

    // CUSUM: dense calendar grid, pre-division integer statistic
    // S' = D*CUSUM, argmax with earliest-day tie-break.
    "ev_cusum_change" ->
      """WITH daily AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT CAST(MIN(day) AS BIGINT) AS d0,
             CAST(MAX(day) AS BIGINT) AS d1
           FROM daily),
         dense AS (
           SELECT t.event_type, CAST(g.day AS BIGINT) AS day,
             COALESCE(dd.n, CAST(0 AS BIGINT)) AS n
           FROM (SELECT DISTINCT event_type FROM daily) t
           CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day
                       FROM bounds) g
           LEFT JOIN daily dd
             ON dd.event_type = t.event_type AND dd.day = g.day),
         totals AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS dd,
             CAST(SUM(n) AS BIGINT) AS tt
           FROM dense GROUP BY event_type),
         cum AS (
           SELECT d.event_type, d.day, t.dd, t.tt,
             CAST(SUM(d.n * t.dd - t.tt) OVER (PARTITION BY d.event_type
               ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS s
           FROM dense d JOIN totals t ON t.event_type = d.event_type),
         picked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY abs(s) DESC, day) AS rn
           FROM cum)
         SELECT event_type, dd AS n_days, tt AS total,
           day AS change_day, CAST(abs(s) AS BIGINT) AS max_abs_s,
           CAST(abs(s) AS DOUBLE) / CAST(dd AS DOUBLE) AS max_cusum
         FROM picked WHERE rn = 1 ORDER BY event_type""",

    // lag-1 autocorrelation: same dense grid as the CUSUM; HUGEINT
    // moments, the identical double tree, zero-variance branch 0.0
    "ev_autocorr_daily" ->
      """WITH daily AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT CAST(MIN(day) AS BIGINT) AS d0,
             CAST(MAX(day) AS BIGINT) AS d1
           FROM daily),
         dense AS (
           SELECT t.event_type, CAST(g.day AS BIGINT) AS day,
             COALESCE(dd.n, CAST(0 AS BIGINT)) AS n
           FROM (SELECT DISTINCT event_type FROM daily) t
           CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day
                       FROM bounds) g
           LEFT JOIN daily dd
             ON dd.event_type = t.event_type AND dd.day = g.day),
         pr AS (
           SELECT event_type, n AS x,
             lead(n) OVER (PARTITION BY event_type ORDER BY day) AS y
           FROM dense),
         m AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
             SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
           FROM pr WHERE y IS NOT NULL GROUP BY event_type)
         SELECT event_type, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <= 0
               OR (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
             THEN 0.0
             ELSE (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END AS r_lag1
         FROM m ORDER BY event_type""",

    // binseg: the CUSUM oracle twice — level-0 pick splits the grid,
    // the identical segmented statistic re-picks inside each child
    "ev_changepoint_binseg" ->
      """WITH daily AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT CAST(MIN(day) AS BIGINT) AS d0,
             CAST(MAX(day) AS BIGINT) AS d1
           FROM daily),
         dense AS (
           SELECT t.event_type, CAST(g.day AS BIGINT) AS day,
             COALESCE(dd.n, CAST(0 AS BIGINT)) AS n
           FROM (SELECT DISTINCT event_type FROM daily) t
           CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day
                       FROM bounds) g
           LEFT JOIN daily dd
             ON dd.event_type = t.event_type AND dd.day = g.day),
         t0 AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(n) AS BIGINT) AS total
           FROM dense GROUP BY event_type),
         c0 AS (
           SELECT d.event_type, d.day, t.n_days, t.total,
             CAST(SUM(d.n * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s
           FROM dense d JOIN t0 t ON t.event_type = d.event_type),
         full0 AS (
           SELECT event_type, 'full' AS seg, n_days, total,
             day AS change_day, CAST(abs(s) AS BIGINT) AS max_abs_s,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY abs(s) DESC, day) AS rn
           FROM c0),
         fullpick AS (
           SELECT event_type, seg, n_days, total, change_day, max_abs_s
           FROM full0 WHERE rn = 1),
         segs AS (
           SELECT d.event_type, d.day, d.n,
             CASE WHEN d.day <= f.change_day THEN 'left'
               ELSE 'right' END AS seg
           FROM dense d JOIN fullpick f ON f.event_type = d.event_type),
         t1 AS (
           SELECT event_type, seg, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(n) AS BIGINT) AS total
           FROM segs GROUP BY event_type, seg),
         c1 AS (
           SELECT s.event_type, s.seg, t.n_days, t.total, s.day,
             CAST(SUM(s.n * t.n_days - t.total) OVER (
               PARTITION BY s.event_type, s.seg ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s2
           FROM segs s JOIN t1 t
             ON t.event_type = s.event_type AND t.seg = s.seg),
         childpick AS (
           SELECT event_type, seg, n_days, total, day AS change_day,
             CAST(abs(s2) AS BIGINT) AS max_abs_s,
             ROW_NUMBER() OVER (PARTITION BY event_type, seg
               ORDER BY abs(s2) DESC, day) AS rn
           FROM c1)
         SELECT event_type, seg, n_days, total, change_day, max_abs_s
         FROM (
           SELECT event_type, seg, n_days, total, change_day, max_abs_s
           FROM fullpick
           UNION ALL
           SELECT event_type, seg, n_days, total, change_day, max_abs_s
           FROM childpick WHERE rn = 1) z
         ORDER BY event_type, seg""",

    // Theil-Sen: same dense grid; total-ordered pair ranking with
    // (num, den, d1, d2) tiebreaks, the (cnt+1)//2 / (cnt+2)//2 mids
    "ev_theilsen_trend" ->
      """WITH daily AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT CAST(MIN(day) AS BIGINT) AS d0,
             CAST(MAX(day) AS BIGINT) AS d1
           FROM daily),
         dense AS (
           SELECT t.event_type, CAST(g.day AS BIGINT) AS day,
             COALESCE(dd.n, CAST(0 AS BIGINT)) AS n
           FROM (SELECT DISTINCT event_type FROM daily) t
           CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day
                       FROM bounds) g
           LEFT JOIN daily dd
             ON dd.event_type = t.event_type AND dd.day = g.day),
         p AS (
           SELECT a.event_type, b.n - a.n AS num, b.day - a.day AS den,
             a.day AS d1, b.day AS d2,
             CAST(b.n - a.n AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
               AS slope_d
           FROM dense a JOIN dense b
             ON a.event_type = b.event_type AND a.day < b.day),
         r AS (
           SELECT event_type, slope_d,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY slope_d, num, den, d1, d2) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS cnt
           FROM p)
         SELECT event_type, cnt AS n_pairs,
           SUM(slope_d) / CAST(COUNT(*) AS DOUBLE) AS median_slope
         FROM r
         WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
         GROUP BY event_type, cnt
         ORDER BY event_type""",

    // New vs returning: distinct user-days, per-user min day, one
    // equi-join; share is one division.
    "ev_new_vs_returning" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
           FROM events),
         first AS (
           SELECT user_id, CAST(MIN(day) AS BIGINT) AS first_day
           FROM days GROUP BY user_id)
         SELECT d.day, CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(COUNT(*) - SUM(CASE WHEN d.day = f.first_day
             THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS new_share
         FROM days d JOIN first f ON f.user_id = d.user_id
         GROUP BY d.day ORDER BY d.day""",

    // Type overlap: grid completed from the size table, one user
    // self-join, Jaccard = one division of exact BIGINTs.
    "ev_type_overlap" ->
      s"""WITH tu AS MATERIALIZED (
           SELECT DISTINCT event_type, user_id FROM events),
         sizes AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM tu GROUP BY event_type),
         grid AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b
           FROM sizes a CROSS JOIN sizes b
           WHERE a.event_type < b.event_type),
         inter AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
           FROM tu a JOIN tu b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT g.type_a, g.type_b, g.n_a, g.n_b,
           COALESCE(i.n_inter, CAST(0 AS BIGINT)) AS n_inter,
           g.n_a + g.n_b - COALESCE(i.n_inter, 0) AS n_union,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / CAST(g.n_a + g.n_b - COALESCE(i.n_inter, 0) AS DOUBLE)
             AS jaccard
         FROM grid g LEFT JOIN inter i
           ON i.type_a = g.type_a AND i.type_b = g.type_b
         ORDER BY g.type_a, g.type_b""",

    // Seasonal naive: dense calendar grid from min/max hour scalars,
    // forecast = same hour last week, integer error mass, one
    // division per rate.
    "ev_seasonal_naive" ->
      s"""WITH hourly AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT CAST(MIN(hour) AS BIGINT) AS h0,
             CAST(MAX(hour) AS BIGINT) AS h1
           FROM hourly),
         grid AS (
           SELECT t.event_type, CAST(h.h AS BIGINT) AS hour
           FROM (SELECT DISTINCT event_type FROM hourly) t,
             (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) h),
         dense AS MATERIALIZED (
           SELECT g.event_type, g.hour,
             COALESCE(hh.n, CAST(0 AS BIGINT)) AS n
           FROM grid g LEFT JOIN hourly hh
             ON hh.event_type = g.event_type AND hh.hour = g.hour),
         eval AS (
           SELECT a.event_type, a.n, f.n AS f
           FROM dense a JOIN dense f
             ON f.event_type = a.event_type
               AND f.hour = a.hour - $SeasonalLagHours)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(n) AS BIGINT) AS total_actual,
           CAST(SUM(abs(n - f)) AS BIGINT) AS total_abs_err,
           CAST(SUM(abs(n - f)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mae,
           CASE WHEN SUM(n) > 0
             THEN CAST(SUM(abs(n - f)) AS DOUBLE)
               / CAST(SUM(n) AS DOUBLE)
             ELSE 0.0 END AS wmape
         FROM eval GROUP BY event_type ORDER BY event_type""",

    // Cohort LTV: integer epoch-week cohorts, exact cents until the
    // final per-user division (denominator scaled by 100 in one
    // integer product, so it stays ONE division).
    "ev_cohort_ltv" ->
      s"""WITH p AS (
           SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase'),
         first AS (
           SELECT user_id, CAST(MIN(week) AS BIGINT) AS cohort_week
           FROM p GROUP BY user_id),
         sizes AS (
           SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
           FROM first GROUP BY cohort_week),
         cells AS (
           SELECT f.cohort_week, p.week - f.cohort_week AS age_week,
             CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(SUM(p.cents) AS BIGINT) AS revenue_cents
           FROM p JOIN first f ON p.user_id = f.user_id
           GROUP BY 1, 2)
         SELECT c.cohort_week, c.age_week, s.cohort_users,
           c.n_purchases, c.revenue_cents,
           CAST(c.revenue_cents AS DOUBLE)
             / CAST(s.cohort_users * 100 AS DOUBLE) AS revenue_per_user
         FROM cells c JOIN sizes s ON s.cohort_week = c.cohort_week
         ORDER BY c.cohort_week, c.age_week""",

    // Session paths: the sessionize CTE + two leads inside each
    // session; the rank window runs on the <=|types|^3 aggregate.
    "ev_session_paths" ->
      s"""WITH t AS (
           SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events),
         flagged AS (
           SELECT user_id, event_id, event_type, tsec,
             CASE WHEN lag(tsec) OVER w IS NULL
                    OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0
               END AS boundary
           FROM t WINDOW w AS (PARTITION BY user_id
             ORDER BY tsec, event_id)),
         sess AS (
           SELECT user_id, event_id, event_type, tsec,
             CAST(SUM(boundary) OVER (PARTITION BY user_id
               ORDER BY tsec, event_id ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged),
         paths AS (
           SELECT event_type || '>' || lead(event_type, 1) OVER ws
               || '>' || lead(event_type, 2) OVER ws AS path,
             lead(event_type, 2) OVER ws AS e3
           FROM sess
           WINDOW ws AS (PARTITION BY user_id, session_id
             ORDER BY tsec, event_id)),
         counted AS (
           SELECT path, CAST(COUNT(*) AS BIGINT) AS n
           FROM paths WHERE e3 IS NOT NULL GROUP BY path)
         SELECT rank, path, n FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path)
               AS BIGINT) AS rank, path, n
           FROM counted) r
         WHERE rank <= $SessionPathK ORDER BY rank""",

    // Gini: rank form over the per-user rollup, HUGEINT-widened;
    // both reported numbers are one division; zero total pins 0.0.
    "ev_value_gini" ->
      s"""WITH per AS (
           SELECT user_id,
             CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100
               AS BIGINT)) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id),
         ranked AS (
           SELECT cents, CAST(ROW_NUMBER() OVER (ORDER BY cents,
             user_id) AS BIGINT) AS rnk
           FROM per),
         base AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             SUM(CAST(rnk AS HUGEINT) * CAST(cents AS HUGEINT)) AS src
           FROM ranked),
         top AS (
           SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS top_cents
           FROM ranked, base
           WHERE rnk > n - (n + 9) // 10)
         SELECT n AS n_users, total_cents,
           CASE WHEN total_cents > 0
             THEN CAST(2 * src - CAST(n + 1 AS HUGEINT)
                 * CAST(total_cents AS HUGEINT) AS DOUBLE)
               / CAST(n * total_cents AS DOUBLE)
             ELSE 0.0 END AS gini,
           CASE WHEN total_cents > 0
             THEN CAST(top_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
             ELSE 0.0 END AS top_decile_share
         FROM base, top""",

    // Assortativity: HUGEINT moments mirror the decimal-widened
    // Spark sums; r is one fixed double-expression tree; the
    // regular/empty graph pins 0.0 via the exact min = max test.
    "ev_graph_assortativity" ->
      s"""WITH seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         und AS MATERIALIZED (
           SELECT DISTINCT least(user_id, next_user) AS u,
             greatest(user_id, next_user) AS v
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
             AND user_id <> next_user),
         deg AS MATERIALIZED (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
             SELECT u AS node FROM und
             UNION ALL SELECT v AS node FROM und) t
           GROUP BY 1),
         pairs AS (
           SELECT a.deg AS x, b.deg AS y
           FROM und JOIN deg a ON a.node = und.u
             JOIN deg b ON b.node = und.v
           UNION ALL
           SELECT b.deg, a.deg
           FROM und JOIN deg a ON a.node = und.u
             JOIN deg b ON b.node = und.v),
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             MIN(x) AS minx, MAX(x) AS maxx
           FROM pairs),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
         SELECT n_nodes, m // 2 AS n_edges,
           CASE WHEN m = 0 OR minx = maxx THEN 0.0
             ELSE (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END
             AS assortativity
         FROM agg, nn""",

    // K-core: the peel unrolled KcorePeelUnroll times — each round
    // is a degree HAVING + two IN-filters, a no-op once the fixpoint
    // is reached, so the unroll is exact for any graph that peels
    // inside it (KcoreSpec pins the gate corpora peel far shallower).
    "ev_user_kcore" -> {
      // MATERIALIZED is load-bearing: each round reads its
      // predecessor four times, so default CTE inlining would expand
      // the chain 4^rounds-fold (observed as a too-many-open-files
      // blowup on the base scan).
      val rounds = (1 to KcorePeelUnroll).map { i =>
        val prev = if (i == 1) "und" else s"e${i - 1}"
        s"""d$i AS MATERIALIZED (
             SELECT node FROM (
               SELECT u AS node FROM $prev
               UNION ALL SELECT v AS node FROM $prev) t
             GROUP BY node HAVING COUNT(*) >= $KcoreK),
           e$i AS MATERIALIZED (
             SELECT u, v FROM $prev
             WHERE u IN (SELECT node FROM d$i)
               AND v IN (SELECT node FROM d$i))"""
      }.mkString(",\n         ")
      val last = s"e$KcorePeelUnroll"
      s"""WITH seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         und AS MATERIALIZED (
           SELECT DISTINCT least(user_id, next_user) AS u,
             greatest(user_id, next_user) AS v
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
             AND user_id <> next_user),
         $rounds,
         fulldeg AS (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
             SELECT u AS node FROM und
             UNION ALL SELECT v AS node FROM und) t
           GROUP BY 1),
         coredeg AS (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
             SELECT u AS node FROM $last
             UNION ALL SELECT v AS node FROM $last) t
           GROUP BY 1)
         SELECT c.node AS user_id, f.degree, c.core_degree
         FROM coredeg c JOIN fulldeg f ON f.node = c.node
         ORDER BY user_id"""
    },

    // HITS: one recursion carrying the HUB vector (authority is a
    // derived half-step); both L1 normalizations are the same
    // integer div-floor as the Spark side. The recursion keeps every
    // level (UNION ALL), so the final authority replays the a-step
    // from the hub vector at iter T-1 outside the recursion. An
    // empty edge relation leaves both finals empty -> all-zero via
    // COALESCE, mirroring the Spark zero-guard branch.
    "ev_user_hits" ->
      s"""WITH RECURSIVE seq AS (
           SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_user
           FROM events),
         edges AS (
           SELECT user_id AS src, next_user AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
           FROM seq
           WHERE next_user IS NOT NULL
             AND ${Hashing.sqlCharHash("CAST(user_id AS VARCHAR)")}
               % 10 < $PrEngagedPct
           GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT user_id AS node FROM events),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         hits(iter, node, h) AS (
           SELECT 0, node, (SELECT $HitsScale // n FROM nc) FROM nodes
           UNION ALL
           SELECT iter + 1, node,
             CAST((hraw * $HitsScale) // SUM(hraw) OVER () AS BIGINT)
           FROM (
             SELECT a1.iter, e2.src AS node,
               SUM(a1.a * e2.w) AS hraw
             FROM (
               SELECT j.iter, j.dst,
                 (araw * $HitsScale) // SUM(araw) OVER () AS a
               FROM (
                 SELECT h.iter, e.dst, SUM(h.h * e.w) AS araw
                 FROM hits h JOIN edges e ON e.src = h.node
                 GROUP BY h.iter, e.dst) j) a1
             JOIN edges e2 ON e2.dst = a1.dst
             GROUP BY a1.iter, e2.src) z
           WHERE iter < $HitsIters),
         afin AS (
           SELECT dst AS node,
             CAST((araw * $HitsScale) // SUM(araw) OVER () AS BIGINT)
               AS a
           FROM (
             SELECT e.dst, SUM(h.h * e.w) AS araw
             FROM hits h JOIN edges e ON e.src = h.node
             WHERE h.iter = ${HitsIters - 1}
             GROUP BY e.dst) q),
         hfin AS (
           SELECT node, CAST(h AS BIGINT) AS h FROM hits
           WHERE iter = $HitsIters)
         SELECT n.node AS user_id,
           COALESCE(a.a, CAST(0 AS BIGINT)) AS auth_scaled,
           COALESCE(hf.h, CAST(0 AS BIGINT)) AS hub_scaled,
           CAST(COALESCE(a.a, 0) AS DOUBLE)
             / CAST($HitsScale AS DOUBLE) AS authority,
           CAST(COALESCE(hf.h, 0) AS DOUBLE)
             / CAST($HitsScale AS DOUBLE) AS hub
         FROM nodes n
         LEFT JOIN afin a ON n.node = a.node
         LEFT JOIN hfin hf ON n.node = hf.node
         ORDER BY user_id""")
}
