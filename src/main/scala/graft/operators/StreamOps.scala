package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.functions.Exact._
import graft.sources.Tables

/** Structured Streaming exercised through the oracle gate: each query
  * here REALLY runs a streaming query (readStream → transform →
  * memory sink, `Trigger.AvailableNow`) over the events parquet, then
  * returns the materialized result for the driver's DuckDB compare —
  * proving the streaming path computes exactly what the equivalent
  * batch SQL computes. Queries whose per-batch step is a batch engine
  * (`foreachBatch`: the ingest gates, the sketch monitors, the
  * ledgers) run through the one replay harness, [[replay]]; the rest
  * drain into a memory sink ([[runToTable]]).
  *
  * Two aggregation modes are exercised:
  *  - complete mode where the batch oracle must see every group
  *    ([[streamHourly]]);
  *  - watermarked APPEND mode ([[streamHourlyWm]],
  *    [[streamDedupWm]]) — the unbounded-stream path: state is
  *    bounded by the watermark, finalized windows are emitted exactly
  *    once, and late data beyond the watermark is dropped
  *    ([[graft.StreamingWatermarkSpec]] drives that with a controlled
  *    MemoryStream source).
  */
object StreamOps {
  type Q = (SparkSession, String) => DataFrame

  private val nameCounter = new AtomicLong(0)

  /** One symlink dir per dataset dir (round 1 leaked a fresh temp dir
    * per call). */
  private val srcDirCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Files per micro-batch for the finite replays. Production parquet
    * tables are DIRECTORIES of part files; capping the trigger makes
    * a directory-shaped table drain as several micro-batches (the
    * sf1 probe dirs split 4+ ways), so the cross-batch ledger/state
    * paths are exercised by the probes, not just by unit specs. A
    * single-file table still drains as one batch. */
  private val MaxFilesPerTrigger = 8

  /** Directory the file-stream source should list for `$d/$table
    * .parquet`. The file stream source needs a *directory*: a
    * single-file table is exposed via a symlink in a temp dir
    * (zero-copy); a directory-shaped table (every production table,
    * the sf1/skew probe dirs) is streamed in place — round 11
    * symlinked the path unconditionally, and the source does not
    * descend into a symlinked SUBDIRECTORY, so directory tables
    * silently streamed ZERO files (the round-11 verdict's headline).
    * [[awaitDrained]] is the backstop that turns any recurrence of
    * that silence into a loud failure. */
  private def streamSrcDir(d: String, table: String): String = {
    import java.nio.file.{Files, Paths}
    // toAbsolutePath: a RELATIVE target would be resolved against the
    // SYMLINK's own directory, minting a dangling link and the silent
    // zero-file listing the drain guard exists to catch (found by the
    // round-15 empty-corpus sweep, run with a relative sf dir)
    val p = Paths.get(s"$d/$table.parquet").toAbsolutePath
    if (Files.isDirectory(p)) p.toString
    else srcDirCache.getOrElseUpdate(s"$d#$table", {
      val t = Files.createTempDirectory(s"graft-stream-$table")
      t.toFile.deleteOnExit()
      val link = t.resolve(s"$table.parquet")
      Files.createSymbolicLink(link, p)
      link.toFile.deleteOnExit()
      t.toString
    })
  }

  /** readStream over `$d/$table.parquet` (file or directory shaped).
    * `pathGlobFilter` keeps writer-metadata files (`_SUCCESS`, probe
    * sentinels) out of the listing. */
  private def tableStream(s: SparkSession, d: String, table: String,
      schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
      .parquet(streamSrcDir(d, table))

  /** Await a finite replay's drain, then REQUIRE that the source
    * actually delivered rows — UNLESS the source data is genuinely
    * empty: a misconfigured file source lists zero files and
    * "succeeds" instantly, and round 11 shipped sf1 probe numbers
    * that measured exactly that silence. But a 100 TB deployment
    * produces legitimately empty inputs routinely (a date partition
    * pruned to nothing, a tenant with no data yet), and the round-15
    * empty-corpus sweep showed this guard rejecting all 33 streaming
    * queries on a zero-row-but-schema'd corpus. Discrimination, paid
    * only on the rows==0 path (never on a normal run): parse each
    * FileStreamSource's directory out of the progress descriptions
    * and batch-read it — zero drained rows is legitimate iff every
    * listed source holds zero data rows. A replay with NO progress
    * entries at all still fails loudly (that is exactly the
    * listed-nothing shape the round-11 bug had; an empty corpus
    * always yields at least one batch, because the 0-row parquet
    * FILE is still a file-log entry). */
  private def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = {
    q.awaitTermination()
    val rows = q.recentProgress.map(_.numInputRows).sum
    if (rows > 0) return
    val qn = Option(q.name).getOrElse(q.id)
    val SrcDesc = """FileStreamSource\[(.+)\]""".r
    val srcDirs = q.recentProgress.toSeq
      .flatMap(_.sources.toSeq).map(_.description)
      .collect { case SrcDesc(p) => p }.distinct
    require(srcDirs.nonEmpty,
      s"streaming replay drained ZERO source rows — file source " +
        s"listed nothing (query=$qn)")
    // a source dir the batch reader cannot even infer a schema from
    // (no readable parquet at all — e.g. a dangling symlink) IS the
    // listed-nothing shape: count it as non-empty so the require
    // below stays loud instead of surfacing UNABLE_TO_INFER_SCHEMA
    val srcRows = srcDirs.map(p =>
      try q.sparkSession.read.option("pathGlobFilter", "*.parquet")
        .parquet(p).limit(1).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 1L }).sum
    require(srcRows == 0L,
      s"streaming replay drained ZERO source rows from a NON-EMPTY " +
        s"source — file source listed nothing (query=$qn, " +
        s"dirs=${srcDirs.mkString(", ")})")
  }

  /** readStream over the events parquet with the same schema-dispatched
    * timestamp rebuild as the batch loader ([[Tables.events]]): legacy
    * nanos-as-BIGINT files get the integer-division micros rebuild,
    * native TIMESTAMP files a plain cast. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    // the RAW file schema (pre-conversion), so the stream reader sees
    // exactly what is in the parquet footer
    val raw = Tables.load(s, d, "events")
    val stream = tableStream(s, d, "events", raw.schema)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        stream.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Isolated session for a finite oracle replay: `newSession()`
    * clones the conf over the shared SparkContext, so lowering the
    * shuffle-partition count (= state stores allocated per stateful
    * operator) for the replay can never race with concurrent queries
    * on the caller's session. On a real unbounded deployment the
    * partition count stays at the engine default — it's a capacity
    * knob, not a semantics knob. */
  private def replaySession(s: SparkSession): SparkSession = {
    val rs = s.newSession()
    rs.conf.set("spark.sql.shuffle.partitions", "8")
    rs
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** The finite-replay harness. Every `foreachBatch` query in this
    * file runs through it: the dir-output gates ([[gateReplay]],
    * [[streamVecDedup]]), the driver-fold monitors and the ledger
    * queries ([[ledgerReplay]]). It owns four decisions.
    *  1. Driving: `Trigger.AvailableNow` + `foreachBatch` +
    *     [[awaitDrained]] happen here and nowhere else.
    *  2. Temp-dir lifetime: each replay gets one fresh temp dir `root`.
    *     Its output, ledger, state, compaction and `checkpoint` dirs
    *     are children of `root`, and `root` is deleted in a `finally`,
    *     whether the replay succeeds or throws. `perBatch(root)` is
    *     built before the query starts; `readout(root)` runs after the
    *     drain and must materialize (cut) what it returns before the
    *     dirs go.
    *  3. Reading a dir back: [[readDir]] is the one reader.
    *  4. Output schema: a gate reads its dir back with the schema of
    *     the frame it writes ([[writtenSchema]]), so the read cannot
    *     drift from the `select` that wrote the files. */
  private[graft] def replay(stream: DataFrame)(
      perBatch: String => (DataFrame, Long) => Unit)(
      readout: String => DataFrame): DataFrame =
    withTempDir("graft-replay") { root =>
      awaitDrained(stream.writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/checkpoint")
        .foreachBatch(perBatch(root)).start())
      readout(root)
    }

  /** `body` over a fresh temp dir named `prefix…`, deleted in a
    * `finally` whether `body` returns or throws. */
  private def withTempDir[T](prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(root)
    finally deleteRecursively(new java.io.File(root))
  }

  /** Read a replay dir with the EXPLICIT schema, falling back to the
    * correct empty relation when no batch ever appended a part file:
    * schema inference on such a dir throws (`UNABLE_TO_INFER_SCHEMA`),
    * and a readout must degrade to empty so that [[awaitDrained]] is
    * what reports a real failure. */
  private def readDir(s: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val parts = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    if (!parts.exists(_.getName.endsWith(".parquet")))
      s.createDataFrame(new java.util.ArrayList[Row](), schema)
    else s.read.schema(schema).parquet(dir)
  }

  /** Schema of the frame `step` builds from one micro-batch of
    * `stream`, taken from its analyzed plan over an empty batch of the
    * stream's schema (analysis only: no job runs). */
  private def writtenSchema(stream: DataFrame)(
      step: DataFrame => DataFrame): StructType =
    step(stream.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](), stream.schema)).schema

  /** A stateless dir-output gate: `step` maps each micro-batch to the
    * rows it appends to `root/out`, which are read back ordered by
    * `orderCol` and cut. */
  private def gateReplay(stream: DataFrame, orderCol: String)(
      step: DataFrame => DataFrame): DataFrame = {
    val schema = writtenSchema(stream)(step)
    replay(stream)(root => (batch, _) =>
      step(batch).write.mode("append").parquet(s"$root/out")) { root =>
      readDir(stream.sparkSession, s"$root/out", schema)
        .orderBy(orderCol).transform(graft.Checkpointing.cut)
    }
  }

  /** A ledger query over the events stream: `batch` appends each
    * micro-batch's partials to `root/state`; `readout` reads that dir
    * and its result is cut. */
  private def ledgerReplay(s: SparkSession, d: String)(
      batch: (DataFrame, String) => Unit)(
      readout: String => DataFrame): DataFrame =
    replay(eventsStream(s, d))(root => (b, _) => batch(b, s"$root/state"))(
      root => readout(s"$root/state").transform(graft.Checkpointing.cut))

  /** Drains `df` into a memory-sink table and returns it. The query's
    * checkpoint lives in a `graft-table` temp dir that is deleted once
    * the drain has ended; the table's rows live in the sink. */
  private[graft] def runToTable(s: SparkSession, df: DataFrame, mode: String)
      : DataFrame = withTempDir("graft-table") { root =>
    val qn = s"graft_stream_${nameCounter.incrementAndGet()}"
    awaitDrained(df.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", s"$root/checkpoint")
      .outputMode(mode).trigger(Trigger.AvailableNow()).start())
    s.table(qn)
  }

  /** Streaming hourly aggregate — must equal the batch `ev_hourly`. */
  val streamHourly: Q = (s0, d) => {
    val s = replaySession(s0)
    val agg = eventsStream(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).as("tv"))
    runToTable(s, agg, "complete")
      .select(col("hour"), col("event_type"), col("n"),
        asD(col("tv")).as("total_value"))
      .orderBy("hour", "event_type")
  }

  /** Streaming exact dedup (state-store backed dropDuplicates) — the
    * emitted key set must equal batch DISTINCT. */
  val streamDedupKeys: Q = (s0, d) => {
    val s = replaySession(s0)
    val dedup = eventsStream(s, d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runToTable(s, dedup, "append")
      .orderBy("user_id", "event_type")
  }

  /** Watermarked APPEND-mode hourly aggregate — the unbounded-stream
    * plan: state per open window only, finalized windows emitted once
    * when the watermark (max event time - 1h) passes their end. The
    * oracle is the batch aggregate restricted to watermark-closed
    * windows (Spark tracks the watermark in milliseconds — the oracle
    * reproduces that exactly with epoch_ms). */
  val streamHourlyWm: Q = (s0, d) => {
    val s = replaySession(s0)
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("tv"))
    runToTable(s, agg, "append")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"), asD(col("tv")).as("total_value"))
      .orderBy("hour", "event_type")
  }

  /** Watermark-bounded streaming dedup: state for a key lives only
    * `delay` past its event time (vs [[streamDedupKeys]]'s unbounded
    * state). With a delay covering the dataset's disorder the emitted
    * key set equals batch DISTINCT — which is what the oracle pins;
    * the state-expiry semantics are unit-tested with a controlled
    * source in StreamingWatermarkSpec. */
  val streamDedupWm: Q = (s0, d) => {
    val s = replaySession(s0)
    val dedup = eventsStream(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    runToTable(s, dedup, "append")
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")
  }

  /** Typed state/event/result rows for the custom-state sessionizer.
    * `ts` carries the watermarked event-time column through the typed
    * projection — EventTimeTimeout requires it present in the grouped
    * Dataset, not just upstream. */
  final case class SessEvent(
      user_id: Long, event_id: Long, tsec: Long, ts: java.sql.Timestamp)
  final case class OpenSession(start_sec: Long, end_sec: Long, n: Long)
  final case class ClosedSession(
      user_id: Long, n_events: Long, start_sec: Long, end_sec: Long)

  /** The sessionizer's inactivity gap (seconds) and the stream's
    * watermark delay (milliseconds). */
  val SessionGapSec = 1800L
  val SessionWmDelayMs = 3600000L

  /** Custom-state streaming sessionization via
    * `flatMapGroupsWithState` + `EventTimeTimeout`: per-user state
    * holds the one open session; a 30-minute event-time gap closes it
    * and emits it downstream, and — the 100 TB property — an idle
    * user's open session is FLUSHED BY TIMEOUT once the watermark
    * passes its end + gap, so state is bounded by *active* keys, not
    * every key ever seen (round 2 used `NoTimeout`: one struct per
    * user forever). Append mode — each closed session exactly once.
    *
    * Sessions are identified by (user_id, start_sec), NOT an ordinal
    * counter: a counter would reset when a timeout evicts the state,
    * making output depend on how the replay is chunked into triggers
    * — with the natural key the emitted rows are identical whether
    * the history replays as one batch or file-by-file
    * (StreamingWatermarkSpec pins that equivalence).
    *
    * The oracle is the batch lag/cumsum sessionization restricted to
    * sessions that closed: those WITH a successor (a gap closed them)
    * plus final sessions whose timeout fired before the replay ended
    * (`(end_sec + gap) * 1000 < final watermark` — Spark evicts on a
    * strict `<` against the ms watermark).
    *
    * Scale: state per key is one 24-byte session struct, and the
    * timeout bounds the key count; timed-out state is physically
    * removed ([[graft.StreamingWatermarkSpec]] pins emission AND
    * eviction with a controlled MemoryStream clock).
    *
    * The per-group state step below is shared by the oracle-gated
    * query and the spec's controlled-clock tests. */
  private[graft] def sessionStep(
      uid: Long, it: Iterator[SessEvent],
      state: org.apache.spark.sql.streaming.GroupState[OpenSession])
      : Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      // watermark passed end + gap: no on-time event can extend this
      // session any more — emit it and drop the state
      val x = state.get
      state.remove()
      Iterator.single(ClosedSession(uid, x.n, x.start_sec, x.end_sec))
    } else {
      val evs = it.toArray.sortBy(e => (e.tsec, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var st = state.getOption
      evs.foreach { e =>
        st match {
          case None =>
            st = Some(OpenSession(e.tsec, e.tsec, 1L))
          case Some(x) if e.tsec - x.end_sec > SessionGapSec =>
            out += ClosedSession(uid, x.n, x.start_sec, x.end_sec)
            st = Some(OpenSession(e.tsec, e.tsec, 1L))
          case Some(x) =>
            st = Some(x.copy(end_sec = e.tsec, n = x.n + 1L))
        }
      }
      st.foreach { x =>
        val deadline = (x.end_sec + SessionGapSec) * 1000L
        if (deadline < state.getCurrentWatermarkMs()) {
          // the watermark already sits past this session's deadline (a
          // large cross-batch event-time jump): emit NOW. Round 3
          // deferred via a wm+1 timeout, which never fires if the
          // watermark stalls here (e.g. the jump lands in the final
          // batch) — diverging from the `deadline < wm` rule the
          // eviction path applies. No on-time event can extend the
          // session either: an extender has tsec*1000 <= deadline < wm
          // and would be dropped as late.
          out += ClosedSession(uid, x.n, x.start_sec, x.end_sec)
          state.remove()
        } else {
          state.update(x)
          // fire once the watermark strictly passes the deadline; the
          // +1 guard covers deadline == wm (setting a not-later-than-
          // watermark timeout throws, and eviction is strict `<` so
          // wm must advance anyway before the session counts closed)
          state.setTimeoutTimestamp(
            math.max(deadline, state.getCurrentWatermarkMs() + 1L))
        }
      }
      out.iterator
    }
  }

  /** Sessionize a (watermarked) typed event stream. */
  private[graft] def sessionize(
      events: org.apache.spark.sql.Dataset[SessEvent])
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionStep)
  }

  val streamSessionize: Q = (s0, d) => {
    val s = replaySession(s0)
    import s.implicits._
    val events = eventsStream(s, d)
      .withWatermark("ts", s"$SessionWmDelayMs milliseconds")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tsec"), col("ts"))
      .as[SessEvent]
    runToTable(s, sessionize(events).toDF(), "append")
      .select(col("user_id"), col("n_events"),
        col("start_sec"), col("end_sec"))
      .orderBy("user_id", "start_sec")
  }

  /** Built-in `session_window` under a watermark in APPEND mode — the
    * declarative streaming twin of [[streamSessionize]]'s custom-state
    * plan (and of the batch `ev_session_window`): Spark merges session
    * windows per user in the state store and emits a session exactly
    * once, when the watermark passes its end (last event + gap). State
    * is bounded by open sessions — the 100 TB default you'd reach for
    * before writing flatMapGroupsWithState. Event times are truncated
    * to whole seconds BEFORE watermarking/windowing so the watermark
    * and window arithmetic are integer-exact on both engines; the
    * oracle is the batch sessionization filtered to watermark-closed
    * sessions (`end_ms <= wm`, the tumbling-window emission rule).
    * (Hot-key posture: session-window merge is O(n log n) per key per
    * batch, not quadratic — the skew probe holds it at ~1×.) */
  val streamSessionWindow: Q = (s0, d) => {
    val s = replaySession(s0)
    val agg = eventsStream(s, d)
      .select(col("user_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("tss"))
      .withWatermark("tss", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("tss"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(s, agg, "append")
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_sec"),
        unix_timestamp(col("w.end")).as("end_sec_excl"),
        col("n_events"))
      .orderBy("user_id", "start_sec")
  }

  /** Stream-stream interval join: purchases matched to same-user
    * clicks within the preceding hour. Both sides carry watermarks and
    * the join condition ranges over the watermarked event-time
    * columns, so Spark can evict click state older than
    * (watermark - 1 hour) — bounded state on unbounded streams, the
    * canonical streaming-join pattern. Event times are truncated to
    * whole seconds BEFORE the watermark so the interval arithmetic is
    * integer-exact on both engines. Inner-join matches are emitted
    * regardless of watermark progress, so the finite replay equals the
    * batch range join the oracle runs.
    *
    * HOT-KEY BANDING: the equi-key is (user, hour bucket), not bare
    * user — the round-12 skew probe caught the bare-user form at
    * 187× under a 20%-one-user corpus (a bot/service account), because
    * the symmetric hash join scans ALL of a key's state per input row:
    * one hot key = one state partition doing O(n_p·n_c) comparisons
    * single-threaded. Banding the range dimension into the key (the
    * [[graft.operators.EventOps.evAsofBucketed]] trick, applied to
    * streaming state) bounds each state cell to one user-HOUR and
    * spreads the hot user across partitions. The purchase side
    * explodes to its two candidate click-hours (a click in
    * [p_ts − 1h, p_ts] sits in hour(p_ts) or hour(p_ts) − 1, and in
    * exactly ONE of them — no duplicate pairs, no dedup pass); the
    * exact range predicate stays in the join, so results are
    * row-identical to the bare-user form at ≤ 2× purchase-side state
    * and O(events-per-user-hour) comparisons per row. */
  val streamIntervalJoin: Q = (s0, d) => {
    val s = replaySession(s0)
    def side(tpe: String, prefix: String) =
      eventsStream(s, d)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          timestamp_seconds(unix_timestamp(col("ts"))).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val purchases = side("purchase", "p")
      .withColumn("hb", explode(array(
        floor(unix_timestamp(col("p_ts")) / 3600L),
        floor(unix_timestamp(col("p_ts")) / 3600L) - 1L)))
    val clicks = side("click", "c")
      .withColumn("hb", floor(unix_timestamp(col("c_ts")) / 3600L))
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") && purchases("hb") === clicks("hb") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    runToTable(s, joined, "append")
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        col("p_user").as("user_id"),
        unix_timestamp(col("p_ts")).as("purchase_tsec"),
        unix_timestamp(col("c_ts")).as("click_tsec"))
      .orderBy("purchase_id", "click_id")
  }

  /** Windowed conversion ON THE STREAM: view events kept iff a click
    * by the same user arrives within one hour —
    * `ev_conversion_window`'s EXISTS as a watermarked stream-stream
    * LEFT SEMI interval join. Different state semantics from the
    * inner interval join: a view is emitted AT MOST ONCE however many
    * clicks match (no match multiplicity), and state on both sides is
    * bounded by watermark + range. Output: the converted view events;
    * the per-day rate is the batch rollup's job.
    *
    * Same HOT-KEY BANDING as [[streamIntervalJoin]], mirrored for the
    * semi join: the CLICK side explodes to its two candidate
    * view-hours (a view with a click in [v_ts, v_ts + 1h] sits in
    * hour(c_ts) or hour(c_ts) − 1), the view side keys on its own
    * hour. Exploding the PROBE side keeps left-semi semantics exact —
    * each view row exists once, so "emitted iff any match" cannot
    * double-emit, whereas exploding the view side would need a
    * streaming dedup behind it. BANDING PRICE, measured (round 13,
    * isolated 5-rep medians at sf0.1): 2.52 s here vs 2.96 s for the
    * mirrored view-exploded orientation
    * ([[streamConversionWindowAlt]]) — and vs r11's unbanded 3.07 s
    * suite number, i.e. the banding that bought the 187×→3×
    * skew-probe fix costs ~nothing at uniform key mix once measured
    * honestly (the r12 "2× regression" was a single-shot bench
    * reading the cold-streaming first rep; per-query medians dissolve
    * it). */
  val streamConversionWindow: Q = (s0, d) => {
    val s = replaySession(s0)
    def side(tpe: String, prefix: String) =
      eventsStream(s, d)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          timestamp_seconds(unix_timestamp(col("ts"))).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val views = side("view", "v")
      .withColumn("hb", floor(unix_timestamp(col("v_ts")) / 3600L))
    val clicks = side("click", "c")
      .withColumn("hb", explode(array(
        floor(unix_timestamp(col("c_ts")) / 3600L),
        floor(unix_timestamp(col("c_ts")) / 3600L) - 1L)))
    val joined = views.join(clicks,
      col("v_user") === col("c_user") && views("hb") === clicks("hb") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"),
      "left_semi")
    runToTable(s, joined, "append")
      .select(col("v_id").as("view_id"), col("v_user").as("user_id"),
        unix_timestamp(col("v_ts")).as("view_tsec"))
      .orderBy("view_id")
  }

  /** ORIENTATION EXPERIMENT (round-13 directive): the mirrored
    * banding for [[streamConversionWindow]] — the VIEW side explodes
    * to its two candidate click-hours and clicks stay unexploded,
    * with a `dropDuplicatesWithinWatermark` on the view id behind the
    * semi join restoring emit-at-most-once (the exploded left side
    * can match in both hour cells). PRICED AND REJECTED: isolated
    * 5-rep medians at sf0.1 were 2.52 s (click-exploded, registered)
    * vs 2.96 s (this form) — the event sides are equal-cardinality
    * (~20% of events each), so exploding either side costs the same
    * state, and this orientation ADDS a stateful dedup operator the
    * probe-side explode never needs. Kept unregistered,
    * oracle-equality spec-pinned, as the committed record of why the
    * registered orientation is the floor. */
  private[graft] val streamConversionWindowAlt: Q = (s0, d) => {
    val s = replaySession(s0)
    def side(tpe: String, prefix: String) =
      eventsStream(s, d)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          timestamp_seconds(unix_timestamp(col("ts"))).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val views = side("view", "v")
      .withColumn("hb", explode(array(
        floor(unix_timestamp(col("v_ts")) / 3600L),
        floor(unix_timestamp(col("v_ts")) / 3600L) + 1L)))
    val clicks = side("click", "c")
      .withColumn("hb", floor(unix_timestamp(col("c_ts")) / 3600L))
    val joined = views.join(clicks,
      col("v_user") === col("c_user") && views("hb") === clicks("hb") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"),
      "left_semi")
      .dropDuplicatesWithinWatermark("v_id")
    runToTable(s, joined, "append")
      .select(col("v_id").as("view_id"), col("v_user").as("user_id"),
        unix_timestamp(col("v_ts")).as("view_tsec"))
      .orderBy("view_id")
  }

  /** Stream-static enrichment join: the purchase stream joined to a
    * STATIC dimension (customer ⋈ nation, both batch reads) — the
    * canonical "enrich events with reference data" pattern. Unlike the
    * stream-stream interval join there is NO state store and NO
    * watermark requirement: the static side is planned per micro-batch
    * (broadcast here — nation is hinted, and customer stays
    * broadcast-able at any SF where a reference dim fits in memory;
    * a bigger dim would shuffle-hash-join each batch), so the
    * streaming side never buffers. Inner join ⇒ the finite replay
    * equals the batch join the oracle runs. `value` passes through
    * untouched (raw doubles are bit-identical). */
  val streamStaticJoin: Q = (s0, d) => {
    val s = replaySession(s0)
    val dim = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
      // pre-cut: publish the dim once, not once per micro-batch
      .transform(graft.Checkpointing.cut)
    val enriched = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"),
        col("n_name"), col("value"))
    runToTable(s, enriched, "append")
      .orderBy("event_id")
  }

  /** Streaming AS-OF feature lookup — the online form of
    * [[graft.operators.EventOps.evAsofJoin]], and the shape an online
    * feature store actually serves: clicks ARRIVE as a stream, the
    * view history is a STATIC (batch-published) relation, and each
    * click is answered with the most recent same-user view
    * at-or-before its timestamp. Spark's stream-static join cannot
    * express the argmax ("latest ≤ t") without post-join state, so
    * the batch as-of engine runs INSIDE `foreachBatch` (the
    * `stream_cdc_strip` discipline — zero streaming state): per
    * micro-batch, the static side is first SEMI-JOINED down to the
    * batch's users (per-batch cost ∝ history of touched users, never
    * |history| — the lookup a 100 TB view archive demands), then the
    * one-shuffle union/window as-of pass runs on that slice. Each
    * click's answer depends only on the static side, so the result is
    * batch-size invariant and the finite replay gates HASH-EXACT
    * against the batch asof oracle (DuckDB native ASOF JOIN). */
  val streamAsof: Q = (s0, d) => {
    val s = replaySession(s0)
    val views = Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"), expr("unix_timestamp(ts)").as("t"),
        lit(0L).as("kind"), lit(-1L).as("event_id"))
      .transform(graft.Checkpointing.cut) // publish the static side once
    val ordered = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    gateReplay(eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("t")), "event_id") { batch =>
      val clicks = batch.select(col("user_id"), col("t"),
        lit(1L).as("kind"), col("event_id"))
      val touched = views.join(
        clicks.select(col("user_id")).distinct(),
        Seq("user_id"), "left_semi")
      touched.unionByName(clicks)
        .withColumn("view_t",
          last(when(col("kind") === 0L, col("t")), ignoreNulls = true)
            .over(ordered))
        .filter(col("kind") === 1L)
        .select(col("event_id"), col("user_id"),
          col("t").as("click_ts_sec"),
          coalesce(col("view_t"), lit(-1L)).as("view_ts_sec"),
          coalesce(col("t") - col("view_t"), lit(-1L)).as("gap_sec"))
    }
  }

  /** readStream over the documents parquet ([[tableStream]], file- or
    * directory-shaped) — the corpus-ingest stream. */
  private def docsStream(s: SparkSession, d: String): DataFrame =
    tableStream(s, d, "documents", Tables.load(s, d, "documents").schema)

  /** Curation ON INGEST: the stateless [[TextOps.docKeepDecision]]
    * rules (min length, repetition — the corpus-wide exact-dup rule
    * is deliberately absent: it needs cross-batch state, which is
    * [[streamDedupKeys]]'s job) run inside a streaming query as docs
    * arrive, routing each to keep or a drop reason — the reference's
    * classify-and-route shape (SURVEY §2.6 E6) applied to the
    * training-data ingest path. Stateless append mode: no state
    * store, no watermark, each micro-batch is one codegen'd
    * projection, so ingest curation adds zero shuffle at any scale.
    * The finite replay must equal the batch oracle bit-for-bit. */
  val streamCurationRoute: Q = (s0, d) => {
    val s = replaySession(s0)
    val toks = graft.functions.Hashing.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val grams = graft.functions.Hashing.ngrams(toks, 3)
    val dupRatio = when(nTok >= 3,
      (size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams).cast("double")).otherwise(0.0)
    val routed = docsStream(s, d)
      .select(col("doc_id"), nTok.as("n_tokens"), dupRatio.as("dup_ratio"))
      .select(col("doc_id"), col("n_tokens"), col("dup_ratio"),
        when(col("n_tokens") < TextOps.KeepMinTokens, "too_short")
          .when(col("dup_ratio") > TextOps.KeepMaxDupRatio, "repetitive")
          .otherwise("keep").as("decision"))
    runToTable(s, routed, "append")
      .orderBy("doc_id")
  }

  /** PII gate ON INGEST (`stream_pii_gate`) — the raw-text governance
    * twin of `text_pii_scrub` at the ingest boundary: each incoming
    * document runs the same Java-regex/RE2-parity detectors
    * ([[TextOps.PiiEmail]]/[[TextOps.PiiIpv4]]/[[TextOps.PiiLongNum]])
    * and PII carriers route to the quarantine branch BEFORE reaching
    * the training corpus, carrying per-type counts so the downstream
    * redaction service knows what to scrub (SURVEY §2.6 E6 routing —
    * quarantine is a DLQ, not a drop). Pure per-row codegen'd
    * projection: zero state store, unbounded-safe at any ingest
    * rate. */
  val streamPiiGate: Q = (s0, d) => {
    val s = replaySession(s0)
    def cnt(pat: String) =
      regexp_count(col("text"), lit(pat)).cast("long")
    val gated = docsStream(s, d)
      .select(col("doc_id"),
        cnt(TextOps.PiiEmail).as("n_emails"),
        cnt(TextOps.PiiIpv4).as("n_ipv4"),
        cnt(TextOps.PiiLongNum).as("n_long_numbers"))
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
        col("n_long_numbers"),
        when(col("n_emails") + col("n_ipv4") + col("n_long_numbers")
            > 0, "quarantined")
          .otherwise("admitted").as("decision"))
    runToTable(s, gated, "append")
      .orderBy("doc_id")
  }

  /** TAKEDOWN gate ON INGEST (`stream_takedown_gate`) — the deletion
    * story's ingest-side closure: a takedown
    * (`dedup_index_compact`'s [[DedupOps.TombTag]] batch) must
    * SURVIVE re-crawls, or the next crawl cycle silently resurrects
    * the removed content under a fresh doc_id. The gate checks each
    * incoming document's content fingerprint (md5 of the text bytes —
    * id-independent by construction, which is the point: the
    * resurrected copy arrives under a NEW id) against the tombstoned
    * fingerprint set and routes hits to the rejected branch (SURVEY
    * §2.6 E6 — unrecoverable, not retryable).
    *
    * The incoming replay is the resurrection shape itself: byte-
    * identical re-crawls of every taken-down doc at shifted ids, mixed
    * with genuinely new discoveries ([[DedupOps.AddTag]]). Stream-
    * static LEFT join against the (small, broadcast) fingerprint set:
    * ZERO state store, unbounded-safe, and the fingerprint list is
    * exactly what a production takedown service exports. */
  val streamTakedownGate: Q = (s0, d) => {
    val s = replaySession(s0)
    def tagOf(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10
    // materialized BEFORE the stream starts (the pre-cut audit rule:
    // a lazy static closed over by the stream re-evaluates per
    // micro-batch — round 11 paid 2.6x for that in the unigram gate)
    val tombprints = Tables.documents(s, d)
      .filter(tagOf(col("doc_id")) === DedupOps.TombTag)
      .select(md5(col("text").cast("binary")).as("tomb_md5"))
      .distinct()
      .transform(graft.Checkpointing.cut)
    val incoming = docsStream(s, d)
      .filter(tagOf(col("doc_id")) === DedupOps.TombTag ||
        tagOf(col("doc_id")) === DedupOps.AddTag)
      .select((col("doc_id") + DedupOps.DeltaIdOffset).as("doc_id"),
        md5(col("text").cast("binary")).as("fp"))
    val gated = incoming
      .join(broadcast(tombprints), col("fp") === col("tomb_md5"), "left")
      .select(col("doc_id"), col("fp"),
        when(col("tomb_md5").isNotNull, "rejected_takedown")
          .otherwise("admitted").as("decision"))
    runToTable(s, gated, "append")
      .orderBy("doc_id")
  }

  /** NOVELTY gate ON INGEST (`stream_novelty_gate`) — the
    * coverage-based complement of the frequency-based template gate:
    * each incoming ([[DedupOps.AddTag]]-tagged, id-shifted) document's
    * distinct shingles probe the STATIC corpus gram index via a
    * stream-static left join, and docs re-using ≥ 3/4 of their
    * shingles route to the `derivative` branch — the re-spin shape
    * [[TextOps.tfNgramNovelty]] measures in batch, caught at the
    * boundary. Static-index novelty (not stream-order first-arrival)
    * keeps the verdict batch-deterministic. The per-doc rollup is a
    * complete-mode aggregation keyed on doc_id — bounded by the
    * replayed delta, and on a production stream the same rollup rides
    * a watermarked window. */
  val streamNoveltyGate: Q = (s0, d) => {
    val s = replaySession(s0)
    def tagOf(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10
    def grams(c: Column) =
      array_distinct(graft.functions.Hashing.hashAll(
        graft.functions.Hashing.shingles(
          graft.functions.Hashing.tokens(c))))
    val staticGrams = Tables.documents(s, d)
      .filter(tagOf(col("doc_id")) =!= DedupOps.AddTag)
      .select(explode(grams(col("text"))).as("gh"))
      .distinct()
      .withColumn("seen", lit(1L))
      // pre-cut: one gram-index build, not one per micro-batch
      .transform(graft.Checkpointing.cut)
    val incoming = docsStream(s, d)
      .filter(tagOf(col("doc_id")) === DedupOps.AddTag)
      .select((col("doc_id") + DedupOps.DeltaIdOffset).as("doc_id"),
        explode(grams(col("text"))).as("gh"))
    val rolled = incoming
      .join(staticGrams, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"),
        when(col("n_novel") * 4 < col("n_grams"), "derivative")
          .otherwise("admitted").as("decision"))
    runToTable(s, rolled, "complete")
      .orderBy("doc_id")
  }

  /** Near-dup gate ON INGEST: each incoming document's LSH bucket
    * rows (the same one-pass minhash/band projection the batch index
    * is built from — pure per-row expressions, streaming-safe) joined
    * against the corpus bucket index as a STREAM-STATIC equi-join.
    * Stateless append mode: stream-static joins keep no state store,
    * so this gate runs unbounded with zero state — the any-hit rows
    * are the quarantine signal routed DLQ-style (SURVEY §2.6 E6), and
    * the per-doc rollup/verdict is `dedup_incremental`'s (batch) job.
    *
    * Corpus vs incoming uses `dedup_incremental`'s hash tag. In
    * production the static side IS the persisted [[DedupOps]] bucket
    * index; the finite oracle replay recomputes it inside its
    * isolated session (the cache is session-keyed, and a per-replay
    * session must not grow a cache entry per call). */
  val streamNeardupCandidates: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    val corpusIdx = DedupOps.bucketRows(Tables.documents(s, d))
      .filter(!isNew(col("doc_id")))
      .select(col("band"), col("bucket"), col("doc_id").as("cand_id"))
      // pre-cut: one bucket-index build, not one per micro-batch
      .transform(graft.Checkpointing.cut)
    val incoming = DedupOps.bucketRows(docsStream(s, d))
      .filter(isNew(col("doc_id")))
    val hits = incoming.join(corpusIdx, Seq("band", "bucket"))
      .select(col("doc_id"), col("band"), col("bucket"), col("cand_id"))
    runToTable(s, hits, "append")
      .orderBy("doc_id", "band", "bucket", "cand_id")
  }

  /** readStream over the embeddings parquet ([[tableStream]], file- or
    * directory-shaped) — the vector-ingest stream. */
  private def embStream(s: SparkSession, d: String): DataFrame =
    tableStream(s, d, "embeddings", Tables.load(s, d, "embeddings").schema)

  /** Search-before-insert ON INGEST: each incoming vector's bucket +
    * norm (the same stateless [[SimilarityOps.probeRows]] projection
    * the batch index materializes — pure expressions,
    * streaming-safe) probed against the persisted corpus index as a
    * STREAM-STATIC bucket equi-join, emitting every same-bucket hit
    * with its exact cosine and the per-row near-dup flag at
    * `emb_near_dup`'s 0.35 edge threshold. This is
    * `ann_index_upsert`'s probe composed with the
    * [[streamNeardupCandidates]] pattern: stateless append mode —
    * stream-static joins keep NO state store, so the online-index
    * guard runs unbounded with zero state. Flagged rows are the
    * quarantine/DLQ signal; the per-vector (count, best-cos, verdict)
    * rollup stays `ann_index_upsert`'s batch job, exactly as the
    * lexical gate defers its rollup to `dedup_incremental`.
    *
    * At scale the static side IS the persisted bucket index,
    * re-planned per micro-batch (broadcast when a shard fits,
    * shuffle-hash on the bucket key otherwise — either way the
    * streaming side never buffers). */
  val streamAnnUpsert: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    val corpus = SimilarityOps.upsertCorpus(s, d, isNew)
    val incoming = SimilarityOps.probeRows(embStream(s, d))
      .filter(isNew(col("vec_id")))
    val cos = SimilarityOps.cosPre(
      col("qe"), col("ce"), col("qn"), col("cn"))
    val hits = incoming.join(corpus, Seq("bucket"))
      .select(col("vec_id"), col("bucket"), col("cand_id"),
        cos.as("cos"),
        when(cos >= 0.35, "near_dup").otherwise("ok").as("flag"))
    runToTable(s, hits, "append")
      .orderBy("vec_id", "cand_id")
  }

  /** Streaming VECTOR exact-dup collapse at the ingest gate, feeding
    * the [[streamAnnUpsert]] probe: each micro-batch's incoming
    * vectors collapse to ONE DETERMINISTIC representative per md5
    * vector fingerprint ([[SimilarityOps.vecFingerprint]] — the same
    * canon discipline as the batch `emb_canon` window; the 4·Dims-byte
    * float array never keys an exchange) — the group's MIN `vec_id`,
    * the exact rule the batch mirror and the DuckDB oracle apply —
    * then fingerprints admitted by an EARLIER batch are dropped
    * against the persisted admission LEDGER (first-arrival wins
    * across batches), and the survivors probe the persisted corpus
    * index exactly as [[streamAnnUpsert]] does.
    *
    * Round 11 replaced `dropDuplicatesWithinWatermark` here: that
    * operator keeps the first row PROCESSED per key, which within a
    * multi-partition micro-batch is task-order-dependent — the
    * Spark/oracle pairing only held because gate corpora were
    * duplicate-free (the round-10 advisory). The per-batch min-id
    * collapse is deterministic on exactly the duplicated corpora that
    * motivate the gate (the skew probe's 10%-identical shape), and
    * under in-order arrival (vec_id IS the ingest sequence) the
    * first-arrival ledger rule coincides with the global min the
    * oracle computes. State story at 100 TB: the ledger is a
    * persisted (vec_fp, ts) relation — MORE durable than an
    * executor-held state store (any executor can re-read it after a
    * loss, same posture as [[graft.Checkpointing]]) and bounded the
    * same way: prune rows older than the retention horizon exactly as
    * the watermark bounded the old state (the gate replay keeps the
    * whole window). Re-ingest cost: each distinct vector pays its
    * probe ONCE; a replayed batch is one anti-join against the
    * ledger. Planted-dup determinism is unit-pinned in StreamGateSpec
    * (the MIN twin survives, ledger rows = distinct fingerprints). */
  val streamVecDedup: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    val corpus = SimilarityOps.upsertCorpus(s, d, isNew)
    val stream = embStream(s, d).filter(isNew(col("vec_id")))
    val schema = writtenSchema(stream)(vecProbe(_, corpus))
    replay(stream)(root => (batch, _) =>
      vecDedupBatch(batch, corpus, s"$root/ledger", s"$root/out")) { root =>
      readDir(s, s"$root/out", schema)
        .orderBy("vec_id").transform(graft.Checkpointing.cut)
    }.orderBy("vec_id", "cand_id")
  }

  /** The corpus probe of a set of `(vec_id, embedding)` rows: every
    * same-bucket corpus hit with its exact cosine and near-dup flag —
    * the rows [[vecDedupBatch]] writes. */
  private def vecProbe(vecs: DataFrame, corpus: DataFrame): DataFrame = {
    val cos = SimilarityOps.cosPre(
      col("qe"), col("ce"), col("qn"), col("cn"))
    SimilarityOps.probeRows(vecs.select(col("vec_id"), col("embedding")))
      .join(corpus, Seq("bucket"))
      .select(col("vec_id"), col("bucket"), col("cand_id"),
        cos.as("cos"),
        when(cos >= 0.35, "near_dup").otherwise("ok").as("flag"))
  }

  /** One micro-batch of the vector ingest collapse (the testable
    * engine behind [[streamVecDedup]]): deterministic min-`vec_id`
    * representative per fingerprint within the batch (duplicate
    * fingerprints carry byte-identical embeddings — md5 of the packed
    * floats — so any member's embedding IS the group's embedding),
    * first-arrival admission across batches via the ledger anti-join,
    * corpus probe on the survivors ([[vecProbe]]). The fresh set is
    * materialized (lineage cut) BEFORE the ledger append — both
    * downstream actions re-execute their plan, and a lazy `fresh`
    * would re-read the just-appended ledger in its own anti-join and
    * drop everything. */
  private[graft] def vecDedupBatch(batch: DataFrame, corpus: DataFrame,
      ledgerDir: String, outDir: String): Unit = {
    val s = batch.sparkSession
    val reps = batch
      .withColumn("vec_fp", SimilarityOps.vecFingerprint(col("embedding")))
      .groupBy(col("vec_fp"))
      .agg(min(col("vec_id")).as("vec_id"),
        first(col("embedding")).as("embedding"))
    val hasLedger = Option(new java.io.File(ledgerDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .exists(_.getName.endsWith(".parquet"))
    val fresh = graft.Checkpointing.cut(
      if (!hasLedger) reps
      else {
        val seen = s.read
          .schema("vec_fp string, ts timestamp").parquet(ledgerDir)
        reps.join(seen.select("vec_fp"), Seq("vec_fp"), "left_anti")
      })
    fresh.select(col("vec_fp"), timestamp_seconds(col("vec_id")).as("ts"))
      .write.mode("append").parquet(ledgerDir)
    vecProbe(fresh, corpus).write.mode("append").parquet(outDir)
    graft.Checkpointing.release(fresh)
  }

  /** Substring-dedup gate ON INGEST: each incoming document's
    * distinct CDC chunk digests (the stateless
    * [[MultimodalOps.chunkDigestRows]] projection — pure expressions,
    * streaming-safe) joined stream-static against the persisted chunk
    * store's corpus side, df-capped at [[DedupOps.MaxChunkDf]] so
    * boilerplate-frequency digests never flood the gate (that family
    * is `text_boilerplate_*`'s job). Completes the per-tier ingest
    * trio: lexical ([[streamNeardupCandidates]]), embedding
    * ([[streamAnnUpsert]]), substring (this). Stateless append mode —
    * zero state store; hit rows are the quarantine signal, and the
    * pair-level rollup stays `text_cdc_dedup`'s batch job. */
  val streamCdcCandidates: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    val corpus = MultimodalOps.chunkStore(s, d)
      .filter(!isNew(col("doc_id")))
      .select(col("doc_id").as("cand_id"), col("chunk_md5"))
      .distinct()
    val rare = corpus.groupBy("chunk_md5")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= DedupOps.MaxChunkDf)
      .select("chunk_md5")
    val eligible = corpus.join(rare, Seq("chunk_md5"), "left_semi")
      // pre-cut: one df-cap semi-join, not one per micro-batch
      .transform(graft.Checkpointing.cut)
    val incoming = MultimodalOps.chunkDigestRows(docsStream(s, d))
      .filter(isNew(col("doc_id")))
    val hits = incoming.join(eligible, Seq("chunk_md5"))
      .select(col("doc_id"), col("chunk_md5"), col("cand_id"))
    runToTable(s, hits, "append")
      .orderBy("doc_id", "chunk_md5", "cand_id")
  }

  /** Substring-tier STRIP at the ingest gate — the within-document
    * E6 classify-and-route: where [[streamCdcCandidates]] only flags
    * an incoming doc that shares rare chunks with the corpus, this
    * gate STRIPS the duplicated passages and admits the rest — the
    * corpus always keeps its copy (owner sentinel −1 never matches an
    * incoming id), unique content always survives, and df-over-cap
    * digests stay with the boilerplate pass.
    *
    * Execution shape: `foreachBatch` + [[DedupOps.cdcStripAgainst]] —
    * the per-doc reassembly needs a grouping, but only WITHIN the
    * micro-batch each doc arrives in (docs arrive whole), so running
    * the batch strip engine per micro-batch keeps the unbounded-safe
    * contract: ZERO streaming state store (StreamGateSpec), no
    * watermark, cross-batch memory strictly the persisted chunk
    * store. This is exactly the reference's K1 `Output.save` sink
    * role (reference Services.scala:70-73) carrying a real transform.
    * At 100 TB the static side is the persisted corpus digest
    * relation, re-planned per micro-batch like the other gates. */
  val streamCdcStrip: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    // corpus-owned digests (df-capped): owner -1 = "the corpus", so
    // every incoming copy of a corpus chunk is stripped
    val corpusOwned = MultimodalOps.chunkStore(s, d)
      .filter(!isNew(col("doc_id")))
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("dfd"))
      .filter(col("dfd") <= DedupOps.MaxChunkDf)
      .select(col("chunk_md5"), lit(-1L).as("owner"))
      // pre-cut: one df-cap rollup, not one per micro-batch
      .transform(graft.Checkpointing.cut)
    gateReplay(docsStream(s, d)
      .filter(isNew(col("doc_id")))
      .select(col("doc_id"), col("text")), "doc_id")(
      DedupOps.cdcStripAgainst(_, corpusOwned))
  }

  /** STRATIFIED streaming weighted reservoir — the per-language form
    * of `stream_sample_weighted`, mirroring
    * [[TextOps.docSampleWeightedQuota]] exactly: within each
    * language, the [[TextOps.WeightedQuotaK]] smallest priorities
    * (hash/weight — sequential Poisson) win. The same exact-merge
    * lemma, applied per stratum: each micro-batch's per-lang k-min
    * rows (a WindowGroupLimit bounded heap on the batch) union-merge
    * into per-lang driver reservoirs capped at k — a language's
    * global top-k priority is in its batch's top-k, so the merge is
    * EXACT and idempotent, and the finite replay gates HASH-EXACT
    * against the batch quota oracle (ONE shared formula + ONE shared
    * oracle string). Driver state: ≤ k rows per LIVE language —
    * bounded by the language inventory, not the stream. */
  val streamSampleWeightedQuota: Q = (s0, d) => {
    val s = replaySession(s0)
    val k = TextOps.WeightedQuotaK
    val ord = Ordering.by[(Double, Long, String, Long), (Double, Long)](
      r => (r._1, r._2))
    val merged = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.SortedSet[(Double, Long, String, Long)]]
    replay(docsStream(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars")))(_ => (batch, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("priority"), col("doc_id"))
      val rows = TextOps.weightedPriority(batch)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .collect()
        .map(r => (r.getAs[Double]("priority"), r.getAs[Long]("doc_id"),
          r.getAs[String]("lang"), r.getAs[Long]("weight")))
      merged.synchronized {
        rows.foreach { r =>
          val set = merged.getOrElseUpdate(r._3,
            scala.collection.mutable.SortedSet.empty(ord))
          set.add(r)
          while (set.size > k) set.remove(set.last)
        }
      }
    }) { _ =>
      import s.implicits._
      merged.toSeq.flatMap { case (_, set) =>
        set.toSeq.zipWithIndex.map { case ((p, id, lg, wt), i) =>
          (id, lg, wt, p, (i + 1).toLong)
        }
      }
        .toDF("doc_id", "lang", "weight", "priority", "rk")
        .orderBy("lang", "rk")
    }
  }

  /** TEMPLATE gate ON INGEST — the heavy-hitter tier's streaming
    * role, completing that family into an ingest route like every
    * other tier (lexical → [[streamNeardupCandidates]], embedding →
    * [[streamAnnUpsert]], substring → [[streamCdcCandidates]],
    * vocabulary → [[streamUnigramGate]]): the corpus's VERIFIED
    * heavy-hitter shingles ([[SketchOps.heavyGramsOf]] over the
    * non-incoming side — a tiny relation by construction, bounded by
    * the heavy threshold) broadcast against each incoming doc's
    * shingle stream; a doc more than half of whose shingles are
    * corpus heavy hitters is template/boilerplate material
    * (navigation chrome, license blocks, generated spam) and routes
    * `quarantined_template`. Per-doc fractions need a batch-local
    * rollup, so this rides foreachBatch (the unigram-gate engine) —
    * ZERO streaming state, no corpus-sized join on the stream side.
    * Docs with < 3 tokens have no shingle set and are out of scope
    * (the CDC/exact gates own those). */
  val streamTemplateGate: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    val heavy = SketchOps.heavyGramsOf(
        Tables.documents(s, d).filter(!isNew(col("doc_id"))))
      .transform(graft.Checkpointing.cut)
    gateReplay(docsStream(s, d)
      .filter(isNew(col("doc_id")))
      .select(col("doc_id"), col("text")), "doc_id") { batch =>
      val dg = batch
        .withColumn("toks", graft.functions.Hashing.tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(graft.functions.Hashing.shingles(col("toks")))
            .as("g"))
      dg.join(broadcast(heavy.withColumn("hit", lit(1L))),
          Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_heavy"))
        .select(col("doc_id"), col("n_grams"), col("n_heavy"),
          when(col("n_heavy") * 2L > col("n_grams"),
            "quarantined_template").otherwise("admitted")
            .as("decision"))
    }
  }

  /** Unigram-frequency quality gate ON INGEST — the streaming mirror
    * of `doc_unigram_score`'s filtering role: each incoming (is_new)
    * document is scored against the CORPUS token-frequency relation
    * (the static side — in production, yesterday's published count
    * table) and routed admitted / quarantined by its OOV fraction:
    * more than 25% never-seen tokens marks OCR soup, encoding junk,
    * or an unknown language the batch tiers would waste work on (E6
    * classify-and-route at the gate, like the other ingest gates).
    * All accounting integer: n_oov·4 > n_tokens is the threshold, no
    * division.
    *
    * Execution shape: `foreachBatch` + the batch scoring engine — the
    * per-doc rollup groups only WITHIN the micro-batch each doc
    * arrives in (docs arrive whole), so zero streaming state store,
    * no watermark; cross-batch memory is strictly the static count
    * relation, re-planned per micro-batch like every other gate. */
  val streamUnigramGate: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    // pre-cut: round 11 left this lazy, and the stream re-ran the
    // full corpus explode+groupBy inside the per-batch join (a 2.6x
    // regression isolated); the template gate's `heavy` cut is the
    // discipline, applied here
    val corpusTf = Tables.documents(s, d)
      .filter(!isNew(col("doc_id")))
      .select(explode(graft.functions.Hashing.tokens(col("text")))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .transform(graft.Checkpointing.cut)
    gateReplay(docsStream(s, d)
      .filter(isNew(col("doc_id")))
      .select(col("doc_id"), col("text")), "doc_id") { batch =>
      val dt = batch.select(col("doc_id"),
        explode(graft.functions.Hashing.tokens(col("text")))
          .as("token"))
      dt.join(corpusTf, Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tf").isNull, 1L).otherwise(0L)).as("n_oov"),
          min(col("tf")).as("mkt"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          coalesce(col("mkt"), lit(0L)).as("min_known_tf"),
          when(col("n_oov") * 4 > col("n_tokens"), "quarantined_oov")
            .otherwise("admitted").as("decision"))
    }
  }

  /** Streaming mirror of [[TextOps.docTargetAffinity]]'s FILTERING
    * role (DSIR-at-ingest): incoming documents are scored against the
    * corpus-fitted hashed-bigram importance model (target = the
    * corpus's `en` slice) and routed `admitted` /
    * `quarantined_offtarget` when negative evidence outweighs
    * positive. The model — two ≤[[TextOps.FeatBuckets]]-row count
    * relations — is fit from the STATIC corpus side (in production,
    * yesterday's published counts) and BROADCAST into each
    * micro-batch's map-side scoring join: zero streaming state, the
    * `stream_unigram_gate` discipline. Features the corpus has never
    * seen carry no evidence (the null comparison lands in neither
    * counter on either engine). */
  val streamAffinityGate: Q = (s0, d) => {
    val s = replaySession(s0)
    def isNew(id: Column) =
      graft.functions.Hashing.charHash(id.cast("string")) % 10 === 7
    // feature extraction, model fit and counters are THE batch
    // implementations ([[TextOps.affinityFeats]]/[[TextOps.affinityModel]]/
    // [[TextOps.affinityCounters]]) — the ingest gate cannot drift from
    // the batch scorer
    val model = TextOps.affinityModel(TextOps.affinityFeats(
      Tables.documents(s, d).filter(!isNew(col("doc_id"))), col("lang")))
      // pre-cut: one model fit, not one per micro-batch
      .transform(graft.Checkpointing.cut)
    gateReplay(docsStream(s, d)
      .filter(isNew(col("doc_id")))
      .select(col("doc_id"), col("text")), "doc_id") { batch =>
      TextOps.affinityCounters(
          TextOps.affinityFeats(batch, col("doc_id")), model, "left",
          Seq("doc_id"))
        .select(col("doc_id"), col("n_feat"), col("n_pos"), col("n_neg"),
          when(col("n_neg") > col("n_pos"), "quarantined_offtarget")
            .otherwise("admitted").as("decision"))
    }
  }

  /** Streaming mergeable histogram — the stream-side PROOF of
    * `ev_histogram_quantiles`' central claim: because the fixed-width
    * histogram is associative and commutative, the SAME one-groupBy
    * plan runs incrementally over micro-batches (complete mode: the
    * state is |bins| counters, each batch's partial counts merge in),
    * and the finite replay must equal the batch histogram bit-for-bit.
    * This is the sketch that per-day or per-stream shards merge by
    * addition — the property the exact sort-based percentile lacks,
    * demonstrated in the execution model that needs it. */
  val streamHistogram: Q = (s0, d) => {
    val s = replaySession(s0)
    val bins = eventsStream(s, d)
      .filter(col("value").isNotNull)
      .groupBy(floor(col("value") / 10.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    runToTable(s, bins, "complete")
      .orderBy("bin")
  }

  /** Streaming Bloom pre-filter ON INGEST — the production gate the
    * batch probe (`dedup_bloom_probe`) exists to feed: each incoming
    * document's k bit positions are checked against the CORPUS bloom
    * relation (static side, bounded by [[SketchOps.BloomBits]] rows
    * regardless of corpus size), and docs whose k bits are all set
    * route to the exact-dedup tier while the rest are admitted as new
    * WITHOUT any corpus-sized join. No false negatives by
    * construction (a true duplicate set its own bits when the corpus
    * was built), so 'admitted_new' is always safe; false positives
    * cost one wasted exact-tier check, bounded by occupancy.
    *
    * Deliberately bloom-ONLY — no truth join — because deciding from
    * the bounded bit relation alone is the gate's entire point at
    * 100 TB. Stateless foreachBatch like the other ingest gates: the
    * cross-batch memory is the static bloom relation, zero streaming
    * state store. */
  val streamBloomGate: Q = (s0, d) => {
    val s = replaySession(s0)
    val bloom = SketchOps.bloomPositions(s, d)
    gateReplay(docsStream(s, d)
      .filter(SketchOps.isNew(col("doc_id")))
      .select(col("doc_id"), col("text")), "doc_id") { batch =>
      batch
        .select(col("doc_id"),
          explode(SketchOps.posArray(
            graft.functions.Hashing.charHash(col("text")),
            SketchOps.BloomBits, SketchOps.BloomK)).as("pos"))
        .join(broadcast(bloom), Seq("pos"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_pos_hit"))
        .select(col("doc_id"), col("n_pos_hit"),
          when(col("n_pos_hit") === SketchOps.BloomK,
            "route_exact_tier")
            .otherwise("admitted_new").as("decision"))
    }
  }

  /** Streaming Count-Min monitor — the ADDITIVE sibling of
    * [[streamHllMonitor]], completing the sketch tier's streaming
    * proofs (histogram: addition; HLL: register MAX; CMS: cell
    * addition): each micro-batch computes its own bounded cell matrix
    * ([[SketchOps.cmsMatrix]], ≤ d·w rows) and the monitor folds it
    * into a d×w driver-side accumulator by cell-wise addition. A
    * token instance lands in exactly one batch and addition is
    * associative, so the final matrix is CELL-FOR-CELL equal to the
    * batch single-pass build — and the query returns the whole merged
    * matrix, so the oracle equality proves the contract over every
    * cell, not a summary. Per batch, only ≤ d·w integer triples cross
    * to the driver; token hashes are never stored. */
  val streamCmsMonitor: Q = (s0, d) => {
    val s = replaySession(s0)
    val depth = SketchOps.CmsDepth
    val width = SketchOps.CmsWidth.toInt
    val merged = new Array[Long](depth * width)
    // foreachBatch is at-least-once: a re-executed micro-batch must
    // not double-count its cells. Addition is NOT idempotent (unlike
    // streamHllMonitor's MAX fold, which absorbs replays for free),
    // so the fold tracks applied batch ids — the production pattern
    // for any additive sink.
    val applied = scala.collection.mutable.Set.empty[Long]
    replay(docsStream(s, d).select(col("text")))(_ => (batch, batchId) => {
      val cells = SketchOps.cmsMatrix(batch).collect()
      merged.synchronized {
        if (applied.add(batchId)) {
          cells.foreach { r =>
            val row = r.getAs[Int]("row")
            val bucket = r.getAs[Long]("bucket").toInt
            merged(row * width + bucket) += r.getAs[Long]("cnt")
          }
        }
      }
    }) { _ =>
      import s.implicits._
      merged.toIndexedSeq.zipWithIndex
        .collect { case (cnt, i) if cnt > 0L =>
          (i / width, (i % width).toLong, cnt) }
        .toDF("row", "bucket", "cnt")
        .orderBy("row", "bucket")
    }
  }

  /** Streaming HLL distinct-token monitor — the sketch tier's ingest
    * path, and the stream-side PROOF of the register-merge contract
    * `tf_hll_merge` establishes for shards: each micro-batch computes
    * its OWN bounded (reg, rho) register relation with the batch
    * arithmetic ([[SketchOps.hllRegs]]), and the monitor folds it into
    * an m-entry driver-side accumulator by per-register MAX — the
    * merge is exact, so the finite replay's final estimate is
    * bit-equal to the batch single-pass build and gates HASH-EXACT
    * against the batch oracle.
    *
    * Scale shape: per batch, the only thing that crosses to the
    * driver is ≤ m = [[SketchOps.HllRegisters]] integer pairs — the
    * monitor never stores token hashes, which is its entire point
    * (the corpus-wide distinct set this replaces is unbounded). In
    * production the same fold runs per-executor then per-shard, and
    * days merge with the same MAX. Zero streaming state store: the
    * cross-batch memory IS the register vector. */
  val streamHllMonitor: Q = (s0, d) => {
    val s = replaySession(s0)
    val merged = new Array[Long](SketchOps.HllRegisters.toInt)
    replay(docsStream(s, d).select(col("text")))(_ => (batch, _) => {
      val regs = SketchOps.hllRegs(batch).collect()
      merged.synchronized {
        regs.foreach { r =>
          val reg = r.getAs[Long]("reg").toInt
          val rho = r.getAs[Long]("rho")
          if (rho > merged(reg)) merged(reg) = rho
        }
      }
    }) { _ =>
      import s.implicits._
      val regDf = merged.toIndexedSeq.zipWithIndex
        .collect { case (rho, reg) if rho > 0L => (reg.toLong, rho) }
        .toDF("reg", "rho")
      SketchOps.hllSummary(s, regDf)
    }
  }

  /** Streaming KMV monitor — the k-minimum-values sibling of
    * [[streamHllMonitor]]: each micro-batch computes its OWN k-min
    * distinct shingle-hash sample with the batch arithmetic
    * ([[SketchOps.kmvSample]] over [[SketchOps.shingleHashes]]), and
    * the monitor folds it into a driver-side sorted set by set-union
    * + keep-k-smallest. The merge is exact (any global top-k hash is
    * in its batch's top-k — the same lemma `dedup_kmv_merge` proves
    * for shards) AND idempotent (a replayed batch re-unions the same
    * values), so the finite replay gates HASH-EXACT against the
    * batch single-pass oracle. Per batch, ≤ k = [[SketchOps.KmvK]]
    * BIGINTs cross to the driver; no shingle stream is ever stored,
    * and — unlike the HLL registers — the retained VALUES keep the
    * overlap/intersection estimates (`dedup_kmv_overlap`) computable
    * against any other corpus's sketch at any time. Zero streaming
    * state store: the cross-batch memory IS the k-value list. */
  val streamKmvMonitor: Q = (s0, d) => {
    val s = replaySession(s0)
    val merged = scala.collection.mutable.SortedSet.empty[Long]
    replay(docsStream(s, d).select(col("text")))(_ => (batch, _) => {
      val mins = SketchOps.kmvSample(SketchOps.shingleHashes(batch))
        .collect().map(_.getLong(0))
      merged.synchronized {
        mins.foreach(merged.add)
        while (merged.size > SketchOps.KmvK)
          merged.remove(merged.last)
      }
    }) { _ =>
      import s.implicits._
      SketchOps.kmvSummary(merged.toSeq.toDF("h"))
    }
  }

  /** Streaming weighted reservoir — priority sampling's ingest form,
    * and the third member of the exact-mergeable monitor family
    * ([[streamKmvMonitor]], [[streamHllMonitor]]): each micro-batch
    * computes its OWN k-min (priority, doc) rows with the batch
    * arithmetic ([[TextOps.weightedPriority]] + orderBy/limit — the
    * same TakeOrderedAndProject bounded heaps), and the monitor folds
    * them into a driver-side sorted set by union + keep-k-smallest.
    * The merge is exact (every global k-min priority is in its
    * batch's k-min — the KMV lemma with priority in place of hash)
    * AND idempotent (a replayed batch re-unions the same rows), so
    * the finite replay gates HASH-EXACT against the batch
    * `doc_sample_weighted` oracle. Per batch, ≤ k 4-field rows cross
    * to the driver; document text never enters the sampling path;
    * zero streaming state store — the cross-batch memory IS the
    * reservoir, which is exactly how a production ingest keeps a
    * quality-weighted eval sample alive while the corpus streams
    * past. */
  val streamSampleWeighted: Q = (s0, d) => {
    val s = replaySession(s0)
    val k = TextOps.WeightedSampleK
    // (priority, doc_id) is a total order: doc_id is unique
    val ord = Ordering.by[(Double, Long, String, Long), (Double, Long)](
      r => (r._1, r._2))
    val merged =
      scala.collection.mutable.SortedSet.empty[(Double, Long, String, Long)](ord)
    replay(docsStream(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars")))(_ => (batch, _) => {
      val rows = TextOps.weightedPriority(batch)
        .orderBy(col("priority"), col("doc_id")).limit(k)
        .collect()
        .map(r => (r.getAs[Double]("priority"), r.getAs[Long]("doc_id"),
          r.getAs[String]("lang"), r.getAs[Long]("weight")))
      merged.synchronized {
        rows.foreach(merged.add)
        while (merged.size > k) merged.remove(merged.last)
      }
    }) { _ =>
      import s.implicits._
      merged.toSeq.map { case (p, id, lang, w) => (id, lang, w, p) }
        .toDF("doc_id", "lang", "weight", "priority")
        .orderBy("priority", "doc_id")
    }
  }

  /** Group size of the streamed top-k ledger. */
  val StreamTopkK = 3L

  /** State schema of [[topkValueBatch]]'s ledger: `sum(DECIMAL(12,2))`
    * widens to DECIMAL(22,2). */
  private[graft] val TopkStateSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tv",
        org.apache.spark.sql.types.DecimalType(22, 2))))

  /** One micro-batch of the streaming top-k ledger (the testable
    * engine behind [[streamTopkValue]]): the batch's per-(type, user)
    * decimal partials APPEND to the state store — no read, no
    * rewrite, so per-batch cost is O(batch) regardless of how much
    * state has accumulated. Exactness and batch-boundary independence
    * come from decimal associativity: however AvailableNow splits the
    * input into batches, the final re-aggregation of appended
    * partials is bit-identical to one global aggregate. */
  private[graft] def topkValueBatch(batch: DataFrame, stateDir: String)
      : Unit =
    batch.groupBy(col("event_type"), col("user_id"))
      .agg(sum(money(col("value"))).as("tv"))
      .write.mode("append").parquet(stateDir)

  /** Streaming top-k maintenance (`stream_topk_value`) — the ingest
    * twin of the batch `q33_topk_delta` view: per event type, the
    * top-[[StreamTopkK]] users by total event value, maintained as an
    * append-only ledger of per-batch decimal partials
    * ([[topkValueBatch]]) and compacted into the ranked view once the
    * stream drains. The ledger discipline is the same one the ANN
    * upsert and vec-dedup gates use: micro-batches never read or
    * rewrite standing state on the hot path, and the compaction
    * (re-aggregate + rank) is itself the daily-refresh query. The
    * oracle is the global batch aggregate — equality is exactly the
    * statement that batch boundaries cannot leak into the result. */
  val streamTopkValue: Q = (s0, d) => {
    val s = replaySession(s0)
    ledgerReplay(s, d)(topkValueBatch)(topkValueReadout(s, _))
  }

  /** Ledger compaction for [[streamTopkValue]]: merge the per-batch
    * decimal partials, rank per type. Explicit-schema readout
    * ([[readDir]]) — an untouched state dir compacts to the
    * correct EMPTY ranking. Split out so the spec can drive manual
    * micro-batches (and the empty case) through the same readout. */
  private[graft] def topkValueReadout(s: SparkSession, stateDir: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("tv").desc, col("user_id"))
    readDir(s, stateDir, TopkStateSchema)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("tv")).as("tv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= StreamTopkK)
      .select(col("event_type"), col("rank"), col("user_id"),
        asD(col("tv")).as("total_value"))
      .orderBy("event_type", "rank")
  }

  /** Compact the topk ledger: merge the accumulated per-batch
    * partials into ONE row per (type, user) and REPLACE the ledger
    * with the merged relation — the lifecycle step that bounds ledger
    * growth (partials accumulate O(batches × keys-touched-per-batch);
    * compacted state is O(keys), and the hot path stays append-only
    * because compaction runs out-of-band, the index-compaction
    * discipline applied to streaming state). The merged sum is cast
    * back to the ledger's canonical DECIMAL(22,2) — exact (decimal
    * addition never leaves (22,2) at any corpus this side of 10^20
    * cents), so a compacted ledger is indistinguishable to the
    * readout by construction. Returns the compacted dir
    * ([[writeCompacted]]). */
  private[graft] def compactTopkLedger(s: SparkSession, stateDir: String)
      : String =
    writeCompacted(stateDir, readDir(s, stateDir, TopkStateSchema)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("tv")).cast(
        org.apache.spark.sql.types.DecimalType(22, 2)).as("tv")))

  /** Write a compacted ledger to `<stateDir>-compact` — beside the
    * state dir, so inside the replay's root when [[replay]] runs it —
    * and return that dir. */
  private def writeCompacted(stateDir: String, merged: DataFrame)
      : String = {
    val dir = s"$stateDir-compact"
    merged.write.mode("overwrite").parquet(dir)
    dir
  }

  /** Ledger-compaction lifecycle (`stream_topk_compact`): run the
    * [[streamTopkValue]] ingest, COMPACT the ledger
    * ([[compactTopkLedger]]), then read out of the compacted state.
    * Gated against the SAME global-aggregate oracle — equality is the
    * statement that compaction is lossless, exactly as the
    * append→merge→compact index lifecycle queries gate their
    * compacted indexes. Completes the streaming-state story at
    * 100 TB: append-only O(batch) hot path ([[topkValueBatch]]),
    * out-of-band O(keys) compaction (this), order-independent readout
    * ([[topkValueReadout]]). */
  val streamTopkCompact: Q = (s0, d) => {
    val s = replaySession(s0)
    ledgerReplay(s, d)(topkValueBatch)(
      st => topkValueReadout(s, compactTopkLedger(s, st)))
  }

  /** One micro-batch of the streaming decayed-value ledger: the
    * batch's per-(user, day) exact-cents partials APPEND to the state
    * store — no read, no rewrite, O(batch) per batch. Day is the
    * decay quantum, so partials from different batches of the same
    * day merge associatively at readout and batch boundaries cannot
    * leak into the result. */
  private[graft] def decayedValueBatch(batch: DataFrame,
      stateDir: String): Unit =
    batch.select(col("user_id"), to_date(col("ts")).as("day"),
        (money(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      .write.mode("append").parquet(stateDir)

  /** State schema of [[decayedValueBatch]]'s ledger. */
  private[graft] val DecayStateSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))

  /** Ledger compaction for [[streamDecayedValue]]: merge per-(user,
    * day) partials, shift each day's cents by its age in half-lives
    * against the ledger max day, roll up per user. Split out so the
    * spec can drive manual micro-batches (and the untouched-dir empty
    * case) through the same readout. The shift amount is clamped to
    * 63 ([[EventOps.decayShift]]) — Java `>>` masks the shift mod 64,
    * so an unclamped partial ≥ 64 half-lives old (~15 months at the
    * 7-day half-life) would wrap and contribute its FULL undecayed
    * cents; 63 keeps the decay-to-zero semantics for nonnegative
    * cents. */
  private[graft] def decayedValueReadout(s: SparkSession,
      stateDir: String): DataFrame = {
    val led = readDir(s, stateDir, DecayStateSchema)
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))
    val maxd = led.agg(max(col("day")).as("maxd"))
    led.crossJoin(broadcast(maxd))
      .select(col("user_id"), col("n"), col("cents"),
        datediff(col("maxd"), col("day")).cast("long").as("age_days"))
      .withColumn("decayed", EventOps.decayShift(col("cents"),
        col("age_days")))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("decayed")).as("decayed_cents"),
        min(col("age_days")).as("last_age_days"))
      .select(col("user_id"), col("n_events"), col("raw_cents"),
        col("decayed_cents"), col("last_age_days"),
        (col("decayed_cents").cast("double") / lit(100.0))
          .as("decayed_value"))
      .orderBy("user_id")
  }

  /** Compact the decayed-value ledger: merge accumulated per-batch
    * partials to ONE row per (user, day) and REPLACE the ledger —
    * [[compactTopkLedger]]'s discipline for the day-quantized state.
    * Day partials are decay-agnostic (the shift applies at readout
    * against the ledger max day), so compaction commutes with any
    * future ingest and the readout is bit-identical by integer-sum
    * associativity. Returns the compacted dir ([[writeCompacted]]). */
  private[graft] def compactDecayLedger(s: SparkSession, stateDir: String)
      : String =
    writeCompacted(stateDir, readDir(s, stateDir, DecayStateSchema)
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n")))

  /** Ledger-compaction lifecycle for the decayed-value state
    * (`stream_decayed_compact`): ingest → [[compactDecayLedger]] →
    * readout of the compacted state, gated against the SAME oracle as
    * `stream_decayed_value` — compaction losslessness for the
    * day-partial ledger, completing the lifecycle for both streaming
    * ledgers (state here is O(users × days) however long the stream
    * runs; compaction bounds the PARTIAL count, which otherwise grows
    * O(batches × users-touched-per-batch)). */
  val streamDecayedCompact: Q = (s0, d) => {
    val s = replaySession(s0)
    ledgerReplay(s, d)(decayedValueBatch)(
      st => decayedValueReadout(s, compactDecayLedger(s, st)))
  }

  /** Streaming decayed user value (`stream_decayed_value`) — the
    * ingest twin of `ev_decayed_value`, DAY-quantized: the decay
    * shift applies once per (user, day) partial at compaction instead
    * of once per event (`(Σc) >> w` vs `Σ(c >> w)` — the day form
    * floors once per day, so it loses at most one cent per user-day
    * and is the tighter estimate; the oracle mirrors the day form
    * exactly, so the gate pins it bit-for-bit, not approximately).
    * Shifting at READOUT rather than ingest is what makes the ledger
    * maintainable: a stored pre-shifted value would be stale the
    * moment a newer day arrives and moves the reference date, but
    * day partials are decay-agnostic and never rewritten. Hot path
    * is [[decayedValueBatch]]'s append-only O(batch) aggregate —
    * state is O(users × days) however long the stream runs. */
  val streamDecayedValue: Q = (s0, d) => {
    val s = replaySession(s0)
    ledgerReplay(s, d)(decayedValueBatch)(decayedValueReadout(s, _))
  }

  val defs: Map[String, Q] = Map(
    "stream_topk_value" -> streamTopkValue,
    "stream_topk_compact" -> streamTopkCompact,
    "stream_decayed_value" -> streamDecayedValue,
    "stream_decayed_compact" -> streamDecayedCompact,
    "stream_sample_weighted" -> streamSampleWeighted,
    "stream_sample_weighted_quota" -> streamSampleWeightedQuota,
    "stream_bloom_gate" -> streamBloomGate,
    "stream_cms_monitor" -> streamCmsMonitor,
    "stream_hll_monitor" -> streamHllMonitor,
    "stream_kmv_monitor" -> streamKmvMonitor,
    "stream_histogram" -> streamHistogram,
    "stream_takedown_gate" -> streamTakedownGate,
    "stream_unigram_gate" -> streamUnigramGate,
    "stream_template_gate" -> streamTemplateGate,
    "stream_affinity_gate" -> streamAffinityGate,
    "stream_cdc_strip" -> streamCdcStrip,
    "stream_cdc_candidates" -> streamCdcCandidates,
    "stream_ann_upsert" -> streamAnnUpsert,
    "stream_vec_dedup" -> streamVecDedup,
    "stream_hourly" -> streamHourly,
    "stream_static_join" -> streamStaticJoin,
    "stream_asof" -> streamAsof,
    "stream_dedup_keys" -> streamDedupKeys,
    "stream_hourly_wm" -> streamHourlyWm,
    "stream_dedup_wm" -> streamDedupWm,
    "stream_sessionize" -> streamSessionize,
    "stream_session_window" -> streamSessionWindow,
    "stream_interval_join" -> streamIntervalJoin,
    "stream_curation_route" -> streamCurationRoute,
    "stream_pii_gate" -> streamPiiGate,
    "stream_novelty_gate" -> streamNoveltyGate,
    "stream_neardup_candidates" -> streamNeardupCandidates,
    "stream_conversion_window" -> streamConversionWindow)

  // lazy: oracle strings interpolate constants from SIBLING operator
  // objects (TextOps -> SimilarityOps.Dims, SimilarityOps -> DedupOps
  // delta constants, DedupOps -> TextOps.oracle), so eager init here
  // would make the map's value depend on which object the JVM
  // happened to initialize first (a mid-cycle read sees null). Lazy
  // defers interpolation past every clinit.
  // the DAY-quantized decay recomputed globally: per-(user, day)
  // exact cents, one shift per day's age, integer rollup — equality
  // says batch boundaries cannot leak into the ledger; shared
  // verbatim by the post-compaction readout (`stream_decayed_compact`)
  // one oracle for BOTH conversion-window orientations: the banding
  // is an execution choice, the EXISTS semantics are the contract
  private lazy val sqlConversionWindow =
    """WITH base AS (
         SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
         FROM events),
       v AS (SELECT event_id, user_id, ts_sec FROM base
             WHERE event_type = 'view'),
       c AS (SELECT user_id, ts_sec FROM base
             WHERE event_type = 'click')
       SELECT v.event_id AS view_id, v.user_id, v.ts_sec AS view_tsec
       FROM v WHERE EXISTS (
         SELECT 1 FROM c
         WHERE c.user_id = v.user_id
           AND c.ts_sec >= v.ts_sec AND c.ts_sec <= v.ts_sec + 3600)
       ORDER BY view_id"""

  private lazy val sqlDecayedValue =
    s"""WITH maxd AS (SELECT CAST(max(ts) AS DATE) AS maxd FROM events),
        pd AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
            CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100
              AS BIGINT)) AS BIGINT) AS cents,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
        SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
          CAST(SUM(${EventOps.sqlDecayShift("cents",
            "date_diff('day', day, maxd)")}) AS BIGINT)
            AS decayed_cents,
          CAST(SUM(cents) AS BIGINT) AS raw_cents,
          CAST(MIN(date_diff('day', day, maxd)) AS BIGINT)
            AS last_age_days,
          CAST(SUM(${EventOps.sqlDecayShift("cents",
            "date_diff('day', day, maxd)")}) AS DOUBLE)
            / 100.0 AS decayed_value
        FROM pd, maxd GROUP BY user_id ORDER BY user_id"""

  // the global batch aggregate — equality says batch boundaries
  // cannot leak into the ledger's compacted ranking; shared verbatim
  // by the post-compaction readout (`stream_topk_compact`), where
  // equality additionally states the compaction is lossless
  private lazy val sqlTopkValue =
    s"""WITH totals AS (
          SELECT event_type, user_id,
            SUM(${sqlMoney("value")}) AS tv
          FROM events GROUP BY event_type, user_id),
        ranked AS (
          SELECT event_type, user_id, tv,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY tv DESC, user_id) AS rnk
          FROM totals)
        SELECT event_type, rnk AS rank, user_id,
          CAST(tv AS DOUBLE) AS total_value
        FROM ranked WHERE rnk <= $StreamTopkK
        ORDER BY event_type, rnk"""

  lazy val oracle: Map[String, String] = Map(
    "stream_topk_value" -> sqlTopkValue,
    "stream_topk_compact" -> sqlTopkValue,
    "stream_decayed_value" -> sqlDecayedValue,
    "stream_decayed_compact" -> sqlDecayedValue,
    "stream_sample_weighted" -> TextOps.sqlSampleWeighted,
    "stream_sample_weighted_quota" ->
      TextOps.oracle("doc_sample_weighted_quota"),
    "stream_bloom_gate" -> SketchOps.sqlBloomGateOracle,
    "stream_cms_monitor" -> SketchOps.sqlCmsMatrixOracle,
    "stream_hll_monitor" -> SketchOps.sqlHllMonitorOracle,
    "stream_kmv_monitor" -> SketchOps.sqlKmvMonitorOracle,
    "stream_histogram" ->
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, COUNT(*) AS n
         FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY bin""",
    "stream_takedown_gate" -> {
      val tag = s"${graft.functions.Hashing
        .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10"
      s"""WITH tombp AS (
            SELECT DISTINCT md5(text) AS tomb_md5 FROM documents
            WHERE $tag = ${DedupOps.TombTag}),
          inc AS (
            SELECT doc_id + ${DedupOps.DeltaIdOffset} AS doc_id,
              md5(text) AS fp
            FROM documents
            WHERE $tag IN (${DedupOps.TombTag}, ${DedupOps.AddTag}))
          SELECT i.doc_id, i.fp,
            CASE WHEN t.tomb_md5 IS NOT NULL THEN 'rejected_takedown'
                 ELSE 'admitted' END AS decision
          FROM inc i LEFT JOIN tombp t ON i.fp = t.tomb_md5
          ORDER BY i.doc_id"""
    },
    "stream_template_gate" -> SketchOps.sqlTemplateGateOracle,
    "stream_unigram_gate" -> {
      val tag = s"${graft.functions.Hashing
        .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10"
      val toks = graft.functions.Hashing.sqlTokens("text")
      s"""WITH tagged AS (
            SELECT doc_id, text, $tag = 7 AS is_new FROM documents),
          ctf AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT unnest($toks) AS token
                  FROM tagged WHERE NOT is_new) z
            GROUP BY token),
          dt AS (
            SELECT doc_id, unnest($toks) AS token
            FROM tagged WHERE is_new),
          j AS (
            SELECT dt.doc_id, ctf.tf
            FROM dt LEFT JOIN ctf ON dt.token = ctf.token)
          SELECT doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) FILTER (WHERE tf IS NULL) AS BIGINT) AS n_oov,
            COALESCE(MIN(tf), CAST(0 AS BIGINT)) AS min_known_tf,
            CASE WHEN COUNT(*) FILTER (WHERE tf IS NULL) * 4 > COUNT(*)
              THEN 'quarantined_oov' ELSE 'admitted' END AS decision
          FROM j GROUP BY doc_id ORDER BY doc_id"""
    },
    "stream_affinity_gate" -> {
      val tag = s"${graft.functions.Hashing
        .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10"
      val toks = graft.functions.Hashing.sqlTokens("text")
      val grams = graft.functions.Hashing.sqlNgrams(toks, 2)
      val bucket = s"${graft.functions.Hashing
        .sqlCharHash("g")} % ${TextOps.FeatBuckets}"
      s"""WITH tagged AS (
            SELECT doc_id, lang, text, $tag = 7 AS is_new FROM documents),
          cfeats AS (
            SELECT lang, $bucket AS b
            FROM (SELECT lang, unnest($grams) AS g
                  FROM tagged WHERE NOT is_new) z),
          counts AS (
            SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt_r,
              CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS cnt_t
            FROM cfeats GROUP BY b),
          model AS (
            SELECT b, cnt_r, cnt_t,
              (SELECT CAST(SUM(cnt_r) AS BIGINT) FROM counts) AS n_r,
              (SELECT CAST(SUM(cnt_t) AS BIGINT) FROM counts) AS n_t
            FROM counts),
          inc AS (
            SELECT doc_id, $bucket AS b
            FROM (SELECT doc_id, unnest($grams) AS g
                  FROM tagged WHERE is_new) z)
          SELECT i.doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_feat,
            CAST(SUM(CASE WHEN m.cnt_t * m.n_r > m.cnt_r * m.n_t
              THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
            CAST(SUM(CASE WHEN m.cnt_t * m.n_r < m.cnt_r * m.n_t
              THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
            CASE WHEN SUM(CASE WHEN m.cnt_t * m.n_r < m.cnt_r * m.n_t
                THEN 1 ELSE 0 END)
              > SUM(CASE WHEN m.cnt_t * m.n_r > m.cnt_r * m.n_t
                THEN 1 ELSE 0 END)
              THEN 'quarantined_offtarget' ELSE 'admitted' END AS decision
          FROM inc i LEFT JOIN model m ON i.b = m.b
          GROUP BY i.doc_id ORDER BY i.doc_id"""
    },
    "stream_cdc_candidates" -> MultimodalOps.sqlCdcCandidates,
    "stream_cdc_strip" -> DedupOps.sqlCdcStrip,
    "stream_ann_upsert" -> SimilarityOps.sqlAnnUpsertHits,
    "stream_vec_dedup" -> SimilarityOps.sqlAnnUpsertDedupHits,
    "stream_neardup_candidates" -> DedupOps.sqlNeardupCandidates,
    "stream_conversion_window" -> sqlConversionWindow,
    "stream_novelty_gate" -> {
      val tag = s"${graft.functions.Hashing
        .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10"
      val sqlToks = graft.functions.Hashing.sqlTokens("text")
      val grams = s"list_distinct(${graft.functions.Hashing.sqlHashAll(
        graft.functions.Hashing.sqlShingles("toks"))})"
      s"""WITH base AS (
            SELECT doc_id, $sqlToks AS toks FROM documents),
          statg AS (
            SELECT DISTINCT unnest($grams) AS gh
            FROM base WHERE $tag <> ${DedupOps.AddTag}),
          inc AS (
            SELECT doc_id + ${DedupOps.DeltaIdOffset} AS doc_id,
              unnest($grams) AS gh
            FROM base WHERE $tag = ${DedupOps.AddTag})
          SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
            CAST(SUM(CASE WHEN s.gh IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel,
            CAST(SUM(CASE WHEN s.gh IS NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty,
            CASE WHEN SUM(CASE WHEN s.gh IS NULL THEN 1 ELSE 0 END) * 4
                   < COUNT(*)
                 THEN 'derivative' ELSE 'admitted' END AS decision
          FROM inc i LEFT JOIN statg s ON i.gh = s.gh
          GROUP BY i.doc_id ORDER BY i.doc_id"""
    },
    "stream_pii_gate" ->
      s"""SELECT doc_id,
            CAST(length(regexp_extract_all(text, '${TextOps.PiiEmail}'))
              AS BIGINT) AS n_emails,
            CAST(length(regexp_extract_all(text, '${TextOps.PiiIpv4}'))
              AS BIGINT) AS n_ipv4,
            CAST(length(regexp_extract_all(text, '${TextOps.PiiLongNum}'))
              AS BIGINT) AS n_long_numbers,
            CASE WHEN length(regexp_extract_all(text, '${TextOps.PiiEmail}'))
                   + length(regexp_extract_all(text, '${TextOps.PiiIpv4}'))
                   + length(regexp_extract_all(text, '${TextOps.PiiLongNum}'))
                   > 0
                 THEN 'quarantined' ELSE 'admitted' END AS decision
          FROM documents ORDER BY doc_id""",
    "stream_curation_route" -> {
      val sqlToks = graft.functions.Hashing.sqlTokens("text")
      s"""SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, dup_ratio,
            CASE WHEN n_tok < ${TextOps.KeepMinTokens} THEN 'too_short'
                 WHEN dup_ratio > ${TextOps.KeepMaxDupRatio}
                   THEN 'repetitive'
                 ELSE 'keep' END AS decision
          FROM (
            SELECT doc_id, length(toks) AS n_tok,
              CASE WHEN length(toks) >= 3
                THEN CAST(length(g) - length(list_distinct(g)) AS DOUBLE)
                  / CAST(length(g) AS DOUBLE)
                ELSE 0.0 END AS dup_ratio
            FROM (
              SELECT doc_id, toks,
                ${graft.functions.Hashing.sqlNgrams("toks", 3)} AS g
              FROM (SELECT doc_id, $sqlToks AS toks FROM documents) tk) z)
          ORDER BY doc_id"""
    },
    "stream_static_join" ->
      """SELECT e.event_id, e.user_id, c.c_name, n.n_name, e.value
         FROM events e
         JOIN customer c ON e.user_id = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE e.event_type = 'purchase'
         ORDER BY e.event_id""",
    "stream_asof" -> EventOps.sqlAsof,
    "stream_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
          event_type, COUNT(*) AS n,
          CAST(SUM(${sqlMoney("value")}) AS DOUBLE) AS total_value
          FROM events GROUP BY hour, event_type ORDER BY hour, event_type""",
    "stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "stream_hourly_wm" ->
      s"""WITH wm AS (
            SELECT CAST(epoch_ms(max(ts)) AS BIGINT) - 3600000 AS w
            FROM events)
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
            event_type, COUNT(*) AS n,
            CAST(SUM(${sqlMoney("value")}) AS DOUBLE) AS total_value
          FROM events, wm
          WHERE CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) + 3600000
                  <= wm.w
          GROUP BY hour, event_type ORDER BY hour, event_type""",
    "stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "stream_session_window" ->
      """WITH t AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events),
         wm AS (
           -- watermark over the SECOND-truncated event time, in ms
           SELECT MAX(tsec) * 1000 - 3600000 AS w FROM t),
         flagged AS (
           SELECT user_id, tsec,
             CASE WHEN lag(tsec) OVER w IS NULL
                    OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END
               AS boundary
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
         sess AS (
           SELECT user_id, tsec,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY tsec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
           FROM flagged),
         agg AS (
           SELECT user_id, MIN(tsec) AS start_sec,
             MAX(tsec) + 1800 AS end_sec_excl, COUNT(*) AS n_events
           FROM sess GROUP BY user_id, sid)
         SELECT user_id, start_sec, end_sec_excl, n_events
         FROM agg, wm WHERE end_sec_excl * 1000 <= wm.w
         ORDER BY user_id, start_sec""",
    "stream_interval_join" ->
      """WITH p AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events WHERE event_type = 'click')
         SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.tsec AS purchase_tsec, c.tsec AS click_tsec
         FROM p JOIN c
           ON p.user_id = c.user_id
          AND c.tsec >= p.tsec - 3600 AND c.tsec <= p.tsec
         ORDER BY purchase_id, click_id""",
    "stream_sessionize" ->
      s"""WITH t AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events),
         wm AS (
           -- Spark's final event-time watermark in ms (see the
           -- stream_hourly_wm mirror): max event time minus the delay
           SELECT CAST(epoch_ms(max(ts)) AS BIGINT) - $SessionWmDelayMs AS w
           FROM events),
         flagged AS (
           SELECT user_id, event_id, tsec,
             CASE WHEN lag(tsec) OVER w IS NULL
                    OR tsec - lag(tsec) OVER w > $SessionGapSec
                  THEN 1 ELSE 0 END AS boundary
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
         sess AS (
           SELECT user_id, tsec,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY tsec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM flagged),
         agg AS (
           SELECT user_id, sid, COUNT(*) AS n_events,
             MIN(tsec) AS start_sec, MAX(tsec) AS end_sec,
             MAX(sid) OVER (PARTITION BY user_id) AS max_sid
           FROM sess GROUP BY user_id, sid)
         -- closed by a 30-min gap (a successor exists), or flushed by
         -- the event-time timeout: eviction is a strict < against the
         -- final watermark
         SELECT user_id, n_events, start_sec, end_sec
         FROM agg, wm
         WHERE sid < max_sid
            OR (end_sec + $SessionGapSec) * 1000 < wm.w
         ORDER BY user_id, start_sec""")
}
