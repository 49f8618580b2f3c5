package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.check.Checks
import graft.schema.TableSchema

/** Sessionization records (see [[StreamingValidate.sessionize]]).
  * Times travel as epoch MICROseconds — java.sql.Timestamp.getTime is
  * millisecond-precision and silently truncates parquet µs timestamps.
  */
final case class SessionEvent(
    user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
/** Streaming-state carrier: ALL not-yet-closed sessions of a user —
  * within-watermark disorder can open an earlier session than the
  * latest one, so a single-interval state cannot be correct (it either
  * wrongly merges across a gap or wrongly drops the earlier session).
  */
final case class OpenSessions(ss: Seq[OpenSession])
final case class SessionRaw(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Streaming-CUSUM records (see [[StreamingValidate.cusumStream]]). */
final case class CusumEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    ts_us: Long, cents: Long)
/** State carrier: the running CUSUM value after every SEALED event,
  * plus the still-unsealed (within-watermark, reorderable) buffer.
  */
final case class CusumState(s: Long,
    buf: Seq[(Long, Long, Long)]) // (ts_us, event_id, cents)
final case class CusumOut(event_id: Long, user_id: Long, cusum: Long,
    flagged: Boolean)

/** Streaming validation (SURVEY.md §7.6): the reference's batch checks
  * re-expressed over Structured Streaming — watermarks, windowed
  * violation aggregation, stateful dedup.
  *
  * Every function here takes a DataFrame that may be a streaming source
  * (`spark.readStream...`) or a batch one — the plan is identical; only
  * the sink differs. Tests drive them through a file source + memory
  * sink; production would use Kafka → parquet/Delta.
  */
object StreamingValidate {

  /** Per-row constraint-violation flags for a schema — one boolean
    * column per declared check, usable in a streaming select (stateless,
    * so no watermark needed).
    */
  def violationFlags(df: DataFrame, schema: TableSchema): DataFrame = {
    val flags: Seq[Column] = schema.fields.flatMap { f =>
      val c = col(f.name)
      val k = f.constraints
      Seq(
        k.required.filter(identity).map(_ =>
          c.isNull.as(s"${f.name}__required")),
        k.minimum.map(m =>
          (c.isNotNull && c < Checks.typedBound(f, m))
            .as(s"${f.name}__minimum")),
        k.maximum.map(m =>
          (c.isNotNull && c > Checks.typedBound(f, m))
            .as(s"${f.name}__maximum")),
        k.pattern.map(p =>
          (c.isNotNull && !Checks.fullMatch(c, p))
            .as(s"${f.name}__pattern")),
        k.enum.map(vs =>
          (c.isNotNull && !Checks.enumHit(f, vs, c)).as(s"${f.name}__enum"))
      ).flatten
    }
    df.select(col("*") +: flags: _*)
  }

  /** Tumbling-window event aggregation with a watermark: counts + sum
    * per (window, event_type). `sum` is rounded so results are stable
    * across aggregation orders.
    */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Per-window distinct-entity counts (unique visitors / active users):
    * a two-level streaming-safe shape — `dropDuplicates` over
    * (window, key) bounds its state by the watermark, then a plain
    * windowed count aggregates the survivors. The single-level
    * `countDistinct` alternative is NOT supported in streaming
    * aggregations (distinct state is unbounded per group); this form
    * runs the SAME logical plan batch or streamed, shuffles once on
    * (window, key) and once on the window, and its second shuffle
    * carries one row per distinct key — never raw events.
    */
  def windowedDistinct(
      events: DataFrame, keyCol: String,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLen).as("window"), col(keyCol))
      .dropDuplicates("window", keyCol)
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_distinct"))
      .select(col("window.start").as("window_start"), col("n_distinct"))

  /** Sliding-window variant (windowLen every slide). */
  def slidingCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      slide: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"))

  /** Windowed violation-rate monitoring: flag rows violating `bad`,
    * aggregate the violation share per window — streaming quality gate.
    */
  def violationRate(
      events: DataFrame,
      bad: Column,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("total"),
        count(when(bad, lit(1))).as("violations"))
      .select(col("window.start").as("window_start"), col("total"),
        col("violations"))

  /** Custom-state sessionization via `flatMapGroupsWithState`
    * (KeyValueGroupedDataset custom state, SURVEY.md §7.6): events are
    * grouped per user; a gap longer than `gapMinutes` closes a session.
    *
    * Two modes sharing the session-building core:
    *   - `streaming = false` (batch): each group arrives complete, so
    *     every session — including the trailing one — is emitted.
    *   - `streaming = true`: only CLOSED sessions are emitted. ALL
    *     unclosed session intervals are carried in `GroupState` across
    *     micro-batches (within-watermark disorder can open a session
    *     earlier than the latest one); a session closes — and is
    *     emitted exactly once — when the watermark passes its
    *     `last event + gap`, via the next batch or the event-time
    *     timeout, so idle users don't pin state forever. Callers must
    *     put a `withWatermark("ts", ...)` on the input (required for
    *     EventTimeTimeout).
    */
  def sessionize(
      events: DataFrame,
      gapMinutes: Int = 30,
      streaming: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.select(col("user_id").cast("long").as("user_id"),
        col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, SessionRaw](
        OutputMode.Append, timeout) {
        (userId: Long, it: Iterator[SessionEvent],
         state: GroupState[OpenSessions]) =>
          // Merge this batch's events into the state's disjoint session
          // intervals: every event is a singleton interval; two
          // intervals belong to one session iff they are within the gap.
          // Holding ALL unclosed intervals (not just the latest) is what
          // makes within-watermark disorder safe: an event can open a
          // session EARLIER than the current one, and a single-interval
          // state would wrongly merge across a gap (min/max) or lose
          // the earlier session entirely. The timeout branch is the
          // same code with no new events.
          val prior = state.getOption.map(_.ss.toList).getOrElse(Nil)
          val merged = (it.map(e =>
              OpenSession(e.ts_us, e.ts_us, 1)).toList ++ prior)
            .sortBy(s => (s.startUs, s.lastUs))
            .foldLeft(List.empty[OpenSession]) { (acc, s) =>
              acc match {
                case h :: tl if s.startUs <= h.lastUs + gapUs =>
                  OpenSession(h.startUs, math.max(h.lastUs, s.lastUs),
                    h.n + s.n) :: tl
                case _ => s :: acc
              }
            }.reverse
          if (streaming) {
            // a session is closed once the watermark passes its end +
            // gap (no admissible event can extend it); the rest stays
            // in state, with the timeout at the earliest possible close
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (closed, open) =
              merged.partition(s => s.lastUs + gapUs <= wmUs)
            if (open.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(OpenSessions(open))
              state.setTimeoutTimestamp(
                (open.map(_.lastUs).min + gapUs) / 1000L + 1L)
            }
            closed.map(s =>
              SessionRaw(userId, s.startUs, s.lastUs, s.n)).iterator
          } else {
            // batch: the group is complete — every session is closed
            merged.map(s =>
              SessionRaw(userId, s.startUs, s.lastUs, s.n)).iterator
          }
      }
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
  }

  /** Streaming foreign-key check: a stream-static LEFT ANTI join — each
    * micro-batch's rows whose key tuple is absent from the (static,
    * broadcastable) parent dimension flow to the sink as violations.
    * Stateless (no watermark needed): referential violations surface
    * with per-batch latency; the parent is re-read per batch, so a
    * slowly-changing dimension is picked up automatically.
    */
  def fkViolations(
      stream: DataFrame,
      keys: Seq[String],
      parent: DataFrame,
      parentKeys: Seq[String]): DataFrame = {
    require(keys.size == parentKeys.size, "fk arity mismatch")
    val p = parent.select(
      parentKeys.zip(keys).map { case (pk, ck) => parent(pk).as(ck) }: _*)
      .distinct()
    val cond = keys.map(k => stream(k) === p(k)).reduce(_ && _)
    stream.filter(keys.map(stream(_).isNotNull).reduce(_ && _))
      .join(p, cond, "left_anti")
  }

  /** Stream-static dimension enrichment: left-join each micro-batch
    * against a broadcast dimension (the standard "attach user/customer
    * attributes to an event stream" step). Stateless — no watermark; the
    * dimension is re-read per batch, so slowly-changing attributes are
    * picked up automatically; unmatched stream rows keep nulls (they are
    * data, not errors — fkViolations is the check for that). The
    * explicit `broadcast` pins the no-shuffle plan: the stream side
    * must never repartition on the join key just to meet a hash join.
    */
  def enrich(
      stream: DataFrame, keys: Seq[String],
      dim: DataFrame, dimKeys: Seq[String],
      payload: Seq[String]): DataFrame = {
    require(keys.size == dimKeys.size, "enrich key arity mismatch")
    val p = dim.select(
      dimKeys.zip(keys).map { case (dk, k) => dim(dk).as(k) } ++
        payload.map(dim(_)): _*)
    stream.join(broadcast(p), keys, "left")
  }

  /** Native session-window sessionization: Spark's built-in
    * `session_window` expresses the same gap sessions as [[sessionize]]
    * as a plain windowed aggregation — engine-managed state, works on
    * batch and (with a watermark) streaming inputs. Identical
    * semantics, including exact-gap ties (both extend the session when
    * `next.ts == prev.ts + gap`; verified in StreamingSpec). The window
    * end is `last event + gap`, so `session_end` subtracts the gap back
    * to the last event time.
    */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60000000L
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id").cast("long").as("user_id"),
        col("session_window.start").as("session_start"),
        timestamp_micros(unix_micros(col("session_window.end")) - gapUs)
          .as("session_end"),
        col("n_events"))
  }

  /** Stream-stream interval join (attribution shape): every left event
    * paired with the right events of the same key whose time falls in
    * [leftTime, leftTime + within] — "clicks within 10 minutes of the
    * view". On streaming inputs both sides get a watermark and the
    * interval condition bounds event-time in BOTH directions, which is
    * exactly what Structured Streaming requires to size and expire the
    * join state (state held ≈ watermark + within per side, independent
    * of stream length). On batch inputs `withWatermark` is a no-op and
    * the same plan is an ordinary range-predicate equi-join — the
    * batch/stream parity every operator here keeps (asserted in
    * StreamingSpec).
    *
    * Column names must be disjoint across the two inputs (rename before
    * joining two slices of the same source — self-joins with shared
    * names resolve ambiguously).
    */
  def joinWithin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      within: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"joinWithin inputs share column name(s): ${shared.mkString(", ")}")
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) &&
        col(rightTime) <= col(leftTime) + expr(s"INTERVAL $within"))
  }

  /** Stateful exact dedup within the watermark horizon: Structured
    * Streaming keeps the seen-key state and drops late duplicates.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /** Stateful streaming CUSUM (the online form of
    * [[graft.ext.TimeSeries.cusum]]'s batch window identity): per key,
    * S_i = max(0, S_{i−1} + (cents_i − target)), alarm at S > h —
    * sustained-drift detection with per-micro-batch latency.
    *
    * The recursion is ORDER-SENSITIVE, so correctness under
    * within-watermark disorder needs buffering: events sit in
    * `GroupState` until the watermark passes their timestamp (no
    * admissible earlier event can still arrive), then are folded in
    * (ts, event_id) order onto the running S and emitted EXACTLY once.
    * Sealed history is never revisited — state is one long plus the
    * in-flight buffer, bounded by the watermark horizon × event rate.
    * The event-time timeout flushes a key's buffer when no new events
    * arrive to trigger it.
    *
    *   - `streaming = false` (batch): groups arrive complete — the
    *     whole series seals at once; output ≡ the batch operator
    *     (asserted in StreamingSpec AND by the harness oracle).
    *   - `streaming = true`: requires `withWatermark("ts", ...)` on
    *     the input (EventTimeTimeout), emits Append-mode rows.
    */
  def cusumStream(events: DataFrame, targetCents: Long, threshold: Long,
      streaming: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        col("cents").cast("long").as("cents"))
      .as[CusumEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, timeout) {
        (userId: Long, it: Iterator[CusumEvent],
         state: GroupState[CusumState]) =>
          val prior = state.getOption.getOrElse(CusumState(0L, Nil))
          val buf = prior.buf ++
            it.map(e => (e.ts_us, e.event_id, e.cents))
          val wmUs =
            if (streaming) state.getCurrentWatermarkMs() * 1000L
            else Long.MaxValue
          // seal = fold in total (ts, id) order; within-watermark rows
          // stay buffered for possible earlier arrivals
          val (ready, open) = buf.partition(_._1 <= wmUs)
          var s = prior.s
          val out = ready.sortBy(e => (e._1, e._2)).map { e =>
            s = math.max(0L, s + (e._3 - targetCents))
            CusumOut(e._2, userId, s, s > threshold)
          }
          if (streaming) {
            // the running S must OUTLIVE the buffer — dropping state
            // would silently restart the recursion for the key's next
            // event; one long per drained key is the steady-state cost
            state.update(CusumState(s, open))
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.map(_._1).min / 1000L + 1L)
          }
          out.iterator
      }
      .toDF()
  }

  /** Shared scaffold of the three serve-a-stream helpers
    * ([[nearDupIngestStream]], [[annServeStream]],
    * [[driftMonitorStream]]): a parquet file stream is drained under
    * `Trigger.AvailableNow`, every micro-batch is pushed through
    * `serve`, and each batch's result is APPENDED TO A PARQUET SINK —
    * never accumulated in driver memory. The round-8 shape held every
    * batch's localCheckpoint in a driver `var` and unioned them, so a
    * long-running monitor's plan (and the driver's RDD registry) grew
    * linearly with batch count; here per-batch state is zero — the
    * sink directory IS the accumulated result, the same
    * append-then-read contract a production job would run against a
    * lake table, and the final read plans as ONE parquet scan
    * (asserted in StreamingSpec) regardless of how many batches ran.
    *
    * The sink is seeded by OVERWRITING it with a correctly-shaped
    * empty frame (`serve` applied to zero input rows) before the
    * stream starts: stale scratch from a previous run of the same
    * process/path key is cleared, and the final read has a schema
    * even when the stream delivers no batches. The scratch path is
    * keyed by input path and pid (the [[graft.SparkEntry]] indexDir
    * discipline) — concurrent processes never share a sink; within a
    * process, calls are sequential by the engine's one-query-at-a-time
    * execution contract.
    *
    * `filesPerTrigger` picks the operating point: 1 = one file per
    * micro-batch (the LATENCY contract — per-batch cost measured at
    * its floor); 0 = no cap, AvailableNow drains everything in one
    * batch (the THROUGHPUT contract — scheduling overhead amortized
    * across the backlog). Results are identical by the per-helper
    * batching-invisibility argument; only the wall differs.
    */
  private def serveAvailableNow(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String, filesPerTrigger: Int,
      serve: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val sinkDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_sink/" +
        s"${java.lang.Long.toHexString(inputDir.hashCode.toLong & 0xffffffffL)}" +
        s"_p${ProcessHandle.current().pid()}"
    val batchInput = spark.read.parquet(inputDir)
    serve(batchInput.limit(0)).write.mode("overwrite").parquet(sinkDir)
    val reader = spark.readStream.schema(batchInput.schema)
    val src = (if (filesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", filesPerTrigger.toString)
      else reader).parquet(inputDir)
    val q = src.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        serve(b).write.mode("append").parquet(sinkDir)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(sinkDir)
  }

  /** STREAMING corpus drift monitor (round-16 —
    * [[graft.ext.TextAnalysis.tokenDriftAgainst]] per micro-batch
    * against a STANDING [[graft.ext.TextAnalysis.tokenDriftHead]]):
    * the production crawl-quality loop. The baseline head is
    * materialized ONCE like a standing index; each arriving file is
    * one micro-batch whose integer-exact drift table over the
    * corpus's top-k tokens is appended to the sink. Per-batch
    * independence plus the static head make the sink union exactly
    * the per-file one-shot answers, so the oracle recomputes each
    * file's drift from scratch and unions.
    */
  def tokenDriftMonitorStream(
      spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, baseDocs: DataFrame, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val head = graft.ext.TextAnalysis.tokenDriftHead(baseDocs,
      textCol, k)
    head.count(): Unit // build the standing baseline once
    // not [[serveAvailableNow]]: a drift table is k rows even for an
    // EMPTY batch (the head left-joined with nothing is the head with
    // zeros), so the schema-seeding init write must be emptied
    // explicitly or the sink gains a phantom zero-batch table
    val sinkDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_sink/" +
        s"tokdrift_${java.lang.Long.toHexString(
          newDocsDir.hashCode.toLong & 0xffffffffL)}" +
        s"_p${ProcessHandle.current().pid()}"
    val batchInput = spark.read.parquet(newDocsDir)
    graft.ext.TextAnalysis
      .tokenDriftAgainst(head, batchInput.limit(0), textCol)
      .limit(0).write.mode("overwrite").parquet(sinkDir)
    val q = spark.readStream.schema(batchInput.schema)
      .option("maxFilesPerTrigger", "1").parquet(newDocsDir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.ext.TextAnalysis.tokenDriftAgainst(head, b, textCol)
          .write.mode("append").parquet(sinkDir)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(sinkDir)
  }

  /** The ANN twin of [[nearDupIngestStream]]: a STREAM of query
    * vectors served against the standing persisted IVF index
    * ([[graft.sources.IndexStore.writeIvfIndex]] artifacts re-read
    * once, probed per micro-batch). Each query's top-k depends only on
    * its own vector and the static index, so the union over
    * micro-batches IS the one-shot batch answer — the harness row
    * (x_stream_ann_serve) hash-matches the in-memory IVF oracle.
    * `queriesDir` holds parquet rows with the corpus schema
    * (vec_id, embedding, ...); one part file per micro-batch.
    */
  def annServeStream(spark: org.apache.spark.sql.SparkSession,
      queriesDir: String, indexDir: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val (index, cents) = graft.sources.IndexStore
      .readIvfIndex(spark, indexDir)
    serveAvailableNow(spark, queriesDir, filesPerTrigger = 1,
      batch => graft.ext.Similarity.ivfTopKWith(batch, index, cents,
        k, nProbe))
  }

  /** Streaming distribution-drift monitor: micro-batches of
    * monitoring windows scored against a STATIC reference
    * distribution with the exact two-sample KS statistic
    * ([[graft.ext.Profile.ksTwoSample]] — integer CDF
    * cross-multiplication, no binning choice, bit-identical on any
    * engine). `windowsDir` holds parquet `(window_id, v)` rows, one
    * monitoring window per file; each batch computes one KS row PER
    * window_id present in the batch, so window identity comes from
    * the DATA, not the trigger sequence — the union over
    * micro-batches IS the one-shot batch answer regardless of how
    * files map to batches, and the harness row hash-matches the
    * batch-recomputing DuckDB oracle directly.
    *
    * Scale: the reference frequency table is the small side of every
    * batch's full-outer domain merge; per-batch cost is the batch's
    * own hash agg plus a per-window-partitioned CDF window
    * (ksTwoSampleByGroup's enforced per-group `maxDomain` contract).
    * ALL windows in a batch are scored in one grouped pass — no
    * driver-side window-id collect, no per-window job fan.
    *
    * `filesPerTrigger` = 1 is the latency operating point (one window
    * file per micro-batch, per-batch cost at its floor); 0 removes
    * the cap so AvailableNow drains the whole backlog in one batch —
    * the throughput operating point, identical rows (window identity
    * is data-borne), scheduling overhead amortized. Both are
    * harness-measured against the same oracle (x_stream_drift /
    * x_stream_drift_batched).
    *
    * Output: (window_id, n_a, n_b, ks, ks_at) across all batches.
    */
  def driftMonitorStream(spark: org.apache.spark.sql.SparkSession,
      windowsDir: String, reference: DataFrame,
      maxDomain: Long = 2000000L, filesPerTrigger: Int = 1): DataFrame = {
    // one GROUPED KS pass per micro-batch (round-9: the first cut
    // looped ksTwoSample per collected window id — a driver collect
    // plus a jobs-per-window fan the grouped operator doesn't pay;
    // row-for-row identical, asserted in ProfileSpec and by the
    // unchanged per-window DuckDB oracle). r17: the reference is a
    // STANDING baseline — its frequency table is aggregated ONCE and
    // materialized here (the tokenDriftHead treatment), not re-scanned
    // per micro-batch; identical rows (the inline path built exactly
    // this frame each batch). r18: the materialization is paid ONLY
    // when it can amortize — `filesPerTrigger == 0` means AvailableNow
    // drains the whole backlog in ONE micro-batch, so the upfront
    // checkpoint action is pure overhead there (r17 driver:
    // x_stream_drift_batched ×1.26 norm); the single batch inlines the
    // reference aggregate into its own plan instead, exactly the
    // pre-r17 shape. Multi-batch monitors keep the standing artifact.
    val refFreq = graft.ext.Profile.refFrequencies(reference, col("v"))
    val refCounts =
      if (filesPerTrigger == 0) refFreq
      else refFreq.localCheckpoint(eager = true)
    serveAvailableNow(spark, windowsDir, filesPerTrigger, batch =>
      graft.ext.Profile.ksTwoSampleByGroupCounts(batch, col("window_id"),
          col("v"), refCounts, maxDomain)
        .select(col("group_id").as("window_id"), col("n_a"),
          col("n_b"), col("ks"), col("ks_at")))
  }

  /** The production 100 TB ingest loop, closed end to end: micro-batches
    * of NEW documents stream in and are served against the STANDING
    * persisted dedup index — the bucketed tables written once by
    * [[graft.sources.IndexStore.writeDedupIndexBucketed]] — via
    * `foreachBatch`. Per batch, only the batch itself is shingled,
    * minhashed, and shuffled to match the index bucketing; the corpus
    * side reads its co-located splits in place with ZERO exchanges
    * (BucketingSpec/StreamingSpec plan contract), so per-batch cost is
    * the batch's own size, independent of corpus size. Serve-time
    * banding parameters are validated against the index's build-time
    * metadata (a mismatch silently reports no duplicates — IndexStore
    * fails loudly instead).
    *
    * Batching is invisible in the result: each new id's verified pairs
    * depend only on that id's shingles and the static index, so the
    * union over micro-batches IS the one-shot batch answer — the
    * harness proves it by hash-matching the streamed run against the
    * in-memory batch path's oracle (x_stream_dedup_index shares
    * x_dedup_incremental's oracle verbatim), and StreamingSpec asserts
    * streamed ≡ batch on an independent split.
    *
    * `newDocsDir` holds parquet `(id, toks)` rows; each part file
    * arrives as its own micro-batch (`maxFilesPerTrigger = 1`).
    * Output: (new_id, corpus_id, jaccard) over all batches.
    */
  def nearDupIngestStream(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, threshold: Double = 0.7,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3,
      maxBucketSize: Int = 0): DataFrame = {
    val (sh, bandIdx) = graft.sources.IndexStore
      .readDedupIndexBucketed(spark, indexTable, numHashes, bands, k)
    serveAvailableNow(spark, newDocsDir, filesPerTrigger = 1,
      batch => graft.ext.Dedup.nearDuplicatesAgainstIndex(batch, sh,
        bandIdx, threshold, numHashes, bands, k, maxBucketSize))
  }

  /** The GATED production ingest loop — the composition
    * x_pipeline_train runs in batch, STREAMED: per micro-batch of
    * `(doc_id, text)` documents, each document is (1) screened against
    * the standing bucketed MinHash corpus index (near-dup gate: any
    * verified pair ≥ `threshold` rejects it), (2) quality / language /
    * minimum-length gated, and only the survivors emit
    * `(doc_id, n_tokens, shard)` — the admit record a downstream
    * packing stage consumes. The index is STATIC and every gate is a
    * pure per-document function, so the union over micro-batches IS
    * the one-shot batch answer regardless of the file→batch mapping —
    * x_stream_pipeline's oracle recomputes the dedup screen, every
    * gate, and the shard assignment in SQL and hash-matches the
    * rollup including a doc-id checksum (WHICH documents survived,
    * not just how many).
    */
  def gatedIngestStream(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, threshold: Double,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3,
      minQuality: Double = 0.7, minTokens: Int = 10,
      lang: String = "en", salt: String = "",
      nShards: Int = 8): DataFrame = {
    val (sh, bandIdx) = graft.sources.IndexStore
      .readDedupIndexBucketed(spark, indexTable, numHashes, bands, k)
    serveAvailableNow(spark, newDocsDir, filesPerTrigger = 1, batch =>
      admitRecords(gatedSurvivors(batch, sh, bandIdx, None, threshold,
        numHashes, bands, k, minQuality, minTokens, lang), salt, nShards))
  }

  /** The gated ingests' one screen: documents with a verified near-dup
    * pair ≥ `threshold` against (sh, bandIdx) are rejected, then those
    * whose id is in `takenIds` (the identity gate, when given), then
    * the quality / language / minimum-length gates.
    */
  private def gatedSurvivors(b: DataFrame, sh: DataFrame,
      bandIdx: DataFrame, takenIds: Option[DataFrame], threshold: Double,
      numHashes: Int, bands: Int, k: Int, minQuality: Double,
      minTokens: Int, lang: String): DataFrame = {
    import graft.ext.{Dedup, TextAnalysis}
    val dupIds = Dedup.nearDuplicatesAgainstIndex(docToks(b),
        sh, bandIdx, threshold, numHashes, bands, k)
      .select(col("new_id").as("doc_id")).distinct()
    val fresh = b.join(dupIds, Seq("doc_id"), "left_anti")
    takenIds.fold(fresh)(fresh.join(_, Seq("doc_id"), "left_anti"))
      .filter(TextAnalysis.qualityScore(col("text")) >= minQuality &&
        TextAnalysis.langId(col("text")) === lang &&
        TextAnalysis.tokenCount(col("text")) >= minTokens)
  }

  /** `(doc_id, text)` documents as the `(id, toks)` frame the MinHash
    * index screens and admits.
    */
  private def docToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
      graft.ext.TextAnalysis.tokens(col("text")).as("toks"))

  /** The admit record a downstream packing stage consumes:
    * `(doc_id, n_tokens, shard)`.
    */
  private def admitRecords(sv: DataFrame, salt: String,
      nShards: Int): DataFrame =
    sv.select(col("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
        .as("n_tokens"),
      (graft.ext.Dedup.hash48(concat(lit(salt),
        col("doc_id").cast("string"))) % nShards).as("shard"))

  /** The gated runs' one check-then-admit loop: one AvailableNow run
    * over `newDocsDir`, one file per micro-batch. Each batch's
    * `survivors` are cached, sunk as admit records to `sinkDir`
    * strictly before `admit` receives their `(id, toks)` frame, so the
    * check never sees the batch's own admissions. An absent sink is
    * first created empty with the record schema.
    */
  private def gatedLoop(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, checkpointDir: String, sinkDir: String,
      salt: String, nShards: Int, survivors: DataFrame => DataFrame)(
      admit: DataFrame => Unit): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val batchInput = spark.read.parquet(newDocsDir)
    if (!new java.io.File(sinkDir).exists())
      admitRecords(survivors(batchInput.limit(0)), salt, nShards)
        .write.mode("overwrite").parquet(sinkDir)
    val reader = spark.readStream.schema(batchInput.schema)
      .option("maxFilesPerTrigger", "1").parquet(newDocsDir)
    val writer0 = reader.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val sv = survivors(b).cache()
        try {
          admitRecords(sv, salt, nShards)
            .write.mode("append").parquet(sinkDir)
          admit(docToks(sv))
        } finally { sv.unpersist(blocking = false); () }
      }
    val writer = if (checkpointDir == null) writer0
      else writer0.option("checkpointLocation", checkpointDir)
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
  }

  /** The gated composition with a GROWING index — check-then-admit
    * where ADMISSION IS GATED: per micro-batch, documents are screened
    * against the standing LIVE MinHash index (re-read per batch, so
    * earlier admissions are visible) and quality/language/length
    * gated; the SURVIVORS — computed once and cached for the batch —
    * are both sunk as admit records and admitted into the index. A
    * duplicate arriving in a later batch than its source is therefore
    * rejected even when BOTH are new documents — the stateful arc
    * [[gatedIngestStream]]'s static index cannot express. Within one
    * micro-batch the check runs strictly before any of the batch's own
    * admissions (a batch never collides with itself), and with a
    * checkpoint the run is resumable; a re-processed batch would
    * re-admit its survivors' shingle rows, double every later verify
    * join against them, and (via the admit sink) double-count the
    * batch's admit records — x_stream_pipeline_admit's checksum
    * catches either. Like [[uniqueIngestRun]], a caller WITHOUT a
    * checkpoint gets fresh-run semantics only if it also supplies a
    * fresh sink and a freshly-built index — the harness rows wipe all
    * three per invocation; resumable ingestion is this function WITH
    * the checkpoint.
    */
  def gatedIngestRun(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, threshold: Double,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3,
      minQuality: Double = 0.7, minTokens: Int = 10,
      lang: String = "en", salt: String = "", nShards: Int = 8,
      checkpointDir: String = null, sinkDir: String): Unit = {
    gatedLoop(spark, newDocsDir, checkpointDir, sinkDir, salt, nShards,
      b => {
        val (sh, bandIdx) = graft.sources.IndexStore
          .readDedupIndexBucketed(spark, indexTable, numHashes, bands, k)
        gatedSurvivors(b, sh, bandIdx, None, threshold, numHashes, bands,
          k, minQuality, minTokens, lang)
      }) { toks =>
      graft.sources.IndexStore.appendDedupIndexBucketed(toks, indexTable,
        numHashes, bands, k)
      Seq(s"${indexTable}_sh", s"${indexTable}_bands")
        .foreach(spark.catalog.refreshTable)
    }
  }

  /** [[gatedIngestRun]] over the VERSIONED MinHash family with a
    * per-batch FREEZE (round-14 capstone, re-based onto the
    * gen-manifest store in round-15 — the auditable-ingest training
    * pipeline): each micro-batch is screened against the current
    * version, its survivors sunk strictly before admission, and the
    * admit's OWN atomic manifest commit is the freeze — version k+1
    * is exactly "the corpus after batch k", time-travelable for as
    * long as retention keeps it: the reproducibility object a
    * training run pins ("trained against the corpus as of version N")
    * falls out of the ingest loop itself, with no separate snapshot
    * step and no per-version catalog tables. Cache invalidation is
    * structural: every batch resolves a FRESH manifest (the gen set
    * moved), and the generation writes refresh the member tables'
    * listings. Restart safety is [[gatedIngestRun]]'s: re-processing
    * a batch would re-admit its survivors and double their sink
    * records.
    *
    * Growth is BOUNDED by two cadence knobs (round-15 directive #4 —
    * a per-batch freeze otherwise accumulates one manifest version and
    * one generation per batch forever): `autoCompactGens` > 0 runs the
    * size-tiered generation merge after each admit whenever the
    * manifest references more than that many generations (O(small
    * generations) cost, big ones referenced untouched), and
    * `autoVacuumRetain` > 0 keeps only the last N versions — vacuumed
    * freezes fail loudly on time travel, retained ones still serve
    * exactly (spec-pinned in StreamingSpec). Both default OFF so the
    * audit-history rows keep their pure per-batch version chain.
    *
    * The in-loop vacuum runs with `vacuumOrphanAgeMs` as its orphan
    * age gate. The default 0 asserts this loop is the family's SOLE
    * writer (true of the loop itself — one micro-batch at a time);
    * a deployment that lets OTHER appenders race the same family
    * must pass an age above the longest plausible write, or their
    * just-claimed in-flight generations are collectable the moment
    * they appear ([[graft.sources.BucketedManifest.vacuum]]'s
    * age-gate contract).
    */
  def gatedIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, threshold: Double,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3,
      minQuality: Double = 0.7, minTokens: Int = 10,
      lang: String = "en", salt: String = "", nShards: Int = 8,
      checkpointDir: String = null, sinkDir: String,
      autoCompactGens: Int = 0, autoVacuumRetain: Int = 0,
      vacuumOrphanAgeMs: Long = 0L): Unit = {
    gatedLoop(spark, newDocsDir, checkpointDir, sinkDir, salt, nShards,
      b => {
        val (sh, bandIdx) = graft.sources.IndexStore
          .readDedupIndexBucketedVersioned(spark, indexTable, numHashes,
            bands, k)
        gatedSurvivors(b, sh, bandIdx, None, threshold, numHashes, bands,
          k, minQuality, minTokens, lang)
      }) { toks =>
      // the append's manifest commit IS the per-batch freeze on the
      // gen-manifest store: version k+1 = the corpus after batch k, no
      // separate snapshot step
      graft.sources.IndexStore.appendDedupIndexBucketedVersioned(toks,
        indexTable, numHashes, bands, k): Unit
      if (autoCompactGens > 0)
        graft.sources.IndexStore.maybeCompactDedupIndexBucketedVersioned(
          spark, indexTable, autoCompactGens): Unit
      if (autoVacuumRetain > 0)
        graft.sources.BucketedManifest.vacuum(spark, indexTable,
          retain = autoVacuumRetain, orphanMinAgeMs = vacuumOrphanAgeMs)
    }
  }

  /** [[gatedIngestRunVersioned]] over the MULTI-INDEX pipeline family
    * ([[graft.sources.IndexStore.writePipelineIndexVersioned]] —
    * round-15 capstone): each micro-batch runs BOTH gates — the
    * near-dup CONTENT gate against the MinHash members and a
    * duplicate-id IDENTITY gate against the key member (a re-sent
    * document id is rejected even when its text is fresh — the crawl
    * re-fetch case the content gate is blind to) — plus the
    * quality/language/length screens, sinks the survivors strictly
    * before admission, and admits them into ALL THREE members with
    * ONE atomic manifest commit. The two indexes therefore can never
    * disagree about the admitted set, across any crash point: either
    * the whole batch's commit exists or none of it does.
    *
    * Growth is BOUNDED by the same two cadence knobs as
    * [[gatedIngestRunVersioned]] (round-16 directive #2 — this was
    * the last ingest loop accumulating one generation per member per
    * batch forever): `autoCompactGens` > 0 runs
    * [[graft.sources.IndexStore.maybeCompactPipelineIndexVersioned]]
    * after each admit — ONE tiered merge across all three members in
    * ONE manifest commit, the key member re-aggregated through the
    * LSM algebra, big generations referenced untouched — and
    * `autoVacuumRetain` > 0 keeps only the last N versions (vacuumed
    * freezes fail loudly on time travel, retained ones serve
    * exactly). Both default OFF so the capstone row keeps its pure
    * per-batch version chain; the admitted set is invariant under
    * any knob setting (compaction and retention are layout-only —
    * spec-pinned in StreamingSpec, and the bounded oracle row shares
    * the unbounded row's oracle verbatim).
    *
    * `vacuumOrphanAgeMs` is the in-loop vacuum's orphan age gate —
    * default 0 asserts this loop is the family's sole writer; pass an
    * age above the longest plausible write if other appenders may
    * race the family (see [[gatedIngestRunVersioned]]).
    */
  def gatedIngestRunMulti(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, threshold: Double,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3,
      minQuality: Double = 0.7, minTokens: Int = 10,
      lang: String = "en", salt: String = "", nShards: Int = 8,
      checkpointDir: String = null, sinkDir: String,
      autoCompactGens: Int = 0, autoVacuumRetain: Int = 0,
      vacuumOrphanAgeMs: Long = 0L): Unit = {
    gatedLoop(spark, newDocsDir, checkpointDir, sinkDir, salt, nShards,
      b => {
        val (sh, bandIdx) = graft.sources.IndexStore
          .readDedupIndexBucketedVersioned(spark, indexTable, numHashes,
            bands, k)
        // the identity gate: ids already counted in the key member
        val takenIds = graft.sources.IndexStore
          .readPipelineKeyIndex(spark, indexTable)
          .groupBy("id").agg(sum(col("n")).as("n"))
          .filter(col("n") > 0)
          .select(col("id").as("doc_id"))
        gatedSurvivors(b, sh, bandIdx, Some(takenIds), threshold,
          numHashes, bands, k, minQuality, minTokens, lang)
      }) { toks =>
      graft.sources.IndexStore.appendPipelineIndexVersioned(toks,
        indexTable, numHashes, bands, k): Unit
      if (autoCompactGens > 0)
        graft.sources.IndexStore.maybeCompactPipelineIndexVersioned(spark,
          indexTable, autoCompactGens): Unit
      if (autoVacuumRetain > 0)
        graft.sources.BucketedManifest.vacuum(spark, indexTable,
          retain = autoVacuumRetain, orphanMinAgeMs = vacuumOrphanAgeMs)
    }
  }

  /** The SUBSTRING twin of [[nearDupIngestStream]]: a stream of
    * `(id, toks)` documents screened per micro-batch against the
    * standing bucketed gram index
    * ([[graft.sources.IndexStore.writeSubstringIndexBucketed]], read
    * once — static). Each document's shared runs depend only on its
    * own grams and the index, and the per-pair rollup aggregates
    * within one document's rows, so the union over micro-batches IS
    * the one-shot batch answer — x_stream_substring shares
    * x_dedup_substring_served's oracle verbatim.
    */
  def substringIngestStream(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, minRunLen: Int,
      k: Int): DataFrame = {
    val grams = graft.sources.IndexStore
      .readSubstringIndexBucketed(spark, indexTable, k)
    serveAvailableNow(spark, newDocsDir, filesPerTrigger = 1,
      batch => graft.ext.Dedup.sharedSubstringRunsAgainst(batch, grams,
        minRunLen, k))
  }

  /** The substring family's RESUMABLE check-then-admit run: per
    * micro-batch, screen against the standing gram index (re-read per
    * batch so earlier admits are visible), sink the per-pair rollups,
    * then admit the batch's grams
    * ([[graft.sources.IndexStore.appendSubstringIndexBucketed]]).
    * Same restart proof as the other families: a re-admitted batch
    * duplicates its gram rows, every later probe's diagonal recovers
    * each matched position twice, and the chained run rows double.
    */
  def substringIngestRun(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, minRunLen: Int, k: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newDocsDir, checkpointDir, sinkDir,
      check = b => graft.ext.Dedup.sharedSubstringRunsAgainst(b,
        graft.sources.IndexStore.readSubstringIndexBucketed(spark,
          indexTable, k), minRunLen, k),
      admit = b => graft.sources.IndexStore
        .appendSubstringIndexBucketed(b, indexTable, k),
      refreshTables = Seq(s"${indexTable}_grams"))

  /** One RESUMABLE AvailableNow run of the near-dup CHECK-THEN-ADMIT
    * loop (round-13 directive #5 — [[uniqueIngestRun]]'s restart arc
    * for the MinHash index): each micro-batch of `(id, toks)` docs is
    * served against the STANDING bucketed index (re-read per batch so
    * earlier admits are visible), its pairs appended to `sinkDir`, and
    * the batch then ADMITTED
    * ([[graft.sources.IndexStore.appendDedupIndexBucketed]]). With a
    * checkpoint, a later invocation processes only files that arrived
    * since — and re-processing an already-admitted batch is exactly
    * what the oracle catches: the re-admit duplicates the batch's
    * `_sh`/`_bands` rows, every later probe's verify join then emits
    * its pairs against those ids TWICE, and the row count misses.
    */
  def nearDupIngestRun(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, checkpointDir: String,
      sinkDir: String, threshold: Double = 0.7, numHashes: Int = 32,
      bands: Int = 16, k: Int = 3): Unit =
    checkAdmitRun(spark, newDocsDir, checkpointDir, sinkDir,
      check = b => {
        val (sh, bandIdx) = graft.sources.IndexStore
          .readDedupIndexBucketed(spark, indexTable, numHashes, bands, k)
        graft.ext.Dedup.nearDuplicatesAgainstIndex(b, sh, bandIdx,
          threshold, numHashes, bands, k)
      },
      admit = b => graft.sources.IndexStore
        .appendDedupIndexBucketed(b, indexTable, numHashes, bands, k),
      refreshTables =
        Seq(s"${indexTable}_sh", s"${indexTable}_bands"))

  /** [[nearDupIngestRun]] over the VERSIONED MinHash family
    * ([[graft.sources.BucketedManifest]] — the gen-manifest streaming
    * arc): checks resolve the CURRENT manifest of both halves per
    * micro-batch, admits commit new generations atomically (standing
    * generations untouched — captured listings stay valid), and a
    * versioned COMPACTION interleaved between runs publishes merged
    * generations without touching what this stream or any reader
    * holds. Check semantics, restart safety, and the
    * admit-exactly-once proof are identical to the flat-family run's —
    * x_stream_dedup_versioned shares x_dedup_index_append's oracle
    * verbatim.
    */
  def nearDupIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, checkpointDir: String,
      sinkDir: String, threshold: Double = 0.7, numHashes: Int = 32,
      bands: Int = 16, k: Int = 3): Unit =
    checkAdmitRun(spark, newDocsDir, checkpointDir, sinkDir,
      check = b => {
        val (sh, bandIdx) = graft.sources.IndexStore
          .readDedupIndexBucketedVersioned(spark, indexTable,
            numHashes, bands, k)
        graft.ext.Dedup.nearDuplicatesAgainstIndex(b, sh, bandIdx,
          threshold, numHashes, bands, k)
      },
      admit = b => graft.sources.IndexStore
        .appendDedupIndexBucketedVersioned(b, indexTable, numHashes,
          bands, k): Unit,
      refreshTables = Seq(s"${indexTable}_sh", s"${indexTable}_bands"))

  /** [[substringIngestRun]] over the VERSIONED gram family — on the
    * [[graft.sources.BucketedManifest]] gen-manifest store since
    * round 16 (round-15 ran it on the pointer store): checks resolve
    * a FRESH manifest per micro-batch (earlier admits visible), each
    * admit commits its own manifest version, and a versioned
    * compaction interleaved between runs publishes merged generations
    * without touching what a captured frame holds. Shares the
    * swap-family run's oracle verbatim. The member table name is
    * stable across versions (the manifest, not a live-version pointer,
    * carries the state), so the refresh target is static.
    */
  def substringIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, minRunLen: Int, k: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newDocsDir, checkpointDir, sinkDir,
      check = b => graft.ext.Dedup.sharedSubstringRunsAgainst(b,
        graft.sources.IndexStore.readSubstringIndexBucketedVersioned(
          spark, indexTable, k), minRunLen, k),
      admit = b => graft.sources.IndexStore
        .appendSubstringIndexBucketedVersioned(b, indexTable, k): Unit,
      refreshTables = Seq(s"${indexTable}_grams"))

  /** [[editDistanceIngestRun]] over the VERSIONED three-table PassJoin
    * family — [[substringIngestRunVersioned]]'s contract, all three
    * live versions resolved at run start.
    */
  def editDistanceIngestRunVersioned(
      spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, d: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newDocsDir, checkpointDir, sinkDir,
      check = b => {
        val (segs, str, bylen) = graft.sources.IndexStore
          .readEditIndexBucketedVersioned(spark, indexTable, d)
        graft.ext.Dedup.editDistanceAgainst(b, "id",
          org.apache.spark.sql.functions.col("s"), segs, str, bylen, d)
      },
      admit = b => graft.sources.IndexStore
        .appendEditIndexBucketedVersioned(b, indexTable, d): Unit,
      refreshTables = Seq("_segs", "_str", "_bylen")
        .map(sfx => s"$indexTable$sfx"))

  /** [[phashIngestRun]] over the VERSIONED band family —
    * [[substringIngestRunVersioned]]'s contract for the image index.
    */
  def phashIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newImagesDir: String, indexTable: String, bands: Int,
      maxDist: Int, checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newImagesDir, checkpointDir, sinkDir,
      check = b => graft.ext.Multimodal.phashNearDuplicatesAgainst(
        graft.ext.Multimodal.perceptualHash(b)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("dhash")),
        graft.sources.IndexStore.readPhashIndexBucketedVersioned(spark,
          indexTable, bands), bands, maxDist),
      admit = b => graft.sources.IndexStore
        .appendPhashIndexBucketedVersioned(
          graft.ext.Multimodal.perceptualHash(b)
            .select(org.apache.spark.sql.functions.col("id"),
              org.apache.spark.sql.functions.col("dhash")),
          indexTable, bands): Unit,
      refreshTables = Seq(s"${indexTable}_bands"))

  /** [[uniqueIngestRun]] over the VERSIONED key index — on the
    * gen-manifest store ([[graft.sources.BucketedManifest]], round-15:
    * the LSM family on the table format): every admitted batch is an
    * atomic versioned commit, checks resolve the current manifest per
    * micro-batch, raw split rows merge at check time as in the swap
    * twin.
    */
  def uniqueIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newKeysDir: String, indexTable: String, keys: Seq[String],
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newKeysDir, checkpointDir, sinkDir,
      check = b => graft.check.Checks.uniqueAgainstIndex(b,
        graft.sources.IndexStore.readKeyIndexBucketedVersioned(spark,
          indexTable, keys), keys),
      admit = b => graft.sources.IndexStore
        .appendKeyIndexBucketedVersioned(b, indexTable, keys): Unit,
      refreshTables = Seq(s"${indexTable}_keys"))

  /** The edit-distance twin of [[nearDupIngestRun]]: resumable
    * check-then-admit over the PassJoin index — per batch, `(id, s)`
    * strings are screened against the standing three-table index and
    * then admitted into all three ([[graft.sources.IndexStore
    * .appendEditIndexBucketed]]). Same restart proof: a re-admitted
    * batch duplicates its `_str`/`_segs` rows and every later probe's
    * verify join double-reports against those ids.
    */
  /** The IMAGE twin of [[nearDupIngestRun]]: resumable check-then-admit
    * over the pHash index — per batch, `(id, blob)` raw bytes are
    * decoded + dHashed + banded, screened against the standing band
    * table, and then admitted
    * ([[graft.sources.IndexStore.appendPhashIndexBucketed]]). Same
    * restart proof as the other families: a re-admitted batch
    * duplicates its band rows and every later probe double-reports
    * against those ids.
    */
  def phashIngestRun(spark: org.apache.spark.sql.SparkSession,
      newImagesDir: String, indexTable: String, bands: Int,
      maxDist: Int, checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newImagesDir, checkpointDir, sinkDir,
      check = b => graft.ext.Multimodal.phashNearDuplicatesAgainst(
        graft.ext.Multimodal.perceptualHash(b)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("dhash")),
        graft.sources.IndexStore.readPhashIndexBucketed(spark,
          indexTable, bands), bands, maxDist),
      admit = b => graft.sources.IndexStore.appendPhashIndexBucketed(
        graft.ext.Multimodal.perceptualHash(b)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("dhash")),
        indexTable, bands),
      refreshTables = Seq(s"${indexTable}_bands"))

  /** Check-then-admit VECTOR ingestion — the similarity family's
    * stateful streaming arc (the [[uniqueIngestRun]] shape over the
    * dir-based IVF artifact): per micro-batch the arriving vectors are
    * first CHECKED against the standing LIVE index (probe-routed
    * cosine top-k — the embedding near-dup gate a training-data
    * pipeline runs before admitting new documents), the check
    * materialized to the sink STRICTLY BEFORE the batch is ADMITTED
    * ([[graft.sources.IndexStore.appendIvfIndex]]: only the delta is
    * normalized and assigned, against the artifact's own persisted
    * centroids). The artifact is re-read inside the check closure, so
    * each batch's fresh path read lists the files earlier batches
    * appended — admissions are visible to the next batch with no
    * catalog to refresh. With a checkpoint the run is RESUMABLE: a
    * re-processed batch would append duplicate (id, nvec, list_id)
    * rows whose doubled scored candidates occupy two bounded-top-k
    * slots and push the true k-th neighbor out — x_stream_ivf_resume
    * detects exactly that by hash-matching the final artifact's serve
    * against x_sim_ivf_topk's full-corpus oracle.
    */
  def ivfIngestRun(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int, nProbe: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => {
        val (index, cents) = graft.sources.IndexStore
          .readIvfIndexLive(spark, indexDir)
        graft.ext.Similarity.ivfTopKWith(b, index, cents, k, nProbe)
      },
      admit = b => graft.sources.IndexStore.appendIvfIndex(b, indexDir),
      refreshTables = Seq.empty)

  /** [[ivfIngestRun]] over the VERSIONED IVF artifact: every admitted
    * micro-batch PUBLISHES a new manifest version
    * ([[graft.sources.IndexStore.appendIvfIndexVersioned]]) instead of
    * appending files into a mutable leaf — so the ingest history
    * itself becomes time-travelable (version N = the corpus after
    * batch N−1 admitted; as-of reads replay any point of the stream)
    * and concurrent serving readers keep consistent snapshots while
    * the stream runs. Check semantics, restart safety, and the
    * admit-exactly-once proof are identical to the flat run's; the
    * versioned twist is proven in SimArtifactLifecycleSpec (version
    * count = 1 + admitted batches, as-of replay equals the prefix
    * corpus).
    */
  /** `autoCompactBatches > 0` bounds manifest growth (round-14
    * directive #6): after an admit, when the current manifest
    * references more than that many batch dirs,
    * [[graft.sources.VersionedFlat.maybeCompact]] publishes one merged
    * batch — so a long-lived ingest stream's read plans keep O(1)
    * multi-path roots instead of one per ever-admitted batch (the
    * measured planning-cost table is in PLANS.md §Round 14). 0 = off.
    */
  def ivfIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int, nProbe: Int,
      checkpointDir: String, sinkDir: String,
      autoCompactBatches: Int = 0): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => {
        val (index, cents) = graft.sources.IndexStore
          .readIvfIndexVersionedLive(spark, indexDir)
        graft.ext.Similarity.ivfTopKWith(b, index, cents, k, nProbe)
      },
      admit = b => {
        graft.sources.IndexStore.appendIvfIndexVersioned(b, indexDir)
        if (autoCompactBatches > 0)
          graft.sources.VersionedFlat.maybeCompact(spark,
            s"$indexDir/enc", autoCompactBatches): Unit
      },
      refreshTables = Seq.empty)

  /** [[pqIngestRun]] over the VERSIONED PQ store — with
    * [[int8IngestRunVersioned]] and [[ivfPqIngestRunVersioned]] this
    * closes the ingest matrix completely (round-15): every flat
    * similarity artifact now has BOTH a flat and a versioned
    * check-then-admit arc. Each admitted micro-batch publishes a
    * manifest version (the ingest history time-travels); checks
    * ADC-score against the current version's codes re-read per batch;
    * the codebooks are re-read, never re-fitted. `autoCompactBatches`
    * is [[ivfIngestRunVersioned]]'s manifest-growth cadence.
    */
  def pqIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int,
      checkpointDir: String, sinkDir: String,
      autoCompactBatches: Int = 0): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => graft.ext.Similarity.pqTopKFromCodes(b,
        graft.sources.IndexStore.readPqCodesVersionedLive(spark,
          indexDir), k,
        graft.sources.IndexStore.readPqModel(spark, indexDir)),
      admit = b => {
        graft.sources.IndexStore.appendPqIndexVersioned(b, indexDir)
        if (autoCompactBatches > 0)
          graft.sources.VersionedFlat.maybeCompact(spark,
            s"$indexDir/codes", autoCompactBatches): Unit
      },
      refreshTables = Seq.empty)

  /** [[int8IngestRun]] over the VERSIONED int8 store — no model leaf;
    * each batch quantizes and publishes a manifest version.
    */
  def int8IngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int,
      checkpointDir: String, sinkDir: String,
      autoCompactBatches: Int = 0): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => graft.ext.Similarity.quantizedTopKFromIndex(b,
        graft.sources.IndexStore.readInt8IndexVersioned(spark,
          indexDir), k),
      admit = b => {
        graft.sources.IndexStore.appendInt8IndexVersioned(b, indexDir)
        if (autoCompactBatches > 0)
          graft.sources.VersionedFlat.maybeCompact(spark, indexDir,
            autoCompactBatches): Unit
      },
      refreshTables = Seq.empty)

  /** [[ivfPqIngestRun]] over the VERSIONED composed store — checks
    * probe-route and ADC-score against the current version; admits
    * assign AND encode against both persisted model halves and publish
    * a manifest version.
    */
  def ivfPqIngestRunVersioned(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int, nProbe: Int,
      checkpointDir: String, sinkDir: String,
      autoCompactBatches: Int = 0): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => {
        val (enc, cents) = graft.sources.IndexStore
          .readIvfPqIndexVersionedLive(spark, indexDir)
        graft.ext.Similarity.ivfPqTopKFromIndex(b, enc, cents,
          graft.sources.IndexStore.readPqModel(spark, indexDir), k,
          nProbe)
      },
      admit = b => {
        graft.sources.IndexStore.appendIvfPqIndexVersioned(b, indexDir)
        if (autoCompactBatches > 0)
          graft.sources.VersionedFlat.maybeCompact(spark,
            s"$indexDir/enc", autoCompactBatches): Unit
      },
      refreshTables = Seq.empty)

  /** Check-then-admit ingestion for the PQ code artifact (round-14
    * directive #5 — the [[ivfIngestRun]] shape for the product-
    * quantized family, previously the only similarity artifact without
    * a streaming admission arc): per micro-batch the arriving vectors
    * are ADC-scored against the standing LIVE code table (codes re-read
    * per batch so earlier admissions are visible; the codebook MODEL is
    * re-read too — bounded m·ks rows — and never re-fitted), the check
    * sunk STRICTLY BEFORE the batch is admitted
    * ([[graft.sources.IndexStore.appendPqIndex]]: the delta encoded
    * against the artifact's own persisted codebooks). With a checkpoint
    * the run is RESUMABLE: a re-processed batch would append duplicate
    * code rows whose doubled candidates occupy two bounded-top-k slots
    * — x_stream_pq_ingest catches that by hash-matching the final
    * artifact's serve against x_sim_pq's full-corpus fitted-literal
    * oracle.
    */
  def pqIngestRun(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => graft.ext.Similarity.pqTopKFromCodes(b,
        graft.sources.IndexStore.readPqCodesLive(spark, indexDir), k,
        graft.sources.IndexStore.readPqModel(spark, indexDir)),
      admit = b => graft.sources.IndexStore.appendPqIndex(b, indexDir),
      refreshTables = Seq.empty)

  /** Check-then-admit ingestion for the int8 artifact (round-15
    * directive #5 — with [[ivfPqIngestRun]] the last two similarity
    * artifacts without streaming admission arcs): int8 has NO model
    * leaf at all, so admission just quantizes the batch (pure
    * per-vector scales — [[graft.sources.IndexStore.appendInt8Index]])
    * and the check scores against the standing LIVE decoded frame,
    * re-read per batch so earlier admissions are visible. Check sunk
    * STRICTLY BEFORE the admit; resumable via checkpoint
    * (x_stream_int8_ingest hash-matches the final artifact's serve
    * against x_sim_quantized's full-corpus oracle — a dropped or
    * doubled admission misses it).
    */
  def int8IngestRun(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => graft.ext.Similarity.quantizedTopKFromIndex(b,
        graft.sources.IndexStore.readInt8IndexLive(spark, indexDir), k),
      admit = b => graft.sources.IndexStore.appendInt8Index(b, indexDir),
      refreshTables = Seq.empty)

  /** Check-then-admit ingestion for the composed IVF-PQ artifact:
    * per micro-batch the arriving vectors are probe-routed and
    * ADC-scored against the standing live (id, list_id, codes) table
    * (re-read per batch), then admitted assigned AND encoded against
    * the artifact's own persisted model halves — centroids and
    * codebooks re-read, never re-fitted
    * ([[graft.sources.IndexStore.appendIvfPqIndex]]). Check sunk
    * strictly before the admit; resumable via checkpoint
    * (x_stream_ivfpq_ingest shares x_sim_ivf_pq's fitted-literal
    * dynamic oracle).
    */
  def ivfPqIngestRun(spark: org.apache.spark.sql.SparkSession,
      newVecsDir: String, indexDir: String, k: Int, nProbe: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newVecsDir, checkpointDir, sinkDir,
      check = b => {
        val (enc, cents) = graft.sources.IndexStore
          .readIvfPqIndexLive(spark, indexDir)
        graft.ext.Similarity.ivfPqTopKFromIndex(b, enc, cents,
          graft.sources.IndexStore.readPqModel(spark, indexDir), k,
          nProbe)
      },
      admit = b =>
        graft.sources.IndexStore.appendIvfPqIndex(b, indexDir),
      refreshTables = Seq.empty)

  def editDistanceIngestRun(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, d: Int,
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newDocsDir, checkpointDir, sinkDir,
      check = b => {
        val (segs, str, bylen) = graft.sources.IndexStore
          .readEditIndexBucketed(spark, indexTable, d)
        graft.ext.Dedup.editDistanceAgainst(b, "id",
          org.apache.spark.sql.functions.col("s"), segs, str, bylen, d)
      },
      admit = b => graft.sources.IndexStore
        .appendEditIndexBucketed(b, indexTable, d),
      refreshTables = Seq("_segs", "_str", "_bylen")
        .map(s => s"$indexTable$s"))

  /** The edit-distance twin of [[nearDupIngestStream]]: a STREAM of
    * `(id, s)` documents screened per micro-batch against the standing
    * bucketed PassJoin index
    * ([[graft.sources.IndexStore.writeEditIndexBucketed]] artifacts
    * re-read once). Each document's matches depend only on its own
    * string and the static index, so the union over micro-batches IS
    * the one-shot batch answer — x_stream_editdist shares
    * x_dedup_editdist_served's oracle verbatim.
    */
  def editDistanceIngestStream(spark: org.apache.spark.sql.SparkSession,
      newDocsDir: String, indexTable: String, d: Int): DataFrame = {
    val (segs, str, bylen) = graft.sources.IndexStore
      .readEditIndexBucketed(spark, indexTable, d)
    serveAvailableNow(spark, newDocsDir, filesPerTrigger = 1,
      batch => graft.ext.Dedup.editDistanceAgainst(batch, "id",
        org.apache.spark.sql.functions.col("s"), segs, str, bylen, d))
  }

  /** The IMAGE twin: a stream of `(id, blob)` raw image bytes,
    * decoded + dHashed + banded PER MICRO-BATCH and joined against the
    * standing bucketed pHash index — the codec seam runs inside the
    * stream, the corpus side reads in place. Shares
    * x_mm_phash_served's oracle verbatim (static index, per-item
    * independence).
    */
  def phashIngestStream(spark: org.apache.spark.sql.SparkSession,
      newImagesDir: String, indexTable: String, bands: Int = 8,
      maxDist: Int = 7): DataFrame = {
    val idx = graft.sources.IndexStore
      .readPhashIndexBucketed(spark, indexTable, bands)
    serveAvailableNow(spark, newImagesDir, filesPerTrigger = 1,
      batch => graft.ext.Multimodal.phashNearDuplicatesAgainst(
        graft.ext.Multimodal.perceptualHash(batch)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("dhash")),
        idx, bands, maxDist))
  }

  /** STREAMING uniqueness over a growing table: each micro-batch is
    * CHECKED against the standing key index
    * ([[graft.check.Checks.uniqueAgainstIndex]]) and then ADMITTED
    * into it ([[graft.sources.IndexStore.appendKeyIndexBucketed]]),
    * so duplicates arriving in two different batches are caught when
    * the second lands — the stateful arc nearDupIngestStream's static
    * index can't express. The check is materialized to the sink
    * STRICTLY BEFORE the append (and the index is re-read per batch
    * so appends are visible to the next one): appending first would
    * make a batch collide with itself.
    *
    * Per-batch rows depend on arrival order (n_existing is history-
    * so-far), so the returned frame aggregates to the order-invariant
    * form: for every key the stream touched,
    * `n_total = max over batches of (n_new + n_existing)` — the
    * batch cumulative peaks at the key's LAST occurrence, where it
    * equals the key's TOTAL count in history ∪ stream. Keys with
    * `n_total > 1` are exactly the uniqueness violations the stream
    * introduced or re-hit, whatever the micro-batch decomposition —
    * which is what makes the row oracle-checkable: DuckDB recomputes
    * total counts over history ∪ stream with no notion of batches.
    * Output: (key…, n_total).
    */
  def uniqueIngestStream(spark: org.apache.spark.sql.SparkSession,
      newKeysDir: String, indexTable: String,
      keys: Seq[String]): DataFrame = {
    val sinkDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_sink/" +
        s"u${java.lang.Long.toHexString(newKeysDir.hashCode.toLong & 0xffffffffL)}" +
        s"_p${ProcessHandle.current().pid()}"
    // fresh-run semantics (round-13, ADVICE): without a checkpoint this
    // entry point re-processes every file, so a second same-process
    // call on the same dir must NOT inherit the first call's sink rows
    // (they'd ride the aggregate twice). Callers re-ADMITTING the same
    // stream still owe a rebuilt index per invocation — resumable
    // ingestion is [[uniqueIngestRun]] with a checkpoint.
    graft.sources.Scratch.deleteRecursively(new java.io.File(sinkDir))
    uniqueIngestRun(spark, newKeysDir, indexTable, keys,
      checkpointDir = null, sinkDir = sinkDir)
    uniqueViolationTotals(spark, sinkDir, keys)
  }

  /** One AvailableNow RUN of the check-then-admit loop against
    * whatever files `newKeysDir` currently holds. With a non-null
    * `checkpointDir` the run is RESUMABLE: a later invocation with the
    * same checkpoint processes only files that arrived since — the
    * restart-safety contract (x_stream_unique_resume's oracle is its
    * proof: re-processing an already-admitted batch would re-check it
    * against an index that now CONTAINS it, inflating its keys'
    * cumulative counts and failing the hash).
    */
  def uniqueIngestRun(spark: org.apache.spark.sql.SparkSession,
      newKeysDir: String, indexTable: String, keys: Seq[String],
      checkpointDir: String, sinkDir: String): Unit =
    checkAdmitRun(spark, newKeysDir, checkpointDir, sinkDir,
      check = b => graft.check.Checks.uniqueAgainstIndex(b,
        graft.sources.IndexStore.readKeyIndexBucketed(spark, indexTable,
          keys), keys),
      admit = b => graft.sources.IndexStore.appendKeyIndexBucketed(b,
        indexTable, keys),
      refreshTables = Seq(s"${indexTable}_keys"))

  /** The shared check-then-admit AvailableNow loop (round-13: factored
    * from [[uniqueIngestRun]] for the near-dup / edit-distance ingest
    * arcs): per micro-batch, `check(batch)` is materialized to the
    * sink STRICTLY BEFORE `admit(batch)` appends the batch into the
    * standing index (the write IS the barrier — the serve plan reads
    * the index's file listing at that action; admitting first would
    * make a batch collide with itself), then the index tables'
    * relation caches are refreshed on the OUTER session (the admit ran
    * through the stream's CLONED session and refreshed only the
    * clone's cache; without the explicit refresh the outer session
    * keeps serving the pre-append file listing and every cross-batch
    * duplicate is silently missed — regression-trapped in
    * StreamingSpec). With a non-null `checkpointDir` the run is
    * RESUMABLE: a later invocation with the same checkpoint processes
    * only files that arrived since.
    */
  private def checkAdmitRun(spark: org.apache.spark.sql.SparkSession,
      inputDir: String, checkpointDir: String, sinkDir: String,
      check: DataFrame => DataFrame, admit: DataFrame => Unit,
      refreshTables: Seq[String]): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val batchInput = spark.read.parquet(inputDir)
    // init the sink once (first run only — a resumed run must APPEND)
    if (!new java.io.File(sinkDir).exists())
      check(batchInput.limit(0)).write.mode("overwrite").parquet(sinkDir)
    val reader = spark.readStream.schema(batchInput.schema)
      .option("maxFilesPerTrigger", "1").parquet(inputDir)
    val writer0 = reader.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        check(b).write.mode("append").parquet(sinkDir)
        admit(b)
        refreshTables.foreach(spark.catalog.refreshTable)
        ()
      }
    val writer = if (checkpointDir == null) writer0
      else writer0.option("checkpointLocation", checkpointDir)
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
  }

  /** Order-invariant aggregate of the per-batch violation sink —
    * see [[uniqueIngestStream]].
    */
  def uniqueViolationTotals(spark: org.apache.spark.sql.SparkSession,
      sinkDir: String, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max}
    spark.read.parquet(sinkDir)
      .groupBy(keys.map(col): _*)
      .agg(max(col("n_new") + col("n_existing")).as("n_total"))
      .filter(col("n_total") > 1)
  }
}
