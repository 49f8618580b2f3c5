package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}
import graft.schema.{Constraints, Field, TableSchema}

/** Structured Streaming driven through a real file source + memory sink:
  * the events parquet is replayed as a stream and the streaming plans
  * must produce the same results as the batch equivalents.
  */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The file stream source needs a *directory*; stage the single
    * events.parquet file into one.
    */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  /** Raw footer schema of the staged events parquet. */
  private lazy val rawSchema =
    spark.read.parquet(s"$dir/events.parquet").schema

  /** Same ts normalization as Tables.load, applied to a raw stream:
    * nanos-long (old testdata) or TIMESTAMP_NTZ (new testdata) → plain
    * µs TIMESTAMP.
    */
  private def normalizeTs(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Stream the events table through a transform and collect via the
    * memory sink (processAllAvailable drains the file source).
    */
  private def runStream(
      name: String,
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mode: String = "append"): org.apache.spark.sql.DataFrame = {
    // schema of the *raw* parquet; the stream then applies the same ts
    // normalization Tables.load does (nanos-long or NTZ → µs TIMESTAMP)
    val stream = normalizeTs(spark.readStream
      .schema(rawSchema)
      .parquet(streamDir))
    val q = f(stream).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  // the raw parquet read (pre-Tables conversion) leaves ts as long nanos;
  // the stream converts inline exactly as Tables.load does
  private def batchEvents = Tables.load(spark, dir, "events")

  test("windowed counts: streaming result equals batch result") {
    val streamed = runStream("win_counts",
      df => StreamingValidate.windowedCounts(df, "1 hour", "10 minutes"),
      mode = "append")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
    // append mode emits only windows below the watermark; every emitted
    // row must match the batch computation exactly
    val b = batch.collect().map(r => r.toSeq).toSet
    val s = streamed.collect().map(r => r.toSeq).toSet
    assert(s.nonEmpty, "stream emitted no closed windows")
    assert(s.subsetOf(b))
  }

  test("windowed distinct: streaming equals batch count(DISTINCT)") {
    val streamed = runStream("win_distinct",
      df => StreamingValidate.windowedDistinct(
        df.select(col("ts"), col("user_id")), "user_id"),
      mode = "append")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n_distinct"))
      .select(col("window.start").as("window_start"), col("n_distinct"))
    val b = batch.collect().map(_.toSeq).toSet
    val s = streamed.collect().map(_.toSeq).toSet
    assert(s.nonEmpty, "stream emitted no closed windows")
    assert(s.subsetOf(b))
  }

  test("violation rate over stream") {
    val out = runStream("viol_rate",
      df => StreamingValidate.violationRate(df,
        col("value") > 90.0, "6 hours", "1 minute"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("violations") <= r.getAs[Long]("total"))
    }
  }

  test("stateful dedup within watermark") {
    val out = runStream("dedup",
      df => StreamingValidate.dedupWithinWatermark(
        df.withColumn("user_mod", col("user_id") % 10),
        Seq("user_mod")))
    // dedup on (user_mod, ts) can only shrink the stream
    assert(out.count() <= batchEvents.count())
    assert(out.count() > 0)
  }

  test("sessionize runs as a real stream with state across batches") {
    // two files + maxFilesPerTrigger=1 → two micro-batches; sessions
    // spanning the split exercise GroupState carry-over, and streaming
    // mode must emit each CLOSED session exactly once (no per-batch
    // re-emission of the open session — the round-1 double-count bug)
    val d = java.nio.file.Files.createTempDirectory("graft_sess")
    val ev = batchEvents.orderBy("ts")
    val n = ev.count()
    val cut = ev.limit((n / 2).toInt).agg(max(col("ts"))).collect()(0)
      .getTimestamp(0)
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    ev.filter(col("ts") <= cut).coalesce(1)
      .write.parquet(s"$d/batch1")
    ev.filter(col("ts") > cut).coalesce(1)
      .write.parquet(s"$d/batch2")
    // file source orders batches by modification time
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    Files.list(Paths.get(s"$d/batch1")).forEach(p =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(1000000)))
    Files.list(Paths.get(s"$d/batch2")).forEach(p =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(2000000)))
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$d/{batch1,batch2}")
    val q = StreamingValidate.sessionize(
        stream.withWatermark("ts", "1 minute"), 30, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").collect()
    assert(rows.nonEmpty, "no closed sessions emitted")
    // exactly-once: no (user, session_start) appears twice
    val keys = rows.map(r => (r.getAs[Long]("user_id"),
      r.getAs[java.sql.Timestamp]("session_start")))
    assert(keys.distinct.length == keys.length,
      "a session was emitted more than once")
    // every emitted session matches the batch-mode computation
    val batchSessions = StreamingValidate.sessionize(batchEvents, 30)
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("n_events"))).toSet
    rows.foreach { r =>
      val t = (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("n_events"))
      assert(batchSessions.contains(t),
        s"streamed session $t not in batch result")
    }
  }

  test("streaming sessionize: out-of-order within-watermark event " +
      "does not regress or split the open session (3 micro-batches)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val d = Files.createTempDirectory("graft_sess_ooo")
    def ev(rows: Seq[(Long, String)]) =
      rows.toDF("user_id", "s")
        .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    // batch2 delivers 10:02 AFTER 10:25 was seen (out of order, inside
    // the watermark). If the open session's lastUs regressed to 10:02,
    // the 10:45 event (20 min after the TRUE last, 43 min after the
    // regressed one) would wrongly split the session.
    val b1 = ev(Seq((1L, "2026-01-01 10:00:00"),
      (1L, "2026-01-01 10:25:00")))
    val b2 = ev(Seq((1L, "2026-01-01 10:02:00"),
      (1L, "2026-01-01 10:45:00")))
    // 12:00 closes the session by gap; 23:00 (user 99) advances the
    // watermark so the trailing session flushes via event-time timeout
    val b3 = ev(Seq((1L, "2026-01-01 12:00:00"),
      (99L, "2026-01-01 23:00:00")))
    Seq((b1, "batch1", 1000000L), (b2, "batch2", 2000000L),
      (b3, "batch3", 3000000L)).foreach { case (df, name, mt) =>
      df.coalesce(1).write.parquet(s"$d/$name")
      Files.list(Paths.get(s"$d/$name")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(mt)))
    }
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$d/{batch1,batch2,batch3}")
    val q = StreamingValidate.sessionize(
        stream.withWatermark("ts", "2 hours"), 30, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_ooo").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions_ooo").filter(col("user_id") === 1L)
      .orderBy("session_start").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"))).toSeq
    assert(u1 == Seq(
      ("2026-01-01 10:00:00.0", "2026-01-01 10:45:00.0", 4L),
      ("2026-01-01 12:00:00.0", "2026-01-01 12:00:00.0", 1L)), u1)
    // and the batch mode agrees on the merged session
    val batchU1 = StreamingValidate.sessionize(
        b1.unionByName(b2).unionByName(b3), 30)
      .filter(col("user_id") === 1L).orderBy("session_start").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"))).toSeq
    assert(batchU1 == u1, s"batch $batchU1 != streamed $u1")
  }

  test("streaming sessionize: within-watermark event opening an EARLIER " +
      "disjoint session is not merged into the open one") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val d = Files.createTempDirectory("graft_sess_early")
    def ev(rows: Seq[(Long, String)]) =
      rows.toDF("user_id", "s")
        .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val b1 = ev(Seq((1L, "2026-01-01 10:00:00"),
      (1L, "2026-01-01 10:25:00")))
    // 09:00 is within the 2h watermark but a full hour before the open
    // session: it must become its OWN session, not drag the open one's
    // start back across the gap
    val b2 = ev(Seq((1L, "2026-01-01 09:00:00"),
      (1L, "2026-01-01 10:45:00")))
    val b3 = ev(Seq((1L, "2026-01-01 12:00:00"),
      (99L, "2026-01-01 23:00:00")))
    Seq((b1, "batch1", 1000000L), (b2, "batch2", 2000000L),
      (b3, "batch3", 3000000L)).foreach { case (df, name, mt) =>
      df.coalesce(1).write.parquet(s"$d/$name")
      Files.list(Paths.get(s"$d/$name")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(mt)))
    }
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$d/{batch1,batch2,batch3}")
    val q = StreamingValidate.sessionize(
        stream.withWatermark("ts", "2 hours"), 30, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_early").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions_early").filter(col("user_id") === 1L)
      .orderBy("session_start").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"))).toSeq
    val batchU1 = StreamingValidate.sessionize(
        b1.unionByName(b2).unionByName(b3), 30)
      .filter(col("user_id") === 1L).orderBy("session_start").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"))).toSeq
    assert(u1 == Seq(
      ("2026-01-01 09:00:00.0", "2026-01-01 09:00:00.0", 1L),
      ("2026-01-01 10:00:00.0", "2026-01-01 10:45:00.0", 3L),
      ("2026-01-01 12:00:00.0", "2026-01-01 12:00:00.0", 1L)), u1)
    assert(batchU1 == u1, s"batch $batchU1 != streamed $u1")
  }

  test("stream-static enrichment matches the batch join, keeps nulls") {
    val dim = Tables.load(spark, dir, "customer")
    val streamed = runStream("enrich",
      df => StreamingValidate.enrich(
        df.select(col("event_id"), col("user_id")), Seq("user_id"),
        dim, Seq("c_custkey"), Seq("c_mktsegment")))
    val batch = StreamingValidate.enrich(
      batchEvents.select(col("event_id"), col("user_id")), Seq("user_id"),
      dim, Seq("c_custkey"), Seq("c_mktsegment"))
    assert(streamed.count() == batchEvents.count()) // left join: no loss
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "c_mktsegment").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(tuples(streamed) == tuples(batch))
  }

  test("streaming fk check: orphans surface via stream-static anti join") {
    val parent = spark.range(0, 5).toDF("uid") // users 0-4 are valid
    val out = runStream("fk_viol",
      df => StreamingValidate.fkViolations(
        df.withColumn("user_mod", col("user_id") % 10)
          .select(col("event_id"), col("user_mod")),
        Seq("user_mod"), parent, Seq("uid")))
    val batchExpected = batchEvents
      .withColumn("user_mod", col("user_id") % 10)
      .filter(col("user_mod") >= 5)
      .count()
    assert(out.count() == batchExpected)
    assert(out.filter(col("user_mod") < 5).count() == 0)
  }

  test("native session_window matches custom sessionize; splits on exact-gap tie") {
    import spark.implicits._
    def ev(rows: Seq[(Long, String)]) =
      rows.toDF("user_id", "s")
        .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val plain = ev(Seq((1L, "2026-01-01 00:00:00"),
      (1L, "2026-01-01 00:10:00"), (1L, "2026-01-01 01:00:00")))
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("n_events"))).toSeq
    assert(sessions(StreamingValidate.sessionizeNative(plain, 30)) ==
      sessions(StreamingValidate.sessionize(plain, 30)))
    // exact 30-min tie: BOTH keep the session open (session_window's
    // merge condition is inclusive, matching the custom strict->closes)
    val tie = ev(Seq((1L, "2026-01-01 00:00:00"),
      (1L, "2026-01-01 00:30:00")))
    assert(sessions(StreamingValidate.sessionize(tie, 30)) ==
      sessions(StreamingValidate.sessionizeNative(tie, 30)))
    assert(sessions(StreamingValidate.sessionizeNative(tie, 30)).size == 1)
  }

  test("stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.DataFrame
    def views(df: DataFrame) = df.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    def clicks(df: DataFrame) = df.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    // two INDEPENDENT file streams over the same staged directory —
    // a genuine stream-stream join, not a stream-static one
    def src() = normalizeTs(
      spark.readStream.schema(rawSchema).parquet(streamDir))
    val q = StreamingValidate.joinWithin(views(src()), clicks(src()),
        "v_user", "c_user", "view_ts", "click_ts",
        within = "10 minutes", watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssjoin")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingValidate.joinWithin(
        views(batchEvents), clicks(batchEvents),
        "v_user", "c_user", "view_ts", "click_ts",
        within = "10 minutes")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty, "expected at least one view→click pair")
    assert(streamed == batch)
  }

  test("joinWithin rejects inputs sharing a column name") {
    val e = intercept[IllegalArgumentException] {
      StreamingValidate.joinWithin(batchEvents, batchEvents,
        "user_id", "user_id", "ts", "ts")
    }
    assert(e.getMessage.contains("share column name"))
  }

  test("latest_by streaming aggregation equals batch lastWriterWins") {
    import graft.functions.LatestBy
    import graft.ext.Cdc
    // the CDC current-state view as a LIVE streaming aggregation: the
    // same native latest_by argmax runs inside the streaming state
    // store (complete mode) — per-key state is O(1), exactly like the
    // batch plan's ObjectHashAggregate buffer
    def lww(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("user_id")
      .agg(LatestBy.latest(
          struct(col("event_id"), col("event_type")),
          Seq(unix_micros(col("ts")), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"))
    val streamed = runStream("lww", lww, mode = "complete")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val batch = lww(batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(streamed === batch)
    // and both agree with the Cdc operator (no tombstones configured)
    val viaCdc = Cdc.lastWriterWins(batchEvents, Seq("user_id"),
        Seq(unix_micros(col("ts")), col("event_id")),
        Seq("event_id", "event_type"), lit(false))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(viaCdc === batch)
  }

  test("foreachBatch incremental LWW maintenance equals batch compaction") {
    import graft.ext.Cdc
    // the production CDC-sink pattern: each micro-batch merges into the
    // maintained snapshot with lastWriterWins over snapshot ∪ batch.
    // The snapshot CARRIES its version columns (ts, event_id ride in
    // the payload), so the result is independent of batch arrival
    // order — a late old row can never clobber a newer stored version.
    val pay = Seq("event_id", "event_type", "value", "ts")
    def merge(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      Cdc.lastWriterWins(a.unionByName(b),
        Seq("user_id"), Seq(unix_micros(col("ts")), col("event_id")),
        pay, lit(false))
    val cols = Seq(col("user_id"), col("event_id"), col("event_type"),
      col("value"), col("ts"))
    var snap = batchEvents.select(cols: _*).limit(0)
      .localCheckpoint(true)
    val stream = normalizeTs(spark.readStream
      .schema(rawSchema).option("maxFilesPerTrigger", "1")
      .parquet(streamDir))
    val q = stream.select(cols: _*).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        snap = merge(snap, b).localCheckpoint(true)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Cdc.lastWriterWins(batchEvents.select(cols: _*),
      Seq("user_id"), Seq(unix_micros(col("ts")), col("event_id")),
      pay, lit(false))
    assert(key(snap) === key(direct))
    assert(snap.count() === direct.count())
  }

  test("violation flags are streaming-safe (stateless projection)") {
    val schema = TableSchema(Seq(
      Field("event_type", constraints = Constraints(
        enum = Some(Seq("click", "view", "purchase", "signup", "error")))),
      Field("value", "number",
        constraints = Constraints(minimum = Some("0")))))
    val out = runStream("flags",
      df => StreamingValidate.violationFlags(df, schema)
        .select(col("event_id"), col("event_type__enum"),
          col("value__minimum")))
    assert(out.count() == batchEvents.count())
    // clean data: no violations
    assert(out.filter(col("event_type__enum") ||
      col("value__minimum")).count() == 0)
  }

  test("streamed ingest against the persisted bucketed dedup index " +
      "equals the one-shot batch serve; corpus side reads in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    graft.sources.IndexStore.Dedup.plain("sidx_spec", k = 5)
      .write(docs, numBuckets = 8)
    val twins = docs.select((col("id") + 500000L).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val twinDir = java.nio.file.Files
      .createTempDirectory("graft_sidx_twins").toString
    twins.repartition(3).write.mode("overwrite").parquet(twinDir)
    try {
      val streamedDf = StreamingValidate.nearDupIngestStream(spark,
        twinDir, "sidx_spec", threshold = 0.5, k = 5)
      // sink contract (shared serveAvailableNow scaffold): the result
      // is a read of the append sink — one scan, no per-batch union
      locally {
        import org.apache.spark.sql.execution.UnionExec
        def flat(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] =
          p +: p.children.flatMap(flat)
        val ns = flat(streamedDf.queryExecution.executedPlan)
        assert(ns.exists(_.isInstanceOf[FileSourceScanExec]))
        assert(!ns.exists(_.isInstanceOf[UnionExec]))
      }
      val streamed = streamedDf
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // one-shot batch serve from the SAME bucketed artifacts
      val (sh, bands) = graft.sources.IndexStore
        .Dedup.plain("sidx_spec", k = 5).read(spark)
      val batch = graft.ext.Dedup.nearDuplicatesAgainstIndex(
        twins, sh, bands, threshold = 0.5, k = 5)
      assert(streamed ===
        batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(streamed.nonEmpty, "twin batch must find its sources")
      // plan contract for the per-batch serve join (same plan each
      // micro-batch runs): NO exchange above either bucketed corpus
      // scan — only the batch side shuffles to match the bucketing.
      // Probed through againstIndexPlan (the identical join WITHOUT
      // the scoped-cache localCheckpoint, which collapses the
      // returned frame's plan to a LogicalRDD); broadcast disabled so
      // a shuffle — if one existed — could not hide under an exchange
      // the threshold happens to elide
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe =
        try {
          val p = graft.ext.Dedup.againstIndexPlan(twins, sh, bands,
            threshold = 0.5, numHashes = 32, bands = 16, k = 5)
          p.count()
          p
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => q +: flatten(q.plan)
        case other => other +: other.children.flatMap(flatten)
      }
      val all = flatten(probe.queryExecution.executedPlan)
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case s: FileSourceScanExec => s.tableIdentifier.exists(t =>
            t.table == "sidx_spec_bands" || t.table == "sidx_spec_sh")
          case _ => false
        }
      assert(all.exists(isIndexScan),
        "serve join must read the bucketed index tables")
      // no shuffle may sit BETWEEN an index scan and the join that
      // consumes it (post-join exchanges — the candidate distinct —
      // are the batch-sized downstream and are fine): an offending
      // exchange has an index scan below it with no intervening join
      val offending = all.collect { case e: ShuffleExchangeExec
        if {
          val sub = flatten(e.child)
          sub.exists(isIndexScan) && !sub.exists(
            _.isInstanceOf[org.apache.spark.sql.execution.joins
              .BaseJoinExec])
        } => e }
      assert(offending.isEmpty,
        s"corpus index sides must read in place, found:\n$offending")
      // mismatched serve-time parameters must fail loudly, not return
      // an empty (silently duplicate-free) result
      val ex = intercept[IllegalArgumentException] {
        graft.sources.IndexStore
          .Dedup.plain("sidx_spec", k = 3).read(spark)
      }
      assert(ex.getMessage.contains("built with"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sidx_spec_bands")
      spark.sql("DROP TABLE IF EXISTS sidx_spec_sh")
      spark.sql("DROP TABLE IF EXISTS sidx_spec_meta")
    }
  }

  test("streaming check-then-admit uniqueness equals the batchless " +
      "recompute; cross-batch duplicates caught via admitted appends") {
    import graft.sources.IndexStore
    val orders = Tables.load(spark, dir, "orders").select("o_orderkey")
    IndexStore.Key.plain("ustr_spec", Seq("o_orderkey"))
      .write(orders, numBuckets = 8)
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_ustream").toString
    // fresh keys ride ONCE PER FILE: with maxFilesPerTrigger = 1 each
    // file is its own micro-batch, so n_total = 2 for them is provable
    // only if batch 1's admit is live for batch 2's check
    val fileA = orders.filter(col("o_orderkey") % 6 === 0)
      .select((col("o_orderkey") + 900000L).as("o_orderkey"))
    val fileB = fileA.unionByName(
      orders.filter(col("o_orderkey") % 10 === 1).select("o_orderkey"))
    fileA.coalesce(1).write.mode("append").parquet(sdir)
    fileB.coalesce(1).write.mode("append").parquet(sdir)
    try {
      val got = StreamingValidate.uniqueIngestStream(spark, sdir,
          "ustr_spec", Seq("o_orderkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ref = fileA.unionByName(fileB)
        .groupBy("o_orderkey").agg(count(lit(1)).as("sc"))
        .join(orders.groupBy("o_orderkey").agg(count(lit(1)).as("hc")),
          Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          (col("sc") + coalesce(col("hc"), lit(0L))).as("n_total"))
        .filter(col("n_total") > 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === ref,
        "streamed stateful decomposition must equal the batchless answer")
      assert(got.exists { case (k, n) => k >= 900000L && n == 2L },
        "cross-batch duplicate of a fresh key must be caught")
      assert(got.exists { case (k, _) => k < 900000L },
        "history collisions must be caught too")
      // the stream is admitted: re-checking the fresh keys collides
      // with BOTH streamed copies now
      val idx = IndexStore.Key.plain("ustr_spec", Seq("o_orderkey")).read(spark)
      assert(graft.check.Checks.uniqueAgainstIndex(fileA, idx,
          Seq("o_orderkey"))
        .filter(col("n_existing") >= 2).count() > 0,
        "streamed batches must be live in the index after the run")
    } finally for (s <- Seq("_keys", "_meta"))
      spark.sql(s"DROP TABLE IF EXISTS ustr_spec$s")
  }

  test("near-dup check-then-admit resume: run 2 serves only the new " +
      "file against base ∪ admitted A; no checkpoint → double-admit") {
    import graft.sources.IndexStore
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    def twins(off: Long, frac: Double) =
      docs.select((col("id") + off).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * frac).cast("int")).as("toks"))
    val fileA = twins(900000L, 0.8)
    val fileB = twins(2000000L, 0.6)
    IndexStore.Dedup.plain("ndres_spec", k = 5).write(docs, numBuckets = 8)
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_ndres_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ndres_ckpt").toString
    val sink = java.nio.file.Files
      .createTempDirectory("graft_ndres_sink").toString + "/s"
    try {
      fileA.coalesce(1).write.mode("append").parquet(sdir)
      StreamingValidate.ingestRun(spark, sdir,
        IndexStore.Dedup.plain("ndres_spec", k = 5), ckpt, sink)((b, ix) =>
        graft.ext.Dedup.nearDuplicatesAgainstIndex(b, ix._1, ix._2,
          threshold = 0.5, k = 5))
      fileB.coalesce(1).write.mode("append").parquet(sdir)
      StreamingValidate.ingestRun(spark, sdir,
        IndexStore.Dedup.plain("ndres_spec", k = 5), ckpt, sink)((b, ix) =>
        graft.ext.Dedup.nearDuplicatesAgainstIndex(b, ix._1, ix._2,
          threshold = 0.5, k = 5))
      def probeRows(path: String): Seq[(Long, Long, Double)] =
        spark.read.parquet(path)
          .filter(col("new_id") >= 2000000L)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSeq.sorted
      // reference: fileB served one-shot against a FROM-SCRATCH index
      // over base ∪ fileA (multiset compare — duplicate rows would be
      // exactly the re-admit failure mode)
      IndexStore.Dedup.plain("ndres_ref", k = 5)
        .write(docs.unionByName(fileA), numBuckets = 8)
      val (sh, bands) = IndexStore.Dedup.plain("ndres_ref", k = 5).read(spark)
      val ref = graft.ext.Dedup.nearDuplicatesAgainstIndex(fileB, sh,
          bands, threshold = 0.5, k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
      assert(probeRows(sink) === ref,
        "checkpointed run 2 must serve ONLY file B, against base ∪ A")
      assert(ref.exists(_._2 >= 900000L),
        "probes must match the ADMITTED file A, not just base")
      // NEGATIVE control — the failure the checkpoint prevents: a run
      // with NO checkpoint re-processes (and re-ADMITS) file A, so its
      // sink double-reports every probe×A pair through A's duplicated
      // _sh rows
      val sink2 = java.nio.file.Files
        .createTempDirectory("graft_ndres_sink2").toString + "/s"
      StreamingValidate.ingestRun(spark, sdir,
        IndexStore.Dedup.plain("ndres_spec", k = 5), checkpointDir = null,
        sinkDir = sink2)((b, ix) =>
        graft.ext.Dedup.nearDuplicatesAgainstIndex(b, ix._1, ix._2,
          threshold = 0.5, k = 5))
      val rerun = probeRows(sink2)
      assert(rerun.size > rerun.distinct.size,
        "an uncheckpointed re-run must double-report probe×A pairs " +
          "(the duplicate-index-rows failure the resume arc exists to " +
          "prevent)")
    } finally {
      for (t <- Seq("ndres_spec", "ndres_ref");
          s <- Seq("_sh", "_bands", "_meta"))
        spark.sql(s"DROP TABLE IF EXISTS $t$s")
    }
  }

  test("stateful CUSUM: streamed rows equal the batch window identity") {
    val streamed = runStream("cusum_stream",
      df => StreamingValidate.cusumStream(
        df.select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("cents"))
          .withWatermark("ts", "10 minutes"),
        targetCents = 15000L, threshold = 1000000L, streaming = true))
    val batch = graft.ext.TimeSeries.cusum(
        batchEvents.select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("cents")),
        "user_id", unix_micros(col("ts")), col("event_id"),
        col("cents"), targetCents = 15000L, threshold = 1000000L)
      .select("event_id", "user_id", "cusum", "flagged")
    val b = batch.collect().map(_.toSeq).toSet
    val s = streamed.select("event_id", "user_id", "cusum", "flagged")
      .collect().map(_.toSeq).toSet
    // append mode withholds only the within-watermark tail; every
    // emitted row must match the ORDER-SENSITIVE batch recursion
    // exactly — the buffered seal-then-fold is what makes that hold
    assert(s.nonEmpty, "stream emitted no sealed rows")
    assert(s.subsetOf(b))
    // ...and nearly everything seals under AvailableNow (10-min tail)
    assert(s.size > b.size / 2, s"sealed only ${s.size} of ${b.size}")
  }

  test("streaming CUSUM: out-of-order within-watermark arrival folds " +
      "in event-time order across micro-batches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val d = Files.createTempDirectory("graft_cusum_ooo")
    def ev(rows: Seq[(Long, Long, String, Long)]) =
      rows.toDF("user_id", "event_id", "s", "cents")
        .select(col("user_id"), col("event_id"),
          to_timestamp(col("s")).as("ts"), col("cents"))
    // target 10: batch2 delivers the 10:05 event AFTER 10:20 was seen.
    // Processing-order folding would compute S(10:20) without the
    // 10:05 contribution; event-time sealing must yield the same S
    // chain as the fully sorted batch: +20, +30, −15→35... per spec.
    val b1 = ev(Seq((1L, 1L, "2026-01-01 10:00:00", 30L),
      (1L, 3L, "2026-01-01 10:20:00", 40L)))
    val b2 = ev(Seq((1L, 2L, "2026-01-01 10:05:00", 50L),
      (1L, 4L, "2026-01-01 10:40:00", 0L)))
    // far-future row advances the watermark so everything seals
    val b3 = ev(Seq((99L, 9L, "2026-01-01 23:00:00", 10L)))
    Seq((b1, "batch1", 1000000L), (b2, "batch2", 2000000L),
      (b3, "batch3", 3000000L)).foreach { case (df, name, mt) =>
      df.coalesce(1).write.parquet(s"$d/$name")
      Files.list(Paths.get(s"$d/$name")).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(mt)))
    }
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$d/{batch1,batch2,batch3}")
    val q = StreamingValidate.cusumStream(
        stream.withWatermark("ts", "2 hours"),
        targetCents = 10L, threshold = 75L, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_ooo").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cusum_ooo").filter(col("user_id") === 1L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("cusum"), r.getAs[Boolean]("flagged"))).toMap
    // sorted series: (1,30) (2,50) (3,40) (4,0) → S = 20, 60, 90, 80
    assert(got === Map(1L -> ((20L, false)), 2L -> ((60L, false)),
      3L -> ((90L, true)), 4L -> ((80L, true))), got.toString)
  }

  test("driftMonitorStream ≡ per-window batch KS, any file→batch split") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_drift")
    // window 0 and window 1 deliberately share ONE file (one batch
    // carries two windows) and window 2 gets its own — identity must
    // come from the data, not the trigger sequence
    Seq((0L, 1L), (0L, 2L), (0L, 2L), (1L, 5L), (1L, 6L))
      .toDF("window_id", "v").coalesce(1).write.parquet(s"$d/f1")
    Seq((2L, 9L), (2L, 9L), (2L, 1L))
      .toDF("window_id", "v").coalesce(1).write.parquet(s"$d/f2")
    val ref = Seq(1L, 2L, 5L, 9L).toDF("v")
    val monitor = StreamingValidate.driftMonitorStream(spark,
      s"$d/{f1,f2}", ref)
    // sink contract (round-8 directive): the returned frame is a READ
    // of the append sink — ONE parquet scan, no N-way union of
    // driver-held per-batch frames, no per-batch driver state
    locally {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.UnionExec
      val plan = monitor.queryExecution.executedPlan
      def flat(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(flat)
      val ns = flat(plan)
      assert(ns.exists(_.isInstanceOf[FileSourceScanExec]),
        "monitor result must plan as a parquet scan of the sink")
      assert(!ns.exists(_.isInstanceOf[UnionExec]),
        "monitor result must not union per-batch frames")
    }
    val got = monitor
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    val batch = (0L to 2L).map { w =>
      val a = Seq((0L, Seq(1L, 2L, 2L)), (1L, Seq(5L, 6L)),
        (2L, Seq(9L, 9L, 1L))).toMap.apply(w).toDF("v")
      w -> graft.ext.Profile.ksTwoSample(a, ref, col("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).head
    }.toMap
    assert(got === batch, got.toString)
  }

  test("gatedIngestStream ≡ the one-shot screen+gate composition, " +
      "any file→batch split; every gate provably bites") {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    graft.sources.IndexStore.Dedup.plain("gated_spec", k = 5)
      .write(corpus, numBuckets = 8)
    // stream = odd docs + exact copies of 10 even docs (must die at
    // the dedup gate) across 3 files/batches
    val stream = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 2 === 0 && col("doc_id") < 20)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    val d = java.nio.file.Files
      .createTempDirectory("graft_gated_spec").toString
    stream.repartition(3).write.mode("overwrite").parquet(d)
    try {
      val streamed = StreamingValidate.gatedIngestStream(spark, d,
          "gated_spec", threshold = 0.5, k = 5, minQuality = 0.7,
          minTokens = 10, salt = "gs1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // one-shot composition over the same artifacts
      val (sh, bands) = graft.sources.IndexStore
        .Dedup.plain("gated_spec", k = 5).read(spark)
      val dup = graft.ext.Dedup.nearDuplicatesAgainstIndex(
          stream.select(col("doc_id").as("id"),
            graft.ext.TextAnalysis.tokens(col("text")).as("toks")),
          sh, bands, threshold = 0.5, k = 5)
        .select(col("new_id").as("doc_id")).distinct()
      val batch = stream.join(dup, Seq("doc_id"), "left_anti")
        .filter(graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.7 &&
          graft.ext.TextAnalysis.langId(col("text")) === "en" &&
          graft.ext.TextAnalysis.tokenCount(col("text")) >= 10)
        .select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"),
          (graft.ext.Dedup.hash48(concat(lit("gs1"),
            col("doc_id").cast("string"))) % 8).as("shard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty, "some documents must be admitted")
      assert(!streamed.exists(_._1 >= 500000L),
        "every planted exact copy must die at the dedup gate")
      assert(streamed.size < stream.count(),
        "the composition must reject something")
    } finally for (s <- Seq("_bands", "_sh", "_meta"))
      spark.sql(s"DROP TABLE IF EXISTS gated_spec$s")
  }

  test("versioned gated ingest leaves a frozen per-batch history: " +
      "version k+1 is exactly the corpus after batch k") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusToks = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val fam = "gatedver_spec"
    try {
      graft.sources.IndexStore.Dedup.versioned(fam, k = 5)
        .write(corpusToks, numBuckets = 8)
      val base = corpusToks.count()
      def run(batch: org.apache.spark.sql.DataFrame, sink: String)
          : Long = {
        val d = java.nio.file.Files
          .createTempDirectory("graft_gv_b").toString
        batch.coalesce(1).write.mode("overwrite").parquet(d)
        StreamingValidate.gatedIngestRunVersioned(spark, d, fam,
          threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
          salt = "gv", nShards = 4, checkpointDir = null, sinkDir = sink)
        spark.read.parquet(sink).count()
      }
      val mkSink = () => {
        val s = java.nio.file.Files
          .createTempDirectory("graft_gv_sink").toString
        java.nio.file.Files.delete(java.nio.file.Paths.get(s)); s
      }
      val adm1 = run(docs.filter(col("doc_id") % 4 === 1), mkSink())
      val adm2 = run(docs.filter(col("doc_id") % 4 === 3), mkSink())
      assert(adm1 > 0 && adm2 > 0, "both batches must admit something")
      assert(graft.sources.BucketedManifest
        .currentVersion(spark, fam) === 3,
        "one frozen version per admitted batch")
      def shCount(v: Int): Long = graft.sources.BucketedManifest
        .readVersion(spark, fam, s"${fam}_sh", v).count()
      assert(shCount(1) === base, "v1 = the pre-ingest corpus, frozen")
      assert(shCount(2) === base + adm1,
        "v2 = the corpus after batch 1, frozen through batch 2")
      assert(shCount(3) === base + adm1 + adm2,
        "the live version holds every admission")
    } finally {
      for (half <- Seq("_sh", "_bands"); t <- spark.catalog.listTables()
          .collect().map(_.name)
          if t.startsWith(s"$fam$half".toLowerCase))
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
      spark.sql(s"DROP TABLE IF EXISTS ${fam}_meta")
    }
  }

  test("multi-index pipeline: the identity gate rejects a re-fetched " +
      "id with FRESH text (content gate blind to it); all three " +
      "members advance in one atomic commit per batch") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusToks = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val fam = "multi_spec"
    try {
      graft.sources.IndexStore.Pipeline.versioned(fam, k = 5)
        .write(corpusToks, numBuckets = 8)
      assert(graft.sources.BucketedManifest
        .currentVersion(spark, fam) === 1)
      // the re-fetch: a CORPUS id re-sent with a fresh odd doc's text
      // (not in the index), alongside one genuinely new doc
      val freshText = docs.filter(col("doc_id") % 4 === 3)
        .orderBy(col("doc_id").desc).limit(1)
        .select(col("text")).collect()(0).getString(0)
      val batch = docs.filter(col("doc_id") % 4 === 1).limit(1)
        .unionByName(
          docs.filter(col("doc_id") % 4 === 0).limit(1)
            .select(col("doc_id"),
              org.apache.spark.sql.functions.lit(freshText).as("text")))
      val d = java.nio.file.Files
        .createTempDirectory("graft_mi_b").toString
      batch.coalesce(1).write.mode("overwrite").parquet(d)
      val s = java.nio.file.Files
        .createTempDirectory("graft_mi_sink").toString
      java.nio.file.Files.delete(java.nio.file.Paths.get(s))
      StreamingValidate.gatedIngestRunMulti(spark, d, fam,
        threshold = 0.5, k = 5, minQuality = 0.0, minTokens = 0,
        salt = "mi", nShards = 4, checkpointDir = null, sinkDir = s)
      val admitted = spark.read.parquet(s)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(!admitted.exists(_ % 4 == 0),
        "the re-fetched corpus id must be rejected by the identity " +
          "gate despite its fresh text")
      // one atomic commit: all three members moved to version 2
      assert(graft.sources.BucketedManifest
        .currentVersion(spark, fam) === 2)
      for (m <- Seq("_sh", "_bands", "_keys"))
        assert(graft.sources.BucketedManifest
          .gensOf(spark, fam, s"$fam$m").size === 2,
          s"member $m must carry the batch generation")
    } finally graft.sources.BucketedManifest.drop(spark, fam,
      Seq(s"${fam}_sh", s"${fam}_bands", s"${fam}_keys", s"${fam}_meta"))
  }

  test("gated ingest cadence: autoVacuumRetain bounds the freeze " +
      "history (vacuumed versions fail loudly, retained ones serve) " +
      "and autoCompactGens bounds the generation count") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusToks = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val fam = "gatedcad_spec"
    try {
      graft.sources.IndexStore.Dedup.versioned(fam, k = 5)
        .write(corpusToks, numBuckets = 8)
      def run(batch: org.apache.spark.sql.DataFrame): Unit = {
        val d = java.nio.file.Files
          .createTempDirectory("graft_gc_b").toString
        batch.coalesce(1).write.mode("overwrite").parquet(d)
        val s = java.nio.file.Files
          .createTempDirectory("graft_gc_sink").toString
        java.nio.file.Files.delete(java.nio.file.Paths.get(s))
        StreamingValidate.gatedIngestRunVersioned(spark, d, fam,
          threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
          salt = "gc", nShards = 4, checkpointDir = null, sinkDir = s,
          autoCompactGens = 2, autoVacuumRetain = 2)
      }
      run(docs.filter(col("doc_id") % 4 === 1))
      run(docs.filter(col("doc_id") % 4 === 3))
      val cur = graft.sources.BucketedManifest.currentVersion(spark, fam)
      assert(cur >= 3, "per-batch freezes still advance the chain")
      // retention: only the last 2 versions survive
      intercept[IllegalArgumentException] {
        graft.sources.BucketedManifest
          .readVersion(spark, fam, s"${fam}_sh", 1).collect()
      }
      val live = graft.sources.BucketedManifest
        .read(spark, fam, s"${fam}_sh")
      assert(live.count() > corpusToks.count(),
        "the retained head must hold the admissions")
      // cadence: the generation count stays at or under the cap + the
      // one generation the latest admit may have added past it
      assert(graft.sources.BucketedManifest
        .gensOf(spark, fam, s"${fam}_sh").size <= 3,
        "autoCompactGens must bound the generation count")
    } finally {
      graft.sources.BucketedManifest.drop(spark, fam,
        Seq(s"${fam}_sh", s"${fam}_bands", s"${fam}_meta"))
    }
  }

  test("multi-index cadence: the knobs bound generation and version " +
      "growth across ALL THREE members in one manifest commit, the " +
      "key member's totals survive the LSM merge, and the identity " +
      "gate still rejects re-fetches after compaction") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusToks = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val fam = "multicad_spec"
    try {
      graft.sources.IndexStore.Pipeline.versioned(fam, k = 5)
        .write(corpusToks, numBuckets = 8)
      def run(batch: org.apache.spark.sql.DataFrame): Unit = {
        val d = java.nio.file.Files
          .createTempDirectory("graft_mc_b").toString
        batch.coalesce(1).write.mode("overwrite").parquet(d)
        val s = java.nio.file.Files
          .createTempDirectory("graft_mc_sink").toString
        java.nio.file.Files.delete(java.nio.file.Paths.get(s))
        StreamingValidate.gatedIngestRunMulti(spark, d, fam,
          threshold = 0.5, k = 5, minQuality = 0.0, minTokens = 0,
          salt = "mc", nShards = 4, checkpointDir = null, sinkDir = s,
          autoCompactGens = 2, autoVacuumRetain = 2)
      }
      run(docs.filter(col("doc_id") % 4 === 1))
      run(docs.filter(col("doc_id") % 4 === 3))
      val cur = graft.sources.BucketedManifest.currentVersion(spark, fam)
      assert(cur >= 3, "per-batch commits still advance the chain")
      // retention: the earliest freeze is vacuumed, loudly
      intercept[IllegalArgumentException] {
        graft.sources.BucketedManifest
          .readVersion(spark, fam, s"${fam}_keys", 1).collect()
      }
      // cadence bounds EVERY member (cap + at most the latest admit's
      // one extra generation)
      for (m <- Seq("_sh", "_bands", "_keys"))
        assert(graft.sources.BucketedManifest
          .gensOf(spark, fam, s"$fam$m").size <= 3,
          s"autoCompactGens must bound member $m")
      // the key member survived the LSM merge: one row per id, total
      // = corpus + both batches' admissions
      val keys = graft.sources.IndexStore
        .Pipeline.versioned(fam).readKeys(spark)
      assert(keys.groupBy("id").count()
        .filter(col("count") > 1).count() === 0,
        "the merged key generation must hold collapsed rows")
      // corpus ids are even, admissions odd — the key member carries
      // the admitted set
      val oddAdmitted = keys.filter(col("id") % 2 =!= 0).count()
      assert(oddAdmitted > 0, "some odd docs must have been admitted")
      // identity gate after compaction: re-sending an admitted odd id
      // with fresh corpus text must be rejected
      val freshText = docs.filter(col("doc_id") % 2 === 0)
        .orderBy(col("doc_id").desc).limit(1)
        .select(col("text")).collect()(0).getString(0)
      val takenOdd = keys.filter(col("id") % 2 =!= 0)
        .orderBy(col("id")).limit(1)
        .select(col("id").as("doc_id")).collect()(0).getLong(0)
      val refetch = spark.range(1)
        .select(org.apache.spark.sql.functions.lit(takenOdd)
          .as("doc_id"),
          org.apache.spark.sql.functions.lit(freshText).as("text"))
      val d3 = java.nio.file.Files
        .createTempDirectory("graft_mc_b3").toString
      refetch.coalesce(1).write.mode("overwrite").parquet(d3)
      val s3 = java.nio.file.Files
        .createTempDirectory("graft_mc_sink3").toString
      java.nio.file.Files.delete(java.nio.file.Paths.get(s3))
      StreamingValidate.gatedIngestRunMulti(spark, d3, fam,
        threshold = 0.5, k = 5, minQuality = 0.0, minTokens = 0,
        salt = "mc", nShards = 4, checkpointDir = null, sinkDir = s3,
        autoCompactGens = 2, autoVacuumRetain = 2)
      assert(spark.read.parquet(s3).count() === 0,
        "the identity gate must reject the re-fetch after the " +
          "compacted key member replaced the per-batch generations")
    } finally graft.sources.BucketedManifest.drop(spark, fam,
      Seq(s"${fam}_sh", s"${fam}_bands", s"${fam}_keys", s"${fam}_meta"))
  }

  test("law: gated ADMIT stream ≡ the sequential one-shot fold over " +
      "the same ordered batches (growing index, copies injected)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).cache()
    val corpusToks = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks")).cache()
    try {
      val odds = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val scenarioGen = for {
        n <- Gen.choose(6, math.min(16, odds.size))
        ids <- Gen.pick(n, odds)
        nBatches <- Gen.choose(2, 3)
        asg <- Gen.listOfN(n, Gen.choose(0, nBatches - 1))
        // copies of batch-0 docs injected into LATER batches: their
        // fate depends on whether the source was admitted earlier —
        // exactly the order-dependence the fold must reproduce
        nCopies <- Gen.choose(1, 3)
      } yield (ids.toSeq.zip(asg), nBatches, nCopies)
      val p = Prop.forAll(scenarioGen) { case (assigned, nBatches, nCopies) =>
        val batch0 = assigned.filter(_._2 == 0).map(_._1)
        val copies = batch0.take(nCopies)
          .map(src => (src + 100000L, src,
            1 + (src % (nBatches - 1).toLong).toInt))
        def batchDf(b: Int) = {
          val own = assigned.filter(_._2 == b).map(_._1)
          val cp = copies.filter(_._3 == b).map { case (cid, src, _) =>
            (cid, src) }
          import spark.implicits._
          docs.join(own.toDF("doc_id"), Seq("doc_id"))
            .unionByName(docs
              .join(cp.toDF("src", "doc_id")
                .select(col("doc_id"), col("src").as("__cid")), Seq("doc_id"))
              .select(col("__cid").as("doc_id"), col("text")))
        }
        // streamed: one run per ordered batch into one sink
        graft.sources.IndexStore.Dedup.plain("gatedlaw_spec", k = 5)
          .write(corpusToks, numBuckets = 8)
        val sink = java.nio.file.Files
          .createTempDirectory("graft_glaw_sink").toString
        java.nio.file.Files.delete(java.nio.file.Paths.get(sink))
        (0 until nBatches).foreach { b =>
          val d = java.nio.file.Files
            .createTempDirectory(s"graft_glaw_b$b").toString
          batchDf(b).coalesce(1).write.mode("overwrite").parquet(d)
          StreamingValidate.gatedIngestRun(spark, d, "gatedlaw_spec",
            threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
            salt = "glaw", nShards = 4, checkpointDir = null,
            sinkDir = sink)
        }
        val streamed = spark.read.parquet(sink)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        // reference: a driver-side fold with the in-memory one-shot
        // screen (no bucketed tables, no streaming) over the SAME order
        var refCorpus = corpusToks
        var admitted = Set.empty[Long]
        (0 until nBatches).foreach { b =>
          val bdf = batchDf(b)
          val bt = bdf.select(col("doc_id").as("id"),
            graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
          val dup = graft.ext.Dedup.nearDuplicatesAgainstFromTokens(
              bt, refCorpus, threshold = 0.5, k = 5)
            .select("new_id").distinct()
            .collect().map(_.getLong(0)).toSet
          val sv = bdf
            .filter(graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.7 &&
              graft.ext.TextAnalysis.langId(col("text")) === "en" &&
              graft.ext.TextAnalysis.tokenCount(col("text")) >= 10)
            .select("doc_id").collect().map(_.getLong(0)).toSet -- dup
          admitted ++= sv
          if (sv.nonEmpty) refCorpus = refCorpus.unionByName(
            bt.filter(col("id").isin(sv.toSeq: _*)))
        }
        streamed == admitted
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(5), p)
      assert(res.passed, res.status.toString)
    } finally {
      docs.unpersist(blocking = false)
      corpusToks.unpersist(blocking = false)
      for (s <- Seq("_bands", "_sh", "_meta"))
        spark.sql(s"DROP TABLE IF EXISTS gatedlaw_spec$s")
    }
  }
}
