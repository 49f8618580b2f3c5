package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Tables, Validate}
import graft.check.Checks
import graft.report.{ErrorCodes, PackageReport, TableReport}
import graft.schema.{DescriptorJson, Package}
import graft.sources.{BucketedManifest, IndexStore}
import graft.streaming.StreamingValidate

/** Benchmark harness for one workload in one JVM.
  *
  * Drives the validator only through its public entry points and
  * observes it only from outside: wall and CPU time around each call,
  * a SparkListener for jobs/tasks/bytes, `getRDDStorageInfo` for the
  * cache, and the JMX memory and GC beans for the heap. Every op's output is
  * compared with the fixture's expected outcome; a mismatch or an
  * exception counts the op as failed.
  *
  * Untraced mode (`--trace 0`) times whole ops. Traced mode (`--trace 1`)
  * alternates untraced ops (for job counts and the coverage baseline)
  * with traced ops, in which each entry point the op composes is called
  * on its own inside a span. Spans are kept in memory and written to
  * `--spans` when the run ends.
  *
  * Usage: PerfBench --workload W --fixture DIR --ops N --trace 0|1
  *   --tmp DIR --out FILE [--spans FILE] [--warmups N] [--cores N]
  */
object PerfBench {

  final case class Args(workload: String, fixture: String, ops: Int,
      trace: Boolean, tmp: String, out: String, spans: String,
      warmups: Int, cores: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("fixture"), kv("ops").toInt,
      kv.getOrElse("trace", "0") == "1", kv("tmp"), kv("out"),
      kv.getOrElse("spans", ""), kv.getOrElse("warmups", "1").toInt,
      kv.getOrElse("cores", "4").toInt)
    val result = new Run(a).run()
    Files.write(Paths.get(a.out), result.getBytes(UTF_8))
  }

  // ------------------------------------------------------------ listener
  val BarrierGroup = "perfbench-barrier"

  /** Cumulative Spark counters. Jobs of the barrier group (see
    * [[Run.barrier]]) and their tasks are not counted.
    */
  final class Counters extends SparkListener {
    val jobs, tasks, taskMs, gcMs, inBytes, shufWrite, shufRead =
      new AtomicLong
    private val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
    private val barrierStages = ConcurrentHashMap.newKeySet[Int]()
    private var barriersDone = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == BarrierGroup) {
        barrierJobs.add(e.jobId)
        e.stageIds.foreach(barrierStages.add)
      } else jobs.incrementAndGet()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!barrierStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (barrierJobs.contains(e.jobId)) synchronized {
        barriersDone += 1
        notifyAll()
      }

    def awaitBarriers(n: Long): Unit = synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (barriersDone < n && System.currentTimeMillis() < deadline)
        wait(100)
    }

    def snapshot(): Array[Long] =
      Array(jobs, tasks, taskMs, gcMs, inBytes, shufWrite, shufRead)
        .map(_.get())
  }

  val CounterNames = Seq("jobs", "tasks", "task_ms", "task_gc_ms",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes")

  // ------------------------------------------------------------ helpers
  val mapper = new ObjectMapper()

  def jstr(s: String): String = mapper.writeValueAsString(s)

  def jobj(kv: Iterable[(String, Any)]): String = kv.map { case (k, v) =>
    jstr(k) + ":" + (v match {
      case s: String => jstr(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case xs: Seq[_] => xs.map {
        case s: String => jstr(s)
        case o => o.toString
      }.mkString("[", ",", "]")
      case raw: Raw => raw.json
      case o => o.toString
    })
  }.mkString("{", ",", "}")

  final case class Raw(json: String)

  def jvmGcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = osBean.getProcessCpuTime

  def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** A report as {table -> (valid, {(code, field) -> (violations,
    * sorted values)})}, in package order: toJson's content without its
    * incidental orderings.
    */
  type Canon = Seq[(String, Boolean, Map[(String, String), (Long, Seq[String])])]

  def canon(json: String, drop: String => Boolean = _ => false): Canon =
    mapper.readTree(json).get("tables").elements().asScala.toSeq.map { t =>
      val errs = t.get("errors").elements().asScala.toSeq
        .filterNot(e => drop(e.get("code").asText()))
        .map { e =>
          (e.get("code").asText(), e.get("field").asText()) ->
            ((e.get("violations").asLong(),
              e.get("values").elements().asScala.map(_.asText()).toSeq.sorted))
        }.toMap
      (t.get("table").asText(), errs.isEmpty, errs)
    }

  /** None when equal, else the first difference. */
  def diff(got: Canon, want: Canon): Option[String] =
    if (got.map(_._1) != want.map(_._1))
      Some(s"tables ${got.map(_._1)} != ${want.map(_._1)}")
    else got.zip(want).collectFirst {
      case ((t, _, g), (_, _, w)) if g != w =>
        val keys = (g.keySet ++ w.keySet).toSeq.sorted
        val k = keys.find(k => g.get(k) != w.get(k)).get
        def show(v: Option[(Long, Seq[String])]) =
          v.map { case (n, s) => s"$n ${s.take(3).mkString("[", ",", "…]")}" }
            .getOrElse("absent")
        s"$t $k: got ${show(g.get(k))}, want ${show(w.get(k))}"
    }

  def filesUnder(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val walk = Files.walk(dir.toPath)
      try walk.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap
      finally walk.close()
    }
}

/** A span: one call into one layer, within op `trace`. */
final case class Span(name: String, trace: Int, parent: String,
    startNs: Long, endNs: Long, counts: Array[Long], cachedBytes: Long,
    attrs: Map[String, Double])

/** What an op returns for its gate, plus layer attributes. */
final case class Outcome(check: () => Option[String],
    attrs: Map[String, Double] = Map.empty)

final class Run(a: PerfBench.Args) {
  import PerfBench._

  private val nano0 = System.nanoTime()
  private val uptime0Ms = ManagementFactory.getRuntimeMXBean.getUptime
  private def sinceStartS: Double =
    uptime0Ms / 1e3 + (System.nanoTime() - nano0) / 1e9

  var spark: SparkSession = _
  private var counters: Counters = _
  private var barriersIssued = 0L
  private val spans = mutable.ArrayBuffer[Span]()
  private var traceId = 0

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .config("spark.local.dir", s"${a.tmp}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.tmp}/ckpt")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.tmp}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (a.trace) {
      counters = new Counters
      s.sparkContext.addSparkListener(counters)
    }
    s
  }

  /** Wait until the listener has seen every event posted so far: run a
    * one-task job in the barrier group and wait for its end event,
    * which the listener bus delivers after all earlier events.
    */
  private def barrier(): Unit = {
    val sc = spark.sparkContext
    barriersIssued += 1
    sc.setJobGroup(BarrierGroup, "listener barrier", false)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.clearJobGroup()
    counters.awaitBarriers(barriersIssued)
  }

  private def cachedBytes(): Long = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum

  /** Time `body` as span `name` of the current traced op. */
  private def span[T](name: String)(body: => T): T =
    spanWith(name)(body)(_ => Map.empty)

  /** [[span]], recording `attrs` of the result with it. */
  private def spanWith[T](name: String)(body: => T)(
      attrs: T => Map[String, Double]): T = {
    barrier()
    val c0 = counters.snapshot()
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    barrier()
    val c1 = counters.snapshot()
    spans += Span(name, traceId, "op.traced", t0, t1, c1.zip(c0).map {
      case (x, y) => x - y }, cachedBytes(), attrs(r))
    r
  }

  /** Record the untraced op just timed, with its counter deltas. */
  private def opSpan(name: String, t0: Long, t1: Long, c0: Array[Long],
      gc0: Long, attrs: Map[String, Double]): Unit = {
    barrier()
    val c1 = counters.snapshot()
    spans += Span(name, traceId, "", t0, t1, c1.zip(c0).map {
      case (x, y) => x - y }, cachedBytes(),
      attrs + ("jvm_gc_ms" -> (jvmGcMs() - gc0).toDouble))
  }

  // ----------------------------------------------------------- workloads
  trait Workload {
    def rowsPerOp: Long
    /** The workload's own set-up: descriptor load, index build. */
    def setup(): Unit
    def hasNext: Boolean = true
    def op(): Outcome
    def tracedOp(): Outcome
    def finish(): Seq[(String, Any)] = Nil
  }

  private def meta(key: String): JsonNode =
    mapper.readTree(new File(a.fixture, "meta.json")).get(key)

  private def reportCheck(report: PackageReport, want: Canon)
      : () => Option[String] =
    () => diff(canon(report.toJson), want)

  /** csv_star / csv_dirty: parsePackage -> validateCsv -> toJson. */
  final class CsvWorkload extends Workload {
    private val json = read(s"${a.fixture}/datapackage.json")
    private val want = canon(read(s"${a.fixture}/expected.json"))
    val rowsPerOp: Long = meta("rows").asLong()
    private val cells = meta("cells").asDouble()

    /** csv_star's inputs have a parquet twin. Its validateTyped report
      * must equal the same expected report, so each op's report, held to
      * that report, also equals the parquet report on every check the
      * two share. Run once, after the timed loop.
      */
    override def finish(): Seq[(String, Any)] = {
      val twin = meta("parquet")
      if (twin != null) {
        val pkg = DescriptorJson.parsePackage(json)
        val tables = pkg.resources.map(r =>
          r.name -> spark.read.parquet(s"${twin.asText()}/${r.name}.parquet"))
          .toMap
        diff(canon(Validate.validateTyped(tables, pkg).toJson), want)
          .foreach(d => throw new IllegalStateException(s"parquet twin: $d"))
      }
      Nil
    }

    def setup(): Unit = DescriptorJson.parsePackage(json)

    def op(): Outcome = {
      val pkg = DescriptorJson.parsePackage(json)
      val report = Validate.validateCsv(spark, pkg)
      report.toJson
      Outcome(reportCheck(report, want))
    }

    def tracedOp(): Outcome = {
      val pkg = span("schema.parse")(DescriptorJson.parsePackage(json))
      val fused = mutable.ListBuffer[DataFrame]()
      val parsed = pkg.resources.map { res =>
        val header = span("Validate.header")(Validate.headerCheck(
          Validate.actualCsvHeader(spark, res), res.schema)
          .map(_.copy(table = res.name)))
        val (typed, errs, failed) = spanWith("parse.table")(
          Validate.parseTable(Validate.readResource(spark, res), res.schema,
            Set.empty, Validate.MaxDictValues, Some(fused))) { r =>
          Map("invalid_cells" -> r._2.filter(
            _.code == ErrorCodes.TypeOrFormat).map(_.violations).sum.toDouble)
        }
        span("Validate.read")(Validate.readCsv(spark, res)
          .write.format("noop").mode("overwrite").save())
        res.name -> ((typed, header ++ errs.map(_.copy(table = res.name)),
          failed))
      }.toMap
      val tables = parsed.map { case (k, v) => k -> v._1 }
      span("Validate.cache_warm")(parallel(tables.values.toSeq)(_.count()))
      val base = span("check.all")(Validate.validateTyped(tables, pkg))
      val (report, _) = spanWith("report.fold") {
        val r = PackageReport(base.tables.map { t =>
          val (_, parseErrs, failed) = parsed(t.table)
          TableReport(t.table,
            parseErrs ++ t.errors.filterNot(e => failed(e.field)))
        })
        (r, r.toJson)
      }(r => Map("json_bytes" -> r._2.length.toDouble))
      checkSpans(tables, pkg)
      span("Validate.release")(fused.foreach(_.unpersist()))
      Outcome(reportCheck(report, want), Map("cells" -> cells))
    }
  }

  /** The per-resource decomposition of validateTyped, run serially: one
    * check.table span per resource, one check.fk span per foreign key.
    */
  private def checkSpans(tables: Map[String, DataFrame], pkg: Package): Unit =
    pkg.resources.foreach { res =>
      span("check.table")(Validate.checkTable(tables(res.name), res.schema))
      res.schema.foreignKeys.foreach { fk =>
        val parent = tables(if (fk.refResource.isEmpty) res.name
          else fk.refResource)
        span("check.fk")(Checks.foreignKey(tables(res.name), fk.fields,
          parent, fk.refFields).count())
      }
    }

  private def parallel[T](xs: Seq[T])(f: T => Any): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, xs.size.max(1)))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))),
      Duration.Inf)
    finally pool.shutdown()
  }

  /** typed_small: validateTyped(loadAll(parquet), starSchema) -> toJson. */
  final class TypedWorkload extends Workload {
    private val dir = meta("parquet").asText()
    private val want = canon(read(s"${a.fixture}/expected.json"))
    val rowsPerOp: Long = meta("rows").asLong()

    def setup(): Unit = ()

    def op(): Outcome = {
      val report = Validate.validateTyped(Tables.loadAll(spark, dir),
        Tables.starSchema)
      report.toJson
      Outcome(reportCheck(report, want))
    }

    def tracedOp(): Outcome = {
      val tables = span("Validate.read")(Tables.loadAll(spark, dir))
      val report = span("check.all")(
        Validate.validateTyped(tables, Tables.starSchema))
      spanWith("report.fold")(report.toJson)(j =>
        Map("json_bytes" -> j.length.toDouble))
      checkSpans(tables, Tables.starSchema)
      Outcome(reportCheck(report, want))
    }
  }

  /** stream_ingest: one arriving batch through the versioned bucketed
    * key index (check, then admit), then tiered compaction.
    */
  final class StreamWorkload extends Workload {
    private val keys = Seq("o_orderkey")
    private val MaxGens = 2
    private val batchDir = meta("batches").asText()
    private val nBatches = meta("n_batches").asInt()
    private val expected: IndexedSeq[Set[(Long, Long, Long)]] =
      mapper.readTree(new File(a.fixture, "expected_batches.json"))
        .elements().asScala.map(_.elements().asScala.map { r =>
          (r.get(0).asLong(), r.get(1).asLong(), r.get(2).asLong())
        }.toSet).toIndexedSeq
    val rowsPerOp: Long = meta("rows").asLong()
    private val table = "perfbench_keys"
    private val inDir = s"${a.tmp}/stream/in"
    private val ckpt = s"${a.tmp}/stream/ckpt"
    private val sink = s"${a.tmp}/stream/sink"
    var batch = 0

    def setup(): Unit = {
      Files.createDirectories(Paths.get(inDir))
      IndexStore.writeKeyIndexBucketedVersioned(
        spark.read.parquet(meta("history").asText()), table, keys,
        numBuckets = 8)
    }

    override def hasNext: Boolean = batch < nBatches

    private def batchPath(b: Int) = f"$batchDir/batch-$b%05d.parquet"

    private def warehouse = new File(s"${a.tmp}/warehouse")

    /** The sink rows this op appended, against the batch's expectation. */
    private def gate(b: Int, before: Set[String]): () => Option[String] = {
      val fresh = filesUnder(new File(sink)).keys
        .filter(p => p.endsWith(".parquet") && !before(p)).toSeq
      () => {
        val got =
          if (fresh.isEmpty) Set.empty[(Long, Long, Long)]
          else spark.read.parquet(fresh: _*).collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        if (got == expected(b)) None
        else Some(s"batch $b: ${got.size} violations, want " +
          s"${expected(b).size}; e.g. ${(got diff expected(b)).take(3)} " +
          s"${(expected(b) diff got).take(3)}")
      }
    }

    def op(): Outcome = {
      val b = batch
      batch += 1
      Files.copy(Paths.get(batchPath(b)), Paths.get(f"$inDir/batch-$b%05d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val before = filesUnder(new File(sink)).keySet
      val c0 = if (a.trace) counters.snapshot() else null
      val t0 = System.nanoTime()
      StreamingValidate.uniqueIngestRunVersioned(spark, inDir, table, keys,
        ckpt, sink)
      val t1 = System.nanoTime()
      // traced runs count the batch's own jobs; the barrier's time is
      // taken back out of the op's wall time
      val jobs = if (a.trace) { barrier(); counters.jobs.get() - c0(0) }
        else 0L
      val t2 = System.nanoTime()
      val ran = IndexStore.maybeCompactKeyIndexBucketedVersioned(spark,
        table, MaxGens)
      Outcome(gate(b, before), Map("batch_s" -> (t1 - t0) / 1e9,
        "batch_jobs" -> jobs.toDouble, "untimed_s" -> (t2 - t1) / 1e9,
        "compactions" -> (if (ran) 1.0 else 0.0)))
    }

    def tracedOp(): Outcome = {
      val b = batch
      batch += 1
      val before = filesUnder(new File(sink)).keySet
      val delta = spark.read.parquet(batchPath(b))
      span("sources.check") {
        Checks.uniqueAgainstIndex(delta,
          IndexStore.readKeyIndexBucketedVersioned(spark, table, keys), keys)
          .write.mode("append").parquet(sink)
      }
      val w0 = filesUnder(warehouse)
      span("sources.admit") {
        IndexStore.appendKeyIndexBucketedVersioned(delta, table, keys)
        spark.catalog.refreshTable(s"${table}_keys")
      }
      val w1 = filesUnder(warehouse)
      val ran = span("sources.compact")(
        IndexStore.maybeCompactKeyIndexBucketedVersioned(spark, table,
          MaxGens))
      val w2 = filesUnder(warehouse)
      def written(from: Map[String, Long], to: Map[String, Long]) =
        to.collect { case (p, n) if !from.contains(p) => n }.sum.toDouble
      val admitted = written(w0, w1)
      Outcome(gate(b, before), Map(
        "admitted_bytes" -> admitted,
        "written_bytes" -> (admitted + written(w1, w2)),
        "disk_bytes" -> w2.collect { case (p, n)
          if p.contains(table.toLowerCase) => n }.sum.toDouble,
        "generations" -> BucketedManifest.gensOf(spark, table,
          s"${table}_keys").size.toDouble,
        "compactions" -> (if (ran) 1.0 else 0.0)))
    }

    override def finish(): Seq[(String, Any)] = {
      val totals = StreamingValidate.uniqueViolationTotals(spark, sink, keys)
        .collect().map(r => s"[${r.getLong(0)},${r.get(1)}]")
      Seq("batches_done" -> batch,
        "stream_totals" -> Raw(totals.mkString("[", ",", "]")))
    }
  }

  // ----------------------------------------------------------------- run
  def run(): String = {
    val w: Workload = a.workload match {
      case "csv_star" | "csv_dirty" => new CsvWorkload
      case "typed_small" => new TypedWorkload
      case "stream_ingest" => new StreamWorkload
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    var attempted, failed = 0
    val reasons = mutable.ArrayBuffer[String]()
    def gate(o: Outcome): Boolean = {
      val err = try o.check() catch {
        case e: Throwable => Some(s"gate threw $e")
      }
      err.foreach(e => if (reasons.size < 5) reasons += e)
      err.isEmpty
    }
    val leaked, liveHeapMb, releaseS = mutable.ArrayBuffer[Double]()
    // each heap pool's occupancy as the last collection left it, so
    // what other threads allocate after the GC is not counted
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    /** Outside every timed region: leak accounting, a full GC and the
      * heap it leaves (what the op left live), then release of the
      * op's leftovers.
      */
    def release(): Unit = {
      val sc = spark.sparkContext
      leaked += sc.getPersistentRDDs.size.toDouble
      val t0 = System.nanoTime()
      System.gc()
      liveHeapMb += heapPools.flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum / 1e6
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      releaseS += (System.nanoTime() - t0) / 1e9
    }

    // set-up: the session and the workload's own set-up (descriptor
    // load, index build), then untimed, gated warm-up ops that carry the
    // JIT past the knee of its curve; setup_s runs from JVM start to the
    // first timed op
    spark = newSession()
    w.setup()
    val sessionS = sinceStartS
    val warmS = (1 to a.warmups).map { _ =>
      val t0 = System.nanoTime()
      val o = w.op()
      val s = (System.nanoTime() - t0) / 1e9 - o.attrs.getOrElse("untimed_s", 0.0)
      if (!gate(o))
        throw new IllegalStateException(
          s"warm-up op failed its gate: ${reasons.last}")
      release()
      s
    }
    val setupS = sinceStartS
    leaked.clear(); liveHeapMb.clear(); releaseS.clear()

    val opS, cpuS = mutable.ArrayBuffer[Double]()
    var n = 0
    while (attempted < a.ops && w.hasNext) {
      val tracedTurn = a.trace && n % 2 == 1
      n += 1
      traceId += 1
      attempted += 1
      val ok =
        try {
          if (tracedTurn) {
            val t0 = System.nanoTime()
            val o = w.tracedOp()
            spans += Span("op.traced", traceId, "", t0, System.nanoTime(),
              Array.fill(CounterNames.size)(0L), 0L, o.attrs)
            gate(o)
          } else {
            val c0 = if (a.trace) { barrier(); counters.snapshot() } else null
            val gc0 = jvmGcMs()
            val cpu0 = cpuNs()
            val t0 = System.nanoTime()
            val o = w.op()
            val t1 = System.nanoTime()
            val cpu1 = cpuNs()
            opS += (t1 - t0) / 1e9 - o.attrs.getOrElse("untimed_s", 0.0)
            cpuS += (cpu1 - cpu0) / 1e9
            if (a.trace) opSpan("op.untraced", t0, t1, c0, gc0, o.attrs)
            gate(o)
          }
        } catch { case e: Throwable =>
          if (reasons.size < 5) reasons += s"op threw $e"
          false
        }
      if (!ok) failed += 1
      release()
    }
    val fin = try w.finish() catch { case e: Throwable =>
      failed += 1
      reasons += s"finish threw $e"
      Nil
    }
    if (a.spans.nonEmpty) writeSpans()
    spark.stop()
    jobj(Seq[(String, Any)](
      "workload" -> a.workload, "attempted" -> attempted, "failed" -> failed,
      "reasons" -> reasons.toSeq, "setup_s" -> setupS,
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "op_s" -> opS.toSeq,
      "cpu_s" -> cpuS.toSeq, "rows_per_op" -> w.rowsPerOp,
      "live_heap_mb" -> liveHeapMb.toSeq,
      "leaked_rdds" -> leaked.toSeq, "release_s" -> releaseS.toSeq,
      "cores" -> a.cores) ++ fin)
  }

  private def writeSpans(): Unit = {
    val lines = spans.map { s =>
      jobj(Seq[(String, Any)]("name" -> s.name, "trace" -> s.trace,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "cached_bytes" -> s.cachedBytes) ++
        CounterNames.zip(s.counts) ++
        Seq("attrs" -> Raw(jobj(s.attrs))))
    }
    Files.write(Paths.get(a.spans), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
