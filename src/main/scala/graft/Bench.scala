package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Per-query attribution counters (round-7 directive: the ~2×
    * in-suite tax on iteration-bound queries was invisible because the
    * artifact recorded only a wall-clock median — record WHERE the
    * wall goes so harness tax and real regressions are
    * distinguishable). Jobs + task-time come from a listener (async
    * bus — deltas are snapshotted behind an explicit
    * `waitUntilEmpty` drain barrier); GC time is the sum over
    * all collector beans of this single local-mode JVM, so it covers
    * driver and executors alike.
    */
  private final class Counters extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        taskMs.addAndGet(t.taskMetrics.executorRunTime)
        taskGcMs.addAndGet(t.taskMetrics.jvmGCTime)
      }
  }

  private def jvmGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Lower-middle median: for odd n the middle sample, for even n the
    * lower of the two middles — always a REAL observed wall time, never
    * an interpolated value.
    */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.length - 1) / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Repeat protocol: SPARK_GRAFT_BENCH_REPS=N runs the WHOLE suite N
    // times (round-robin, so a contention spike hits different queries
    // on different passes) and reports the per-query MEDIAN plus min/max
    // spread — making run-to-run noise and real regressions
    // distinguishable. Default 3 (round-6 directive: the artifact of
    // record must be a median, not a single contended pass — the r5
    // single-pass run billed PageRank 28.6 s against a 5.6–6.7 s repeat
    // median). Env override stays for quick local bisection (reps=1).
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed JIT/codegen warmup so session spin-up isn't billed to
    // whichever query happens to run first (touches no benchmark data —
    // synthetic rows only). The second statement walks the library's hot
    // expression stack (tokenize → shingle-hash → minhash → band join →
    // jaccard): interpreter setup for HOFs, md5, and the native
    // expressions otherwise bills ~5 s of JIT to the alphabetically
    // first dedup query.
    spark.range(1000000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions._
      val synth = spark.range(2000).select(col("id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 7), lit(23)))): _*)
          .as("text"))
      // two passes: C2 JIT promotion needs more than one execution of
      // the generated code before timings stabilize
      (1 to 2).foreach { _ =>
        graft.ext.Dedup.duplicateClusters(
          graft.ext.Dedup.nearDuplicates(synth, "id", "text",
            threshold = 0.5, k = 3)).count()
        spark.catalog.clearCache()
      }
    }
    // The flagship end-to-end validate() path (read → parse → check →
    // report over the full star schema) timed as its own row, so the
    // orchestration overhead — per-check job submission, report fold —
    // is measured, not assumed. Bench-only: correctness of the same
    // path is covered by the Smoke gate + ValidateSpec e2e.
    val e2e: (String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame) =
      "e2e_validate" -> ((s, dir) => Validate.reportDF(s,
        Validate.validateTyped(Tables.loadAll(s, dir), Tables.starSchema)))
    // optional name filter for local bisection (driver sets no filter)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // CSV twin of the flagship: the reference's own ingest shape is CSV
    // (S2 all-string read + missing projection + per-field parse), so
    // the parquet-only e2e under-reports a switching user's cost. The
    // fixture is materialized ONCE here, untimed (a lake drop exists
    // before validation starts); the row times read+parse+check+report.
    // Built only when the filter keeps the row — a name-filtered run on
    // a documents-only directory (the Zipf protocol corpus) must not
    // touch the star schema.
    val e2eCsv: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] =
      if (only.nonEmpty && !only("e2e_validate_csv")) Nil
      else {
        val csvPkg = graft.sources.CsvFixture.ensure(spark, sfDir)
        Seq("e2e_validate_csv" -> ((s: SparkSession, _: String) =>
          Validate.reportDF(s, Validate.validateCsv(s, csvPkg))))
      }
    // Zipf text fixture (heavy-tailed oracle corpus): materialized ONCE
    // here, untimed — the rows time the operators, not fixture
    // generation (idempotent, so a pre-existing fixture is a no-op)
    if (only.isEmpty || only.exists(_.startsWith("x_zipf")))
      graft.sources.ZipfFixture.ensure(spark, sfDir)
    // Deterministic order (Map iteration is hash-ordered) so per-query
    // timings are comparable across rounds; clear leaked per-query caches
    // between queries so one query's working set doesn't tax the next —
    // in production each validation is its own job with a fresh session.
    val suite = (SparkEntry.queries.toSeq ++ (e2e +: e2eCsv)).sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val samples = scala.collection.mutable.LinkedHashMap[String,
      Vector[Double]]()
    val gcSamples = scala.collection.mutable.LinkedHashMap[String,
      Vector[Long]]()
    val jobSamples = scala.collection.mutable.LinkedHashMap[String,
      Vector[Long]]()
    val taskSamples = scala.collection.mutable.LinkedHashMap[String,
      Vector[Long]]()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    for (_ <- 1 to reps; (name, fn) <- suite) {
      val gc0 = jvmGcMs()
      val jobs0 = counters.jobs.get()
      val task0 = counters.taskMs.get()
      val t0 = System.nanoTime()
      // a failed query records -1, never a wall time: a breakage must
      // read as a breakage in the bench, not as a fast query
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(300)
          false
        }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      spark.catalog.clearCache()
      // localCheckpoint storage is NOT covered by clearCache — the
      // checkpointed RDDs sit in persistent storage until GC'd, and
      // measured +4x on late dedup queries at sf1 as the session
      // accumulated blocks. Everything persisted is per-query debris
      // at this point (each query builds its own artifacts), so drop
      // it deterministically.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // broadcast/shuffle cleanup is weak-reference driven: without a
      // GC nudge the ContextCleaner only reclaims on heap pressure,
      // and on a small driver heap a later allocation-heavy query
      // then pays the accumulated debt as GC thrash
      System.gc()
      samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
      // attribution deltas INCLUDE the cleanup just performed — the
      // unpersist + forced GC are part of what this query cost the
      // suite. Hard drain barrier before reading the counters: the
      // listener bus is async, and without it a loaded run can bill
      // one query's tail task events to the next row — attribution-
      // only, but it is the signal the verdict leans on
      org.apache.spark.GraftSparkShim.drainListenerBus(
        spark.sparkContext, 10000L)
      gcSamples(name) = gcSamples.getOrElse(name, Vector.empty) :+
        (jvmGcMs() - gc0)
      jobSamples(name) = jobSamples.getOrElse(name, Vector.empty) :+
        (counters.jobs.get() - jobs0)
      taskSamples(name) = taskSamples.getOrElse(name, Vector.empty) :+
        (counters.taskMs.get() - task0)
    }
    // per-query value = median over the successful reps (all-failed → -1)
    val results = suite.map { case (name, _) =>
      val good = samples.getOrElse(name, Vector.empty).filter(_ >= 0)
      name -> (if (good.isEmpty) -1.0 else median(good))
    }
    // contract line vs detail artifact (r18, VERDICT item 2): the r16
    // driver capture kept only the last 2000 bytes of stdout and the
    // 150 KB single line (348 entries × per-rep samples/gc/jobs/task
    // maps) defeated its parser — the whole round-over-round PERF
    // comparison was lost. stdout now carries ONLY the required
    // contract fields; the per-rep attribution maps live in the
    // target/bench*.json file artifacts (and on stdout only when
    // SPARK_GRAFT_BENCH_DETAIL=1 asks for the old line). Both strings
    // come from one pure helper so BenchJsonSpec can assert each
    // parses as standalone JSON.
    val (contract, detail) = renderJson(results, errors, reps, sfDir,
      samples, gcSamples, jobSamples, taskSamples)
    val toStdout =
      if (sys.env.get("SPARK_GRAFT_BENCH_DETAIL").contains("1")) detail
      else contract
    println(toStdout)
    // file artifact: a truncated stdout tail must never lose per-query
    // data (BENCH_r03's tail cut 26 entries)
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // tagged immutable snapshot (round-7 directive: close-out numbers
      // must quote artifacts the driver cannot overwrite — the r6
      // close-out cited a target/bench.json that was clobbered an hour
      // later). Local protocol runs set SPARK_GRAFT_BENCH_TAG.
      sys.env.get("SPARK_GRAFT_BENCH_TAG").filter(_.nonEmpty)
        .foreach { tag =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"target/bench_$tag.json"),
            (detail + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: $e")
    }
    spark.stop()
  }

  /** Assemble the (contract, detail) JSON lines. Pure — unit-tested by
    * BenchJsonSpec so a shape change can never again ship a stdout
    * line the driver fails to parse.
    *
    * contract: {"metric","value","unit","queries","errors","reps",
    * "sf"} — the driver-required fields only, ~40 bytes per query.
    * detail: the contract fields PLUS per-query min/max spread (reps >
    * 1) and the per-rep attribution arrays — raw walls (sec), GC time
    * (ms, whole-JVM collector beans), job count, summed task
    * executorRunTime (ms). wall ≫ task/cpus with flat GC ⇒ driver-side
    * (scheduling/bus) overhead; GC growth ⇒ memory debt — the two
    * causes the round-6 verdict could not separate.
    */
  private[graft] def renderJson(
      results: Seq[(String, Double)],
      errors: scala.collection.Map[String, String],
      reps: Int,
      sfDir: String,
      samples: scala.collection.Map[String, Vector[Double]],
      gcSamples: scala.collection.Map[String, Vector[Long]],
      jobSamples: scala.collection.Map[String, Vector[Long]],
      taskSamples: scala.collection.Map[String, Vector[Long]])
      : (String, String) = {
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // spread only when it exists (reps > 1): per-query min/max over
    // successful reps — the run-to-run noise band the median sits in
    val spread =
      if (reps <= 1) ""
      else {
        val sp = results.map { case (k, _) =>
          val good = samples.getOrElse(k, Vector.empty).filter(_ >= 0)
          val (mn, mx) =
            if (good.isEmpty) (-1.0, -1.0) else (good.min, good.max)
          jstr(k) + s""":{"min":$mn,"max":$mx}"""
        }.mkString("{", ",", "}")
        s""","spread":$sp"""
      }
    def longMap(m: scala.collection.Map[String, Vector[Long]]): String =
      results.map { case (k, _) =>
        jstr(k) + ":" + m.getOrElse(k, Vector.empty)
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val walls = results.map { case (k, _) =>
      jstr(k) + ":" + samples.getOrElse(k, Vector.empty)
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // total sums successful queries only (failures contribute -1 in the
    // per-query map and are enumerated in "errors")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val contract = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"errors":$errs,"reps":$reps,""" +
      s""""sf":${jstr(sfDir)}}"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"errors":$errs,"reps":$reps$spread,""" +
      s""""samples":$walls,"gc_ms":${longMap(gcSamples)},""" +
      s""""jobs":${longMap(jobSamples)},""" +
      s""""task_ms":${longMap(taskSamples)},""" +
      s""""sf":${jstr(sfDir)}}"""
    (contract, detail)
  }
}
