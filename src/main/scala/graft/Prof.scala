package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch single-query profiler (not part of the harness contract).
  * Each `[prof]` line gives the query's wall time, its row count, its
  * Spark jobs (including the final `count()`) and the generated classes
  * it compiled. Naming a query twice shows its warm recompiles: a call
  * whose code fits Spark's codegen cache compiles nothing the second
  * time.
  */
object Prof {
  private val BarrierGroup = "prof-barrier"

  /** Counts the session's jobs outside [[BarrierGroup]]. */
  private final class JobCounter(spark: SparkSession) extends SparkListener {
    private val jobs = new AtomicLong
    private val barriers = ConcurrentHashMap.newKeySet[Int]()
    private var barriersDone, barriersIssued = 0L
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .contains(BarrierGroup)) barriers.add(e.jobId)
      else jobs.incrementAndGet()

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (barriers.contains(e.jobId)) synchronized {
        barriersDone += 1
        notifyAll()
      }

    /** The job count once every event posted so far is delivered: a
      * one-task job in the barrier group ends after all of them.
      */
    def drained(): Long = {
      val sc = spark.sparkContext
      sc.setJobGroup(BarrierGroup, "listener barrier", false)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.clearJobGroup()
      synchronized {
        barriersIssued += 1
        while (barriersDone < barriersIssued) wait(100)
      }
      jobs.get()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.toSeq match {
      case Seq() => Seq("x_dedup_minhash")
      case s => s
    }
    // SPARK_GRAFT_PROF_CONF="k=v;k=v" — ad-hoc session conf for A/B
    // profiling experiments
    val extra = sys.env.getOrElse("SPARK_GRAFT_PROF_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v) }
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_STAGES=1: per-stage executorRunTime attribution —
    // which stage (by callsite) the task milliseconds actually go to
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler
                .SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val m = i.taskMetrics
            val ms = m.executorRunTime
            if (ms > 200)
              println(f"[stage] ${i.stageId}%5d run=${ms}%7d cpu=" +
                f"${m.executorCpuTime / 1000000}%7d gc=${m.jvmGCTime}%6d " +
                f"deser=${m.executorDeserializeTime}%5d ms " +
                f"tasks=${i.numTasks}%4d  ${i.name.take(60)}%s")
          }
        })
    val jobs = new JobCounter(spark)
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // internal-execution bookkeeping: dump only THIS query's
    // executions, not everything since process start
    var lastExecId = -1L
    names.foreach { name =>
      // every query's Spark jobs and generated classes compiled (the
      // codegen cache's misses), counted outside the timed region
      val jobs0 = jobs.drained()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // the builder call is INSIDE the timed region: eager operators
      // (duplicateClusters' propagation loop, ivf index builds) do their
      // work at plan-build time, exactly as Bench accounts them
      val t0 = System.nanoTime()
      // the two bench-only e2e rows are reachable here too (r18: the
      // validate_csv single-scan work needs their plan artifacts and
      // stage attribution); fixture ensure is untimed in Bench, but in
      // this scratch tool the idempotent ensure is cheap after the
      // first run
      val df = name match {
        case "e2e_validate" => Validate.reportDF(spark,
          Validate.validateTyped(Tables.loadAll(spark, dir),
            Tables.starSchema))
        case "e2e_validate_csv" => Validate.reportDF(spark,
          Validate.validateCsv(spark,
            graft.sources.CsvFixture.ensure(spark, dir)))
        case n => SparkEntry.queries(n)(spark, dir)
      }
      if (explain) {
        println(s"[prof] ===== $name =====")
        println(df.queryExecution.executedPlan.treeString.linesIterator
          .map("[prof] " + _).mkString("\n"))
      }
      // SPARK_GRAFT_EXPLAIN_DIR=<dir> [SPARK_GRAFT_EXPLAIN_SUFFIX=_before]
      // writes explain("formatted") to <dir>/<name><suffix>.txt — the
      // optimization-round plan artifact (judge-checkable without
      // Spark). Operators that materialize eagerly (CacheScope
      // checkpoint, iterative builders) return a bare LogicalRDD scan,
      // so the file also appends every INTERNAL SQL execution's
      // physical plan — that is where those operators' real joins,
      // exchanges, and aggregates live.
      sys.env.get("SPARK_GRAFT_EXPLAIN_DIR").filter(_.nonEmpty).foreach {
        d =>
          val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
          val p = java.nio.file.Paths.get(d, s"$name$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          val internal = spark.sharedState.statusStore.executionsList()
            .filter(_.executionId > lastExecId)
            .map(e => s"\n===== internal execution ${e.executionId}: " +
              s"${e.description.linesIterator.next().take(90)} =====\n" +
              e.physicalPlanDescription)
            .mkString("\n")
          java.nio.file.Files.write(p,
            (df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode) + internal)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $name%-28s $secs%8.2f s  (rows=$n) " +
        s"jobs=${jobs.drained() - jobs0} " +
        s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
      lastExecId = spark.sharedState.statusStore.executionsList()
        .lastOption.map(_.executionId).getOrElse(-1L)
      // SPARK_GRAFT_SQLMETRICS=1: per-operator metrics of EVERY SQL
      // execution this query ran (iterative builders run eagerly, so
      // the returned frame's plan hides the real work) — node name +
      // its time/rows metrics, largest first
      if (sys.env.get("SPARK_GRAFT_SQLMETRICS").contains("1")) {
        val store = spark.sharedState.statusStore
        store.executionsList().foreach { e =>
          val mets = store.executionMetrics(e.executionId)
          println(s"[sqlexec] id=${e.executionId} " +
            s"${e.description.linesIterator.next().take(90)}")
          store.planGraph(e.executionId).allNodes.foreach { nd =>
            val vals = nd.metrics.flatMap(m =>
              mets.get(m.accumulatorId).map(v =>
                s"${m.name}=${v.linesIterator.mkString(" ")}"))
            if (vals.nonEmpty)
              println(s"[sqlnode]   ${nd.name}: " +
                vals.mkString(" | ").take(400))
          }
          if (sys.env.get("SPARK_GRAFT_SQLPLANS").contains("1"))
            println(e.physicalPlanDescription.linesIterator
              .map("[sqlplan] " + _).mkString("\n"))
        }
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
