package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.collection.mutable.ListBuffer

import graft.check.Checks
import graft.parse.Parsers
import graft.report._
import graft.schema._

/** E1 flagship orchestration (SURVEY.md §3): read → (parse) → constraint /
  * key / foreign-key checks → report.
  *
  * Two entry modes:
  *   - [[validateCsv]]: the reference's own lifecycle — CSV resources read
  *     all-string with declared schemas, missing-token substitution, typed
  *     parse with `type-or-format-error` collection, then checks on the
  *     parsed frame.
  *   - [[validateTyped]]: checks over already-typed DataFrames (the
  *     parquet harness path — parsing is a no-op there).
  *
  * Both run the package as one task graph ([[validatePackage]]): every
  * resource loads concurrently, and each check starts as soon as the
  * tables it reads are loaded (and, on the CSV path, cached).
  *
  * Scale notes (100 TB): each table is scanned once for the fused
  * constraint pass ([[Checks.constraintSummary]]); each key/unique check
  * is one hash-aggregate shuffle; each fk is one anti join with the parent
  * reduced to distinct keys first. Offending-value samples are bounded by
  * `maxErrorValues` — nothing unbounded is ever collected to the driver.
  */
object Validate {

  val MaxErrorValues = 100

  /** Has no effect: kept only for the benchmark harness's call of the
    * five-argument [[parseTable]] adapter, and goes with it.
    */
  val MaxDictValues = 262144L

  // -------------------------------------------------------------- CSV read
  /** Data Package dialect → Spark CSV reader options. RFC 4180 doubled
    * quotes are the spec default and map to `escape = quoteChar`; a
    * declared `escapeChar` is the mutually-exclusive alternative and
    * wins. `\r\n` / `\n` line terminators are auto-detected by the
    * parser, so `lineSep` is only pinned for a custom single-character
    * terminator (the reader's limit).
    */
  def csvOptions(d: Dialect): Map[String, String] = {
    val escape = d.escapeChar.getOrElse(
      if (d.doubleQuote) d.quoteChar else "\u0000")
    val base = Map(
      "header" -> d.header.toString,
      "sep" -> d.delimiter,
      "quote" -> d.quoteChar,
      "escape" -> escape,
      "ignoreLeadingWhiteSpace" -> d.skipInitialSpace.toString,
      "mode" -> "PERMISSIVE")
    val comment = d.commentChar.map(c => Map("comment" -> c))
      .getOrElse(Map.empty)
    val lineSep = d.lineTerminator match {
      case "\r\n" | "\n" | "" => Map.empty[String, String]
      case one if one.length == 1 => Map("lineSep" -> one)
      case other => throw new IllegalArgumentException(
        s"unsupported lineTerminator (must be \\r\\n, \\n or one char): " +
          other.map(c => f"\\u${c.toInt}%04x").mkString)
    }
    base ++ comment ++ lineSep
  }

  /** S2: all-string read (no inference), then per-field missing-token →
    * null projection. Spark CSV `nullValue` takes one token; the
    * projection handles the token *list* and per-field overrides exactly
    * (SURVEY.md §1.2).
    */
  def readCsv(spark: SparkSession, res: Resource): DataFrame =
    readCsv(spark, res, actualCsvHeader(spark, res))

  /** [[readCsv]] bound against an already-read header `actual` (as
    * returned by [[actualCsvHeader]]), so a caller that also checks the
    * header reads it once.
    */
  private def readCsv(
      spark: SparkSession, res: Resource, actual: Seq[String]): DataFrame = {
    val declared = res.schema.fieldNames
    // The declared schema binds POSITIONALLY (the header row is only
    // skipped). When the file's header is the same name multiset in a
    // different order, bind the all-string schema under the ACTUAL header
    // names and re-project to declared order — otherwise every downstream
    // parse/constraint would silently run against the wrong column (the
    // non-matching-header error is still reported by headerCheck).
    val bindNames =
      if (actual.sorted == declared.sorted && actual != declared) actual
      else declared
    val schema = StructType(bindNames.map(n =>
      StructField(n, StringType, nullable = true)))
    val raw = spark.read
      .options(csvOptions(res.dialect))
      .schema(schema)
      .csv(res.allPaths: _*)
    val reordered =
      if (bindNames == declared) raw
      else raw.select(declared.map(raw(_)): _*)
    applyMissing(reordered, res.schema)
  }

  /** The CSV file's own header row (the declared schema overrides column
    * naming on read, so reconciliation must look at the raw first line).
    * Parsed by the CSV reader under the full dialect — NOT a bare
    * `split` on the delimiter, which would break a quoted header cell
    * containing the delimiter apart and defeat the name-multiset
    * permutation check that readCsv's by-name binding relies on.
    */
  def actualCsvHeader(spark: SparkSession, res: Resource): Seq[String] = {
    if (!res.dialect.header) return res.schema.fieldNames // nothing to check
    val firstRow = spark.read
      .options(csvOptions(res.dialect) + ("header" -> "false"))
      .csv(res.allPaths.head)
      .head(1).headOption
    firstRow.map(_.toSeq.map(v =>
      Option(v).map(_.toString.trim).getOrElse("")))
      .getOrElse(Seq.empty)
  }

  /** S3: inline-data resource → all-string DataFrame (+ missing tokens),
    * same downstream lifecycle as a CSV read.
    */
  def readInline(spark: SparkSession, res: Resource): DataFrame = {
    val fields = res.schema.fieldNames
    val rows = res.inlineData.getOrElse(Seq.empty).map { m =>
      Row.fromSeq(fields.map(f => m.getOrElse(f, null)))
    }
    val schema = StructType(fields.map(f =>
      StructField(f, StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), schema)
    applyMissing(df, res.schema)
  }

  /** Read a resource by whichever source it declares (S2 CSV / S3
    * inline).
    */
  def readResource(spark: SparkSession, res: Resource): DataFrame =
    if (res.inlineData.isDefined) readInline(spark, res)
    else readCsv(spark, res)

  def applyMissing(df: DataFrame, schema: TableSchema): DataFrame =
    df.select(schema.fields.map { f =>
      val tokens = f.missingValues.getOrElse(schema.missingValues)
      Parsers.applyMissing(df(f.name), tokens).as(f.name)
    }: _*)

  // ---------------------------------------------------------------- header
  /** H1 header reconciliation (SURVEY.md §2.2): compare the frame's
    * columns against the declared fields — metadata-only, no Spark job.
    * Codes: missing-header (declared, absent), extra-header (present,
    * undeclared), non-matching-header (same set, different order),
    * duplicate-header, blank-header.
    */
  def headerCheck(columns: Seq[String], schema: TableSchema): Seq[CheckResult] = {
    val declared = schema.fieldNames
    val buf = Seq.newBuilder[CheckResult]
    def res(code: String, fields: Seq[String]): Unit =
      if (fields.nonEmpty)
        buf += CheckResult("", code, fields.mkString(","), fields.size, fields)
    res("missing-header", declared.filterNot(columns.contains))
    res("extra-header", columns.filterNot(declared.contains))
    res("blank-header", columns.filter(_.trim.isEmpty))
    res("duplicate-header",
      columns.groupBy(identity).collect { case (c, g) if g.size > 1 => c }.toSeq)
    // order mismatch only when the header is the same multiset of names
    if (columns.sorted == declared.sorted && columns != declared)
      res("non-matching-header", columns)
    buf.result()
  }

  // ----------------------------------------------------------------- parse
  /** E2 `parse_table`: the typed frame, per-field `type-or-format-error`
    * results (violation count and the [[MaxErrorValues]] smallest
    * distinct invalid values), and the fields that failed, from ONE scan
    * of `df`.
    *
    * The typed frame is built with one extra column per row-parsed field
    * that holds the raw value of its invalid cells:
    * `when(raw.isNotNull && typed.isNull, raw)`, which is
    * [[Parsers.invalidExpr]] derived from the typed value, so each cell
    * is parsed once. That frame is persisted and appended to `release`
    * BEFORE the aggregate runs, so the caller releases it even when the
    * aggregate throws. One aggregate over it counts and samples
    * (`bounded_distinct`) the invalid-cell columns. It always runs (a
    * trailing row count keeps it when no field is row-parsed), and as an
    * aggregate it scans every partition: the frame is fully cached when
    * this returns, so concurrent downstream checks never race each other
    * to build it. The returned typed frame is a column-pruning projection
    * over that cache.
    *
    * A field that fails to parse *anywhere* is failed and excluded from
    * downstream constraint checks (its typed column still exists, with
    * nulls at the bad cells) — the reference's skip semantics. A field
    * whose descriptor cannot compile to a parse expression (untranslatable
    * strptime directive, format 'any', unknown type) is a `schema-error`,
    * not a data error: its raw column is kept and it is failed too — the
    * reference's abort-the-field behavior, never a crash.
    */
  private[graft] def parseTable(
      df: DataFrame,
      schema: TableSchema,
      release: ListBuffer[DataFrame]
  ): (DataFrame, Seq[CheckResult], Set[String]) = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val buildErrors: Map[String, String] = schema.fields.flatMap { f =>
      try { Parsers.parseExpr(f, df(f.name)); None }
      catch {
        case e: graft.parse.PatternError => Some(f.name -> e.msg)
        case e: IllegalArgumentException => Some(f.name -> e.getMessage)
      }
    }.toMap
    val schemaErrs = schema.fields.flatMap(f =>
      buildErrors.get(f.name).map(msg =>
        CheckResult("", ErrorCodes.SchemaError, f.name, 1, Seq(msg))))
    val rowParsed = schema.fields.filterNot(f => buildErrors.contains(f.name))

    val stage1 = df.select(
      rowParsed.map(f => df(f.name).as(s"__graft_raw_${f.name}")) ++
      schema.fields.map(f =>
        if (buildErrors.contains(f.name)) df(f.name)
        else Parsers.parseExpr(f, df(f.name)).as(f.name)): _*)
    val typedPlus = stage1.select(
      schema.fields.map(f => col(f.name)) ++
      rowParsed.map(f =>
        when(col(s"__graft_raw_${f.name}").isNotNull &&
            col(f.name).isNull, col(s"__graft_raw_${f.name}"))
          .as(s"__graft_bad_${f.name}")): _*)
      .persist()
    release += typedPlus
    val aggs: Seq[Column] = rowParsed.flatMap { f =>
      Seq(
        count(col(s"__graft_bad_${f.name}")).as(s"${f.name}__n"),
        call_function("bounded_distinct", col(s"__graft_bad_${f.name}"),
          lit(MaxErrorValues)).as(s"${f.name}__v")
      )
    } :+ count(lit(1)).as("__graft_rows")
    val row = typedPlus.agg(aggs.head, aggs.tail: _*).collect()(0)
    val results = rowParsed.zipWithIndex.map { case (f, i) =>
      CheckResult("", ErrorCodes.TypeOrFormat, f.name,
        row.getLong(2 * i), row.getSeq[String](2 * i + 1))
    }
    val failed = results.filterNot(_.passed).map(_.field).toSet ++
      buildErrors.keySet
    (typedPlus.select(schema.fields.map(f => col(f.name)): _*),
      schemaErrs ++ results, failed)
  }

  /** The former five-argument signature, kept only because the benchmark
    * harness (`perfbench/src/PerfBench.scala`) compiles against it: no
    * dictionary fields and a release buffer are required, and the cap is
    * ignored. Goes with the next benchmark change.
    */
  private[graft] def parseTable(
      df: DataFrame, schema: TableSchema, dict: Set[String], cap: Long,
      release: Option[ListBuffer[DataFrame]]
  ): (DataFrame, Seq[CheckResult], Set[String]) = {
    require(dict.isEmpty && release.isDefined)
    parseTable(df, schema, release.get)
  }

  // ---------------------------------------------------------------- checks
  /** Constraint + key checks for one typed table. `skipFields` excludes
    * fields whose parse failed (E1 step 4 skip semantics).
    */
  def checkTable(
      df: DataFrame,
      schema: TableSchema,
      skipFields: Set[String] = Set.empty
  ): Seq[CheckResult] = checkTableTasks(schema, skipFields).flatMap(_(df))

  /** [[checkTable]] as independently-submittable tasks, one Spark
    * action each (round-12 directive #5): [[validatePackage]] submits
    * every table's tasks to one pool, so a one-big-table package
    * overlaps its own key/unique/constraint actions instead of
    * serializing on per-action latency. Built from the schema alone, so
    * the graph can be laid out before any table is loaded; the report
    * is a pure reassembly in task order, so the JSON stays
    * byte-identical.
    */
  private def checkTableTasks(
      schema: TableSchema,
      skipFields: Set[String] = Set.empty
  ): Seq[DataFrame => Seq[CheckResult]] = {
    val tasks = Seq.newBuilder[DataFrame => Seq[CheckResult]]
    val checked = schema.copy(fields =
      schema.fields.filterNot(f => skipFields(f.name)))

    // fused single-scan pass for C1, C3-C8
    if (checked.fields.exists(!_.constraints.isEmpty)) tasks += { df =>
      val summary = Checks.constraintSummary(df, checked)
      if (summary.columns.isEmpty) Nil
      else {
        val row = summary.collect()(0)
        summary.columns.zipWithIndex.map { case (name, i) =>
          val Array(field, tag) = name.split("__", 2)
          val code = tag match {
            case "required"  => ErrorCodes.Required
            case "minLength" => ErrorCodes.MinLength
            case "maxLength" => ErrorCodes.MaxLength
            case "minimum"   => ErrorCodes.Minimum
            case "maximum"   => ErrorCodes.Maximum
            case "pattern"   => ErrorCodes.Pattern
            case "enum"      => ErrorCodes.Enum
          }
          CheckResult("", code, field, row.getLong(i), Nil)
        }
      }
    }

    // C2 unique — one shuffle per declared unique field
    checked.fields.filter(_.constraints.unique.contains(true)).foreach { f =>
      tasks += (df => Seq(keyResult(Checks.unique(df, Seq(f.name)),
        ErrorCodes.Unique, f.name)))
    }
    // K1 primary key (uniqueness + implied required on every part)
    if (schema.primaryKey.nonEmpty) tasks += { df =>
      val v = Checks.unique(df, schema.primaryKey)
      val kr = keyResult(v, ErrorCodes.PrimaryKey,
        schema.primaryKey.mkString(","))
      val nulls = Checks.primaryKeyNulls(df, schema.primaryKey)
        .collect().headOption.map(_.getLong(0)).getOrElse(0L)
      Seq(kr, CheckResult("", ErrorCodes.Required,
        schema.primaryKey.mkString(","), nulls, Nil))
    }
    // K2 uniqueKeys
    schema.uniqueKeys.foreach { keys =>
      tasks += (df => Seq(keyResult(Checks.unique(df, keys),
        ErrorCodes.UniqueKey, keys.mkString(","))))
    }
    tasks.result()
  }

  private def keyResult(v: DataFrame, code: String, field: String): CheckResult = {
    // duplicated tuples: violations = sum of extra occurrences, with the
    // bounded key sample FUSED into the same hash-agg action
    // (bounded_min_k ≡ orderBy(keys).limit(k), but as an aggregate —
    // round-11 fuse: one action per key check instead of sum + TakeOrdered)
    val (n, sample) = countAndSample(v, sum(col("cnt") - 1))
    CheckResult("", code, field, n, sample)
  }

  /** ONE-action (violation count, bounded smallest-key sample) over a
    * grouped violation frame whose last column is `cnt`: the sample
    * rides the count's aggregation as a `bounded_min_k` of the key
    * struct — bit-identical to the former orderBy(keys).limit(k)
    * second action (struct ordering IS the multi-column asc order; key
    * tuples are non-null by construction in every caller).
    */
  private def countAndSample(
      v: DataFrame, violations: Column): (Long, Seq[String]) = {
    val keyCols = v.columns.dropRight(1)
    val row = v.agg(
      coalesce(violations, lit(0L)).as("n"),
      graft.functions.BoundedMinK.minK(struct(keyCols.map(col): _*),
        MaxErrorValues).as("sample")).head()
    (row.getLong(0),
      row.getSeq[org.apache.spark.sql.Row](1)
        .map(_.toSeq.mkString(",")).toSeq)
  }

  // ------------------------------------------------------------------- E1
  /** Driver threads one validation call submits Spark jobs from: each
    * check is one small job, and more submitters than this only queue
    * on the scheduler.
    */
  private val MaxDriverThreads = 8

  /** A resource ready for its checks: its typed frame, the results its
    * load produced (header and parse) and the fields whose parse failed.
    */
  private final case class Loaded(
      df: DataFrame, errors: Seq[CheckResult], failed: Set[String])

  /** Validate pre-loaded (typed or parsed) tables against a package: the
    * package task graph ([[validatePackage]]) with each resource's load
    * the identity.
    */
  def validateTyped(
      tables: Map[String, DataFrame],
      pkg: Package
  ): PackageReport =
    validatePackage(pkg)((res, _) => Loaded(tables(res.name), Nil, Set.empty))

  /** Full reference lifecycle over CSV resources (E1). Each resource's
    * load reads its CSV header once (it feeds both [[headerCheck]] and
    * the by-name bind of the all-string read), then ONE scan
    * ([[parseTable]]) computes the
    * `type-or-format-error` results and persists the typed frame. The
    * loads run concurrently, and each resource's checks start as soon as
    * its own load (and, for a foreign key, its parent's) has finished:
    * the aggregate behind the parse results has scanned every partition
    * by then, so no check is ever a first reader of a COLD cache
    * (concurrent first readers serialize on BlockManager partition
    * locks — PLANS.md round 12). Constraint results of fields that failed
    * to parse are dropped (skip semantics). Every persisted frame is
    * released on return, normal or exceptional, after every load and
    * check of the call has finished.
    */
  def validateCsv(spark: SparkSession, pkg: Package): PackageReport = {
    // once, before the fan-out (each load's parseTable registers too)
    graft.functions.GraftFunctions.register(spark)
    val fused = pkg.resources.map(_ => ListBuffer[DataFrame]())
    try validatePackage(pkg) { (res, i) =>
      val (raw, headerErrs) =
        if (res.inlineData.isDefined) // no header row to reconcile
          (readInline(spark, res), Nil)
        else {
          val header = actualCsvHeader(spark, res)
          (readCsv(spark, res, header), headerCheck(header, res.schema))
        }
      val (typed, parseErrs, failed) = parseTable(raw, res.schema, fused(i))
      Loaded(typed, headerErrs ++ parseErrs, failed)
    } finally fused.flatten.foreach(_.unpersist())
  }

  /** The package as one task graph on one bounded driver pool: a load
    * node per resource (`load(res, position)`), one node per check action
    * of a resource ([[checkTableTasks]]) started when its load finishes,
    * and one node per foreign key started when both its child and its
    * parent are loaded. Nodes are chained by `Future` composition, so no
    * node blocks on another and the pool cannot deadlock. Each table's
    * report is assembled in declared order (own checks, then foreign
    * keys; load results first, constraint results of fields that failed
    * to parse dropped), so the JSON does not depend on the schedule.
    *
    * Returns or throws only once every node has finished, so a caller
    * may release what the loads cached. On failure it throws the error
    * of the first failed load in declared order, else of the first
    * failed check.
    */
  private def validatePackage(pkg: Package)(
      load: (Resource, Int) => Loaded): PackageReport = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // the check closures are built before any node starts, so nothing
    // below can throw while a load is in flight
    val tableTasks = pkg.resources.map(res => checkTableTasks(res.schema))
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(MaxDriverThreads)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val loads = pkg.resources.zipWithIndex.map { case (res, i) =>
        Future(load(res, i))
      }
      // a foreign key to an undeclared resource fails its own node
      val loaded = pkg.resources.map(_.name).zip(loads).toMap
        .withDefault(n =>
          Future.failed(new NoSuchElementException(s"key not found: $n")))
      val checks = pkg.resources.zip(tableTasks).map { case (res, tasks) =>
        val own = loaded(res.name)
        tasks.map(t => own.map(l => t(l.df))) ++
          res.schema.foreignKeys.map { fk =>
            // K3/K4 foreign keys — parent resolved across the package
            val parentName =
              if (fk.refResource.isEmpty) res.name else fk.refResource
            own.zip(loaded(parentName)).map { case (child, parent) =>
              val v = Checks.foreignKey(child.df, fk.fields, parent.df,
                fk.refFields)
              // round-11 fuse: count + bounded sample in ONE action
              val (n, sample) = countAndSample(v, sum(col("cnt")))
              Seq(CheckResult("", ErrorCodes.ForeignKey,
                s"${fk.fields.mkString(",")}->$parentName." +
                  fk.refFields.mkString(","), n, sample))
            }
          }
      }
      val nodes = loads ++ checks.flatten
      nodes.foreach(Await.ready(_, Duration.Inf))
      nodes.foreach(_.value.get.get) // rethrows the first failure
      PackageReport(pkg.resources.zip(checks).map { case (res, results) =>
        val l = loaded(res.name).value.get.get
        TableReport(res.name, (l.errors ++ results.flatMap(_.value.get.get)
          .filterNot(e => l.failed(e.field))).map(_.copy(table = res.name)))
      })
    } finally pool.shutdown()
  }

  /** Report as a DataFrame — one row per executed check (passing or not);
    * the harness flagship (`SparkEntry.entry`) uses this: always non-empty.
    */
  def reportDF(spark: SparkSession, report: PackageReport): DataFrame = {
    import spark.implicits._
    report.tables
      .flatMap(t => t.errors.map(e =>
        (t.table, e.code, e.field, e.violations, e.passed)))
      .toDF("table", "code", "field", "violations", "passed")
  }
}
