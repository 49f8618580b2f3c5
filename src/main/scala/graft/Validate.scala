package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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

  /** Per-field cardinality ceiling for the dictionary-parse path: a
    * dictionary past this many distinct values is no longer a cheap
    * broadcast (and the per-value win over per-row regex has already
    * evaporated), so the field falls back to row parsing. 2¹⁸ keeps
    * every realistically-enumerable domain (dates ≈ 3.7 k/decade,
    * flags, enums) and excludes key-like columns.
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
  /** E2 `parse_table`: one projection applying every field's parseExpr;
    * returns the typed frame plus per-field `type-or-format-error`
    * results (distinct invalid values, bounded).
    *
    * A field that fails to parse *anywhere* is excluded from downstream
    * constraint checks (its typed column still exists, with nulls at the
    * bad cells) — matching the reference's skip semantics.
    */
  def parseTable(
      df: DataFrame,
      schema: TableSchema
  ): (DataFrame, Seq[CheckResult], Set[String]) =
    parseTable(df, schema, Set.empty)

  /** E2 with an optional DICTIONARY-PARSE path (the upstream
    * dedup-before-parse trick re-expressed for Spark; round-7
    * directive #6): fields named in `dictFields` are validated and
    * parsed per DISTINCT VALUE instead of per row —
    *
    *  1. ONE exchange builds (field, value, cnt) for all dict fields
    *     together (explode a small map literal, hash-aggregate: the
    *     shuffle carries ≈ Σ field cardinalities after map-side
    *     combine, not rows);
    *  2. validity counts/samples come from that tiny cached frame
    *     (regex runs once per distinct value);
    *  3. the typed projection maps values back via one broadcast
    *     null-safe equi-join per dict field (a hash probe per row
    *     replaces the regex-gate + cast per row).
    *
    * Worth it only when parse cost ≫ probe cost and cardinality ≪
    * rows; for near-unique columns it is strictly worse, so callers
    * opt in per field and the broadcast stays bounded. Measured
    * (PLANS.md round 7): an order-controlled A/B on the sf0.1
    * star-schema CSV flagship put dict dates WITHIN NOISE of the row
    * path on a warm JVM (~12.5 s both; the first row-first A/B's 21%
    * "win" was JIT position bias, exposed by reversing the variant
    * order), and slightly SLOWER in-suite (+24 jobs); wider type sets
    * measured clearly slower (key-like columns have corpus-sized
    * dictionaries — [[MaxDictValues]] guards that hazard
    * structurally). Spark's codegen'd regex gates are not the
    * bottleneck the upstream trick assumes, so [[validateCsv]] parses
    * every field per row; this path stays for genuinely expensive
    * parses (exotic strptime patterns, huge enums).
    */
  def parseTable(
      df: DataFrame,
      schema: TableSchema,
      dictFields: Set[String],
      maxDictValues: Long = MaxDictValues
  ): (DataFrame, Seq[CheckResult], Set[String]) =
    parseTable(df, schema, dictFields, maxDictValues, None)

  /** E2 with an optional FUSED single-scan mode (r18, guide §6 — one
    * parse instead of two): when `fuseScan` is given, the validity
    * aggregate and the typed projection share ONE scan of the source.
    * The typed frame is built WITH one extra column per row-parsed
    * field carrying the raw value of invalid cells
    * (`invalidExpr ≡ raw IS NOT NULL AND parsed IS NULL`, so
    * `when(raw.isNotNull && typed.isNull, raw)` is non-null exactly on
    * the invalid cells), persisted, and the validity aggregate runs
    * over THAT cache — `count(bad_f)` ≡ the old
    * `count(when(invalid, 1))` and `bounded_distinct(bad_f)` ≡ the old
    * `bounded_distinct(when(invalid, raw))` (bounded_distinct is the
    * k SMALLEST distinct strings — order-free), so every CheckResult
    * is value-identical while the source (for CSV: read + text parse,
    * the dominant cost) is scanned once instead of twice. The persisted
    * frame is appended to `fuseScan` for the caller to release; the
    * returned typed frame is a column-pruning projection over it, so
    * downstream checks read the same cache. The aggregate always runs
    * (it carries a row count even when no field is row-parsed), and as
    * an aggregate it scans every partition: the registered frame is
    * fully cached when this returns, so concurrent downstream checks
    * never race each other to build it.
    */
  private[graft] def parseTable(
      df: DataFrame,
      schema: TableSchema,
      dictFields: Set[String],
      maxDictValues: Long,
      fuseScan: Option[scala.collection.mutable.ListBuffer[DataFrame]]
  ): (DataFrame, Seq[CheckResult], Set[String]) = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // Fields whose descriptor cannot compile to a parse expression
    // (untranslatable strptime directive, format 'any', unknown type)
    // are SCHEMA errors, not data errors: report `schema-error`, keep
    // the raw column, exclude the field from downstream checks —
    // the reference's abort-the-field behavior, never a crash.
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
    val okFields = schema.fields.filterNot(f => buildErrors.contains(f.name))
    val (dictWanted, rowF) = okFields.partition(f => dictFields(f.name))

    // dict path FIRST: one exchange for ALL dict fields (field, value,
    // cnt), then per-field validity verdicts and parse dictionaries
    // over the tiny cached frame — the corpus is never regex-scanned
    // for these. A field whose observed cardinality exceeds
    // [[MaxDictValues]] silently falls back to the per-row path (its
    // broadcast dictionary would not be "tiny"; correctness is
    // unaffected, the one exchange it already paid is the documented
    // price of nominating a near-unique column).
    val (dictResults, dicts, fellBack) =
      if (dictWanted.isEmpty)
        (Seq.empty[CheckResult], Map.empty[String, DataFrame],
          Set.empty[String])
      else {
        val pairs = dictWanted.flatMap(f =>
          Seq(lit(f.name), df(f.name).cast("string")))
        val vc = df
          .select(explode(map(pairs: _*)).as(Seq("__f", "__raw")))
          .groupBy("__f", "__raw").agg(count(lit(1)).as("__c"))
          .cache()
        try {
          val cards = vc.groupBy("__f").agg(count(lit(1)).as("__d"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val over = dictWanted.map(_.name)
            .filter(n => cards.getOrElse(n, 0L) > maxDictValues).toSet
          val dictF = dictWanted.filterNot(f => over(f.name))
          val res = dictF.map { f =>
            val bad = Parsers.invalidExpr(f, col("__raw"))
            val row = vc.where(col("__f") === f.name).agg(
              coalesce(sum(when(bad, col("__c"))), lit(0L)).as("n"),
              call_function("bounded_distinct", when(bad, col("__raw")),
                lit(MaxErrorValues)).as("v")).collect()(0)
            CheckResult("", ErrorCodes.TypeOrFormat, f.name,
              row.getLong(0), row.getSeq[String](1))
          }
          val ds = dictF.map { f =>
            f.name -> vc.where(col("__f") === f.name)
              .select(col("__raw").as(s"__dk_${f.name}"),
                Parsers.parseExpr(f, col("__raw"))
                  .as(s"__dv_${f.name}"))
              // the dictionary is an eager bounded artifact; checkpoint
              // releases the vc cache dependency before vc unpersists
              .localCheckpoint(true)
          }.toMap
          (res, ds, over)
        } finally vc.unpersist(blocking = false)
      }

    // one fused agg pass: per row-parsed field (including cardinality
    // fallbacks), count of invalid cells + bounded distinct samples via
    // the native bounded_distinct aggregate (O(maxErrorValues) buffer —
    // collect_set would be unbounded)
    val rowParsed = rowF ++ dictWanted.filter(f => fellBack(f.name))
    val joined = dicts.foldLeft(df) { case (d, (n, dict)) =>
      d.join(broadcast(dict), d(n) <=> dict(s"__dk_$n"), "left")
    }
    def typedCol(f: Field): Column =
      if (buildErrors.contains(f.name)) joined(f.name)
      else if (dicts.contains(f.name)) col(s"__dv_${f.name}").as(f.name)
      else Parsers.parseExpr(f, joined(f.name)).as(f.name)
    def unpack(row: Row): Seq[CheckResult] =
      rowParsed.zipWithIndex.map { case (f, i) =>
        CheckResult(
          table = "",
          code = ErrorCodes.TypeOrFormat,
          field = f.name,
          violations = row.getLong(2 * i),
          sampleValues = row.getSeq[String](2 * i + 1)
        )
      }
    val (rowResults, typed) = fuseScan match {
      case None =>
        // legacy two-scan shape: validity aggregate over the raw frame,
        // typed projection consumed (and usually cached) by the caller
        val aggs: Seq[Column] = rowParsed.flatMap { f =>
          val bad = Parsers.invalidExpr(f, df(f.name))
          Seq(
            count(when(bad, lit(1))).as(s"${f.name}__n"),
            call_function("bounded_distinct", when(bad, df(f.name)),
              lit(MaxErrorValues)).as(s"${f.name}__v")
          )
        }
        val rr =
          if (aggs.isEmpty) Seq.empty[CheckResult]
          else unpack(df.agg(aggs.head, aggs.tail: _*).collect()(0))
        (rr, joined.select(schema.fields.map(typedCol): _*))
      case Some(release) =>
        // fused single-scan shape (scaladoc above): stage1 carries the
        // raw value beside every typed column; stage2 derives the
        // invalid-cell column from the TYPED value (no second
        // parseExpr evaluation), and the validity aggregate's action
        // doubles as the cache build — the source is scanned once.
        val stage1 = joined.select(
          rowParsed.map(f =>
            joined(f.name).as(s"__graft_raw_${f.name}")) ++
          schema.fields.map(typedCol): _*)
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
            call_function("bounded_distinct",
              col(s"__graft_bad_${f.name}"),
              lit(MaxErrorValues)).as(s"${f.name}__v")
          )
        }
        // the trailing row count keeps the aggregate's action (and so the
        // full cache build) when no field is row-parsed
        val all = aggs :+ count(lit(1)).as("__graft_rows")
        val rr = unpack(typedPlus.agg(all.head, all.tail: _*).collect()(0))
        (rr, typedPlus.select(schema.fields.map(f => col(f.name)): _*))
    }
    val results = schema.fields.flatMap(f =>
      (rowResults ++ dictResults).find(_.field == f.name))
    val failed = results.filterNot(_.passed).map(_.field).toSet ++
      buildErrors.keySet
    (typed, schemaErrs ++ results, failed)
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
    * the by-name bind of the all-string read), then ONE fused scan
    * ([[parseTable]]'s single-scan mode) computes the
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
    val fused = pkg.resources.map(_ =>
      scala.collection.mutable.ListBuffer[DataFrame]())
    try validatePackage(pkg) { (res, i) =>
      val (raw, headerErrs) =
        if (res.inlineData.isDefined) // no header row to reconcile
          (readInline(spark, res), Nil)
        else {
          val header = actualCsvHeader(spark, res)
          (readCsv(spark, res, header), headerCheck(header, res.schema))
        }
      val (typed, parseErrs, failed) = parseTable(raw, res.schema,
        Set.empty, MaxDictValues, Some(fused(i)))
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
