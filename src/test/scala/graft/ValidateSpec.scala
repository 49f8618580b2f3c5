package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.parse.Parsers
import graft.report.{CheckResult, ErrorCodes}
import graft.schema._

/** End-to-end E1 on generated CSV datapackages (FIXTURES.md §B3/§B4):
  * clean variant → valid report; broken variant → every error class
  * fires with known offending values. Exercises descriptor JSON, CSV
  * all-string read, missing tokens, parse, constraints, keys, fks,
  * header checks, and the report JSON.
  */
class ValidateSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("graft_fixtures")

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private def pkg(parentCsv: String, childCsv: String): Package = {
    val parent = Resource("parent", write("parent.csv", parentCsv),
      TableSchema(
        fields = Seq(
          Field("id", "integer"),
          Field("code", constraints = Constraints(unique = Some(true),
            pattern = Some("[A-Z]{2}")))),
        primaryKey = Seq("id")))
    val child = Resource("child", write("child.csv", childCsv),
      TableSchema(
        fields = Seq(
          Field("cid", "integer"),
          Field("parent_id", "integer"),
          Field("pair_a", "integer"), Field("pair_b", "integer"),
          Field("qty", "number",
            constraints = Constraints(minimum = Some("0"))),
          Field("flag", "boolean")),
        primaryKey = Seq("cid"),
        uniqueKeys = Seq(Seq("pair_a", "pair_b")),
        foreignKeys = Seq(
          ForeignKey(Seq("parent_id"), "parent", Seq("id")))))
    Package("fixture", Seq(parent, child))
  }

  test("clean datapackage validates") {
    val p = pkg(
      "id,code\n1,AB\n2,CD\n3,EF\n",
      "cid,parent_id,pair_a,pair_b,qty,flag\n" +
        "10,1,1,1,5.5,true\n11,2,1,2,0,false\n12,3,2,1,3,true\n")
    val report = Validate.validateCsv(spark, p)
    assert(report.valid, report.toJson)
    assert(report.errorCount == 0)
  }

  test("broken datapackage: every error class fires once") {
    val p = pkg(
      // duplicate id 2 (pk), duplicate+bad-pattern codes
      "id,code\n1,AB\n2,CD\n2,CD\n3,x\n",
      // orphan parent_id 99, duplicate (pair_a,pair_b), negative qty,
      // unparseable flag 'maybe', missing token '' in parent_id
      "cid,parent_id,pair_a,pair_b,qty,flag\n" +
        "10,1,1,1,5.5,true\n11,99,1,2,-4,false\n12,2,1,1,3,maybe\n" +
        "13,,2,2,1,true\n")
    val r = Validate.validateCsv(spark, p)
    assert(!r.valid)
    val errs = r.tables.flatMap(t => t.errors.filterNot(_.passed)
      .map(e => (t.table, e.code, e.field) -> e)).toMap

    assert(errs.contains(("parent", ErrorCodes.PrimaryKey, "id")))
    assert(errs(("parent", ErrorCodes.PrimaryKey, "id")).violations == 1)
    assert(errs.contains(("parent", ErrorCodes.Unique, "code")))
    assert(errs.contains(("parent", ErrorCodes.Pattern, "code")))
    assert(errs.contains(("child", ErrorCodes.UniqueKey, "pair_a,pair_b")))
    assert(errs.contains(("child", ErrorCodes.Minimum, "qty")))
    val fk = errs.keys.find(_._2 == ErrorCodes.ForeignKey)
    assert(fk.isDefined && fk.get._1 == "child")
    // 'maybe' failed to parse → type-or-format-error with the value
    val tf = errs(("child", ErrorCodes.TypeOrFormat, "flag"))
    assert(tf.violations == 1 && tf.sampleValues == Seq("maybe"))
  }

  test("parse-failed fields are excluded from constraint checks") {
    val p = Package("f", Seq(
      Resource("t", write("t.csv", "a\n1\nzz\n-5\n"),
        TableSchema(Seq(Field("a", "integer",
          constraints = Constraints(minimum = Some("0"))))))))
    val r = Validate.validateCsv(spark, p)
    val codes = r.tables.head.errors.filterNot(_.passed).map(_.code)
    assert(codes.contains(ErrorCodes.TypeOrFormat))
    // minimum check skipped because the field had a parse error
    assert(!codes.contains(ErrorCodes.Minimum))
  }

  test("unbuildable field format reports schema-error, no crash") {
    val p = Package("f", Seq(
      Resource("t", write("se.csv", "a,b\n2026-01-01,5\nbad,6\n"),
        TableSchema(Seq(
          Field("a", "date", format = "%G-%V-%u"), // week-based: rejected
          Field("b", "integer",
            constraints = Constraints(minimum = Some("0"))))))))
    val r = Validate.validateCsv(spark, p)
    val errs = r.tables.head.errors
    val se = errs.find(_.code == ErrorCodes.SchemaError)
    assert(se.isDefined && se.get.field == "a", errs.mkString("; "))
    // the bad field is excluded from checks; the good field still runs
    assert(!errs.exists(e => e.field == "a" &&
      e.code == ErrorCodes.TypeOrFormat))
    assert(errs.exists(e => e.field == "b" && e.code == ErrorCodes.Minimum))
    assert(!r.valid)
  }

  test("header reconciliation codes") {
    val schema = TableSchema(Seq(Field("a"), Field("b"), Field("c")))
    def codes(cols: Seq[String]): Set[String] =
      Validate.headerCheck(cols, schema).map(_.code).toSet
    assert(codes(Seq("a", "b", "c")).isEmpty)
    assert(codes(Seq("a", "b")) == Set("missing-header"))
    assert(codes(Seq("a", "b", "c", "d")) == Set("extra-header"))
    assert(codes(Seq("c", "b", "a")) == Set("non-matching-header"))
    assert(codes(Seq("a", "a", "b", "c")) == Set("duplicate-header"))
    assert(codes(Seq("a", "b", "")) ==
      Set("missing-header", "extra-header", "blank-header"))
  }

  test("descriptor JSON round-trip") {
    val json =
      """{"name":"p","resources":[{"name":"t","path":"t.csv","schema":{
        |"fields":[
        |  {"name":"id","type":"integer","constraints":{"required":true}},
        |  {"name":"amt","type":"number","decimalChar":",","groupChar":".",
        |   "bareNumber":false},
        |  {"name":"flag","type":"boolean","trueValues":["y"],
        |   "falseValues":["n"]}],
        |"primaryKey":"id",
        |"uniqueKeys":[["id","amt"]],
        |"foreignKeys":[{"fields":"id",
        |  "reference":{"resource":"other","fields":"oid"}}],
        |"missingValues":["","NA"]}}]}""".stripMargin
    val p = DescriptorJson.parsePackage(json)
    val s = p.resources.head.schema
    assert(s.primaryKey == Seq("id"))
    assert(s.uniqueKeys == Seq(Seq("id", "amt")))
    assert(s.foreignKeys ==
      Seq(ForeignKey(Seq("id"), "other", Seq("oid"))))
    assert(s.missingValues == Seq("", "NA"))
    val amt = s.field("amt").get
    assert(amt.decimalChar == "," && amt.groupChar == "." &&
      !amt.bareNumber)
    assert(s.field("flag").get.trueValues == Seq("y"))
    assert(s.field("id").get.constraints.required.contains(true))
  }

  test("S3 inline-data resource validates like CSV") {
    val json =
      """{"name":"p","resources":[{"name":"t","schema":{
        |"fields":[{"name":"id","type":"integer"},
        |          {"name":"amt","type":"number",
        |           "constraints":{"minimum":0}}],
        |"primaryKey":"id"},
        |"data":[["id","amt"],["1","5.5"],["2","-3"],["2","1"],["","7"]]
        |}]}""".stripMargin
    val p = DescriptorJson.parsePackage(json)
    assert(p.resources.head.inlineData.get.size == 4)
    val r = Validate.validateCsv(spark, p)
    val errs = r.tables.head.errors.filterNot(_.passed)
      .map(e => e.code -> e.violations).toMap
    assert(errs(ErrorCodes.Minimum) == 1) // -3
    assert(errs(ErrorCodes.PrimaryKey) == 1) // duplicate id 2
    assert(!r.valid)
  }

  test("self-referencing foreign key (resource: \"\")") {
    val json =
      """{"name":"p","resources":[{"name":"emp","schema":{
        |"fields":[{"name":"id","type":"integer"},
        |          {"name":"manager_id","type":"integer"}],
        |"primaryKey":"id",
        |"foreignKeys":[{"fields":"manager_id",
        |  "reference":{"resource":"","fields":"id"}}]},
        |"data":[["id","manager_id"],["1",""],["2","1"],["3","99"]]
        |}]}""".stripMargin
    val r = Validate.validateCsv(spark, DescriptorJson.parsePackage(json))
    val fk = r.tables.head.errors
      .find(_.code == ErrorCodes.ForeignKey).get
    assert(fk.violations == 1) // manager 99 absent; null manager exempt
    assert(fk.sampleValues == Seq("99"))
  }

  test("reordered CSV header binds columns by name, not position") {
    val res = Resource("t", write("reord.csv", "b,a\nBB,1\nCC,2\n"),
      TableSchema(Seq(Field("a", "integer"), Field("b"))))
    val df = Validate.readCsv(spark, res)
    assert(df.columns.toSeq == Seq("a", "b"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("1", "BB"), ("2", "CC")))
    // the order mismatch is still reported as a header error
    assert(Validate.headerCheck(Validate.actualCsvHeader(spark, res),
      res.schema).map(_.code) == Seq("non-matching-header"))
  }

  test("csv dialect: delimiter, quoteChar, headerless") {
    val res = Resource("t", write("semi.csv", "a;b\n'x;y';2\n"),
      TableSchema(Seq(Field("a"), Field("b", "integer"))),
      dialect = Dialect(delimiter = ";", quoteChar = "'"))
    val r = Validate.readCsv(spark, res).collect()(0)
    assert(r.getString(0) == "x;y" && r.getString(1) == "2")
    val hres = Resource("t2", write("nohdr.csv", "1,foo\n2,bar\n"),
      TableSchema(Seq(Field("id", "integer"), Field("v"))),
      dialect = Dialect(header = false))
    assert(Validate.readCsv(spark, hres).count() == 2)
  }

  test("csv dialect: RFC 4180 doubled quotes (spec default)") {
    val res = Resource("t", write("dq.csv",
      "a,b\n\"he said \"\"hi\"\", twice\",2\nplain,3\n"),
      TableSchema(Seq(Field("a"), Field("b", "integer"))))
    val rows = Validate.readCsv(spark, res).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("he said \"hi\", twice", "2"), ("plain", "3")))
  }

  test("csv dialect: escapeChar (mutually exclusive with doubleQuote)") {
    val res = Resource("t", write("esc.csv",
      "a,b\n\"he said \\\"hi\\\"\",2\n"),
      TableSchema(Seq(Field("a"), Field("b", "integer"))),
      dialect = Dialect(escapeChar = Some("\\")))
    val r = Validate.readCsv(spark, res).collect()(0)
    assert(r.getString(0) == "he said \"hi\"" && r.getString(1) == "2")
  }

  test("csv dialect: commentChar skips comment lines") {
    val res = Resource("t", write("com.csv",
      "a,b\n# a comment line\n1,x\n#another\n2,y\n"),
      TableSchema(Seq(Field("a", "integer"), Field("b"))),
      dialect = Dialect(commentChar = Some("#")))
    val rows = Validate.readCsv(spark, res).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("1", "x"), ("2", "y")))
  }

  test("csv dialect: skipInitialSpace strips post-delimiter whitespace") {
    val res = Resource("t", write("sis.csv", "a,b\n1,  x\n2, y\n"),
      TableSchema(Seq(Field("a", "integer"), Field("b"))),
      dialect = Dialect(skipInitialSpace = true))
    val rows = Validate.readCsv(spark, res).collect()
      .map(_.getString(1)).toSeq
    assert(rows == Seq("x", "y"))
  }

  test("quoted header cell containing the delimiter parses as ONE name") {
    // a bare split on ',' would shred "a,x" apart and misreport headers
    val res = Resource("t", write("qh.csv", "\"a,x\",b\n1,2\n"),
      TableSchema(Seq(Field("a,x", "integer"), Field("b", "integer"))))
    assert(Validate.actualCsvHeader(spark, res) == Seq("a,x", "b"))
    assert(Validate.headerCheck(Validate.actualCsvHeader(spark, res),
      res.schema).isEmpty)
    val r = Validate.readCsv(spark, res).collect()(0)
    assert(r.getString(0) == "1" && r.getString(1) == "2")
  }

  test("header of a gzip-compressed CSV decompresses by extension") {
    val p = dir.resolve("gz_header.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write("b,\"a,x\"\n1,2\n".getBytes("UTF-8")) finally out.close()
    val res = Resource("t", p.toString,
      TableSchema(Seq(Field("a,x", "integer"), Field("b", "integer"))))
    assert(Validate.actualCsvHeader(spark, res) == Seq("b", "a,x"))
    assert(Validate.readCsv(spark, res).collect().map(r =>
      (r.getString(0), r.getString(1))).toSeq == Seq(("2", "1")))
  }

  test("header of an empty CSV file is empty") {
    val res = Resource("t", write("empty_header.csv", ""),
      TableSchema(Seq(Field("a", "integer"))))
    assert(Validate.actualCsvHeader(spark, res) == Seq.empty)
    assert(Validate.headerCheck(Validate.actualCsvHeader(spark, res),
      res.schema).map(_.code) == Seq("missing-header"))
  }

  test("header of a multi-path resource is its first file's") {
    val p1 = write("hdr_chunk1.csv", "b , a\n1,2\n")
    val p2 = write("hdr_chunk2.csv", "a,b\n3,4\n")
    val res = Resource("t", p1,
      TableSchema(Seq(Field("a", "integer"), Field("b", "integer"))),
      paths = Seq(p1, p2))
    assert(Validate.actualCsvHeader(spark, res) == Seq("b", "a"))
  }

  test("reading a CSV header submits no Spark job") {
    val group = "header-barrier"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrierDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private def groupOf(p: java.util.Properties) =
        Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(String.valueOf(groupOf(e.properties)))
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (started.contains(group)) barrierDone.countDown()
    }
    val sc = spark.sparkContext
    val gz = dir.resolve("nojob.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write("a,b\n1,2\n".getBytes("UTF-8")) finally out.close()
    val schema = TableSchema(Seq(Field("a"), Field("b")))
    val resources = Seq(
      Resource("plain", write("nojob.csv", "a,b\n1,2\n"), schema),
      Resource("gz", gz.toString, schema),
      Resource("empty", write("nojob_empty.csv", ""), schema))
    sc.addSparkListener(listener)
    try {
      val headers = resources.map(Validate.actualCsvHeader(spark, _))
      assert(headers == Seq(Seq("a", "b"), Seq("a", "b"), Seq.empty))
      // a job after the header reads; its end event is delivered after
      // every event posted before it
      sc.setJobGroup(group, "listener barrier")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      assert(barrierDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(started.toArray.toSeq == Seq(group),
        "the header reads must not start a Spark job")
    } finally sc.removeSparkListener(listener)
  }

  test("dialect descriptor JSON parses all spec fields") {
    val json =
      """{"name":"p","resources":[{"name":"t","path":"t.csv",
        |"dialect":{"delimiter":";","quoteChar":"'","header":false,
        |  "doubleQuote":false,"escapeChar":"\\","lineTerminator":"\n",
        |  "skipInitialSpace":true,"commentChar":"#"},
        |"schema":{"fields":[{"name":"a"}]}}]}""".stripMargin
    val d = DescriptorJson.parsePackage(json).resources.head.dialect
    assert(d == Dialect(delimiter = ";", quoteChar = "'", header = false,
      doubleQuote = false, escapeChar = Some("\\"),
      lineTerminator = "\n", skipInitialSpace = true,
      commentChar = Some("#")))
  }

  test("multi-path resource concatenates chunks") {
    val p1 = write("chunk1.csv", "a\n1\n2\n")
    val p2 = write("chunk2.csv", "a\n3\n")
    val res = Resource("t", p1, TableSchema(Seq(Field("a", "integer"))),
      paths = Seq(p1, p2))
    assert(Validate.readCsv(spark, res).count() == 3)
    val json =
      """{"name":"p","resources":[{"name":"t","path":["x.csv","y.csv"],
        |"schema":{"fields":[{"name":"a"}]}}]}""".stripMargin
    val parsed = DescriptorJson.parsePackage(json).resources.head
    assert(parsed.allPaths == Seq("x.csv", "y.csv"))
  }

  test("Graft.validate: reference-shaped entry point from datapackage.json") {
    write("gv.csv", "id,code\n1,AB\n2,CD\n2,EF\n")
    val descriptor =
      """{"name":"gp","resources":[{"name":"t","path":"gv.csv","schema":{
        |"fields":[{"name":"id","type":"integer"},{"name":"code"}],
        |"primaryKey":"id"}}]}""".stripMargin
    val dp = write("datapackage.json", descriptor)
    val r = Graft.validate(spark, dp) // relative path resolved vs descriptor
    assert(!r.valid)
    assert(r.tables.head.errors.exists(e =>
      e.code == report.ErrorCodes.PrimaryKey && e.violations == 1))
  }

  test("report JSON shape") {
    val p = pkg("id,code\n1,AB\n1,AB\n",
      "cid,parent_id,pair_a,pair_b,qty,flag\n10,1,1,1,1,true\n")
    val r = Validate.validateCsv(spark, p)
    val json = r.toJson
    assert(json.contains("\"valid\":false"))
    assert(json.contains(ErrorCodes.PrimaryKey))
  }

  test("CSV fixture round-trip reproduces the typed validation verdicts") {
    // the bench's e2e_validate_csv path: parquet → CSV twin →
    // all-string read → parse → check must land on the same violation
    // counts as validating the typed parquet directly (and add no
    // parse casualties on the way)
    val dir = "/root/testdata/sf0.001"
    val csvPkg = graft.sources.CsvFixture.ensure(spark, dir,
      outBase = java.nio.file.Files
        .createTempDirectory("csv_fixture_spec").toString)
    val csvReport = Validate.validateCsv(spark, csvPkg)
    val typedTables = Tables.loadAll(spark, dir)
    val typed = Validate.validateTyped(typedTables, Tables.starSchema)
    def key(r: graft.report.CheckResult) = (r.table, r.code, r.field)
    val csvRows = csvReport.tables.flatMap(_.errors)
    // no row failed to parse: every type-error/parse row counts zero
    val parseCodes = csvRows.filter(_.code.contains("type")).map(_.violations)
    assert(parseCodes.forall(_ == 0L),
      s"CSV round-trip lost rows to parsing: ${csvRows.filter(r =>
        r.code.contains("type") && r.violations > 0)}")
    // constraint/key verdicts identical to the typed run on shared tables
    val csvMap = csvRows.map(r => key(r) -> r.violations).toMap
    typed.tables.filterNot(_.table == "embeddings").flatMap(_.errors)
      .foreach { r =>
        assert(csvMap.get(key(r)).contains(r.violations),
          s"verdict drift for ${key(r)}: typed=${r.violations} " +
            s"csv=${csvMap.get(key(r))}")
      }
  }

  /** The two-scan parse composition that [[Validate.parseTable]] fuses
    * into one scan: a validity aggregate over the raw frame
    * ([[graft.parse.Parsers.invalidExpr]], `bounded_distinct`), then a
    * [[graft.parse.Parsers.parseExpr]] projection. A field whose parse
    * expression cannot compile keeps its raw column and reports a
    * schema-error.
    */
  private def twoScanParse(df: DataFrame, schema: TableSchema)
      : (DataFrame, Seq[CheckResult], Set[String]) = {
    val buildErrors = schema.fields.flatMap { f =>
      try { Parsers.parseExpr(f, df(f.name)); None }
      catch {
        case e: graft.parse.PatternError => Some(f.name -> e.msg)
        case e: IllegalArgumentException => Some(f.name -> e.getMessage)
      }
    }.toMap
    val rowParsed = schema.fields.filterNot(f => buildErrors.contains(f.name))
    val aggs = rowParsed.flatMap { f =>
      val bad = Parsers.invalidExpr(f, df(f.name))
      Seq(count(when(bad, lit(1))), call_function("bounded_distinct",
        when(bad, df(f.name)), lit(Validate.MaxErrorValues)))
    } :+ count(lit(1))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val results = rowParsed.zipWithIndex.map { case (f, i) =>
      CheckResult("", ErrorCodes.TypeOrFormat, f.name, row.getLong(2 * i),
        row.getSeq[String](2 * i + 1))
    }
    val schemaErrs = schema.fields.flatMap(f => buildErrors.get(f.name)
      .map(msg => CheckResult("", ErrorCodes.SchemaError, f.name, 1,
        Seq(msg))))
    val typed = df.select(schema.fields.map(f =>
      if (buildErrors.contains(f.name)) df(f.name)
      else Parsers.parseExpr(f, df(f.name)).as(f.name)): _*)
    (typed, schemaErrs ++ results,
      results.filterNot(_.passed).map(_.field).toSet ++ buildErrors.keySet)
  }

  test("fused single-scan parse ≡ legacy two-scan parse, result for result") {
    // the fused parse derives the invalid-cell column from the typed
    // value inside ONE scan — every violation count, every bounded
    // sample, the failed set, and every typed cell must be identical to
    // the two-scan reference above. The rows hold a good date, a bad
    // date, a missing token, a bad number and a plain string (never
    // invalid); the inputs run them row-parsed, under a date format that
    // cannot compile (schema-error path: no parse expression, raw column
    // kept), with every field a schema-error (the aggregated check
    // column has no elements), and over a table where 239 of the 240
    // row-parsed cells are invalid: more distinct bad values per field
    // than the sample bound, so the bound itself is pinned.
    // The fused frame persists at MEMORY_AND_DISK (Spark's
    // `spark.sql.defaultCacheStorageLevel`), so a table whose bad cells
    // all ride along as raw strings spills instead of growing the heap.
    val path = write("fused.csv", "d,n,s\n2024-01-31,1.5,a\n" +
      "not-a-date,2.5,b\n,xx,c\n2024-01-31,7,\n9999-99,0,d\n")
    val badPath = write("fused_bad.csv", "d,n,s\n" + (0 until 120).map(i =>
      s"bad$i,${if (i == 0) "1.5" else s"x$i"},s$i\n").mkString)
    val noParse = Field("d", "date", format = "%G-%V-%u")
    def schema(d: Field) = TableSchema(fields = Seq(d, Field("n", "number"),
      Field("s", "string")), missingValues = Seq(""))
    val plain = schema(Field("d", "date"))
    val inputs = Seq(
      ("row-parsed", plain, path),
      ("schema-error", schema(noParse), path),
      ("all schema-error", TableSchema(fields = Seq(noParse,
        noParse.copy(name = "n"), noParse.copy(name = "s"))), path),
      ("mostly invalid", plain, badPath))
    for ((label, sch, csv) <- inputs) {
      val raw = Validate.readResource(spark, Resource("t", csv, sch))
      val (typedL, errsL, failedL) = twoScanParse(raw, sch)
      val buf = ListBuffer[DataFrame]()
      val (typedF, errsF, failedF) = Validate.parseTable(raw, sch, buf)
      try {
        if (label.endsWith("schema-error"))
          assert(errsF.exists(e => e.code == ErrorCodes.SchemaError &&
            e.field == "d"), errsF.mkString("; "))
        assert(failedL === failedF, label)
        assert(errsL.map(e => (e.code, e.field, e.violations,
          e.sampleValues)) ===
          errsF.map(e => (e.code, e.field, e.violations, e.sampleValues)),
          label)
        assert(typedL.schema === typedF.schema, label)
        val rows = (df: DataFrame) =>
          df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
            .toSeq.sorted
        assert(rows(typedL) === rows(typedF), label)
        assert(buf.size === 1, s"$label: the parse must register its one cache")
        assert(buf.head.storageLevel ===
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK, label)
        if (label == "mostly invalid") {
          assert(errsF.filterNot(_.passed)
            .map(e => (e.field, e.violations)).toSet ===
            Set(("d", 120L), ("n", 119L)), errsF.mkString("; "))
          assert(errsF.forall(_.sampleValues.size <= Validate.MaxErrorValues)
            && errsF.exists(_.sampleValues.size == Validate.MaxErrorValues),
            label)
        }
      } finally buf.foreach(_.unpersist(blocking = false))
    }
  }

  test("fused parse returns with its registered frame fully cached") {
    // validateCsv's concurrent checks rely on this: no cold cache for
    // them to race on. Also when no field is row-parsed (every field a
    // schema-error), where the aggregate has no per-field columns.
    val path = write("warm.csv",
      "a,b\n1,x\n2,y\n3,z\n4,w\nbad,v\n6,u\n")
    val inputs = Seq(
      "normal" -> TableSchema(Seq(Field("a", "integer"), Field("b"))),
      "all schema-error" -> TableSchema(Seq(
        Field("a", "date", format = "%G-%V-%u"),
        Field("b", "date", format = "%G-%V-%u"))))
    for ((label, sch) <- inputs) {
      val raw = Validate.readResource(spark, Resource("t", path, sch))
        .repartition(3)
      val buf = ListBuffer[DataFrame]()
      val (typed, _, _) = Validate.parseTable(raw, sch, buf)
      try {
        assert(buf.size === 1, label)
        val rdd = typed.queryExecution.withCachedData
          .collectFirst { case r: InMemoryRelation => r }
          .getOrElse(fail(s"$label: typed frame reads no cache"))
          .cacheBuilder.cachedColumnBuffers
        val cached = spark.sparkContext.getRDDStorageInfo
          .find(_.id == rdd.id).map(_.numCachedPartitions).getOrElse(0)
        assert(cached === 3 && rdd.getNumPartitions === 3, label)
      } finally buf.foreach(_.unpersist(blocking = false))
    }
  }

  test("a parse whose aggregate fails leaves its frame for the caller") {
    // the persisted frame is registered before the aggregate runs, so a
    // throwing aggregate still hands it to the caller to release
    // (validateCsv's `finally`)
    val boom = udf((i: Long) =>
      if (i == 2) throw new IllegalStateException("boom") else i.toString)
    val raw = spark.range(0, 4, 1, 2).select(boom(col("id")).as("a"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val buf = ListBuffer[DataFrame]()
    val e = intercept[Exception](Validate.parseTable(raw,
      TableSchema(Seq(Field("a", "integer"))), buf))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "boom"), e.toString)
    assert(buf.size === 1)
    buf.foreach(_.unpersist(blocking = true))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("validateCsv releases its caches when it fails mid-package") {
    val schema = TableSchema(Seq(Field("a", "integer"), Field("b")))
    def missing(name: String) =
      Resource(name, dir.resolve(s"$name.csv").toString, schema)
    // large enough that both good loads are still reading and parsing
    // when the missing files fail their header read
    def good(name: String) = Resource(name, write(s"$name.csv",
      (0 until 200000).map(i => s"$i,v$i").mkString("a,b\n", "\n", "\n")),
      schema)
    val small = Resource("good", write("leak_good.csv", "a,b\n1,x\n2,y\n"),
      schema)
    // a good resource then a missing one; and a missing file declared
    // first, failing while two good resources are still in flight, with
    // a second missing file declared last
    val packages = Seq(
      Seq(small, missing("absent")) -> "absent.csv",
      Seq(missing("absent_first"), good("leak_big1"), good("leak_big2"),
        missing("absent_last")) -> "absent_first.csv")
    val sc = spark.sparkContext
    for (((resources, firstFailing), run) <- packages.zipWithIndex) {
      val group = s"leak-$run"
      val before = sc.getPersistentRDDs.keySet
      sc.setJobGroup(group, "validateCsv failure path")
      val e = try intercept[Exception](
        Validate.validateCsv(spark, Package("p", resources)))
      finally sc.clearJobGroup()
      // a load still running after the call returned would only cache
      // its frame now: wait until the call's jobs stop coming
      var seen = -1
      while (seen != sc.statusTracker.getJobIdsForGroup(group).length) {
        seen = sc.statusTracker.getJobIdsForGroup(group).length
        Thread.sleep(2000)
      }
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
      // the error of the first failing resource in declared order
      assert(e.getMessage.contains(firstFailing), e.getMessage)
    }
  }

  test("validateCsv report ≡ the serial per-resource composition") {
    // cross-resource and self-referencing foreign keys, a header error
    // (a permuted header, bound by name), and a parse failure whose
    // field's constraint and primary-key results are dropped (skip
    // semantics): the task graph must assemble exactly the report the
    // serial composition does, on every run
    val p = ValidateFixtures.crossResource(write)

    val buf = scala.collection.mutable.ListBuffer[
      org.apache.spark.sql.DataFrame]()
    val want = try {
      val parsed = p.resources.map { res =>
        val header = Validate.headerCheck(
          Validate.actualCsvHeader(spark, res), res.schema)
        val (typed, errs, failed) = Validate.parseTable(
          Validate.readCsv(spark, res), res.schema, Set.empty,
          Validate.MaxDictValues, Some(buf))
        res.name -> ((typed, header ++ errs, failed))
      }.toMap
      val base = Validate.validateTyped(
        parsed.map { case (n, (df, _, _)) => n -> df }, p)
      report.PackageReport(base.tables.map { t =>
        val (_, loadErrs, failed) = parsed(t.table)
        report.TableReport(t.table, loadErrs.map(_.copy(table = t.table)) ++
          t.errors.filterNot(e => failed(e.field)))
      }).toJson
    } finally buf.foreach(_.unpersist())

    // the fixture really exercises each path it names
    assert(want.contains("non-matching-header"), want)
    assert(want.contains(ErrorCodes.TypeOrFormat), want)
    assert(want.contains("boss->staff.sid") && want.contains("rid->region.rid"),
      want)
    assert(!want.contains(s"\"${ErrorCodes.Minimum}\""), want)
    assert(!want.contains(s"\"${ErrorCodes.PrimaryKey}\",\"field\":\"day\""),
      want)
    for (run <- 1 to 5)
      assert(Validate.validateCsv(spark, p).toJson === want, s"run $run")
  }
}
