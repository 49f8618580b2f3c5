package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Dedup

/** SQL-registration coverage for the round-3 native expressions: the
  * registered builders must behave exactly like the Column API
  * (including the defensive input casts).
  */
class NativeFnSqlSpec extends SparkSpec {
  import spark.implicits._

  test("register is idempotent from concurrent threads") {
    // validateCsv's concurrent loads each register on the same session;
    // a fresh session per round, 8 threads released at once
    val sessions = (1 to 10).map(_ => spark.newSession())
    for (s <- sessions) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 8).map { _ =>
        val t = new Thread(() => { start.await(); GraftFunctions.register(s) })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
      assert(s.experimental.extraOptimizations
        .count(_ == LowerQuadraticArrayOps) === 1)
    }
    val r = sessions.last.sql("SELECT bounded_distinct(x, 2) FROM VALUES ('b'), ('a'), " +
      "('c'), ('a') AS t(x)").collect()(0).getSeq[String](0)
    assert(r === Seq("a", "b"))
  }

  test("minhash_sigs in SQL matches the Column API and the HOF spec") {
    GraftFunctions.register(spark)
    Seq("the quick brown fox jumps over it", "another doc entirely")
      .toDF("text")
      .select(Dedup.shingleHashes(col("text"), 3).as("sh"))
      .createOrReplaceTempView("mh_t")
    val viaSql = spark.sql("SELECT minhash_sigs(sh, 8) AS s FROM mh_t")
      .collect().map(_.getSeq[Long](0))
    val viaCol = spark.table("mh_t")
      .select(Dedup.minhashFromHashes(col("sh"), 8).as("s"))
      .collect().map(_.getSeq[Long](0))
    val viaHof = spark.table("mh_t")
      .select(Dedup.minhashFromHashesHof(col("sh"), 8).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(viaSql.toSeq == viaCol.toSeq)
    assert(viaSql.toSeq == viaHof.toSeq)
  }

  test("jaccard_long / containment_long in SQL, with input casts") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT jaccard_long(array(1, 2, 3), array(2, 3, 4)) AS j,
        |  containment_long(array(2, 3), array(1, 2, 3, 9)) AS c,
        |  containment_long(array(), array(1)) AS c_empty,
        |  jaccard_long(array(5, 5), array(5)) AS j_dup
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 0.5)  // |{2,3}| / |{1,2,3,4}|
    assert(r.getDouble(1) == 1.0)  // both sub members present
    assert(r.getDouble(2) == 0.0)  // empty sub guard
    assert(r.getDouble(3) == 1.0)  // set semantics on duplicates
    // int literals cast to array<long> by the builder — same value as
    // the Column API on the same input
    val viaCol = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("a", "b")
      .select(Dedup.jaccardHashes(col("a"), col("b"))).collect()(0)
    assert(viaCol.getDouble(0) == 0.5)
  }

  test("array_top_count / array_distinct_count in SQL, with input casts") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT array_top_count(array('a','b','a','a')) AS t,
        |  array_distinct_count(array('a','b','a')) AS d,
        |  array_top_count(array()) AS e,
        |  array_distinct_count(array(1, 2, 2)) AS casted
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == 0L)
    assert(r.getLong(3) == 2L) // int array casts to array<string>
  }

  test("array_entropy in SQL: uniform ln(n), runs 0, nulls ignored") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT array_entropy(array('a','b','c','d')) AS uniform,
        |  array_entropy(array('x','x','x')) AS run,
        |  array_entropy(array()) AS empty,
        |  array_entropy(array('a', NULL, 'b')) AS withnull
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == math.log(4.0))
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == math.log(2.0)) // null skipped, 2 of 2
  }

  test("null array elements: skipped like the HOF formulations") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT minhash_sigs(array(CAST(NULL AS BIGINT)), 4) AS allnull,
        |  minhash_sigs(array(7, NULL, 7), 2) AS mixed,
        |  array_top_count(array('a', NULL, NULL, NULL)) AS t
        |""".stripMargin).collect()(0)
    assert(r.getSeq[Any](0) == Seq(null, null, null, null))
    assert(!r.getSeq[Any](1).contains(null)) // non-null inputs → values
    assert(r.getLong(2) == 1L) // three nulls must not win the max
    // mixed matches the HOF spec on the same input
    val hof = Seq(Seq(Some(7L), None, Some(7L))).toDF("sh")
      .select(graft.ext.Dedup.minhashFromHashesHof(col("sh"), 2).as("s"))
      .collect()(0).getSeq[Any](0)
    assert(r.getSeq[Any](1) == hof)
  }

  test("optimizer rule lowers size(array_distinct) on string arrays") {
    // column-dependent input: a pure literal would be constant-folded
    // to a LocalRelation before the plan could show the rewrite
    val df = spark.range(2).select(
      size(array_distinct(
        split(concat(lit("a,b,a,x"), col("id")), ","))).as("n"),
      size(array_distinct(array(col("id").cast("int")))).as("m"))
    val rewritten = LowerQuadraticArrayOps(df.queryExecution.analyzed)
    val lowered = rewritten.expressions
      .filter(_.exists(_.isInstanceOf[DistinctCount]))
    assert(lowered.size == 1, "exactly the string-array Size lowers")
    // end to end: the imperative registration path (what the harness
    // and Validate call) must activate the rule, same as the
    // spark.sql.extensions conf path
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations
      .contains(LowerQuadraticArrayOps),
      "register() must install the optimizer rule")
    val r = df.orderBy("n").collect()(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 1)
    assert(df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[DistinctCount])))
    // the session gate turns the rewrite off without touching the rule
    spark.conf.set(LowerQuadraticArrayOps.EnabledConf, "false")
    try {
      val df2 = spark.range(2).select(size(array_distinct(
        split(concat(lit("a,b,a"), col("id")), ","))).as("n"))
      assert(!df2.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[DistinctCount])),
        "gate=false must leave the HOF formulation un-lowered")
      assert(df2.orderBy("n").collect()(0).getInt(0) == 3)
    } finally spark.conf.unset(LowerQuadraticArrayOps.EnabledConf)
  }

  test("latest_by in SQL: lexicographic versions, tombstones, null versions") {
    GraftFunctions.register(spark)
    Seq(
      (1L, 100L, 1L, "old"), (1L, 200L, 2L, "new"),
      (2L, 300L, 1L, "tie-lo"), (2L, 300L, 2L, "tie-hi"),
      (3L, 400L, 1L, "only")
    ).toDF("k", "ts", "cid", "payload").createOrReplaceTempView("lb_t")
    val out = spark.sql(
      """SELECT k, latest_by(payload, array(ts, cid)) AS p
        |FROM lb_t GROUP BY k ORDER BY k""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "new", 2L -> "tie-hi", 3L -> "only"))
    // struct payloads survive the serialize/deserialize round-trip
    val s = spark.sql(
      """SELECT latest_by(struct(payload, cid), array(ts, cid)) AS p
        |FROM lb_t WHERE k = 1""".stripMargin).collect()(0)
      .getStruct(0)
    assert(s.getString(0) === "new" && s.getLong(1) === 2L)
    // null version rows are ignored entirely
    val n = spark.sql(
      """SELECT latest_by(payload, CASE WHEN cid = 2 THEN NULL
        |  ELSE array(ts, cid) END) AS p
        |FROM lb_t WHERE k = 1""".stripMargin).collect()(0)
    assert(n.getString(0) === "old")
  }

  test("minhash_sigs rejects a non-literal k at analysis time") {
    GraftFunctions.register(spark)
    Seq(Seq(1L, 2L)).toDF("sh").createOrReplaceTempView("mh_k")
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sigs(sh, CAST(rand()*4 AS INT)) FROM mh_k")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }
}
