package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BoundedDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def run(values: Seq[Option[String]], k: Int): Seq[String] = {
    GraftFunctions.register(spark)
    values.toDF("x")
      .agg(call_function("bounded_distinct", col("x"), lit(k)).as("s"))
      .collect()(0).getSeq[String](0)
  }

  test("collects distinct values sorted, ignoring nulls") {
    val got = run(Seq(Some("b"), Some("a"), None, Some("b"), Some("c")), 10)
    assert(got == Seq("a", "b", "c"))
  }

  test("keeps the k smallest — deterministic under any row order") {
    val vals = (1 to 50).map(i => Some(f"v$i%03d"))
    val expected = (1 to 5).map(i => f"v$i%03d")
    assert(run(vals, 5) == expected)
    assert(run(scala.util.Random.shuffle(vals.toList), 5) == expected)
  }

  test("buffer is bounded across partitions (merge path)") {
    GraftFunctions.register(spark)
    val got = spark.range(0, 10000, 1, 8) // 8 partitions → merges
      .select(format_string("k%05d", col("id")).as("x"))
      .agg(call_function("bounded_distinct", col("x"), lit(4)).as("s"))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("k00000", "k00001", "k00002", "k00003"))
  }

  test("works in SQL after registration") {
    GraftFunctions.register(spark)
    Seq("z", "y", "x").toDF("c").createOrReplaceTempView("bd_t")
    val got = spark.sql("SELECT bounded_distinct(c, 2) FROM bd_t")
      .collect()(0).getSeq[String](0)
    assert(got == Seq("x", "y"))
  }

  test("bounded_distinct_each: per-position counts and samples, merged") {
    GraftFunctions.register(spark)
    // position 0 is bad on every third row, position 1 on rows 0 and 1
    // only; row 5 is clean (a null array); 8 partitions merge partials
    val arr = when(col("id") === 5, lit(null).cast("array<string>"))
      .otherwise(array(
        when(col("id") % 3 === 0, format_string("v%02d", col("id"))),
        when(col("id") < 2, lit("x"))))
    val got = spark.range(0, 40, 1, 8).select(arr.as("a"))
      .agg(call_function("bounded_distinct_each", col("a"), lit(3)))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(got == Seq((14L, Seq("v00", "v03", "v06")), (2L, Seq("x"))))
    // no non-null array: no positions at all
    val none = spark.range(0, 4, 1, 2)
      .select(lit(null).cast("array<string>").as("a"))
      .agg(BoundedDistinctEach.each(col("a"), 3))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(none.isEmpty)
  }
}
