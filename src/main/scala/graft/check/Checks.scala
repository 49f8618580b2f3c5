package graft.check

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.schema.{Field, ForeignKey, TableSchema}

/** Constraint / key / foreign-key checks (SURVEY.md §2.4–2.5, C1–C8 +
  * K1–K3). Each check returns a **violation DataFrame** — empty means the
  * check passes — following the reference's report shape of *distinct
  * offending values + counts*, never one row per bad cell (bounded output:
  * at 100 TB the result size is bounded by value cardinality, not row
  * count).
  *
  * All checks compose from built-in hash aggregates and anti joins;
  * Catalyst handles partial aggregation, broadcast selection and AQE skew
  * handling (SURVEY.md §4.2).
  */
object Checks {

  /** Anchored full-match, since `rlike` is an unanchored find()
    * (SURVEY.md §7.5 hard-part 2 — spec patterns are XML-Schema style).
    */
  def fullMatch(c: Column, pattern: String): Column =
    c.rlike("^(?:" + pattern + ")$")

  // ------------------------------------------------------------ violations
  /** C1 `required`: count of nulls (after missing-token substitution).
    * Always exactly one row — `violations = 0` on clean data — so the
    * result is oracle-comparable regardless of data cleanliness.
    */
  def required(df: DataFrame, c: String): DataFrame =
    df.filter(df(c).isNull)
      .agg(count(lit(1)).as("violations"))

  /** C2 `unique` / K1 `primaryKey` / K2 `uniqueKeys`: duplicated value
    * tuples with occurrence counts. Nulls exempt per SQL/spec convention
    * (SURVEY.md §7.5 hard-part 5).
    */
  def unique(df: DataFrame, cols: Seq[String]): DataFrame = {
    val nonNull = cols.map(df(_).isNotNull).reduce(_ && _)
    df.filter(nonNull)
      .groupBy(cols.map(df(_)): _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
  }

  /** Single-pass duplicate pre-screen for `unique`/`primaryKey` at
    * scale: `(n_rows, approx_distinct, definitely_has_duplicates)` from
    * one scan with NO key shuffle (HyperLogLog++ partials merge into a
    * one-row agg). When `approx_distinct` is far below `n_rows` the key
    * set PROVABLY has duplicates (HLL++ relative error `rsd`, default
    * 5%, only blurs the boundary) and the expensive exact check can be
    * scheduled — or skipped entirely when counts match within error and
    * the caller only needs a cheap health signal.
    */
  def uniqueQuickScreen(
      df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    // \u0001 separator prevents ("a","bc") / ("ab","c") collisions
    val key = concat_ws("\u0001", cols.map(df(_).cast("string")): _*)
    df.filter(cols.map(df(_).isNotNull).reduce(_ && _))
      .agg(count(lit(1)).as("n_rows"),
        approx_count_distinct(key, rsd).as("approx_distinct"))
      .select(col("n_rows"), col("approx_distinct"),
        (col("approx_distinct") < col("n_rows") * (1.0 - 2 * rsd))
          .as("definitely_has_duplicates"))
  }

  /** K1 `primaryKey` also implies required on every part (spec).
    * Like [[required]], always one count row.
    */
  def primaryKeyNulls(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(anyNull(keys.map(df(_))))
      .agg(count(lit(1)).as("violations"))

  /** K1's implied required: true on a row with any null key part. */
  def anyNull(keys: Seq[Column]): Column = keys.map(_.isNull).reduce(_ || _)

  /** Distinct offending values + counts for a boolean violation predicate
    * over one column — shared shape of C3–C8.
    */
  def offendingValues(df: DataFrame, col: String, bad: Column): DataFrame =
    df.filter(df(col).isNotNull && bad)
      .groupBy(df(col))
      .agg(count(lit(1)).as("cnt"))

  def minLength(df: DataFrame, c: String, n: Int): DataFrame =
    offendingValues(df, c, length(df(c)) < n)

  def maxLength(df: DataFrame, c: String, n: Int): DataFrame =
    offendingValues(df, c, length(df(c)) > n)

  /** C3/C4 length measure per the spec's type-dependent semantics:
    * character count for strings, ELEMENT count for `array` fields and
    * KEY count for `object` fields (whose validated representation here
    * is the JSON string — `length()` on it would measure characters).
    * Non-JSON cells yield null (no violation row: the parse stage
    * already reported them as type errors).
    */
  def lengthOf(f: Field, c: Column): Column = f.ftype match {
    case "array"  => json_array_length(c)
    case "object" => size(json_object_keys(c))
    case _        => length(c)
  }

  def minLengthTyped(df: DataFrame, f: Field, n: Int): DataFrame =
    offendingValues(df, f.name, lengthOf(f, df(f.name)) < n)

  def maxLengthTyped(df: DataFrame, f: Field, n: Int): DataFrame =
    offendingValues(df, f.name, lengthOf(f, df(f.name)) > n)

  /** C5/C6: inclusive bounds, compared on the *typed* column. */
  def minimum(df: DataFrame, c: String, bound: Column): DataFrame =
    offendingValues(df, c, df(c) < bound)

  def maximum(df: DataFrame, c: String, bound: Column): DataFrame =
    offendingValues(df, c, df(c) > bound)

  def patternCheck(df: DataFrame, c: String, p: String): DataFrame =
    offendingValues(df, c, !fullMatch(df(c), p))

  def enumCheck(df: DataFrame, c: String, values: Seq[Any]): DataFrame =
    offendingValues(df, c, !df(c).isin(values: _*))

  /** C8 membership with each declared value TYPED against the field —
    * enum on an integer/date/number column compares typed values
    * instead of riding on Spark's implicit cast of the raw descriptor
    * strings (which under ANSI mode can throw on a malformed literal
    * instead of reporting a schema problem at plan build).
    */
  def enumHit(f: Field, values: Seq[String], c: Column): Column =
    // empty enum: nothing is a member (every non-null value violates) —
    // the same verdict `isin()` with zero arguments renders; reduceOption
    // because reduce throws on the empty descriptor `"enum": []`
    values.map(v => c === typedBound(f, v))
      .reduceOption(_ || _).getOrElse(lit(false))

  def enumCheckTyped(df: DataFrame, f: Field, values: Seq[String]): DataFrame =
    offendingValues(df, f.name, !enumHit(f, values, df(f.name)))

  // ------------------------------------------------------------------- keys
  /** K3 `foreignKeys`: child key tuples not present in the parent —
    * distinct orphan tuples + counts via left_anti join against the
    * parent's distinct keys. Rows with any null key part are exempt (SQL
    * convention). Catalyst broadcasts the parent side automatically when
    * small; callers may wrap the parent in `broadcast()` for known dims.
    */
  def foreignKey(
      child: DataFrame,
      childKeys: Seq[String],
      parent: DataFrame,
      parentKeys: Seq[String]
  ): DataFrame = {
    require(childKeys.size == parentKeys.size, "fk arity mismatch")
    // project both sides to the key tuple under the child's names
    val c = child.select(childKeys.map(child(_)): _*)
      .filter(childKeys.map(child(_).isNotNull).reduce(_ && _))
    val p0 = parent.select(
      parentKeys.zip(childKeys).map { case (pk, ck) => parent(pk).as(ck) }: _*
    ).distinct()
    // a caller's broadcast() hint on the parent would otherwise sit
    // BELOW the distinct aggregate and never reach the join side —
    // re-apply it to the distinct-keys projection (the side that joins).
    // ONLY broadcast-family hints count: a deliberate SHUFFLE_MERGE /
    // SHUFFLE_HASH / NO_BROADCAST hint on a large parent must not get
    // its key set force-broadcast (driver OOM at scale) — the opposite
    // of what the caller asked for.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, UnresolvedHint}
    val broadcastNames = Set("BROADCAST", "BROADCASTJOIN", "MAPJOIN")
    val callerHinted = parent.queryExecution.logical.exists {
      case h: UnresolvedHint => broadcastNames(h.name.toUpperCase)
      case h: ResolvedHint   => h.hints.strategy.contains(BROADCAST)
      case _                 => false
    }
    val p = if (callerHinted) broadcast(p0) else p0
    val cond = childKeys.map(k => c(k) === p(k)).reduce(_ && _)
    c.join(p, cond, "left_anti")
      .groupBy(childKeys.map(c(_)): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Incremental C2/K1 served from a standing key index
    * ([[graft.sources.IndexStore.writeKeyIndexBucketed]]): the
    * uniqueness violations a NEW BATCH introduces — batch-internal
    * duplicate key tuples and batch keys the history already holds —
    * without rescanning history. Output one row per offending batch
    * key: `(key…, n_new, n_existing)` with `n_new + n_existing > 1`.
    * Keys already duplicated INSIDE history but untouched by the batch
    * are deliberately not re-reported; they were reported when their
    * own batch landed.
    *
    * Scale shape: the batch aggregates to its distinct keys and
    * shuffles; the index side merges its LSM count rows with a
    * groupBy on its own bucket columns and joins on them — history is
    * read in place, no exchange (BucketingSpec). The left join keeps
    * fresh batch keys so purely-internal duplicates still surface.
    */
  def uniqueAgainstIndex(batch: DataFrame, index: DataFrame,
      keys: Seq[String]): DataFrame = {
    val b = batch
      .filter(keys.map(batch(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(batch(_)): _*)
      .agg(count(lit(1)).as("n_new"))
    val h = index.groupBy(keys.map(index(_)): _*)
      .agg(sum(col("n")).as("n_existing"))
    val cond = keys.map(k => b(k) === h(k)).reduce(_ && _)
    b.join(h, cond, "left")
      .select(keys.map(b(_)) ++ Seq(b("n_new"),
        coalesce(h("n_existing"), lit(0L)).as("n_existing")): _*)
      .filter(col("n_new") + col("n_existing") > 1)
  }

  /** K3 served from a standing PARENT key index — the FK check when
    * the dimension is itself 100 TB-class (too big to broadcast, too
    * hot to re-shuffle per batch): the child batch anti-joins the
    * bucketed index on its own bucket columns, so the parent side
    * reads in place and only the batch moves. The index's LSM rows
    * merge per key FIRST (`sum(n) > 0` — a groupBy on the index's own
    * bucket columns, exchange-free), so keys erased by
    * [[graft.sources.IndexStore.deleteFromKeyIndexBucketed]]
    * tombstones correctly REOPEN as orphans instead of matching their
    * dead rows. Result contract identical to [[foreignKey]]: orphan
    * key tuples + counts.
    */
  def foreignKeyAgainstIndex(
      child: DataFrame,
      childKeys: Seq[String],
      index: DataFrame,
      indexKeys: Seq[String]
  ): DataFrame = {
    require(childKeys.size == indexKeys.size, "fk arity mismatch")
    val c = child.select(childKeys.map(child(_)): _*)
      .filter(childKeys.map(child(_).isNotNull).reduce(_ && _))
    val live = index.groupBy(indexKeys.map(index(_)): _*)
      .agg(sum(col("n")).as("__n")).filter(col("__n") > 0)
    val p = live.select(indexKeys.zip(childKeys).map {
      case (ik, ck) => live(ik).as(ck)
    }: _*)
    val cond = childKeys.map(k => c(k) === p(k)).reduce(_ && _)
    c.join(p, cond, "left_anti")
      .groupBy(childKeys.map(c(_)): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  // ------------------------------------------------- fused single-scan pass
  /** Each declared field constraint of `f` (C1, C3–C8) as its tag and
    * its violation predicate over the field's typed column `c`, in a
    * fixed order. The one definition that [[constraintSummary]] and the
    * validator's per-row check column both count. (`unique` needs a
    * shuffle per key-set and is handled separately.)
    */
  def constraintViolations(f: Field, c: Column): Seq[(String, Column)] = {
    val k = f.constraints
    Seq(
      k.required.filter(identity).map(_ => "required" -> c.isNull),
      k.minLength.map(n =>
        "minLength" -> (c.isNotNull && lengthOf(f, c) < n)),
      k.maxLength.map(n =>
        "maxLength" -> (c.isNotNull && lengthOf(f, c) > n)),
      k.minimum.map(m => "minimum" -> (c < typedBound(f, m))),
      k.maximum.map(m => "maximum" -> (c > typedBound(f, m))),
      k.pattern.map(p => "pattern" -> (c.isNotNull && !fullMatch(c, p))),
      k.enum.map(vs => "enum" -> (c.isNotNull && !enumHit(f, vs, c)))
    ).flatten
  }

  /** Compile every field constraint of a table into ONE aggregate pass
    * (SURVEY.md §4.3 decision 1): a single scan emitting one row with a
    * `<field>__<constraint>` violation-count column per declared check.
    */
  def constraintSummary(df: DataFrame, schema: TableSchema): DataFrame = {
    val aggs: Seq[Column] = schema.fields.flatMap { f =>
      constraintViolations(f, df(f.name)).map { case (tag, bad) =>
        coalesce(count(when(bad, lit(1))), lit(0L)).as(s"${f.name}__$tag")
      }
    }
    if (aggs.isEmpty) df.sparkSession.emptyDataFrame
    else df.agg(aggs.head, aggs.tail: _*)
  }

  /** Type a string bound (from the JSON descriptor) against a field. */
  def typedBound(f: Field, bound: String): Column = f.ftype match {
    case "integer" | "year" => lit(bound.toLong)
    case "number"           => lit(bound.toDouble)
    case "date"             => to_date(lit(bound))
    case "datetime"         => to_timestamp(lit(bound))
    case "boolean"          => lit(f.trueValues.contains(bound))
    case _                  => lit(bound)
  }

  /** K3 for SKEWED fact→fact joins: deterministic salting. The child's
    * shuffle key gains a per-row salt, the parent's distinct keys are
    * replicated across all `saltBuckets` salts, and the anti join runs
    * on (key…, salt) — a hot child key now spreads over `saltBuckets`
    * reducers instead of one. Result set is identical to [[foreignKey]]
    * (the salt never changes membership). AQE's skew-join handles the
    * sort-merge case automatically; explicit salting is for when the
    * join must hash-partition (e.g. followed by a same-key aggregation)
    * or AQE is unavailable.
    */
  def foreignKeySalted(
      child: DataFrame,
      childKeys: Seq[String],
      parent: DataFrame,
      parentKeys: Seq[String],
      saltBuckets: Int = 16
  ): DataFrame = {
    require(childKeys.size == parentKeys.size, "fk arity mismatch")
    val c = child.select(childKeys.map(child(_)): _*)
      .filter(childKeys.map(child(_).isNotNull).reduce(_ && _))
      .withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(saltBuckets.toLong)))
    val p = parent.select(
        parentKeys.zip(childKeys).map { case (pk, ck) =>
          parent(pk).as(ck)
        }: _*)
      .distinct()
      .withColumn("__salt",
        explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    val cond = (childKeys.map(k => c(k) === p(k)) :+
      (c("__salt") === p("__salt"))).reduce(_ && _)
    c.join(p, cond, "left_anti")
      .groupBy(childKeys.map(c(_)): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  // ------------------------------------------------ opt-in row positions
  /** Stable 1-based row numbers in the source's scan order (SURVEY.md
    * §4.3 decision 4). `monotonically_increasing_id` leaves gaps across
    * partitions; `zipWithIndex` is exact but leaves whole-stage codegen,
    * so this is an OPT-IN path for reports that genuinely need row
    * positions — the default report shape stays distinct-values+counts.
    */
  def withRowNumbers(df: DataFrame, colName: String = "row_nr"): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(colName, org.apache.spark.sql.types.LongType,
      nullable = false)
    val rdd = df.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** First `maxRows` offending row positions + values for a violation
    * predicate — bounded, ordered, exact row numbers.
    */
  def offendingRows(
      df: DataFrame, c: String, bad: Column, maxRows: Int = 100): DataFrame =
    withRowNumbers(df.select(df(c)))
      .filter(col(c).isNotNull && bad)
      .orderBy(col("row_nr"))
      .limit(maxRows)
}
