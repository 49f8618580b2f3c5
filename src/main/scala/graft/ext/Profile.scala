package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the quick statistics pass a validator runs
  * before (or instead of) full checks at 100 TB: row/null/distinct
  * counts and value ranges per column.
  *
  * Distinct counts default to `approx_count_distinct` (HyperLogLog++):
  * ONE scan for all columns, partial aggregation map-side, one tiny
  * exchange — matching the operator's quick-screen purpose. Exact mode
  * (`exact = true`, for when the precise cardinality is the
  * deliverable) deliberately does NOT use N `count_distinct`s in one
  * `agg`: Catalyst plans that as an Expand multiplying every input row
  * ×(N+1) before the shuffle, which measured 40× worse than linear at
  * 10× data (memory-pressure collapse — 242 s vs 9 s at sf1). Instead
  * each column gets its own two-level aggregation — a column-pruned
  * scan (reading only that column's bytes), a `groupBy(value)` whose
  * map-side partials bound the shuffle by the column's distinct count,
  * and a one-row final agg — unioned across columns. N narrow pruned
  * scans beat one scan's ×(N+1) row blowup everywhere past toy scale.
  *
  * Only order-independent measures are emitted (counts, min/max — no
  * float averages whose partition order could wobble the result).
  */
object Profile {

  /** Per-column stats: (column, n_rows, n_nulls, n_distinct, min_value,
    * max_value) with min/max rendered as strings (heterogeneous column
    * types in one output). `n_distinct` is an HLL++ estimate at `rsd`
    * relative error unless `exact = true`.
    */
  def columnProfile(df: DataFrame, cols: Seq[String],
      exact: Boolean = false, rsd: Double = 0.05): DataFrame =
    if (exact) exactProfile(df, cols) else approxProfile(df, cols, rsd)

  /** All columns in one scan/agg; HLL++ sketches merge as partials. */
  private def approxProfile(
      df: DataFrame, cols: Seq[String], rsd: Double): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__nulls"),
        approx_count_distinct(col(c), rsd).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__n`, `${c}__nulls`, `${c}__distinct`, " +
        s"`${c}__min`, `${c}__max`").mkString(", ")
    wide.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)")
  }

  /** One Expand-free two-level aggregation per column, unioned.
    * Measure parity with the wide form: n_distinct excludes null (the
    * null group is counted separately), min/max skip nulls natively.
    */
  private def exactProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.select(col(c))
        .groupBy(col(c))
        .agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum(col("__cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col(c).isNull, col("__cnt"))), lit(0L))
            .as("n_nulls"),
          count(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_value"),
          max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)

  /** Numeric quantile profile: one row per column with its interpolated
    * quantiles at `probabilities` (linear interpolation — the
    * `quantile_cont` convention), computed in ONE scan across all
    * columns.
    *
    * Default is `percentile_approx` (a bounded-size quantile sketch per
    * partial — the only shape that survives unbounded cardinality at
    * 100 TB). `exact = true` opts into Spark's exact percentile, whose
    * partial state is a value→count map: partial-aggregable and cheap
    * while the column's cardinality is bounded (enums, small-domain
    * measures), NOT for high-cardinality columns. Inputs are cast to
    * double so decimal columns profile under the same interpolation
    * arithmetic on every engine.
    */
  def numericProfile(df: DataFrame, cols: Seq[String],
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75),
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    val probs = array(probabilities.map(lit): _*)
    def qAgg(c: Column): Column =
      if (exact) percentile(c.cast("double"), probs)
      else percentile_approx(c.cast("double"), probs, lit(accuracy))
    val aggs = cols.map(c => qAgg(col(c)).as(s"${c}__q"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', `${c}__q`").mkString(", ")
    wide.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (column_name, quantiles)")
  }

  /** Pairwise Pearson correlation over integer-valued expressions
    * (scale floats to cents first — the [[graft.ext.Features]]
    * convention) with DETERMINISTIC, engine-portable output. Spark's
    * own `corr` accumulates doubles in partition order — reruns drift
    * in the last ulps and can never hash-match an external engine.
    * Here every moment (n, Σx, Σx², Σxy) is an EXACT decimal(38,0)
    * sum — order-free integer arithmetic — and only the final
    *   r = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²ᵗᵒᵗ) · √(n·Σy² − Σy²ᵗᵒᵗ))
    * runs in floating point, over doubles cast from those exact
    * integers: cast, multiply, subtract, divide, and sqrt are all
    * IEEE-754 correctly-rounded, so two engines agree bit-for-bit.
    *
    * Scale design (100 TB lens): ONE map-side-combinable hash
    * aggregate over one scan computes all k + k·(k+1)/2 moments; the
    * k×k assembly happens on |pairs| rows, not data. Null policy:
    * rows with ANY null among `cols` are dropped first (listwise —
    * the only policy with a consistent n across every pair from one
    * scan).
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)])
      : DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val clean = df
      .select(cols.map { case (n, c) => c.cast("long").as(s"__g_$n") }: _*)
      .na.drop()
    val sums =
      cols.map { case (n, _) =>
        sum(dec(col(s"__g_$n"))).as(s"s_$n") } ++
      cols.map { case (n, _) =>
        sum(dec(col(s"__g_$n")) * dec(col(s"__g_$n"))).as(s"ss_$n") } ++
      (for {
        (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
      } yield sum(dec(col(s"__g_${a._1}")) * dec(col(s"__g_${b._1}")))
        .as(s"sp_${a._1}__${b._1}")) :+
      count(lit(1)).as("n")
    val wide = clean.agg(sums.head, sums.tail: _*)
    val pairRows = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield {
      val (na, nb) = (a._1, b._1)
      val nD = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      val cov = nD * d(s"sp_${na}__$nb") - d(s"s_$na") * d(s"s_$nb")
      val va = nD * d(s"ss_$na") - d(s"s_$na") * d(s"s_$na")
      val vb = nD * d(s"ss_$nb") - d(s"s_$nb") * d(s"s_$nb")
      struct(lit(na).as("col_a"), lit(nb).as("col_b"),
        col("n").as("n"),
        when(va > 0 && vb > 0, cov / (sqrt(va) * sqrt(vb)))
          .as("corr"))
    }
    wide.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.n").as("n"), col("p.corr").as("corr"))
  }

  /** [[numericProfile]] in long form: one scalar row per
    * (column, probability) instead of an array column —
    * (column_name, prob_idx, quantile) with `prob_idx` the 0-based
    * position in `probabilities`. Same single-scan aggregation; the
    * array is exploded after the agg, so the explode touches
    * |cols| rows, not the input. Scalar rows are the
    * interchange-friendly shape (array cells don't hash/sort portably
    * across engines and dataframe libraries).
    */
  def numericProfileLong(df: DataFrame, cols: Seq[String],
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75),
      exact: Boolean = false, accuracy: Int = 10000): DataFrame =
    numericProfile(df, cols, probabilities, exact, accuracy)
      .select(col("column_name"),
        posexplode(col("quantiles")).as(Seq("prob_idx", "quantile")))

  /** [[numericProfileLong]] per GROUP: one row per (group, column,
    * probability) — the per-source / per-language distribution drift
    * monitor ("did src7's length distribution shift this snapshot?").
    * Still ONE scan and one hash aggregation keyed by the group column;
    * output is |groups| × |cols| × |probabilities| rows, bounded by the
    * group cardinality, not the data. Same exact-mode caveat as
    * [[numericProfile]]: the value→count partial state needs bounded
    * column cardinality; the sketch default survives anything.
    */
  def numericProfileByGroup(df: DataFrame, groupCol: String,
      cols: Seq[String],
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75),
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    val probs = array(probabilities.map(lit): _*)
    def qAgg(c: Column): Column =
      if (exact) percentile(c.cast("double"), probs)
      else percentile_approx(c.cast("double"), probs, lit(accuracy))
    val aggs = cols.map(c => qAgg(col(c)).as(s"${c}__q"))
    val wide = df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', `${c}__q`").mkString(", ")
    wide.selectExpr(s"`$groupCol`",
        s"stack(${cols.size}, $stackArgs) AS (column_name, quantiles)")
      .select(col(groupCol), col("column_name"),
        posexplode(col("quantiles")).as(Seq("prob_idx", "quantile")))
  }

  /** Exact interpolated clip bounds for [[winsorize]] /
    * [[winsorizeSummary]]: a 1-row frame (__graft_lo, __graft_hi) from
    * Spark's exact percentile (the `quantile_cont` convention — same
    * parity basis as [[numericProfile]] exact mode, with its same
    * bounded-cardinality caveat; tail clipping targets measure columns
    * whose value domain is bounded even when row counts are not).
    */
  private def clipBounds(df: DataFrame, c: String, pLo: Double,
      pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "need 0 <= pLo <= pHi <= 1")
    df.agg(
      percentile(col(c).cast("double"), lit(pLo)).as("__graft_lo"),
      percentile(col(c).cast("double"), lit(pHi)).as("__graft_hi"))
  }

  /** Winsorization: clip `c` (as double) into its own [pLo, pHi]
    * interpolated-percentile interval — the standard outlier-robust
    * pre-normalization for reward/score columns before training-mix
    * arithmetic. Two scans (bounds fit, then a NARROW clip — the 1-row
    * bounds frame rides a broadcast, so the transform itself never
    * shuffles); nulls pass through — the clip is null-guarded, because
    * Spark's least/greatest SKIP null arguments rather than propagate
    * them (greatest(null, lo) = lo would silently rewrite missing
    * values to the lower bound).
    */
  def winsorize(df: DataFrame, c: String, pLo: Double,
      pHi: Double): DataFrame =
    df.crossJoin(broadcast(clipBounds(df, c, pLo, pHi)))
      .withColumn(c,
        when(col(c).isNotNull,
          least(greatest(col(c).cast("double"), col("__graft_lo")),
            col("__graft_hi"))))
      .drop("__graft_lo", "__graft_hi")

  /** Clip-bounds report for [[winsorize]]: the fitted (p_lo, p_hi) plus
    * how many rows each tail would clip — one output row, computed as
    * one full-scan conditional aggregate against the broadcast bounds.
    */
  def winsorizeSummary(df: DataFrame, c: String, pLo: Double,
      pHi: Double): DataFrame = {
    val v = col(c).cast("double")
    df.crossJoin(broadcast(clipBounds(df, c, pLo, pHi)))
      .agg(
        min(col("__graft_lo")).as("p_lo"),
        min(col("__graft_hi")).as("p_hi"),
        count(when(v < col("__graft_lo"), 1)).as("n_below"),
        count(when(v > col("__graft_hi"), 1)).as("n_above"),
        count(lit(1)).as("n_total"))
      .select(lit(c).as("column_name"), col("p_lo"), col("p_hi"),
        col("n_below"), col("n_above"), col("n_total"))
  }

  /** Poisson(1) CDF thresholds for k = 0..8 — the inverse-CDF table
    * behind [[bootstrapMeans]]. Computed ONCE here and embedded as
    * double literals in both the Spark plan and the DuckDB oracle
    * (StaticOracles), so no cross-engine libm enters the comparison.
    */
  private[graft] val PoissonCdf: Seq[Double] = {
    val eInv = math.exp(-1.0)
    Iterator.iterate((0, 1.0, 1.0)) { case (k, fact, acc) =>
      val f = fact * (k + 1); (k + 1, f, acc + 1.0 / f)
    }.take(9).map { case (_, _, acc) => eInv * acc }.toSeq
  }

  /** Deterministic Poisson bootstrap of a metric's mean: replicate `b`
    * draws where every row enters replicate j with weight
    * Poisson(1)(hash(id, j)) — the streaming-friendly bootstrap
    * (Chamandy et al., "Estimating uncertainty for massive data
    * streams", 2012 lineage): no resample materialization, no global
    * coordination, reproducible on any partitioning because the weight
    * is a pure hash function of (id, replicate). Output: one row per
    * replicate (b, n_eff, sum_cents, mean); the spread of `mean`
    * across replicates IS the sampling distribution — read CIs off
    * its quantiles.
    *
    * `cents` must be an integer-valued column (money in cents, counts):
    * the per-replicate sums stay in exact long arithmetic, so the only
    * float op is the final mean division — engine-exact given the
    * shared threshold literals. One narrow ×b explode feeding a
    * `b`-group map-side-combinable aggregate: shuffle carries
    * b × partitions rows at any corpus size.
    */
  def bootstrapMeans(df: DataFrame, id: Column, cents: Column,
      b: Int, salt: String = "bs"): DataFrame = {
    require(b > 0 && b <= 10000, "need 0 < b <= 10000 replicates")
    val rep = df.select(id.cast("string").as("__graft_id"),
        cents.cast("long").as("__graft_c"))
      .select(col("__graft_id"), col("__graft_c"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
    val u = graft.ext.Sampling.hashUnit(
      concat(col("__graft_id"), lit("_"), col("b").cast("string")), salt)
    val w = PoissonCdf.map(t => (u > lit(t)).cast("int")).reduce(_ + _)
    rep.withColumn("__graft_w", w)
      .groupBy("b").agg(
        sum(col("__graft_w").cast("long")).as("n_eff"),
        sum(col("__graft_w").cast("long") * col("__graft_c"))
          .as("sum_cents"))
      .select(col("b"), col("n_eff"), col("sum_cents"),
        when(col("n_eff") > 0,
          col("sum_cents").cast("double") / lit(100.0) /
            col("n_eff").cast("double")).as("mean"))
  }

  /** Benford first-significant-digit scan: the observed share of each
    * leading digit 1–9 of |c| next to Benford's expected log₁₀(1+1/d) —
    * the classic fabricated-figures screen for naturally-spanning
    * measure columns (amounts, populations). One hash agg on the digit
    * (9 groups) + a broadcast total; zero/null values are excluded (no
    * leading digit). Digit extraction is v / 10^⌊log₁₀ v⌋ — counts and
    * digits are engine-exact except for inputs whose log₁₀ lands
    * within 1 ulp of an integer (exact powers of 10 round correctly on
    * every libm we target; the shares carry the usual platform-libm
    * caveat).
    */
  def benford(df: DataFrame, c: String): DataFrame = {
    val v = abs(col(c).cast("double"))
    val digit = floor(v / pow(lit(10.0), floor(log10(v)))).cast("long")
    val counts = df.where(v > 0.0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    // scoped cache: the 9-row count frame feeds both the total and the
    // report — without it the corpus aggregation subtree runs twice
    CacheScope.withCached(counts) { cn =>
      val tot = broadcast(cn.agg(
        sum(col("n")).cast("double").as("__graft_tot")))
      cn.crossJoin(tot)
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("__graft_tot")).as("share"),
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            .as("expected"))
    }
  }

  /** Quantile (equal-frequency) binning report: fit interpolated
    * percentile bounds at `probabilities`, then bucket every non-null
    * value by how many bounds it reaches (bucket k = between the k-th
    * and (k+1)-th bound; |probabilities|+1 buckets). The
    * feature-discretization twin of [[histogram]]'s fixed-width bins:
    * same broadcast-bounds + one-hash-agg shape (the bucket id is a sum
    * of comparisons against the broadcast 1-row bounds — narrow until
    * the bins-bounded aggregate), same exact-percentile parity basis as
    * [[winsorizeSummary]]. Output: (bucket, cnt, bin_min, bin_max),
    * ≤ |probabilities|+1 rows at any scale.
    *
    * Same default as [[numericProfile]]: the bounds fit uses the
    * bounded-state `percentile_approx` sketch (the only shape that
    * survives a near-unique measure column at 100 TB — the exact
    * percentile's value→count partial is as big as the column's
    * cardinality); `exact = true` opts into exact interpolated bounds
    * (the oracle-parity mode the harness runs).
    */
  def quantileBuckets(df: DataFrame, c: String,
      probabilities: Seq[Double],
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(probabilities.nonEmpty &&
      probabilities.forall(p => p > 0 && p < 1) &&
      probabilities == probabilities.sorted,
      "probabilities must be sorted and strictly inside (0, 1)")
    val v = col(c).cast("double")
    val probs = array(probabilities.map(lit): _*)
    val bounds = df.agg(
      (if (exact) percentile(v, probs)
       else percentile_approx(v, probs, lit(accuracy))).as("__graft_b"))
    val bucket = probabilities.indices
      .map(i => (v >= element_at(col("__graft_b"), i + 1)).cast("int"))
      .reduce(_ + _)
    df.where(v.isNotNull)
      .crossJoin(broadcast(bounds))
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"), min(v).as("bin_min"),
        max(v).as("bin_max"))
  }

  /** NUMERIC-PROFILE drift monitor (round-17 directive #5 — the
    * column-profiling member of the drift family: numeric KS windows,
    * source-pair JS, token drift, embedding drift, and now per-column
    * quantile-bucket drift): fit interpolated percentile bounds per
    * column on the BASE corpus — the standing baseline, the Profile
    * analogue of the token head — then bucket BOTH sides' values by
    * how many bounds they reach ([[quantileBuckets]]'s equal-frequency
    * discretization: bucket k = between the k-th and (k+1)-th bound,
    * |probabilities|+1 buckets) and report, per (column, bucket), the
    * cross-multiplied integer deviation `|base_n·M − batch_n·N|`
    * (N/M the column's two total non-null counts) — the drift
    * family's float-division-free form, every output value exact, so
    * the DuckDB oracle reproduces the row bit-for-bit. A drifted
    * column (a broken unit conversion, a truncated domain, a new
    * source mix) shows up as mass leaving its baseline deciles.
    *
    * Scale shape: the bounds fit is ONE agg over the base (default
    * `percentile_approx`, a bounded-size sketch per column — the only
    * shape that survives a near-unique measure column at 100 TB;
    * `exact = true` is the oracle-parity mode the harness runs); each
    * side is then ONE `stack`-unpivoted scan joined against the
    * BROADCAST cols-row bounds frame into a (cols × buckets)-key
    * count agg — no window, no sort, nothing vocabulary-sized. The
    * bounded (cols × (|probabilities|+1))-row result is materialized
    * once and re-emitted as a local relation with per-column totals
    * attached by broadcast — the drift family's no-leaked-cache
    * discipline ([[graft.ext.Similarity.assignmentDrift]]).
    */
  def profileDrift(base: DataFrame, batch: DataFrame, cols: Seq[String],
      probabilities: Seq[Double] = (1 until 10).map(_ / 10.0),
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    require(probabilities.nonEmpty &&
      probabilities.forall(p => p > 0 && p < 1) &&
      probabilities == probabilities.sorted,
      "probabilities must be sorted and strictly inside (0, 1)")
    val spark = base.sparkSession
    val probs = array(probabilities.map(lit): _*)
    def qAgg(c: Column): Column =
      if (exact) percentile(c.cast("double"), probs)
      else percentile_approx(c.cast("double"), probs, lit(accuracy))
    val aggs = cols.map(c => qAgg(col(c)).as(s"${c}__q"))
    val stackQ = cols.map(c => s"'$c', `${c}__q`").mkString(", ")
    val bounds = base.agg(aggs.head, aggs.tail: _*).selectExpr(
      s"stack(${cols.size}, $stackQ) AS (column_name, __graft_b)")
    val stackV = cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)")
      .mkString(", ")
    val bucket = probabilities.indices
      .map(i => (col("__graft_v") >=
        element_at(col("__graft_b"), i + 1)).cast("int"))
      .reduce(_ + _).cast("long")
    def hist(df: DataFrame, as: String): DataFrame = df
      .selectExpr(
        s"stack(${cols.size}, $stackV) AS (column_name, __graft_v)")
      .where(col("__graft_v").isNotNull)
      .join(broadcast(bounds), Seq("column_name"))
      .groupBy(col("column_name"), bucket.as("bucket"))
      .agg(count(lit(1)).as(as))
    val spine = bounds.select("column_name").crossJoin(
      spark.range((probabilities.size + 1).toLong)
        .select(col("id").as("bucket")))
    val joined = spine
      .join(hist(base, "base_n"), Seq("column_name", "bucket"), "left")
      .join(hist(batch, "batch_n"), Seq("column_name", "bucket"), "left")
      .na.fill(0L, Seq("base_n", "batch_n"))
    val rows = joined.collect()
    val cIdx = joined.schema.fieldIndex("column_name")
    val bIdx = joined.schema.fieldIndex("base_n")
    val tIdx = joined.schema.fieldIndex("batch_n")
    val totals = rows.groupBy(_.getString(cIdx)).view.mapValues(rs =>
      (rs.map(_.getLong(bIdx)).sum, rs.map(_.getLong(tIdx)).sum)).toMap
    val totalsDf = spark.createDataFrame(java.util.Arrays.asList(
      totals.toSeq.sortBy(_._1).map { case (c, (nb, nc)) =>
        org.apache.spark.sql.Row(c, nb, nc) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("column_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_base",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_batch",
          org.apache.spark.sql.types.LongType, nullable = false))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        joined.schema)
      .join(broadcast(totalsDf), Seq("column_name"))
      .select(col("column_name"), col("bucket"), col("base_n"),
        col("batch_n"),
        abs(col("base_n") * col("n_batch") -
          col("batch_n") * col("n_base")).as("dev"),
        col("n_base"), col("n_batch"))
  }

  /** Fixed-width histogram of a numeric column over [lo, hi): one
    * hash-agg on the bin index (integer arithmetic — no windows, no
    * sort), rows outside the range are dropped (a profiling histogram
    * reports the declared domain; pair with min/max from
    * [[columnProfile]] to pick the range). Output is `bins` rows max,
    * bounded at any scale.
    */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val w = (hi - lo) / bins
    val v = col(c).cast("double")
    // least(): when (hi-lo)/bins is not exactly representable, a value
    // just under hi can floor to `bins` — clamp to the last bin so the
    // 0..bins-1 contract holds for every in-range value
    df.filter(v >= lo && v < hi)
      .groupBy(least(floor((v - lo) / w), lit(bins - 1.0)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("cnt"), min(v).as("bin_min"),
        max(v).as("bin_max"))
  }

  /** Hot-key diagnostic: the `n` heaviest values of `keyCols` with
    * their counts and corpus share — the "which keys do I salt?" scan
    * that precedes every skewed join fix. One map-side-combinable count
    * aggregate (a key with 10^8 rows costs one combiner cell per
    * partition, not a hot reducer), then a TakeOrdered n — never a
    * global sort; the denominator is summed from the count frame itself
    * (rows = distinct keys, already reduced) and broadcast. Output is
    * `n` rows at any scale. Ties broken by key value so the report is
    * deterministic.
    */
  def keySkew(df: DataFrame, keyCols: Seq[String], n: Int = 20): DataFrame = {
    require(keyCols.nonEmpty && n > 0, "need keys and a positive n")
    require(!keyCols.exists(Seq("cnt", "share", "total").contains),
      "key columns collide with keySkew output columns (cnt/share/total)")
    // the count frame feeds BOTH the total and the ranking — scope-cache
    // it or the corpus groupBy-count subtree runs twice (the two
    // branches prune differently, which defeats exchange reuse)
    CacheScope.withCached(
      df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("cnt"))) { counts =>
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("share", col("cnt").cast("double") / col("total"))
        .drop("total")
        .orderBy(col("cnt").desc +: keyCols.map(col): _*)
        .limit(n)
    }
  }

  /** Embedding-column QA: per-dimension count / non-finite tally /
    * mean / min / max over the corpus — collapsed dimensions
    * (max ≈ min), dead dimensions, and NaN leaks from a broken encoder
    * surface in one scan. posexplode to (dim, v), then one d-row hash
    * aggregation: |corpus|·d narrow intermediate rows, map-side
    * combined, no joins, output bounded by the dimensionality.
    */
  def vectorProfile(df: DataFrame, vecCol: String): DataFrame = {
    // mean/min/max are computed over the FINITE values only: one NaN
    // would otherwise poison the dimension's mean (and max — Spark
    // orders NaN greatest), masking the collapsed-dim (max ≈ min)
    // check this profile exists to surface. The bad values are still
    // fully accounted for in n_bad (n counts every element).
    val good = when(!isnan(col("v")), col("v")) // null v → null → skipped
    df.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(when(isnan(col("v")) || col("v").isNull, 1L).otherwise(0L))
          .as("n_bad"),
        avg(good).as("mean"),
        min(good).as("min_value"), max(good).as("max_value"))
  }

  /** Median/MAD variant of [[rateAnomalies]] — robust to the anomalies
    * themselves: one corrupted bucket inflates a mean/stddev baseline
    * enough to mask its neighbors, but barely moves the median. Flags
    * rows with |v − median| ≥ threshold · MAD (median absolute
    * deviation), reporting z_mad = (v − median)/MAD. Exact interpolated
    * percentiles over the counted series — bounded per group by
    * construction, the same aggregate-first contract as
    * [[rateAnomalies]]; groups with MAD = 0 (over half the buckets
    * identical) are skipped, the classic MAD degeneracy. All arithmetic
    * is the identical expression tree on both engines: medians of
    * integers land on halves (exact in doubles), so the comparison and
    * the z are deterministic.
    */
  def rateAnomaliesRobust(
      counts: DataFrame, groupCols: Seq[String], valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val v = col(valueCol).cast("double")
    val gc = groupCols.map(col)
    val med = counts.groupBy(gc: _*)
      .agg(percentile(v, lit(0.5)).as("__med"))
    val withMed = counts.join(med, groupCols)
    val mad = withMed.groupBy(gc: _*)
      .agg(percentile(abs(v - col("__med")), lit(0.5)).as("__mad"))
    withMed.join(mad, groupCols)
      .filter(col("__mad") > 0 &&
        abs(v - col("__med")) >= lit(threshold) * col("__mad"))
      .withColumn("z_mad", (v - col("__med")) / col("__mad"))
      .drop("__med", "__mad")
  }

  /** Trailing-baseline variant of [[rateAnomalies]]: each row is
    * z-scored against the mean/variance of the PREVIOUS `trailing`
    * rows of its group (ordered by `orderCol`) — the drifting-baseline
    * monitor shape (a diurnal pattern inflates the global variance and
    * hides spikes; a trailing window tracks the current regime).
    *
    * The window runs over the counted SERIES, not the raw events: its
    * partition is the group key and its rows are one-per-bucket, so
    * even at 100 TB of events the windowed frame is
    * |groups| × |buckets| — the aggregation upstream already collapsed
    * the volume. Same explicit-integer-sums arithmetic as
    * [[rateAnomalies]]; rows with fewer than 2 trailing rows have no
    * sample variance and are never flagged.
    */
  def rateAnomaliesTrailing(
      counts: DataFrame, groupCols: Seq[String], orderCol: String,
      valueCol: String, trailing: Int, zThreshold: Double = 2.0): DataFrame = {
    require(trailing > 1, "need at least 2 trailing rows for variance")
    val v = col(valueCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-trailing.toLong, -1L)
    val z = (v - col("__s1") / col("__n")) /
      sqrt((col("__s2") - col("__s1") * col("__s1") / col("__n")) /
        (col("__n") - 1))
    counts
      .withColumn("__n", count(v).over(w).cast("double"))
      .withColumn("__s1", sum(v).over(w).cast("double"))
      .withColumn("__s2", sum(v * v).over(w).cast("double"))
      .filter(col("__n") > 1)
      // zero-variance baseline → z is NaN (v equal) or ±Inf (v differs),
      // and engines DISAGREE on NaN comparisons (Spark: false; DuckDB
      // sorts NaN above everything) — skip the degenerate baseline
      .filter(col("__s2") - col("__s1") * col("__s1") / col("__n") > 0)
      .withColumn("z", z)
      .filter(abs(col("z")) >= zThreshold)
      .drop("__n", "__s1", "__s2")
  }

  /** Z-score anomaly scan over a counted series: flag rows of `counts`
    * whose `valueCol` deviates from its group's mean by at least
    * `zThreshold` sample standard deviations.
    *
    * Group statistics come from explicit integer sums (Σx, Σx², n) and
    * the textbook variance identity — NOT `stddev_samp` — so the same
    * arithmetic expression tree evaluates bit-identically on any IEEE
    * engine (oracle parity; Welford-style online variance, which
    * builtins use, is numerically better but engine-specific in its
    * last ulp). Counted series are small integers, where the identity
    * is exact. The stats frame is one tiny row per group, broadcast
    * back onto the series; groups with fewer than 2 rows have no
    * sample variance and are never flagged.
    */
  def rateAnomalies(
      counts: DataFrame, groupCols: Seq[String], valueCol: String,
      zThreshold: Double = 2.0): DataFrame = {
    val v = col(valueCol)
    val stats = counts.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(v).cast("double").as("__s1"),
        sum(v * v).cast("double").as("__s2"))
      .filter(col("__n") > 1)
      // zero variance would make z NaN/±Inf, where engine comparison
      // semantics diverge (see rateAnomaliesTrailing) — skip the group
      .filter(col("__s2") - col("__s1") * col("__s1") / col("__n") > 0)
    val z = (v - col("__s1") / col("__n")) /
      sqrt((col("__s2") - col("__s1") * col("__s1") / col("__n")) /
        (col("__n") - 1))
    counts.join(broadcast(stats), groupCols)
      .withColumn("z", z)
      .filter(abs(col("z")) >= zThreshold)
      .drop("__n", "__s1", "__s2")
  }

  /** EXACT equi-join cardinality + skew-hotspot prediction WITHOUT
    * running the join: |A ⋈ B| = Σ_k cntA(k)·cntB(k), and the hottest
    * key's product is the largest single-reducer workload a shuffle
    * join would see. Cost is two per-key counts (map-side partials
    * bound the exchanges by DISTINCT-key counts, not rows) plus a join
    * of the two count frames — the 100 TB "will this join explode, and
    * where" question answered at histogram cost instead of join cost.
    * Output (one row): predicted_rows, hottest_key, hottest_rows.
    * Per-key products and their sum are computed in decimal(38,0) —
    * exact even where long multiplication would wrap (two 4e9-row hot
    * sides) — and only the FINAL values cast to long, so the outputs
    * are exact whenever they fit 2^63. The hotspot is a struct-max
    * aggregate (one map-side-combinable pass, ties to the smaller
    * key); disjoint key sets yield (0, NULL, NULL). Keys must be
    * integral (pre-hash other types).
    */
  def joinSizeEstimate(left: DataFrame, right: DataFrame,
      keyCol: String): DataFrame = {
    val l = left.groupBy(col(keyCol)).agg(count(lit(1)).as("__ln"))
    val r = right.groupBy(col(keyCol)).agg(count(lit(1)).as("__rn"))
    l.join(r, keyCol)
      .select(col(keyCol).cast("long").as("__k"),
        (col("__ln").cast("decimal(38,0)") * col("__rn")).as("__p"))
      // max of (product, ~key) structs = largest product, smallest key
      // on ties — same order as a (p DESC, k ASC) top-1, no sort.
      // bitwise NOT (not negation) is the descending key encoding:
      // ~k = -k-1 is strictly decreasing over ALL longs with no
      // overflow (−Long.MinValue would silently wrap), and ~~k = k
      // recovers the key exactly.
      .agg(coalesce(sum(col("__p")), lit(0).cast("decimal(38,0)"))
          .as("__sum"),
        max(struct(col("__p").as("p"), bitwise_not(col("__k")).as("nk")))
          .as("__hot"))
      .select(col("__sum").cast("long").as("predicted_rows"),
        bitwise_not(col("__hot").getField("nk")).cast("long")
          .as("hottest_key"),
        col("__hot").getField("p").cast("long").as("hottest_rows"))
  }

  /** Per-group simple OLS fit y = slope·x + intercept over
    * integer-valued expressions (scale floats to cents/day-indices
    * first) — the [[corrMatrix]] determinism treatment applied to
    * trend detection: every moment (n, Σx, Σy, Σx², Σxy) is an exact
    * decimal(38,0) sum in ONE map-side-combinable hash aggregate, and
    * only the final slope/intercept assembly runs in floating point
    * over doubles cast from those exact integers (cast, ·, −, ÷ all
    * correctly rounded ⇒ engine-portable).
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *
    * Zero x-variance groups emit NULL slope/intercept (never NaN).
    * Rows with a NULL in x or y are dropped. Overflow headroom:
    * n·Σx² must stay under 10³⁸ — center/rescale x (e.g. day index,
    * not epoch micros) before fitting at corpus scale.
    */
  def olsTrend(df: DataFrame, keys: Seq[String], x: Column,
      y: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = df
      .select(keys.map(col) :+ x.cast("long").as("__x") :+
        y.cast("long").as("__y"): _*)
      .where(col("__x").isNotNull && col("__y").isNotNull)
    def d(c: String) = col(c).cast("double")
    val nD = col("__n").cast("double")
    val den = nD * d("__sxx") - d("__sx") * d("__sx")
    val slope = (nD * d("__sxy") - d("__sx") * d("__sy")) / den
    base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__x"))).as("__sx"),
        sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
        sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"))
      .select(keys.map(col) :+ col("__n").as("n") :+
        when(den > 0, slope).as("slope") :+
        when(den > 0, (d("__sy") - slope * d("__sx")) / nD)
          .as("intercept"): _*)
  }

  /** Chi-square test of independence between two CATEGORICAL columns,
    * plus Cramér's V effect size — deterministic and engine-portable
    * despite being a float statistic:
    *
    *  - the contingency table is exact integer counts (one hash agg),
    *    row/column marginals two more (all map-side combinable);
    *  - the FULL grid (distinct a × distinct b, both broadcast-sized
    *    dimensions) is materialized so ABSENT cells contribute their
    *    expected-count mass E = R·C/N — dropping them understates χ²;
    *  - each cell term ((O·N − R·C)²/(R·C·N), the O−E form cleared of
    *    divisions) is computed as correctly-rounded double ops over
    *    exact integers, then snapped to 10⁻⁹ fixed point (one
    *    round-to-nearest of a deterministic double) and summed as
    *    EXACT LONGS — the order-free sum that a naive double Σ over
    *    cells (partition-order-dependent) can never give;
    *  - χ² = Σ/10⁹ and V = √(χ²/(N·min(r−1,c−1))) finish in
    *    correctly-rounded ops.
    *
    * Output: one row (n, n_a, n_b, dof, chi2, cramers_v).
    * Overflow bounds: O·N ≤ N² needs N < ~3·10⁹ rows; per-cell
    * term·10⁹ < 2⁶³ needs χ² contributions < 9·10⁹ — both document
    * the pre-aggregated-counts escape hatch (feed cell counts, not
    * raw rows, above that).
    */
  def chiSquare(df: DataFrame, a: Column, b: Column): DataFrame = {
    // ONE corpus scan builds the bounded contingency table; marginals,
    // totals, and cardinalities all derive from it (scope-cached so the
    // scan runs once, not once per marginal)
    val cellsRaw = df.select(a.as("__a"), b.as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
    CacheScope.withCached(cellsRaw) { cells =>
      val ra = cells.groupBy("__a").agg(sum(col("__o")).as("__r"))
      val cb = cells.groupBy("__b").agg(sum(col("__o")).as("__c"))
      val tot = cells.agg(sum(col("__o")).as("__nt"),
        count(lit(1)).as("__npresent"))
      def d(c: Column) = c.cast("double")
      val diff = d(col("__o") * col("__nt") - col("__r") * col("__c"))
      val term = diff * diff /
        (d(col("__r")) * d(col("__c")) * d(col("__nt")))
      ra.crossJoin(broadcast(cb)).crossJoin(broadcast(tot))
        .join(cells, Seq("__a", "__b"), "left")
        .select(col("__r"), col("__c"), col("__nt"),
          coalesce(col("__o"), lit(0L)).as("__o"))
        .select(col("__nt"), round(term * 1e9).cast("long").as("__t9"))
        .groupBy("__nt")
        .agg(sum(col("__t9")).as("__s9"))
        .crossJoin(broadcast(ra.agg(count(lit(1)).as("n_a"))))
        .crossJoin(broadcast(cb.agg(count(lit(1)).as("n_b"))))
        .select(col("__nt").as("n"), col("n_a"), col("n_b"),
          ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
          (col("__s9").cast("double") / 1e9).as("chi2"),
          sqrt(col("__s9").cast("double") / 1e9 /
            (col("__nt").cast("double") *
              least(col("n_a") - 1, col("n_b") - 1).cast("double")))
            .as("cramers_v"))
    }
  }

  /** Robust per-group outlier statistics: EXACT integer median,
    * median absolute deviation (MAD — Hampel's robust scale), and the
    * count of values beyond k·MAD. Unlike mean/stddev screens, a
    * 49%-contaminated group still yields the right center/scale —
    * this is the screen that survives the corrupted shard it exists
    * to find.
    *
    * Medians are EXACT lower-middle order statistics (the smallest v
    * with 2·cum ≥ n — always an observed value, no interpolation, no
    * float), computed value-frequency-wise: ONE hash agg collapses
    * the corpus to (key, value, count) rows — the corpus's only scan —
    * and every downstream step (domain guard, both medians, the
    * deviation re-count, the k·MAD summary) runs over that cached
    * DOMAIN-BOUNDED frame: deviation frequencies are a re-aggregation
    * of the value frequencies under |v − median| (no second corpus
    * pass — the r7 cut re-scanned the cached corpus four times), the
    * per-key cumulative windows run over distinct-value cardinality
    * (cents, not rows), and the k·MAD verdict is an integer
    * cross-multiplication (k = kNum/kDen exact).
    *
    * The domain bound is the operative word: on a NEAR-UNIQUE value
    * column (raw prices, timestamps) distinct-value cardinality IS
    * the row count and the per-key window degrades to a per-key sort
    * — still correct and sub-linear in practice (1.7× wall at 10×
    * data, PLANS.md round-6 third wave), but the scale path is to
    * quantize first (cents → whole units, or
    * [[Experiment.calibrationBins]]-style fixed-width bins) so the
    * window rows stay bounded at any corpus size.
    *
    * That contract is ENFORCED (the [[graft.ext.Experiment.aucExact]]
    * discipline): one extra aggregate over the already-cached base
    * counts the worst per-key distinct-value cardinality, and past
    * `maxDomain` (default 2·10⁶) the call fails loudly with the
    * quantize remedy instead of silently sorting a corpus-sized
    * partition per key. The deviation pass needs no second guard — the
    * deviation domain is the image of the value domain under
    * |v − median|, so its cardinality is always ≤ the value domain's.
    *
    * Output per group: (keys, n_rows, median, mad, n_outliers).
    */
  def madOutliers(df: DataFrame, keys: Seq[String], value: Column,
      kNum: Long, kDen: Long, maxDomain: Long = 2000000L): DataFrame = {
    require(kNum > 0 && kDen > 0, s"bad k = $kNum/$kDen")
    require(maxDomain > 0, s"maxDomain must be positive: $maxDomain")
    import org.apache.spark.sql.expressions.Window
    // lower median over a pre-counted (keys, v, c) frequency frame
    def medianOfCounts(frame: DataFrame, v: String, c: String,
        as: String): DataFrame = {
      val part = Window.partitionBy(keys.map(col): _*)
      val cum = sum(col(c))
        .over(part.orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, 0))
      val tot = sum(col(c))
        .over(part.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing))
      frame.withColumn("__cum", cum).withColumn("__tot", tot)
        .where(col("__cum") * 2 >= col("__tot"))
        .groupBy(keys.map(col): _*)
        .agg(min(col(v)).as(as))
    }
    val counts = df
      .select(keys.map(col) :+ value.cast("long").as("__v"): _*)
      .where(col("__v").isNotNull)
      .groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    CacheScope.withCached(counts) { c =>
      val worstDomain = c
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__d"))
        .agg(coalesce(max(col("__d")), lit(0L)))
        .head.getLong(0)
      require(worstDomain <= maxDomain,
        s"madOutliers: a key has $worstDomain distinct values " +
          s"(> maxDomain = $maxDomain) — the per-key cumulative window " +
          "would sort a corpus-sized partition; quantize the value " +
          "(coarser units or fixed-width bins) or raise maxDomain " +
          "deliberately")
      val med = medianOfCounts(c, "__v", "__c", "median")
      // deviation frequencies RE-AGGREGATE the value frequencies (the
      // dev domain is the value domain's image under |v − median|, so
      // this agg is domain-bounded on both sides — no corpus rescan)
      val withMed = c.join(med, keys)
        .withColumn("__dev", abs(col("__v") - col("median")))
      val devCounts = withMed
        .groupBy(keys.map(col) :+ col("__dev"): _*)
        .agg(sum(col("__c")).as("__dc"))
      val mad = medianOfCounts(devCounts, "__dev", "__dc", "mad")
      withMed.join(mad, keys)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("__c")).as("n_rows"),
          first(col("median")).as("median"),
          first(col("mad")).as("mad"),
          sum(when(col("__dev") * kDen > col("mad") * kNum, col("__c"))
            .otherwise(0L)).as("n_outliers"))
    }
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic between two
    * cohorts' integer value distributions — the nonparametric drift
    * detector that needs no binning choice (the [[graft.ext.Reconcile
    * .psi]]-style scans
    * depend on the bin grid; KS is the supremum over the empirical
    * CDFs themselves): D = max_x |F_a(x) − F_b(x)|.
    *
    * Exactness: both CDFs are rational — cum/n — so the comparison is
    * cross-multiplied to exact integers: D's numerator is
    * max |cum_a·n_b − cum_b·n_a| over the UNION value domain (decimal
    * products — long overflows past ~3·10⁹ rows per side), and the
    * reported double is one correctly-rounded division. `ks_at` is
    * the smallest value achieving the max (exact integer tie-break).
    * No libm anywhere, so no snapping is needed — the statistic is
    * bit-identical on any engine.
    *
    * Scale: one hash agg per cohort collapses rows to value
    * frequencies; the cumulative window then runs over the DISTINCT
    * domain only — the [[madOutliers]]/[[graft.ext.Experiment
    * .aucExact]] bounded-domain contract, ENFORCED the same way
    * (counted guard, quantize-first remedy past `maxDomain`).
    *
    * Output row: (n_a, n_b, ks, ks_at).
    */
  def ksTwoSample(a: DataFrame, b: DataFrame, value: Column,
      maxDomain: Long = 2000000L): DataFrame = {
    require(maxDomain > 0, s"maxDomain must be positive: $maxDomain")
    import org.apache.spark.sql.expressions.Window
    def freq(df: DataFrame, cnt: String): DataFrame =
      df.select(value.cast("long").as("__v"))
        .where(col("__v").isNotNull)
        .groupBy("__v").agg(count(lit(1)).as(cnt))
    val merged = freq(a, "__ca")
      .join(freq(b, "__cb"), Seq("__v"), "full_outer")
      .select(col("__v"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    CacheScope.withCached(merged) { m =>
      val domain = m.agg(count(lit(1))).head.getLong(0)
      require(domain <= maxDomain,
        s"ksTwoSample: $domain distinct values (> maxDomain = " +
          s"$maxDomain) — the CDF window would sort a corpus-sized " +
          "partition; quantize the value (coarser units or fixed-width " +
          "bins) or raise maxDomain deliberately")
      val w = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val scored = m
        .withColumn("__cuma", sum(col("__ca")).over(w))
        .withColumn("__cumb", sum(col("__cb")).over(w))
        .crossJoin(broadcast(m.agg(sum(col("__ca")).as("__na"),
          sum(col("__cb")).as("__nb"))))
        .select(col("__v"), col("__na"), col("__nb"),
          abs(dec(col("__cuma")) * dec(col("__nb")) -
            dec(col("__cumb")) * dec(col("__na"))).as("__d"))
      scored
        .crossJoin(broadcast(scored.agg(max(col("__d")).as("__dmax"))))
        .where(col("__d") === col("__dmax"))
        .groupBy(col("__na"), col("__nb"), col("__dmax"))
        .agg(min(col("__v")).as("ks_at"))
        .select(col("__na").as("n_a"), col("__nb").as("n_b"),
          round(col("__dmax").cast("double") /
            (dec(col("__na")) * dec(col("__nb"))).cast("double"), 12)
            .as("ks"),
          col("ks_at"))
    }
  }

  /** Per-group [[ksTwoSample]]: every `groupCol` cohort of `df` scored
    * against the SAME static reference in ONE pass — the monitoring
    * shape ([[graft.streaming.StreamingValidate.driftMonitorStream]]
    * serves a whole micro-batch of windows with it). Row-for-row
    * identical to looping `ksTwoSample(df.where(group === w), ref)`
    * over the groups (asserted in ProfileSpec; the streamed harness
    * row hash-matches the per-window DuckDB oracle), but the plan is
    * group-count-independent: two frequency hash aggs, the reference
    * table replicated per group through a cross join against the
    * GROUP-BOUNDED group list (groups per batch ≪ values — files per
    * trigger, monitoring windows), one full-outer domain merge, and a
    * cumulative window PARTITIONED BY GROUP — better partitioned than
    * the single-cohort operator's global-order window, and no
    * driver-side group-id collect anywhere. The `maxDomain` contract
    * is per group, enforced over the merged frame in one aggregate.
    *
    * A group whose values are all null/absent still emits its row
    * (n_a = 0, NULL ks — the statistic is undefined on an empty
    * cohort; the per-window loop this replaces would have THROWN the
    * ANSI divide-by-zero instead): group identity comes from the
    * group column, not from parseability.
    * Output: (group_id, n_a, n_b, ks, ks_at).
    */
  def ksTwoSampleByGroup(df: DataFrame, groupCol: Column, value: Column,
      reference: DataFrame, refValue: Column,
      maxDomain: Long = 2000000L): DataFrame =
    ksTwoSampleByGroupCounts(df, groupCol, value,
      refFrequencies(reference, refValue), maxDomain)

  /** The reference side of [[ksTwoSampleByGroup]] as a frequency
    * table `(__v, __cb)` — exposed so a STANDING monitor can
    * aggregate the reference ONCE (materialize this frame, e.g.
    * `localCheckpoint`) instead of re-scanning the reference corpus
    * every micro-batch (r17; [[graft.streaming.StreamingValidate
    * .driftMonitorStream]] is the caller).
    */
  def refFrequencies(reference: DataFrame, refValue: Column): DataFrame =
    reference.select(refValue.cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__cb"))

  /** [[ksTwoSampleByGroup]] with the reference already counted
    * ([[refFrequencies]] shape). Same result bit-for-bit: the inline
    * path aggregated the reference to exactly this frame per call.
    */
  def ksTwoSampleByGroupCounts(df: DataFrame, groupCol: Column,
      value: Column, refCounts: DataFrame,
      maxDomain: Long = 2000000L): DataFrame = {
    require(maxDomain > 0, s"maxDomain must be positive: $maxDomain")
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(groupCol.cast("long").as("__w"),
        value.cast("long").as("__v"))
      .where(col("__w").isNotNull)
    val fa = rows.where(col("__v").isNotNull)
      .groupBy("__w", "__v").agg(count(lit(1)).as("__ca"))
    val fb = refCounts
    // group list from the RAW rows: a group with zero parseable
    // values still anchors its (degenerate) output row
    val wins = rows.select("__w").distinct()
    val grid = wins.crossJoin(fb)
    val merged = fa.join(grid, Seq("__w", "__v"), "full_outer")
      .select(col("__w"), col("__v"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    // the single cached frame is `merged` — the [[ksTwoSample]] shape:
    // it feeds the guard action, both cumulative reads, and the totals
    // in one scope with ONE exit materialization
    CacheScope.withCached(merged) { merged =>
      val dom = merged.groupBy("__w").agg(count(lit(1)).as("__dom"))
        .agg(max(col("__dom"))).head
      require(dom.isNullAt(0) || dom.getLong(0) <= maxDomain,
        s"ksTwoSampleByGroup: a group spans ${dom.getLong(0)} distinct " +
          s"values (> maxDomain = $maxDomain) — quantize the value or " +
          "raise maxDomain deliberately")
      val w = Window.partitionBy(col("__w")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val scored = merged
        .withColumn("__cuma", sum(col("__ca")).over(w))
        .withColumn("__cumb", sum(col("__cb")).over(w))
        .join(merged.groupBy("__w").agg(sum(col("__ca")).as("__na"),
          sum(col("__cb")).as("__nb")), Seq("__w"))
        .select(col("__w"), col("__v"), col("__na"), col("__nb"),
          abs(dec(col("__cuma")) * dec(col("__nb")) -
            dec(col("__cumb")) * dec(col("__na"))).as("__d"))
      scored
        .join(scored.groupBy("__w").agg(max(col("__d")).as("__dmax")),
          Seq("__w"))
        .where(col("__d") === col("__dmax"))
        .groupBy(col("__w"), col("__na"), col("__nb"), col("__dmax"))
        .agg(min(col("__v")).as("ks_at"))
        .select(col("__w").as("group_id"),
          col("__na").as("n_a"), col("__nb").as("n_b"),
          // degenerate cohort (one side empty): KS is undefined —
          // NULL, never a fabricated value, and never the ANSI
          // divide-by-zero the unguarded ratio would throw (which is
          // what the pre-grouped per-window LOOP would have done on a
          // window whose values were all missing)
          when(col("__na") > 0 && col("__nb") > 0,
            round(col("__dmax").cast("double") /
              (dec(col("__na")) * dec(col("__nb"))).cast("double"), 12))
            .as("ks"),
          col("ks_at"))
    }
  }

  /** Per-group Gini coefficient of a non-negative value — the
    * concentration diagnostic for corpus curation: does 1% of a
    * source's documents carry half its tokens (G → 1), or is the
    * budget spread evenly (G → 0)? A mixing weight computed for a
    * source whose mass sits in a few mega-documents means something
    * very different from the same weight on a uniform source, which
    * is why the concentration readout belongs next to the mixing
    * operators.
    *
    * Exactness: the rank identity G = (2·Σᵢ rᵢxᵢ)/(n·S) − (n+1)/n
    * collapses over tied values to T = Σ_v v·(2·c_v·cum_{<v} +
    * c_v·(c_v+1)) with T = 2·Σᵢ rᵢxᵢ, so
    * G = (T − (n+1)·S) / (n·S) — every term an exact decimal(38,0)
    * integer from a per-group frequency CDF (one hash agg + one
    * group-partitioned cumulative window over the bounded distinct
    * domain, the [[ksTwoSampleByGroup]] machinery), and the score is
    * ONE correctly-rounded division. Negative values are rejected
    * (Gini is defined for non-negative quantities); an all-zero
    * group has S = 0 → NULL (undefined), never NaN.
    *
    * Output per group: (group_id, n, total, gini), gini rounded 12.
    */
  def giniByGroup(df: DataFrame, groupCol: Column, value: Column,
      maxDomain: Long = 2000000L): DataFrame = {
    require(maxDomain > 0, s"maxDomain must be positive: $maxDomain")
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(groupCol.cast("string").as("__g"),
        value.cast("long").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    CacheScope.withCached(freq) { freq =>
      val bad = freq.where(col("__v") < 0).agg(count(lit(1))).head
      require(bad.getLong(0) == 0L,
        "giniByGroup: negative values — Gini is defined for " +
          "non-negative quantities; shift or filter first")
      val dom = freq.groupBy("__g").agg(count(lit(1)).as("__dom"))
        .agg(max(col("__dom"))).head
      require(dom.isNullAt(0) || dom.getLong(0) <= maxDomain,
        s"giniByGroup: a group spans ${dom.getLong(0)} distinct " +
          s"values (> maxDomain = $maxDomain) — quantize the value " +
          "or raise maxDomain deliberately")
      val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val dec = (c: Column) => c.cast("decimal(38,0)")
      freq
        .withColumn("__cum", sum(col("__c")).over(w))
        .groupBy("__g")
        .agg(sum(col("__c")).as("n"),
          sum(dec(col("__v")) * dec(col("__c"))).as("__s"),
          // 2·Σ rᵢxᵢ via tie blocks: cum_{<v} = cum − c
          sum(dec(col("__v")) *
            (lit(2) * dec(col("__c")) * (dec(col("__cum")) -
              dec(col("__c"))) +
              dec(col("__c")) * (dec(col("__c")) + 1))).as("__t"))
        .select(col("__g").as("group_id"), col("n"),
          col("__s").cast("long").as("total"),
          when(col("__s") > 0,
            round((col("__t") - (dec(col("n")) + 1) * col("__s"))
              .cast("double") /
              (dec(col("n")) * col("__s")).cast("double"), 12))
            .as("gini"))
    }
  }

  /** Spearman rank correlation between two numeric columns — the
    * robust complement of [[corrMatrix]]'s Pearson: invariant to any
    * monotone transform and insensitive to outliers (a handful of
    * pathological documents can pin Pearson to ±1; their RANKS move
    * by at most their count). ρ = Pearson over tie-averaged mid-ranks,
    * the standard tie-corrected definition.
    *
    * Exactness: the mid-rank of value v is (2·cum − cnt + 1)/2; since
    * Pearson is invariant to affine transforms, the INTEGER
    * r = 2·cum − cnt is used directly — ranks come from one
    * frequency-CDF window per column over the bounded distinct domain
    * (the [[ksTwoSample]] contract, enforced), every moment is an
    * exact decimal(38,0) sum via [[corrMatrix]], and the only float
    * work is corrMatrix's fixed correctly-rounded expression.
    * Constant columns yield NULL (undefined), never NaN.
    *
    * Scale: one hash agg per column to value frequencies, two
    * domain-bounded rank frames joined back to the row stream
    * (broadcast-shaped: the rank frames are value-domain-sized), one
    * moment aggregate. Output: one row (n, rho), rho rounded 12.
    *
    * Rejected A/B (round 9): ranking over the JOINT (x, y) frequency
    * table — one row-stream touch, weighted moments Σ c·f(rx,ry) —
    * measured 1.64 → 2.53 s at sf0.01: a near-unique column (price
    * cents here) makes the joint table row-sized, and the
    * decimal(38,0) triple-product weighted moments cost more than
    * the two joins they replace. The join-back shape stands; callers
    * with BOTH columns low-cardinality get the joint win for free
    * anyway (the row joins collapse onto few distinct keys).
    */
  def spearman(df: DataFrame, x: Column, y: Column,
      maxDomain: Long = 2000000L): DataFrame = {
    require(maxDomain > 0, s"maxDomain must be positive: $maxDomain")
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(x.cast("long").as("__x"),
        y.cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    CacheScope.withCached(rows) { rows =>
      val dom = rows.agg(count_distinct(col("__x")).as("dx"),
        count_distinct(col("__y")).as("dy")).head
      val worst = math.max(if (dom.isNullAt(0)) 0L else dom.getLong(0),
        if (dom.isNullAt(1)) 0L else dom.getLong(1))
      require(worst <= maxDomain,
        s"spearman: a column spans $worst distinct values (> maxDomain" +
          s" = $maxDomain) — quantize the value or raise maxDomain " +
          "deliberately")
      def rankFrame(c: String): DataFrame = {
        val w = Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, 0)
        rows.groupBy(c).agg(count(lit(1)).as("__c"))
          .withColumn("__cum", sum(col("__c")).over(w))
          .select(col(c),
            (lit(2) * col("__cum") - col("__c")).as(s"__r$c"))
      }
      val ranked = rows.join(rankFrame("__x"), "__x")
        .join(rankFrame("__y"), "__y")
      corrMatrix(ranked,
          Seq("rx" -> col("__r__x"), "ry" -> col("__r__y")))
        .select(col("n"), round(col("corr"), 12).as("rho"))
    }
  }

  /** Cross-group QUANTILE NORMALIZATION: map every group's value
    * distribution onto the POOLED distribution — the score-calibration
    * step before mixing heterogeneous sources (a "0.8" from a
    * lenient-scoring source and a "0.3" from a strict one both become
    * "the value at their own percentile in the pooled corpus", so one
    * global threshold or mixing temperature means the same thing
    * everywhere).
    *
    * Exactness: each distinct (group, value) carries its EXACT
    * mid-rank quantile q = (2·cum − cnt) / (2·n_g) (integer
    * arithmetic over a per-group frequency CDF — the
    * [[ksTwoSampleByGroup]] machinery); the pooled inverse CDF is an
    * `nBins`-point exact interpolated percentile grid (the
    * [[numericProfile]] percentile ↔ DuckDB `quantile_cont` parity),
    * and the lookup index floor(q·nBins) is one exact integral
    * expression — (2·cum − cnt)·nBins div (2·n_g) — clamped to the
    * grid, so both engines pick the identical grid point. Grid
    * resolution IS the operator's contract: values map to the
    * pooled 1/nBins-percentile lattice, not to an interpolated
    * between-point value (which would need cross-engine float
    * interpolation at an engine-chosen rank).
    *
    * Scale: one hash agg to value frequencies (map-side combinable —
    * row count never shuffles), one per-group-partitioned cumulative
    * window over the bounded domain (enforced per group like
    * [[ksTwoSample]]'s `maxDomain`), one 1-row pooled percentile
    * aggregate broadcast back. Output is domain-bounded: one row per
    * distinct (group, value).
    *
    * Output: (group_id, v, n, q, v_norm) — q and v_norm rounded 12.
    */
  def quantileNormalize(df: DataFrame, groupCol: Column, value: Column,
      nBins: Int = 100, maxDomain: Long = 2000000L): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"bad nBins $nBins")
    require(maxDomain > 0, s"maxDomain must be positive: $maxDomain")
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(groupCol.cast("string").as("__g"),
        value.cast("long").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    CacheScope.withCached(freq) { freq =>
      val dom = freq.groupBy("__g").agg(count(lit(1)).as("__dom"))
        .agg(max(col("__dom"))).head
      require(dom.isNullAt(0) || dom.getLong(0) <= maxDomain,
        s"quantileNormalize: a group spans ${dom.getLong(0)} distinct " +
          s"values (> maxDomain = $maxDomain) — quantize the value or " +
          "raise maxDomain deliberately")
      val probs = array((1 until nBins).map(i =>
        lit(i.toDouble / nBins)): _*)
      val grid = freq.agg(percentile(col("__v").cast("double"), probs,
        col("__c")).as("__grid"))
      val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wg = Window.partitionBy(col("__g"))
      val cum = freq
        .withColumn("__cum", sum(col("__c")).over(w))
        .withColumn("__n", sum(col("__c")).over(wg))
      val bin = expr(s"((2 * __cum - __c) * $nBins) div (2 * __n)")
      cum.crossJoin(broadcast(grid))
        .select(col("__g").as("group_id"), col("__v").as("v"),
          col("__c").as("n"),
          round((lit(2) * col("__cum") - col("__c")).cast("double") /
            (lit(2) * col("__n")).cast("double"), 12).as("q"),
          round(element_at(col("__grid"),
            least(greatest(bin, lit(1L)), lit(nBins - 1L)).cast("int")),
            12).as("v_norm"))
    }
  }

  /** Pairwise Jensen–Shannon divergence between the `value`
    * distributions of every pair of `key` groups — the CATEGORICAL
    * corpus-drift complement of [[ksTwoSample]] (KS needs an ordered
    * domain; JS compares token/category histograms): JS(P,Q) =
    * ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2 — symmetric, bounded by ln 2,
    * zero iff identical. `js_norm` = JS/ln 2 ∈ [0,1].
    *
    * Determinism: the [[mutualInfo]] discipline — each token's term
    * ½(p·ln(2p/(p+q)) + q·ln(2q/(p+q))) is one fixed IEEE expression
    * snapped to 10⁻¹² fixed point, summed as exact longs; absent-side
    * halves are zeroed by `when`, so a token private to one group
    * contributes its exact ½p·ln 2. The ln 2 normalizer is the same
    * JVM double literal the oracle embeds.
    *
    * Scale: one hash agg collapses rows to (group, value)
    * frequencies; tokens present in BOTH groups of a pair come from
    * ONE value equi-join of that cell frame with itself (ka < kb),
    * aggregated straight to the k²-bounded pair keys (k = #groups,
    * small by contract — sources, languages, shards); the mass of
    * tokens PRIVATE to one side is redistributed exactly from each
    * group's snapped ½·p·ln2 total minus the shared part — all exact
    * longs, bit-identical to enumerating the union domain (the r16
    * broadcast nested-loop shape, retired r17; PlanSpec asserts no
    * BNLJ touches the cell stream). Output: k(k−1)/2 rows.
    */
  def jsDivergence(df: DataFrame, key: Column, value: Column)
      : DataFrame = {
    val cells = df.select(key.cast("string").as("__k"), value.as("__v"))
      .where(col("__k").isNotNull && col("__v").isNotNull)
      .groupBy("__k", "__v").agg(count(lit(1)).as("__c"))
    CacheScope.withCached(cells) { cl =>
      // r18: materialize the k-row group totals EAGERLY. This one
      // serial aggregate (needed anyway — pairs ×2, broadcast into cn)
      // scans every cell partition, so it doubles as the cache primer:
      // without it the final action's concurrent consumers (the shared
      // self-join's two scans plus the privTot broadcast exchange) all
      // hit the COLD cell cache at once and serialize on BlockManager
      // partition locks, holding executor slots while they wait — the
      // r17 driver billed this row ×2.8 task_ms / ×1.39 wall (the same
      // lock-wait mechanism Validate.validateCsv's fused parse
      // aggregate primes its typed caches against).
      val tot = cl.groupBy("__k").agg(sum(col("__c")).as("__n"))
        .localCheckpoint(eager = true)
      val pairs = tot.select(col("__k").as("__ka"), col("__n").as("__na"))
        .join(tot.select(col("__k").as("__kb"), col("__n").as("__nb")),
          col("__ka") < col("__kb"))
      def d(c: Column) = c.cast("double")
      val ln2 = lit(math.log(2.0))
      // r17 (guide §3 — replace the nested loop with an equi-join):
      // the old shape replicated every (group, value) cell to the
      // k−1 pairs containing its group through a broadcast
      // NESTED-LOOP join (each cell row evaluated against the whole
      // k²-bounded pair frame) and hash-aggregated a
      // (pair × union-domain)-keyed frame. Same result, leaner:
      //  - tokens present in BOTH groups of a pair come from ONE
      //    value equi-join of the cell frame with itself (ka < kb) —
      //    each joined row IS its (pair, value) term, aggregated
      //    straight to the k²-bounded pair keys (map-side combine);
      //  - a token private to one group contributes exactly
      //    snap(½·p·ln 2) (its `when` arm zeroes the other side and
      //    2p/(p+0) is exactly 2.0 in IEEE), so per (pair, group) the
      //    private mass is the group's FULL snapped ½·p·ln2 total
      //    minus the shared part — all exact longs, so the
      //    redistribution is bit-identical to enumerating the union
      //    domain, term for term.
      // The snapped-term sums are LONG, not decimal(38,0) (the r16
      // shape's decimal accumulator ran through BigDecimal on every
      // domain row): every per-token term is NON-NEGATIVE (the
      // log-sum inequality) and Σ terms = JS ≤ ln 2, so any partial
      // or total sum of the 10⁻¹²-snapped longs is ≤ ln2·10¹² plus
      // half a count of snap roundings — long-safe at any vocabulary
      // a long can index. Same integers, same output.
      val halfLn2T12 = (c: Column, n: Column) =>
        round((d(c) / d(n) * ln2 / lit(2)) * 1e12).cast("long")
      val cn = cl.join(broadcast(tot), "__k")
      val privTot = cn
        .select(col("__k"), halfLn2T12(col("__c"), col("__n")).as("__t"))
        .groupBy("__k").agg(sum(col("__t")).as("__a12"))
      val p = d(col("__ca")) / d(col("__na"))
      val q = d(col("__cb")) / d(col("__nb"))
      val term = (p * log(lit(2.0) * p / (p + q)) +
        q * log(lit(2.0) * q / (p + q))) / 2
      val shared = cn.select(col("__v"), col("__k").as("__ka"),
          col("__c").as("__ca"), col("__n").as("__na"))
        .join(cn.select(col("__v"), col("__k").as("__kb"),
          col("__c").as("__cb"), col("__n").as("__nb")), Seq("__v"))
        .where(col("__ka") < col("__kb"))
        .select(col("__ka"), col("__kb"),
          round(term * 1e12).cast("long").as("__t12"),
          halfLn2T12(col("__ca"), col("__na")).as("__pa12"),
          halfLn2T12(col("__cb"), col("__nb")).as("__pb12"))
        .groupBy(col("__ka"), col("__kb"))
        .agg(sum(col("__t12")).as("__s12"),
          sum(col("__pa12")).as("__sa12"),
          sum(col("__pb12")).as("__sb12"))
      val js12 = coalesce(col("__s12"), lit(0L)) +
        (col("__aa12") - coalesce(col("__sa12"), lit(0L))) +
        (col("__ab12") - coalesce(col("__sb12"), lit(0L)))
      pairs
        .join(shared, Seq("__ka", "__kb"), "left")
        .join(broadcast(privTot.toDF("__ka", "__aa12")), "__ka")
        .join(broadcast(privTot.toDF("__kb", "__ab12")), "__kb")
        .select(col("__ka").as("key_a"), col("__kb").as("key_b"),
          col("__na").as("n_a"), col("__nb").as("n_b"),
          round(d(js12) / 1e12, 12).as("js"),
          round(d(js12) / (lit(math.log(2.0)) * 1e12), 12)
            .as("js_norm"))
    }
  }

  /** Mutual information I(A;B) between two categorical columns, with
    * the marginal entropies and the normalized form
    * I/min(H(A), H(B)) ∈ [0,1] — the information-theoretic twin of
    * [[chiSquare]] (same contingency machinery; absent cells
    * contribute 0 here since lim p→0 of p·log p = 0, so only PRESENT
    * cells are touched — no grid materialization).
    *
    * Determinism: each cell/marginal term runs one `ln` (libm — the
    * documented 1-ulp cross-engine hazard, same as the PSI drift
    * scan), so terms are snapped to 10⁻¹² fixed point and summed as
    * exact longs: order-free, and a last-ulp libm divergence is
    * absorbed by the snap. Scale: one corpus scan → bounded cells;
    * everything downstream is metadata-sized.
    *
    * Output row: (n, n_cells, mi, h_a, h_b, mi_norm) — nats.
    */
  def mutualInfo(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cellsRaw = df.select(a.as("__a"), b.as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
    CacheScope.withCached(cellsRaw) { cells =>
      val ra = cells.groupBy("__a").agg(sum(col("__o")).as("__r"))
      val cb = cells.groupBy("__b").agg(sum(col("__o")).as("__c"))
      // r18: the 1-row total is needed by three broadcast exchanges
      // (mi12, ent(ra), ent(cb)) that otherwise all race the COLD cell
      // cache concurrently and lock-wait on BlockManager partition
      // locks (see jsDivergence) — materializing it eagerly is one
      // serial full scan that primes the cache for everything after.
      val tot = cells.agg(sum(col("__o")).as("__nt"),
        count(lit(1)).as("__ncells")).localCheckpoint(eager = true)
      def d(c: Column) = c.cast("double")
      val snap = (c: Column) => round(c * 1e12).cast("long")
      val miTerm = (d(col("__o")) / d(col("__nt"))) *
        log(d(col("__o")) * d(col("__nt")) /
          (d(col("__r")) * d(col("__c"))))
      val mi12 = cells.join(ra, "__a").join(cb, "__b")
        .crossJoin(broadcast(tot))
        .agg(sum(snap(miTerm)).as("__mi12"))
      def ent(m: DataFrame, cnt: String): DataFrame = {
        val p = d(col(cnt)) / d(col("__nt"))
        m.crossJoin(broadcast(tot))
          .agg(sum(snap(-p * log(p))).as("__h12"))
      }
      mi12.crossJoin(broadcast(ent(ra, "__r").withColumnRenamed(
          "__h12", "__ha12")))
        .crossJoin(broadcast(ent(cb, "__c").withColumnRenamed(
          "__h12", "__hb12")))
        .crossJoin(broadcast(tot))
        .select(col("__nt").as("n"), col("__ncells").as("n_cells"),
          (d(col("__mi12")) / 1e12).as("mi"),
          (d(col("__ha12")) / 1e12).as("h_a"),
          (d(col("__hb12")) / 1e12).as("h_b"),
          when(least(col("__ha12"), col("__hb12")) > 0,
            d(col("__mi12")) / d(least(col("__ha12"), col("__hb12"))))
            .as("mi_norm"))
    }
  }

  /** Functional-dependency violation scan: the groups of `lhs` values
    * that map to MORE than one distinct `rhs` value — the certificate
    * that lhs → rhs does NOT hold. For every violating group: row
    * count, distinct-rhs count, and the min/max rhs as deterministic
    * witness values.
    *
    * Scale design: one groupBy(lhs ∪ rhs) pre-aggregate (bounded by
    * the distinct pair count, map-side combinable) feeding one
    * groupBy(lhs) — never a count(DISTINCT) Expand over raw rows.
    * Output is bounded by the number of violating groups.
    */
  def fdViolations(df: DataFrame, lhs: Seq[String],
      rhs: Column): DataFrame = {
    val pairs = df.select(lhs.map(col) :+ rhs.as("__rhs"): _*)
      .where(col("__rhs").isNotNull)
      .groupBy(lhs.map(col) :+ col("__rhs"): _*)
      .agg(count(lit(1)).as("__n"))
    pairs.groupBy(lhs.map(col): _*)
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_distinct_rhs"),
        min(col("__rhs")).as("rhs_min"),
        max(col("__rhs")).as("rhs_max"))
      .where(col("n_distinct_rhs") > 1)
  }
}
