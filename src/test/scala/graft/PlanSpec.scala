package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.check.Checks
import graft.ext.{Profile, Similarity}
import graft.schema.{Constraints, Field, Package, Resource, TableSchema}

/** Physical-plan contracts — the properties that make the operators
  * scale are asserted, not assumed (PLANS.md): predicate pushdown,
  * column pruning, broadcast anti joins, single-scan constraint fusion.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Flatten through AQE wrappers (AdaptiveSparkPlanExec finalized
    * plan, query stages) to the real physical nodes.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec        => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // force execution so AQE finalizes
    flatten(df.queryExecution.executedPlan)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df).collect { case s: FileSourceScanExec => s }

  test("constraint filter is pushed into the parquet scan, columns pruned") {
    val v = Checks.minimum(Tables.load(spark, dir, "lineitem"),
      "l_quantity", lit(10.0))
    val s = scans(v)
    assert(s.size == 1)
    assert(s.head.requiredSchema.fieldNames.toSeq == Seq("l_quantity"),
      s"scan should read ONLY l_quantity: ${s.head.requiredSchema}")
    assert(s.head.dataFilters.nonEmpty,
      "the minimum predicate must reach the scan")
  }

  test("fk check plans as a broadcast LEFT ANTI with distinct parent keys") {
    val orders = Tables.load(spark, dir, "orders")
    // degraded parent → violations exist, so AQE can't collapse the
    // whole join to an EmptyRelation (which it rightly does on clean fks)
    val customer = Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 10 =!= 0)
    val v = Checks.foreignKey(orders, Seq("o_custkey"),
      broadcast(customer), Seq("c_custkey"))
    val all = nodes(v)
    val joins = all.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "expected a broadcast hash join; nodes: " +
      all.map(_.getClass.getSimpleName).mkString(", "))
    assert(joins.head.joinType.toString == "LeftAnti")
    // both scans are key-only projections
    scans(v).foreach(s =>
      assert(s.requiredSchema.fieldNames.length == 1,
        s"fk scan should be key-only: ${s.requiredSchema}"))
  }

  test("fused constraint pass is ONE scan for all of a table's checks") {
    val schema = TableSchema(Seq(
      Field("l_quantity", "number",
        constraints = Constraints(minimum = Some("5"),
          maximum = Some("45"))),
      Field("l_returnflag",
        constraints = Constraints(enum = Some(Seq("A", "N", "R")))),
      Field("l_shipdate", constraints = Constraints(required = Some(true)))))
    val summary = Checks.constraintSummary(
      Tables.load(spark, dir, "lineitem"), schema)
    val s = scans(summary)
    assert(s.size == 1, s"expected exactly one scan, got ${s.size}")
    assert(s.head.requiredSchema.fieldNames.toSet ==
      Set("l_quantity", "l_returnflag", "l_shipdate"))
  }

  test("top-k ranking is bounded aggregation, not a per-query window sort") {
    val e = Tables.load(spark, dir, "embeddings")
    val top = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 10)
    val all = nodes(top)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "bruteForceTopK must not rank via Window.partitionBy(query_id) — " +
        "that is a single reducer sorting the whole corpus per query")
    assert(all.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      "expected the bounded_top_k hash aggregation")
    val index = Similarity.ivfIndex(e, nLists = 8)
    val ivf = Similarity.ivfTopK(e.filter(col("vec_id") < 5), index, e,
      10, nProbe = 4, nLists = 8)
    assert(!nodes(ivf).exists(_.isInstanceOf[WindowExec]),
      "ivfTopK probe routing + ranking must be window-free too")
    val knn = Similarity.knnJoinLsh(e, 3, nPlanes = 8)
    assert(!nodes(knn).exists(_.isInstanceOf[WindowExec]),
      "knnJoinLsh per-vector ranking must be window-free too")
  }

  test("span dedup / quantized top-k / logprob plan with no corpus windows") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), concat(col("text"), lit("\nfooter")).as("text"))
    val spans = nodes(graft.ext.Dedup.dedupSpans(docs, "doc_id", "text"))
    assert(!spans.exists(_.isInstanceOf[WindowExec]),
      "first-occurrence selection must be a min-(id,pos) hash agg, " +
        "never a row_number window over the span hash")
    assert(!spans.exists(_.isInstanceOf[CartesianProductExec]))
    val e = Tables.load(spark, dir, "embeddings")
    val q = Similarity.quantizedTopK(e.filter(col("vec_id") < 3), e, 5)
    assert(!nodes(q).exists(_.isInstanceOf[WindowExec]),
      "quantized ranking must reuse the bounded_top_k aggregate")
    val lp = graft.ext.TextAnalysis.unigramLogProb(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val lpn = nodes(lp)
    assert(!lpn.exists(_.isInstanceOf[WindowExec]))
    assert(!lpn.exists(_.isInstanceOf[CartesianProductExec]),
      "the corpus-total scalar must ride a broadcast, not a cartesian")
  }

  test("substring dedup: equi-joins only, chains window-free") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val runs = graft.ext.Dedup.substringRunsPlan(docs, "id",
      col("toks"), minRunLen = 30, k = 8)
    val all = nodes(runs)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "chain extraction must be the collect-sort-posexplode aggregation," +
        " never a row_number window over the matched-gram frame")
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]) &&
      !all.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "anchor + extension joins must all extract equi keys " +
        "(gram hash / (id, h, pos − diag)); a nested loop here is " +
        "corpus × corpus")
  }

  test("semantic dedup: no nested loop, shuffles bounded to list/pair keys") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val e = Tables.load(spark, dir, "embeddings")
    val v = graft.ext.Dedup.semanticCanonical(e,
      graft.ext.Similarity.firstIdCentroids(e, 8), threshold = 0.3)
    val all = nodes(v)
    assert(!all.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "within-list pairing must equi-join on list_id, never nested-loop " +
        "the corpus against itself")
  }

  test("histogram is one scan, one hash agg — no Expand, no sort") {
    import org.apache.spark.sql.execution.SortExec
    val h = graft.ext.Profile.histogram(
      Tables.load(spark, dir, "lineitem"), "l_quantity", 1.0, 51.0, 10)
    val all = nodes(h)
    assert(scans(h).size == 1)
    assert(!all.exists(_.isInstanceOf[ExpandExec]))
    assert(!all.exists(_.isInstanceOf[SortExec]))
  }

  test("corpus sketch aggregates with map-side partial min") {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val sig = graft.ext.Dedup.corpusSignature(base)
    val aggs = nodes(sig).collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // partial + final pair: the slot-min combines map-side (mergeable
    // summary), so the shuffle moves ≤ numHashes rows per map task
    assert(aggs.size >= 2,
      s"expected partial+final hash aggregation, got ${aggs.size}")
  }

  test("vocab top-k plans as TakeOrdered, not a global sort") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    val v = Tables.load(spark, dir, "documents")
      .select(explode(graft.ext.TextAnalysis.tokens(col("text")))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(50)
    val all = nodes(v)
    assert(all.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "orderBy+limit must compile to per-partition top-k + k-merge")
    assert(!all.exists(_.isInstanceOf[SortExec]),
      "a full Sort under a limit means the top-k wasn't pushed down")
  }

  test("token drift: the head is TakeOrdered and the batch side is " +
      "support-filtered through a broadcast BEFORE counting — no " +
      "vocabulary-sized join side anywhere") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables.load(spark, dir, "documents")
    val d = graft.ext.TextAnalysis.tokenDrift(docs,
      docs.filter(col("n_chars") <= 300), "text", k = 50)
    // the head is cached inside tokenDrift — descend through the
    // InMemoryTableScan into the cached relation's own physical plan
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      flatten(p).flatMap {
        case m: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec =>
          m +: deep(m.relation.cachedPlan)
        case other => Seq(other)
      }
    d.collect()
    val all = deep(d.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "the top-k head must be bounded per-partition top-k, not a sort")
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the batch tokens must be support-filtered via a broadcast of " +
        "the k-row head (the batch vocabulary is never a join side)")
  }

  test("decontamination joins via broadcast — train side never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val ev = d.filter(col("id") % 50 === 0)
    val c = graft.ext.Decontaminate.contaminationFromTokens(d, ev)
    val all = nodes(c)
    val bhj = all.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "eval shingles must broadcast into the join")
    // the only exchange is the final pair aggregation, downstream of the
    // join — nothing shuffles the exploded train shingle table itself
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val shufflesInsideJoinInput = bhj.flatMap(_.children)
      .filterNot(c => flatten(c).exists(_.isInstanceOf[BroadcastExchangeLike]))
      .flatMap(flatten)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shufflesInsideJoinInput.isEmpty,
      "train-side shingle stream must reach the broadcast join unshuffled")
    // substring variant: same contract — eval GRAMS broadcast, the
    // train gram stream reaches the join unshuffled; only matched
    // collisions shuffle into the chain aggregation
    val sc = graft.ext.Decontaminate.substringContamination(d, ev,
      minRunLen = 30, k = 8)
    val sAll = nodes(sc)
    val sBhj = sAll.collect { case j: BroadcastHashJoinExec => j }
    assert(sBhj.nonEmpty, "eval grams must broadcast into the join")
    val sOffending = sBhj.flatMap(_.children)
      .filterNot(c => flatten(c).exists(_.isInstanceOf[BroadcastExchangeLike]))
      .flatMap(flatten)
      .collect { case s: ShuffleExchangeExec => s }
    assert(sOffending.isEmpty,
      "train-side gram stream must reach the broadcast join unshuffled")
    assert(!sAll.exists(_.isInstanceOf[WindowExec]),
      "chain extraction must stay window-free in the decontamination use")
  }

  test("profile plans are Expand-free in BOTH modes; exact prunes per column") {
    val li = Tables.load(spark, dir, "lineitem")
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag")
    val approx = Profile.columnProfile(li, cols)
    assert(!nodes(approx).exists(_.isInstanceOf[ExpandExec]),
      "approx profile must be one pass — no Expand row multiplication")
    assert(scans(approx).size == 1)
    // exact mode: one two-level agg per column — still no Expand (the
    // N-count_distinct-in-one-agg formulation multiplied rows ×(N+1)
    // and collapsed 40× worse than linear at sf1), and each scan reads
    // ONLY its own column
    val exact = Profile.columnProfile(li, cols, exact = true)
    assert(!nodes(exact).exists(_.isInstanceOf[ExpandExec]),
      "exact profile must not pay the multi-count_distinct Expand")
    val exactScans = scans(exact)
    assert(exactScans.size == cols.size)
    assert(exactScans.forall(_.requiredSchema.fieldNames.length == 1),
      "each exact-profile scan must be pruned to its single column")
  }

  test("exactN sample plans as TakeOrdered — no global sort, no shuffle") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val d = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val s = graft.ext.Sampling.exactN(d, "doc_id", 10, salt = "t")
    val all = nodes(s)
    assert(all.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "exactN must compile to per-partition top-k + driver k-merge")
    assert(!all.exists(_.isInstanceOf[SortExec]),
      "a full Sort under exactN means the limit wasn't pushed into the " +
        "ordering")
    assert(!all.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "exactN must not shuffle the corpus")
    val wdf = Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars")
    val w = graft.ext.Sampling.weightedExactN(wdf, "doc_id", "n_chars", 10,
      salt = "t")
    val wall = nodes(w)
    assert(wall.exists(_.isInstanceOf[TakeOrderedAndProjectExec]) &&
      !wall.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "weightedExactN must keep exactN's TakeOrdered no-shuffle contract")
  }

  test("PQ / multi-probe plans: no windows, no cartesian, bloom prefilters") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val e = Tables.load(spark, dir, "embeddings")
    val model = graft.ext.Similarity.pqFit(e, m = 16, ks = 16)
    val pq = graft.ext.Similarity.pqTopK(e.filter(col("vec_id") < 3), e,
      5, model)
    val pqn = nodes(pq)
    assert(!pqn.exists(_.isInstanceOf[WindowExec]),
      "ADC ranking must reuse the bounded_top_k aggregate")
    assert(pqn.exists(_.isInstanceOf[ObjectHashAggregateExec]))
    val mp = graft.ext.Similarity.knnJoinLshMultiProbe(e, 3, nPlanes = 8)
    val mpn = nodes(mp)
    assert(!mpn.exists(_.isInstanceOf[CartesianProductExec]),
      "probe join must extract the (probe = bucket) equi key")
    assert(!mpn.exists(_.isInstanceOf[WindowExec]))
    // bloom screen: the might_contain filter must sit in the plan
    // (map-side, before the verification join)
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val evalSet = base.filter(col("id") % 50 === 0)
    val bl = graft.ext.Decontaminate.contaminationBloom(base, evalSet)
    assert(bl.queryExecution.executedPlan.toString
      .contains("might_contain"),
      "expected the bloom prefilter in the physical plan")
  }

  test("globalIndex numbers via a PARTITIONED window, offsets broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"))
      .withColumn("__ok", col("doc_id") * 7)
      .withColumn("__b", (col("doc_id") % 16).cast("long"))
    val idx = graft.ext.Sampling.indexWithOffsets(base, "doc_id",
      (0L until 16L).map(b => (b, b * 100L)))
    val all = nodes(idx)
    val wins = all.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the per-bucket numbering window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "an UNPARTITIONED window here is the single-reducer global sort " +
        "the two-phase numbering exists to avoid")
    assert(all.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the bucket-offset table must ride a broadcast, not a shuffle")
  }

  test("dropDuplicateMembers does not force-broadcast the dup-id set") {
    // The dup-id set scales with the corpus duplicate rate, so the anti
    // join must be left to AQE's size gate. Disabling the broadcast
    // thresholds models "dup-id side too large": a forced broadcast()
    // hint would STILL plan a BroadcastExchange here — the un-hinted
    // join must degrade to a shuffled anti join instead.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val docs = Tables.load(spark, dir, "documents")
      val clusters = docs.select(col("doc_id").as("id"),
        (col("doc_id") - col("doc_id") % 2).as("cluster_id"))
      val kept = graft.ext.Dedup.dropDuplicateMembers(
        docs, clusters, "doc_id")
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
      val all = nodes(kept)
      assert(!all.exists(_.isInstanceOf[BroadcastExchangeLike]),
        "a too-large dup-id side must NOT be broadcast; nodes: " +
          all.map(_.getClass.getSimpleName).mkString(", "))
      assert(all.exists(n =>
        n.getClass.getSimpleName.contains("SortMergeJoin") ||
          n.getClass.getSimpleName.contains("ShuffledHashJoin")),
        "expected a shuffled LEFT ANTI when broadcast is unavailable")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  // ---------------------------------------------------------------------
  // Round-4 operator contracts. Each pairs the positive assertion with a
  // deliberately de-optimized probe, so the detector itself is proven
  // non-vacuous: the probe MUST trip the same predicate the contract
  // relies on.

  private def shuffles(df: DataFrame) = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    nodes(df).collect { case s: ShuffleExchangeExec => s }
  }

  private def joinsOf(df: DataFrame) = nodes(df).filter(n =>
    n.getClass.getSimpleName.contains("Join") ||
      n.getClass.getSimpleName.contains("CartesianProduct"))

  test("temperatureMix applies fitted rates as ONE narrow filter") {
    import graft.ext.Sampling
    val docs = Tables.load(spark, dir, "documents")
    // the rate FIT is a bounded per-source count (collected before this
    // plan exists); the APPLY below must be scan + filter — no join, no
    // shuffle, no aggregate carries the rates to the rows
    val mixed = Sampling.temperatureMix(docs, "doc_id", "source", 0.7)
    assert(shuffles(mixed).isEmpty,
      "temperatureMix apply must not shuffle")
    assert(joinsOf(mixed).isEmpty,
      "rates must be a constant-folded CASE chain, not a join")
    assert(scans(mixed).size == 1)
    // de-optimized probe: joining the rates in as a table is exactly
    // the shape the contract forbids — confirm the detector sees it
    import spark.implicits._
    val rates = Sampling.temperatureRates(docs, "source", 0.7, 1.0)
      .toSeq.toDF("source", "rate")
    val joined = docs.join(rates, "source")
      .filter(Sampling.hashUnit(col("doc_id")) < col("rate"))
    assert(joinsOf(joined).nonEmpty, "probe must register as a join")
  }

  test("joinSizeEstimate is hash aggs + one join — no sort, no window") {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"))
    val est = Profile.joinSizeEstimate(li, ord, "l_orderkey")
    // sf-independent contract: per-side key-count aggs meet in ONE
    // equi-join on the key, folded by one final aggregate — histogram
    // cost. A sort anywhere means someone planned the top-1 as an
    // order-by instead of the struct-max.
    import org.apache.spark.sql.execution.SortExec
    val all = nodes(est)
    assert(!all.exists(_.isInstanceOf[SortExec]),
      "hottest-key top-1 must be a struct-max aggregate, not a sort")
    assert(!all.exists(_.isInstanceOf[WindowExec]))
    assert(joinsOf(est).size == 1,
      "exactly one join of the two per-side key-count aggs; got: " +
        joinsOf(est).map(_.getClass.getSimpleName).mkString(", "))
    // de-optimized probe: orderBy(desc).limit(1) for the hottest key
    // plans a sort — the exact node the contract rejects
    val l = li.groupBy("l_orderkey").count()
    val probe = l.orderBy(col("count").desc).limit(1)
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val pn = nodes(probe)
    assert(pn.exists(n => n.isInstanceOf[SortExec] ||
      n.isInstanceOf[TakeOrderedAndProjectExec]),
      "probe must plan an ordering operator")
  }

  test("zOrdered plans as RangePartitioning(zval) + in-partition sort") {
    import graft.ext.Layout
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val z = Layout.zOrdered(li, Seq("l_partkey", "l_suppkey"), 10, 8)
    val sh = shuffles(z)
    assert(sh.size == 1, s"one range exchange expected, got ${sh.size}")
    sh.head.outputPartitioning match {
      case rp: RangePartitioning =>
        assert(rp.ordering.map(_.child.references.map(_.name).mkString)
          .mkString.contains("zval"),
          s"range partitioning must be on zval: ${rp.ordering}")
      case other => fail(s"expected RangePartitioning, got $other")
    }
    // every sort is within-partition: a global sort would serialize the
    // write through a total order the layout doesn't need
    val sorts = nodes(z).collect { case s: SortExec => s }
    assert(sorts.nonEmpty && sorts.forall(!_.global),
      "zOrdered sorts must be sortWithinPartitions")
    // de-optimized probe: a global orderBy(zval) — same range exchange,
    // but the sort is global, which the contract rejects
    val probe = li.withColumn("zval",
        Layout.zValue(Seq(col("l_partkey"), col("l_suppkey")), 10))
      .orderBy("zval")
    val psorts = nodes(probe).collect { case s: SortExec => s }
    assert(psorts.exists(_.global), "probe must plan a global sort")
  }

  test("windowedDistinct batch plan shuffles exactly twice") {
    import graft.streaming.StreamingValidate
    val ev = Tables.load(spark, dir, "events")
    val wd = StreamingValidate.windowedDistinct(ev, "user_id")
    // shuffle 1 keys (window, user) for the dedup; shuffle 2 keys the
    // window and carries ONE ROW PER DISTINCT KEY — never raw events.
    val sh = shuffles(wd)
    assert(sh.size == 2,
      s"windowedDistinct must shuffle exactly twice, got ${sh.size}: " +
        sh.map(_.outputPartitioning).mkString(" | "))
    // de-optimized probe: appending a global orderBy adds a third
    // (range) exchange — the creep this contract pins against
    assert(shuffles(wd.orderBy("window_start")).size == 3,
      "probe must add a third exchange")
  }

  test("kmvSketch is two hash aggregates — no window, no sort, no collect") {
    import graft.ext.Sketches
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("source"),
      explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
    val sk = Sketches.kmvSketch(toks, col("tok"), Seq("source"), 64)
    val all = nodes(sk)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "KMV must rank inside the bounded aggregate, not a window")
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "KMV plan must not sort")
    // dedup agg + sketch agg: exactly two exchanges, each on the hash
    // agg keys — the shape whose per-group state is O(k) at any scale
    val sh = shuffles(sk)
    assert(sh.size == 2,
      s"kmvSketch must shuffle exactly twice, got ${sh.size}: " +
        sh.map(_.outputPartitioning).mkString(" | "))
  }

  test("lastWriterWins is ONE hash aggregate — no window, no sort") {
    import graft.ext.Cdc
    val ev = Tables.load(spark, dir, "events")
    val lww = Cdc.lastWriterWins(ev, Seq("user_id"),
      Seq(unix_micros(col("ts")), col("event_id")),
      Seq("event_id", "event_type", "value"),
      col("event_type") === "error")
    val all = nodes(lww)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "LWW winner must be a max_by aggregate, not a row_number window")
    assert(!all.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "LWW must not sort any key's history")
    assert(shuffles(lww).size == 1,
      "one exchange (the agg) — partial agg absorbs churn map-side")
    // de-optimized probe: the oracle's row_number formulation — the
    // per-key sort+window shape the contract rejects
    import org.apache.spark.sql.expressions.Window
    val probe = ev.withColumn("rn", row_number().over(
        Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") === 1 && col("event_type") =!= "error")
    assert(nodes(probe).exists(_.isInstanceOf[WindowExec]),
      "probe must plan a window")
  }

  test("funnel is per-step key joins + min aggs — no window, no cross") {
    import graft.ext.Behavior
    val ev = Tables.load(spark, dir, "events")
    val f = Behavior.funnel(ev, "user_id", col("ts"), col("event_type"),
      Seq("signup", "view", "click", "purchase"))
    val all = nodes(f)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      "step transitions must be min-aggs, not ordered windows")
    assert(!all.exists(n =>
      n.getClass.getSimpleName.contains("CartesianProduct")),
      "no unkeyed join anywhere in the funnel chain")
    // each union branch re-states its prefix chain (the per-branch
    // exchanges dedup via ReusedExchange at runtime), so the node count
    // is Σ prefix joins — what must hold is: every join is keyed, none
    // is a nested loop
    assert(joinsOf(f).size >= 3,
      s"expected the step joins to be present, got ${joinsOf(f).size}")
    assert(joinsOf(f).forall(!_.getClass.getSimpleName
      .contains("NestedLoop")), "every funnel join must be key-equi")
  }

  test("cohortRetention and pairLift stay window-free and key-joined") {
    import graft.ext.Behavior
    val ev = Tables.load(spark, dir, "events")
    val cr = Behavior.cohortRetention(ev, "user_id",
      unix_micros(col("ts")))
    assert(!nodes(cr).exists(_.isInstanceOf[WindowExec]))
    assert(!nodes(cr).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.SortExec]))
    val pl = Behavior.pairLift(ev, "user_id", "event_type")
    val pn = nodes(pl)
    assert(!pn.exists(n =>
      n.getClass.getSimpleName.contains("CartesianProduct")),
      "pair generation must ride the user-key equi-join")
    // the only nested-loop is the broadcast of the 1-row total
    val bnlj = pn.filter(_.getClass.getSimpleName
      .contains("BroadcastNestedLoopJoin"))
    assert(bnlj.size <= 1,
      s"only the 1-row total may broadcast-nest, got ${bnlj.size}")
  }

  test("winsorize transform is a narrow plan over broadcast bounds") {
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val w = Profile.winsorize(li, "l_extendedprice", 0.01, 0.99)
    // the only exchange allowed is the bounds fit's SinglePartition
    // gather (one row per map partition); the data path itself is
    // scan → broadcast-nest(1 row) → project — never re-partitioned
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val sh = shuffles(w)
    assert(sh.forall(_.outputPartitioning == SinglePartition),
      s"only the bounds-agg gather may shuffle: " +
        sh.map(_.outputPartitioning).mkString(" | "))
    assert(!nodes(w).exists(_.isInstanceOf[WindowExec]))
  }

  test("applyChanges keeps the merge in one hash agg; pointInTime hash-joins") {
    import graft.ext.Cdc
    val ev = Tables.load(spark, dir, "events")
    val ord = Seq(unix_micros(col("ts")), col("event_id"))
    val pay = Seq("event_id", "event_type", "value")
    val del = col("event_type") === "error"
    val cut = to_timestamp(lit("2024-01-15 00:00:00"))
    val base = Cdc.lastWriterWins(ev.where(col("ts") < cut),
      Seq("user_id"), ord, pay, del)
    val merged = Cdc.applyChanges(base, ev.where(col("ts") >= cut),
      Seq("user_id"), ord, pay, del)
    val all = nodes(merged)
    assert(!all.exists(_.isInstanceOf[WindowExec]))
    assert(!all.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "merge must stay in (Object)HashAggregate — no SortAggregate")
    // interval lookup: equi hash join with the interval as residual —
    // a nested loop would rescan history per fact
    val hist = Cdc.scd2(ev.select(col("user_id").as("hk"),
        col("event_id").as("scid"), col("ts")),
      Seq("hk"), col("ts"), col("scid"))
      .select("hk", "scid", "valid_from", "valid_to")
    val facts = ev.select(col("event_id").as("fid"), col("user_id"),
      col("ts").as("fts"))
    val pit = Cdc.pointInTime(facts, hist, "user_id", "hk", col("fts"))
    assert(joinsOf(pit).nonEmpty && joinsOf(pit).forall(
      !_.getClass.getSimpleName.contains("NestedLoop")),
      "point-in-time lookup must plan as a key-equi hash join")
  }

  test("quantileBuckets and funnelTimes stay sort- and window-free") {
    import graft.ext.Behavior
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val qb = Profile.quantileBuckets(li, "l_extendedprice",
      Seq(0.25, 0.5, 0.75))  // library default: sketch bounds
    val qn = nodes(qb)
    assert(!qn.exists(_.isInstanceOf[WindowExec]))
    assert(!qn.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "bucket assignment must be comparisons against broadcast bounds")
    val ev = Tables.load(spark, dir, "events")
    val ft = Behavior.funnelTimes(ev, "user_id", unix_micros(col("ts")),
      col("event_type"), Seq("signup", "view", "click"))
    assert(!nodes(ft).exists(_.isInstanceOf[WindowExec]),
      "step latencies must ride the min-agg chain, not a window")
  }

  test("tableDiff status join carries only (pk, hash) — never the values") {
    import graft.ext.Reconcile
    val docs = Tables.load(spark, dir, "documents")
    val v2 = docs.withColumn("text",
      when(col("doc_id") % 7 === 0, concat(col("text"), lit("!")))
        .otherwise(col("text")))
    val cmp = Seq("text", "lang", "source", "n_chars")
    val diff = Reconcile.diffCounts(docs, v2, Seq("doc_id"), cmp)
    val js = joinsOf(diff)
    assert(js.size == 1, s"expected one join, got ${js.size}")
    // each join input is exactly (pk, md5-hash): 2 attributes per side —
    // the wide columns were folded into the hash before the exchange,
    // which is what keeps the shuffle narrow when the table is wide
    js.head.children.foreach { side =>
      assert(side.output.size == 2,
        s"join side must carry 2 cols (pk, hash), got ${side.output}")
    }
    assert(!nodes(diff).exists(_.isInstanceOf[WindowExec]))
  }

  test("transitionMatrix: one window, row totals broadcast — no re-sort") {
    import graft.ext.Behavior
    val ev = Tables.load(spark, dir, "events")
    val tm = Behavior.transitionMatrix(ev, "user_id",
      unix_micros(col("ts")), col("event_id"), col("event_type"))
    val ns = nodes(tm)
    // exactly ONE window (the inherent per-key sequencing); the
    // row-normalization totals come back as a broadcast join, not a
    // second window pass over the matrix
    assert(ns.count(_.isInstanceOf[WindowExec]) == 1)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("ewmaExact: one window exchange, fold inside the projection") {
    import graft.ext.TimeSeries
    val ev = Tables.load(spark, dir, "events")
    val ew = TimeSeries.ewmaExact(ev.select(col("event_id"),
        col("user_id"), col("ts"), col("value")),
      "user_id", unix_micros(col("ts")), col("event_id"),
      floor(col("value") * 100).cast("long"), 30)
    val ns = nodes(ew)
    // the trailing frame is ONE window collect; num/den/ewma are plain
    // projections over it — no join, no second exchange, no explode
    assert(ns.count(_.isInstanceOf[WindowExec]) == 1)
    assert(!ns.exists(_.isInstanceOf[ExpandExec]))
    assert(!ns.exists(n =>
      n.getClass.getSimpleName.contains("Join")))
  }

  test("intervalUnion: sweep windows share one per-key exchange") {
    import graft.ext.TimeSeries
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val li = Tables.load(spark, dir, "lineitem")
    val iu = TimeSeries.intervalUnion(li.select(col("l_suppkey"),
        col("l_quantity").cast("long").as("s"),
        (col("l_quantity").cast("long") + 5L).as("e")),
      "l_suppkey", col("s"), col("e"))
    val ns = nodes(iu)
    // prefix-max + running-sum ride the SAME (key, start) sort; the
    // island groupBy(key, island) extends that partitioning, so the
    // whole sweep is ONE exchange and at most two window nodes
    assert(ns.count(_.isInstanceOf[WindowExec]) <= 2)
    assert(ns.count(_.isInstanceOf[ShuffleExchangeExec]) <= 1,
      "island agg must reuse the window's key partitioning")
    assert(!ns.exists(_.getClass.getSimpleName.contains("Join")))
  }

  test("cusum: prefix-sum and running-min share one sort, no join") {
    import graft.ext.TimeSeries
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    val ev = Tables.load(spark, dir, "events")
    val cs = TimeSeries.cusum(ev.select(col("event_id"), col("user_id"),
        col("ts"), floor(col("value") * 100).cast("long").as("cents")),
      "user_id", unix_micros(col("ts")), col("event_id"),
      col("cents"), 15000L, 1000000L)
    val ns = nodes(cs)
    assert(ns.count(_.isInstanceOf[ShuffleExchangeExec]) == 1)
    assert(ns.count(_.isInstanceOf[SortExec]) == 1,
      "both frames must reuse one (key, ts) sort")
    assert(!ns.exists(_.getClass.getSimpleName.contains("Join")))
  }

  test("olsTrend/chiSquare: moment math is hash aggs, never a window") {
    val li = Tables.load(spark, dir, "lineitem")
    val ols = Profile.olsTrend(li.select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("y")),
      Seq("l_returnflag"), col("x"), col("y"))
    val on = nodes(ols)
    assert(!on.exists(_.isInstanceOf[WindowExec]))
    assert(!on.exists(_.getClass.getSimpleName.contains("SortAggregate")),
      "decimal moments must stay in hash aggregation")
    // chiSquare checkpoint-materializes inside its cache scope, so its
    // joins never appear in the RETURNED frame's plan — capture the
    // executed plans instead
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val cust = Tables.load(spark, dir, "customer")
      Profile.chiSquare(cust, col("c_mktsegment"), col("c_nationkey"))
        .collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var joined = Seq.empty[String]
      while (joined.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        joined = plans.toArray(Array.empty[String]).toSeq
          .filter(p => p.contains("BroadcastHashJoin") ||
            p.contains("BroadcastNestedLoop"))
      }
      // grid assembly joins are all broadcast (bounded dimensions);
      // nothing in the pipeline may windows-sort or merge-join
      assert(joined.nonEmpty, "no broadcast-join plan captured")
      val all = plans.toArray(Array.empty[String]).toSeq
      assert(!all.exists(_.contains("SortMergeJoin")))
      assert(!all.exists(_.contains("Window")))
    } finally spark.listenerManager.unregister(listener)
  }

  test("negativeSamples is a zero-shuffle narrow projection") {
    import graft.ext.Sampling
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pairs = spark.range(1000).select(col("id").as("u"),
      (col("id") % 97 + 1).as("p"))
    val uni = spark.range(1, 101).toDF("item")
    val ns = Sampling.negativeSamples(pairs, "u", "p", uni, "item", 3)
    val n = nodes(ns)
    // the ONLY exchange is the universe bound's 1-row final aggregate
    // (metadata-sized); the pair stream itself must stay narrow —
    // nothing between the pair scan and the output may exchange
    val shuffles = n.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, "pair stream must not shuffle")
    shuffles.foreach(s => assert(
      s.child.toString.contains("max"),
      s"the only allowed exchange is the max-bound agg: $s"))
    assert(!n.exists(_.isInstanceOf[WindowExec]))
  }

  test("kaplanMeier: all windows ride one sort over the death table") {
    import graft.ext.TimeSeries
    import org.apache.spark.sql.execution.SortExec
    val ev = Tables.load(spark, dir, "events")
    val life = ev.groupBy("user_id")
      .agg((max(unix_micros(col("ts"))) / 86400000000L).cast("long")
          .as("dur"),
        (count(lit(1)) % 2 === 0).as("ev"))
    val km = TimeSeries.kaplanMeier(life, Seq.empty, col("dur"),
      col("ev"))
    val n = nodes(km)
    // grouped death table, then windows: ≤1 sort, no join, no expand
    assert(n.count(_.isInstanceOf[SortExec]) <= 1,
      "risk/cumulative windows must share one duration sort")
    assert(!n.exists(_.getClass.getSimpleName.contains("Join")))
    assert(!n.exists(_.isInstanceOf[ExpandExec]))
  }

  test("topPaths: session window partitioning feeds the path agg") {
    import graft.ext.Behavior
    val ev = Tables.load(spark, dir, "events")
    val tp = Behavior.topPaths(ev, "user_id", unix_micros(col("ts")),
      col("event_id"), col("event_type"), 6L * 3600L * 1000000L, 10)
    val ns = nodes(tp)
    // sessionization is two WindowExec nodes (lag flag + running sum —
    // different frames) over ONE per-key exchange; the (key, session)
    // group keys EXTEND that partitioning, so the session agg adds no
    // exchange — the bounded path-count agg is the only second shuffle
    assert(ns.count(_.isInstanceOf[WindowExec]) <= 2)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = ns.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 2, s"expected ≤2 exchanges, got $shuffles")
  }

  test("bm25TopK: token stream never shuffles; ranking is bounded_top_k") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val d = Tables.load(spark, dir, "documents")
    val b = graft.ext.TextAnalysis.bm25TopK(d, col("doc_id"),
      col("text"), Seq("spark", "window"), 10)
    val n = nodes(b)
    // ranking is the O(topN)-state bounded_top_k aggregate: nothing in
    // the plan sorts at all, and no window runs anywhere (the r7 cut
    // re-sorted the TakeOrdered rows under a single-partition window)
    assert(!n.exists(_.isInstanceOf[SortExec]),
      "bounded_top_k ranking must not sort the scored stream")
    assert(!n.exists(_.isInstanceOf[WindowExec]),
      "no rank window — position in the top-k array is the rank")
    // per-doc tf is an in-codegen array filter: the only exchanges are
    // the two single-row/bounded aggregates (corpus stats, top-k state)
    // — no explode of the token stream ever reaches a shuffle
    val shuffles = n.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2,
      s"token stream must not shuffle, got ${shuffles.size}")
  }

  test("group-aware split assignment is a zero-shuffle projection") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"))
    val assigned = graft.ext.Sampling.splitAssign(e, "user_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "gs1")
    val n = nodes(assigned)
    assert(!n.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "fold assignment by group hash must be a pure projection")
    assert(!n.exists(_.isInstanceOf[WindowExec]))
  }

  test("kCorePeel rounds are aggregates + semi-joins — no window, no BNLJ") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val edges = spark.range(2000).select((col("id") % 211).as("src"),
      (col("id") % 199 + 211).as("dst"))
    val k = graft.ext.Graph.kCorePeel(edges, "src", "dst", 2, 2)
    // the returned frame is checkpoint-materialized; assert on the
    // final degree aggregation instead (rounds already executed)
    val n = nodes(k)
    assert(!n.exists(_.isInstanceOf[WindowExec]))
    assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("intervalOverlapJoin plans a hash equi-join on the bin — no BNLJ") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import spark.implicits._
    val l = (1L to 500L).map(i => (i, i * 3, i * 3 + 40)).toDF("lid", "ls", "le")
    val r = (1L to 200L).map(i => (i, i * 7, i * 7 + 25)).toDF("rid", "rs", "re")
    val j = graft.ext.Joins.intervalOverlapJoin(l, col("ls"), col("le"),
      r, col("rs"), col("re"), binSize = 32L)
    val n = nodes(j)
    assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "interval overlap must ride the bin equi-join, never a nested loop")
    assert(!n.exists(_.isInstanceOf[WindowExec]))
  }

  test("lpa/adamicAdar/assortativity: aggregates + key joins, no window") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val edges = spark.range(3000).select((col("id") % 97).as("src"),
      (col("id") % 89 + 97).as("dst"))
    for (df <- Seq(
        graft.ext.Graph.labelPropagation(edges, "src", "dst", 2),
        graft.ext.Graph.adamicAdar(edges, "src", "dst", topK = 10,
          maxCenterDegree = 50),
        graft.ext.Graph.degreeAssortativity(edges, "src", "dst"))) {
      val n = nodes(df)
      assert(!n.exists(_.isInstanceOf[WindowExec]))
      assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    }
  }

  test("rboTruncated/kendallTau/matchDistribution: joins + hash aggs " +
      "— no window, no nested loop") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import spark.implicits._
    val a = (1L to 200L).flatMap(q => (1L to 10L).map(r =>
      (q, q * 100 + r, r))).toDF("query_id", "doc_id", "rank")
    val b = (1L to 200L).flatMap(q => (1L to 10L).map(r =>
      (q, q * 100 + 11 - r, r))).toDF("query_id", "doc_id", "rank")
    for (df <- Seq(
        graft.ext.Experiment.rboTruncated(a, b, 10),
        graft.ext.Experiment.kendallTau(a, b, 10))) {
      val n = nodes(df)
      assert(!n.exists(_.isInstanceOf[WindowExec]))
      assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    }
    // matchDistribution: the grid crossJoin is the accepted 1-row
    // scalar-broadcast BNLJ; what must NOT appear is a window (the
    // per-bin ranking is the BoundedTopK aggregate) or a shuffled
    // cartesian
    val rows = (1L to 3000L).map(i => (i, i % 97)).toDF("id", "v")
    val m = nodes(graft.ext.Sampling.matchDistribution(rows, rows,
      col("v"), col("v"), "id", nBins = 8, n = 50))
    assert(!m.exists(_.isInstanceOf[WindowExec]))
    assert(!m.exists(_.isInstanceOf[org.apache.spark.sql.execution
      .joins.CartesianProductExec]))
  }

  test("jsDivergence shared-term pass is a value EQUI-join — no " +
      "nested loop, no cartesian") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import spark.implicits._
    // r17: the operator's shared-token pass self-equi-joins the cell
    // frame on the value (private-token mass redistributed from exact
    // per-group totals) — the old k²-pair OR-condition nested loop is
    // gone. The operator's result is checkpoint-materialized by
    // CacheScope, so assert on the SAME join shape its body builds.
    val df = (1L to 4000L).map(i => (s"s${i % 6}", s"w${i % 37}"))
      .toDF("k", "v")
    val cells = df.groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("c"))
    val shared = cells.select(col("v"), col("k").as("ka"),
        col("c").as("ca"))
      .join(cells.select(col("v"), col("k").as("kb"),
        col("c").as("cb")), Seq("v"))
      .where(col("ka") < col("kb"))
      .groupBy("ka", "kb").agg(sum(col("ca")).as("sa"))
    val n = nodes(shared)
    assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "shared-term pass must be an equi-join, not a nested loop")
    assert(!n.exists(_.isInstanceOf[org.apache.spark.sql.execution
      .joins.CartesianProductExec]))
    // and the operator end-to-end emits exactly C(k,2) rows
    assert(graft.ext.Profile.jsDivergence(df, col("k"), col("v"))
      .count() === 15L)
  }

  test("snapshotDiff is ONE join — churn filter stays narrow") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import spark.implicits._
    val a = (1L to 3000L).map(i => (i, i % 17)).toDF("k", "p")
    val b = (1L to 3000L).map(i => (i, i % 19)).toDF("k", "p")
    val n = nodes(graft.ext.Cdc.snapshotDiff(a, b, Seq("k"), Seq("p")))
    val joins = n.count(p => p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec] ||
      p.isInstanceOf[BroadcastHashJoinExec])
    assert(joins == 1, s"snapshot diff must be exactly one join, got $joins")
    assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    assert(!n.exists(_.isInstanceOf[WindowExec]))
  }

  test("silhouetteSimplified is a narrow map + one k-row hash agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("list_id", "cvec")
    val vecs = (1L to 500L).map(i =>
      (i, Array((i % 13).toFloat + 1f, (i % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val n = nodes(
      graft.ext.Similarity.silhouetteSimplified(vecs, cents))
    val shuffles = n.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1,
      s"scoring must not shuffle; only the final cluster agg may " +
        s"(got ${shuffles.size})")
    assert(!n.exists(_.isInstanceOf[WindowExec]))
  }

  test("phashNearDuplicates rides the (band, bits) equi-join — no BNLJ, " +
      "no cartesian, no global window") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import spark.implicits._
    // 8 ids per distinct hash: buckets of 8 (under the cap below), so
    // BOTH variants return rows — an all-unique fixture lets AQE
    // collapse the capped join to EmptyRelation and no Window survives
    // into the executed plan to assert on
    val hashes = (1L to 400L).map(i =>
        (i, ((i % 50) * 2654435761L) & 0xFFFFFFFFFFFFFFL))
      .toDF("id", "dhash")
    val n = nodes(graft.ext.Multimodal.phashNearDuplicates(hashes))
    assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "banded LSH must equi-join on (band, bits), never nested-loop")
    assert(!n.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!n.exists(_.isInstanceOf[WindowExec]),
      "uncapped near-dup join must not plan a window")
    // the capped variant's per-bucket count IS a window, but
    // partitioned by the same (band, key) the join shuffles on —
    // bounded state, never a single-partition global sort
    val capped = nodes(graft.ext.Multimodal.phashNearDuplicates(
      hashes, maxBucketSize = 16L))
    val ws = capped.collect {
      case w: WindowExec => w.partitionSpec.map(_.sql)
    }
    assert(ws.nonEmpty && ws.forall(_.nonEmpty),
      s"bucket-cap window must partition by (band, key): $ws")
  }

  test("partitioned events read prunes whole directories at planning " +
      "time") {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val out = java.nio.file.Files.createTempDirectory("graft_part")
      .toString
    graft.ext.Layout.writePartitioned(ev, out, "event_type")
    val r = graft.ext.Layout.readPartitioned(spark, out, ev.schema)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    r.collect()
    val s = scans(r)
    assert(s.size == 1)
    assert(s.head.partitionFilters.nonEmpty,
      "the event_type predicate must land in partitionFilters")
    // only the matching partition's files are read — count them on disk
    val purchaseFiles = Option(new java.io.File(out,
        "event_type=purchase").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val allFiles = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val numFiles = s.head.metrics("numFiles").value
    assert(numFiles == purchaseFiles && numFiles < allFiles,
      s"scan must list only the purchase partition's files " +
        s"($numFiles vs $purchaseFiles of $allFiles total)")
  }

  test("dynamic partition overwrite replaces ONLY the touched " +
      "partitions; untouched files stay byte-identical") {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val out = java.nio.file.Files.createTempDirectory("graft_dyn")
      .toString
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
    graft.ext.Layout.writePartitioned(agg(ev), out, "event_type")
    def files(part: String): Set[String] =
      Option(new java.io.File(out, s"event_type=$part").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified()).toSet
    val signupBefore = files("signup")
    val clickBefore = files("click")
    assert(signupBefore.nonEmpty && clickBefore.nonEmpty)
    // a rewrite touching ONLY the click partition
    graft.ext.Layout.overwritePartitionsDynamic(
      agg(ev.filter(col("event_type") === "click")), out, "event_type")
    assert(files("signup") === signupBefore,
      "untouched partitions must keep their exact files")
    assert(files("click") !== clickBefore,
      "the touched partition must have been rewritten")
    // content still complete: all five types readable
    val types = graft.ext.Layout.readPartitioned(spark, out,
        agg(ev).schema)
      .select("event_type").distinct().count()
    assert(types == 5)
  }

  test("editDistancePairs: segment pigeonhole equi-joins only — no " +
      "BNLJ, no cartesian, no window") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import spark.implicits._
    // mixed long strings (segment path) and sub-(d+1) strings (short
    // path, length-keyed) so BOTH candidate arms plan
    val rows = ((1L to 60L).map(i => (i, s"abcdefghij-${i % 7}-klmno")) ++
      (61L to 70L).map(i => (i, "ab"))).toDF("id", "s")
    val p = graft.ext.Dedup.editDistancePairs(rows, "id", col("s"), 3)
    val n = nodes(p)
    assert(!n.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "candidates must come from the (len, slot, piece-hash) and " +
        "partner-length equi-joins, never a nested loop")
    assert(!n.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!n.exists(_.isInstanceOf[WindowExec]))
  }

  test("versioned store read: ONE multi-path parquet scan of exactly " +
      "the manifest's batch dirs — no listing, no union, no exchange") {
    import graft.ext.Similarity
    import graft.sources.IndexStore
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = Tables.load(spark, dir, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_vflat_plan").toString
    IndexStore.writeIvfIndexVersioned(e.filter(col("vec_id") % 2 === 0),
      Similarity.firstIdCentroids(e, 16), idx)
    IndexStore.appendIvfIndexVersioned(
      e.filter(col("vec_id") % 2 === 1), idx)
    val (enc, _) = IndexStore.readIvfIndexVersioned(spark, idx)
    val n = nodes(enc)
    assert(!n.exists(_.isInstanceOf[UnionExec]),
      "a version must read as one relation, not a per-batch union")
    assert(!n.exists(_.isInstanceOf[ShuffleExchangeExec]))
    val s = scans(enc)
    assert(s.size == 1, "one multi-path scan")
    val roots = s.head.relation.location.rootPaths.map(_.toString)
    assert(roots.size == 2 &&
      roots.exists(_.endsWith("b-000001")) &&
      roots.exists(_.endsWith("b-000002")),
      s"scan roots must be exactly the manifest's batch dirs: $roots")
  }

  test("e2e training pipeline: dedup shuffle + shard rollup + output " +
      "sort ONLY — no joins, no window, every gate a plain filter") {
    val df = SparkEntry.queries("x_pipeline_train")(spark, dir)
    val n = nodes(df)
    assert(joinsOf(df).isEmpty,
      "dedup is a hash aggregation and the gates are filters — a join " +
        "anywhere means a stage materialized what composition fuses")
    assert(!n.exists(_.isInstanceOf[WindowExec]))
    // the corpus moves ONCE (the dedup hash agg); the shard rollup and
    // the 8-row output sort shuffle pre-aggregated group rows only
    assert(shuffles(df).size <= 3,
      s"expected dedup + rollup + sort exchanges only, got " +
        s"${shuffles(df).size}")
  }

  /** The query executions `body` runs, in the order their listener
    * events arrive. A marker action afterwards (its events arrive after
    * all earlier ones) bounds the capture.
    */
  private def executions(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.put(qe)
    }
    val marker = "__plan_spec_marker"
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val out = Seq.newBuilder[QueryExecution]
      var qe = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (qe != null && !qe.analyzed.output.exists(_.name == marker)) {
        out += qe
        qe = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(qe != null, "the marker execution never arrived")
      out.result()
    } finally spark.listenerManager.unregister(listener)
  }

  test("summary aggregate reads only the check column, one type for all") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.functions.BoundedDistinctEach
    // two resources with different schemas and checks: each summary
    // scans its cache for the one check column, of one type, so the two
    // tables share the aggregate's generated code
    val tmp = java.nio.file.Files.createTempDirectory("plan_summary")
    def write(name: String, body: String): String =
      java.nio.file.Files.writeString(tmp.resolve(name), body).toString
    val pkg = Package("two", Seq(
      Resource("a", write("a.csv", "id,n\n1,2.5\n2,x\n"),
        TableSchema(Seq(Field("id", "integer"), Field("n", "number",
          constraints = Constraints(minimum = Some("0")))),
          primaryKey = Seq("id"))),
      Resource("b", write("b.csv", "d,s,k\n2024-01-01,ab,1\n"),
        TableSchema(Seq(Field("d", "date",
          constraints = Constraints(required = Some(true))),
          Field("s", constraints = Constraints(pattern = Some("[a-z]+"),
            maxLength = Some(5))), Field("k", "integer"))))))
    val summaries = executions(Validate.validateCsv(spark, pkg))
      .map(qe => flatten(qe.executedPlan))
      .filter(_.exists {
        case a: ObjectHashAggregateExec => a.aggregateExpressions
          .exists(_.aggregateFunction.isInstanceOf[BoundedDistinctEach])
        case _ => false
      })
    assert(summaries.size == 2, "one summary per resource")
    val read = summaries.map { n =>
      val scans = n.collect { case s: InMemoryTableScanExec => s }
      assert(scans.size == 1, "the summary reads its table's cache once")
      scans.head.output.map(a => (a.name, a.dataType))
    }
    assert(read.distinct == Seq(Seq((Validate.ChecksCol,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))), read)
  }

  test("validateCsv runs one SQL execution per resource and per key check") {
    val tmp = java.nio.file.Files.createTempDirectory("plan_execs")
    val pkg = ValidateFixtures.crossResource((name, body) =>
      java.nio.file.Files.writeString(tmp.resolve(name), body).toString)
    // header reads run no job, and each load's parse, constraint and
    // primary-key-null results come from its one summary action
    val want = pkg.resources.map { r =>
      val s = r.schema
      1 + s.fields.count(_.constraints.unique.contains(true)) +
        s.primaryKey.size.min(1) + s.uniqueKeys.size + s.foreignKeys.size
    }.sum
    assert(executions(Validate.validateCsv(spark, pkg)).size == want)
  }
}
