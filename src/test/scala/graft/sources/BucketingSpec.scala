package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{SparkSpec, Tables}

/** Co-located joins via bucketing: tables bucketed on the join key must
  * join with ZERO shuffles (the 100 TB repeated-check path).
  */
class BucketingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Flatten through AQE wrappers to the real physical nodes — shared
    * by every plan-contract test below.
    */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  /** True when raw rows of a scan satisfying `isIndexScan` sit below
    * `x` with no intervening join — the "standing index is never
    * re-shuffled" contract (post-join exchanges move candidate-sized
    * data and are fine).
    */
  private def rawBelow(
      isIndexScan: org.apache.spark.sql.execution.SparkPlan => Boolean)(
      x: org.apache.spark.sql.execution.SparkPlan): Boolean = x match {
    case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => rawBelow(isIndexScan)(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => rawBelow(isIndexScan)(q.plan)
    case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
    case s if isIndexScan(s) => true
    case other => other.children.exists(rawBelow(isIndexScan))
  }

  test("fk join between tables bucketed on the key has no shuffle") {
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    Bucketing.writeBucketed(li, "li_b", Seq("l_orderkey"), 8)
    Bucketing.writeBucketed(o, "o_b", Seq("o_orderkey"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the shuffle (or its absence) shows
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readBucketed(spark, "li_b")
        .join(Bucketing.readBucketed(spark, "o_b"),
          col("l_orderkey") === col("o_orderkey"))
      val n = joined.count()
      assert(n == Tables.load(spark, dir, "lineitem").count(),
        "every lineitem row has its order")
      val plan = joined.queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.isEmpty,
        s"expected a shuffle-free co-located join, found:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("bucketed band index: per-batch join reads the corpus side in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    graft.sources.IndexStore.writeDedupIndexBucketed(docs, "idx_spec",
      numBuckets = 8, k = 5)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val corpus = Bucketing.readBucketed(spark, "idx_spec_bands")
        .select(col("id").as("corpus_id"), col("band"), col("bucket"))
      // a fresh ingest batch: the same docs re-banded under new ids
      val batch = graft.ext.Dedup.bandAssignmentsFromShingles(
          docs.select((col("id") + 100000L).as("id"),
            graft.ext.Dedup.shingleHashesFromTokens(col("toks"), 5)
              .as("sh")),
          32, 16)
        .select(col("id").as("new_id"), col("band").as("band_n"),
          col("bucket").as("bucket_n"))
      val joined = batch.join(corpus,
        col("band_n") === col("band") && col("bucket_n") === col("bucket"))
      assert(joined.count() > 0, "twin batch must hit corpus buckets")
      // traverse through AQE stages (executedPlan alone hides the
      // finalized subtree behind AdaptiveSparkPlanExec)
      val all = flatten(joined.queryExecution.executedPlan)
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case s: FileSourceScanExec =>
            s.tableIdentifier.exists(_.table == "idx_spec_bands")
          case _ => false
        }
      // the batch side may shuffle to match the bucketing; NO exchange
      // may sit anywhere above the bucketed corpus scan
      val offending = all.collect { case e: ShuffleExchangeExec
        if flatten(e.child).exists(isIndexScan) => e }
      assert(offending.isEmpty,
        "corpus index side must read in place")
      // and the bucketed scan IS present (the index, not a recompute)
      assert(all.exists(isIndexScan),
        "join must read the bucketed index table")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS idx_spec_bands")
      spark.sql("DROP TABLE IF EXISTS idx_spec_sh")
      spark.sql("DROP TABLE IF EXISTS idx_spec_meta")
    }
  }

  test("EdgeStore: one build per process; src work reads splits in place") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def build = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
    try {
      val served = EdgeStore.ensure(spark, "es_spec", Seq("src"), 8)(build)
      // content identical to the in-memory frame (multiset, no dedup)
      val want = build.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val got = served.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(got == want, "served artifact must be the build frame as-is")
      // second access must serve, not rebuild
      val again = EdgeStore.ensure(spark, "es_spec", Seq("src"), 8) {
        fail("EdgeStore.ensure must build exactly once per process")
      }
      // src-keyed aggregation over the served table: bucketed scan, no
      // exchange below the aggregate
      val deg = again.groupBy("src").agg(count(lit(1)).as("deg"))
      deg.collect()
      val all = flatten(deg.queryExecution.executedPlan)
      assert(!all.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"src agg over the bucketed edge artifact must not shuffle:\n" +
          deg.queryExecution.executedPlan)
    } finally spark.sql("DROP TABLE IF EXISTS es_spec")
  }

  test("substring gram index: serve joins read the corpus side in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    IndexStore.writeSubstringIndexBucketed(docs, "sgx_spec",
      numBuckets = 8, k = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // k mismatch fails loudly, never silently-zero
      intercept[IllegalArgumentException] {
        IndexStore.readSubstringIndexBucketed(spark, "sgx_spec", k = 5)
      }
      val grams = IndexStore.readSubstringIndexBucketed(spark,
        "sgx_spec", k = 8)
      val batch = docs.filter(col("id") < 10)
        .select((col("id") + 900000L).as("id"),
          slice(col("toks"), lit(3), lit(40)).as("toks"))
      val served = graft.ext.Dedup.substringRunsAgainst(batch, grams,
        minRunLen = 30, k = 8)
      assert(served.count() > 0, "planted slices must hit the corpus")
      val all = flatten(served.queryExecution.executedPlan)
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case s: FileSourceScanExec =>
            s.tableIdentifier.exists(_.table == "sgx_spec_grams")
          case _ => false
        }
      // the batch side may shuffle to match the bucketing, and the
      // post-join chain aggregation shuffles on (pair, diag) — but NO
      // exchange may sit between the bucketed gram scan and the join
      // consuming it (that would be re-shuffling the standing index
      // per batch)
      val joinChildren = all.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          Seq(j.left, j.right)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          Seq(j.left, j.right)
      }.flatten
      val indexSides = joinChildren.filter(c => flatten(c).exists(isIndexScan))
      assert(indexSides.nonEmpty,
        "serve must join against the bucketed gram table")
      indexSides.foreach { side =>
        assert(!flatten(side).exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"corpus gram index must read in place below the join:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS sgx_spec_grams")
      spark.sql("DROP TABLE IF EXISTS sgx_spec_meta")
    }
  }

  test("substring index append: serve ≡ rebuild over the union corpus, " +
      "and the appended gram side still reads in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    // delta docs carry a 40-token mid-document slice of their source,
    // so probes that slice the same region must match BOTH copies
    val delta = docs.filter(col("id") < 10)
      .select((col("id") + 50000L).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = docs.filter(col("id") < 10)
      .select((col("id") + 900000L).as("id"),
        slice(col("toks"), lit(3), lit(40)).as("toks"))
    IndexStore.writeSubstringIndexBucketed(docs, "sga_spec",
      numBuckets = 8, k = 8)
    IndexStore.appendSubstringIndexBucketed(delta, "sga_spec", k = 8)
    IndexStore.writeSubstringIndexBucketed(docs.unionByName(delta),
      "sga_full", numBuckets = 8, k = 8)
    try {
      def serve(table: String): Set[(Long, Long, Long, Long, Long)] = {
        val grams = IndexStore.readSubstringIndexBucketed(spark, table,
          k = 8)
        graft.ext.Dedup.substringRunsAgainst(probes, grams,
            minRunLen = 30, k = 8)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
      }
      val appended = serve("sga_spec")
      assert(appended === serve("sga_full"),
        "append(build(base), delta) must serve the union-rebuild answer")
      assert(appended.exists { case (_, cid, _, _, _) => cid >= 50000L },
        "no match against an appended delta row")
      // gram-size guard holds for appends too
      intercept[IllegalArgumentException] {
        IndexStore.appendSubstringIndexBucketed(delta, "sga_spec", k = 5)
      }
      // plan contract survives the append: the (now multi-file-per-
      // bucket) gram side still reads in place below the serve join
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val grams = IndexStore.readSubstringIndexBucketed(spark,
          "sga_spec", k = 8)
        val served = graft.ext.Dedup.substringRunsAgainst(probes, grams,
          minRunLen = 30, k = 8)
        served.count()
        val all = flatten(served.queryExecution.executedPlan)
        def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
          p match {
            case s: FileSourceScanExec =>
              s.tableIdentifier.exists(_.table == "sga_spec_grams")
            case _ => false
          }
        assert(all.exists(isIndexScan),
          "serve must read the bucketed gram table")
        val joinChildren = all.collect {
          case j: org.apache.spark.sql.execution.joins
              .SortMergeJoinExec => Seq(j.left, j.right)
          case j: org.apache.spark.sql.execution.joins
              .ShuffledHashJoinExec => Seq(j.left, j.right)
        }.flatten
        joinChildren.filter(c => flatten(c).exists(isIndexScan))
          .foreach { side =>
            assert(
              !flatten(side).exists(_.isInstanceOf[ShuffleExchangeExec]),
              s"appended gram index must still read in place:\n$side")
          }
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally for (t <- Seq("sga_spec", "sga_full");
        s <- Seq("_grams", "_meta"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("index append: serve ≡ rebuild over the union corpus, and the " +
      "appended corpus side still reads in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val delta = docs.select((col("id") + 50000L).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = docs.select((col("id") + 900000L).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    IndexStore.writeDedupIndexBucketed(docs, "apx_spec",
      numBuckets = 8, k = 5)
    IndexStore.appendDedupIndexBucketed(delta, "apx_spec", k = 5)
    IndexStore.writeDedupIndexBucketed(docs.unionByName(delta),
      "apx_full", numBuckets = 8, k = 5)
    try {
      def serve(table: String): Set[(Long, Long, Double)] = {
        val (sh, bands) = IndexStore
          .readDedupIndexBucketed(spark, table, k = 5)
        graft.ext.Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
            threshold = 0.5, k = 5)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val appended = serve("apx_spec")
      assert(appended === serve("apx_full"),
        "append(build(base), delta) must serve the union-rebuild answer")
      // every probe must hit at least one DELTA row — appended rows
      // are live in the join, not just present on disk
      assert(appended.exists { case (_, cid, _) => cid >= 50000L },
        "no match against an appended delta row")
      // banding-parameter guard holds for appends too
      intercept[IllegalArgumentException] {
        IndexStore.appendDedupIndexBucketed(delta, "apx_spec", k = 3)
      }
      // plan contract survives the append: the (now multi-file-per-
      // bucket) corpus side still reads with no exchange above it
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val (sh, bands) = IndexStore
          .readDedupIndexBucketed(spark, "apx_spec", k = 5)
        val p = graft.ext.Dedup.againstIndexPlan(probes, sh, bands,
          threshold = 0.5, numHashes = 32, bands = 16, k = 5)
        p.count()
        val all = flatten(p.queryExecution.executedPlan)
        def isIndexScan(x: org.apache.spark.sql.execution.SparkPlan) =
          x match {
            case s: FileSourceScanExec => s.tableIdentifier.exists(t =>
              t.table == "apx_spec_bands" || t.table == "apx_spec_sh")
            case _ => false
          }
        assert(all.exists(isIndexScan))
        // the contract: RAW index rows are never re-shuffled — no
        // exchange may reach an index scan without an intervening
        // join (post-join exchanges move candidate pairs, which is
        // the batch-sized data, and are fine)
        val offending = all.collect { case e: ShuffleExchangeExec
          if rawBelow(isIndexScan)(e.child) => e }
        assert(offending.isEmpty,
          "appended corpus index must still read in place")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally for (t <- Seq("apx_spec", "apx_full");
        s <- Seq("_sh", "_bands", "_meta"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("index compaction: file count drops to one per non-empty bucket, " +
      "content and serve plan unchanged") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    def shifted(off: Long, frac: Double) =
      docs.select((col("id") + off).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * frac).cast("int")).as("toks"))
    val probes = shifted(900000L, 0.6)
    IndexStore.writeDedupIndexBucketed(docs, "cpx_spec",
      numBuckets = 8, k = 5)
    // two appended batches → three files per touched bucket
    IndexStore.appendDedupIndexBucketed(shifted(50000L, 0.8),
      "cpx_spec", k = 5)
    IndexStore.appendDedupIndexBucketed(shifted(60000L, 0.7),
      "cpx_spec", k = 5)
    try {
      def serve(): Set[(Long, Long, Double)] = {
        val (sh, bands) = IndexStore
          .readDedupIndexBucketed(spark, "cpx_spec", k = 5)
        graft.ext.Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
            threshold = 0.5, k = 5)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val before = serve()
      val filesBefore = Bucketing.dataFileCount(spark, "cpx_spec_bands")
      assert(filesBefore > 8,
        s"two appends must have grown past one file per bucket " +
          s"(saw $filesBefore)")
      IndexStore.compactDedupIndexBucketed(spark, "cpx_spec")
      val filesAfter = Bucketing.dataFileCount(spark, "cpx_spec_bands")
      assert(filesAfter <= 8 && filesAfter < filesBefore,
        s"compaction must restore one file per non-empty bucket " +
          s"($filesBefore → $filesAfter)")
      assert(Bucketing.dataFileCount(spark, "cpx_spec_sh") <= 8,
        "the shingle half compacts too")
      // content and serve answer are exactly what the multi-file
      // layout served, delta matches included
      val after = serve()
      assert(after === before,
        "compaction must not change the served answer")
      assert(after.exists { case (_, cid, _) => cid >= 50000L })
      // meta record untouched → parameter guard still fires
      intercept[IllegalArgumentException] {
        IndexStore.readDedupIndexBucketed(spark, "cpx_spec", k = 3)
      }
      // the compacted table keeps its bucket metadata: the serve join
      // still reads raw index rows with no exchange above them
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert(Bucketing.numBucketsOf(spark, "cpx_spec_bands") == 8)
        val (sh, bands) = IndexStore
          .readDedupIndexBucketed(spark, "cpx_spec", k = 5)
        val p = graft.ext.Dedup.againstIndexPlan(probes, sh, bands,
          threshold = 0.5, numHashes = 32, bands = 16, k = 5)
        p.count()
        val all = flatten(p.queryExecution.executedPlan)
        def isIndexScan(x: org.apache.spark.sql.execution.SparkPlan) =
          x match {
            case s: FileSourceScanExec => s.tableIdentifier.exists(t =>
              t.table == "cpx_spec_bands" || t.table == "cpx_spec_sh")
            case _ => false
          }
        assert(all.exists(isIndexScan),
          "serve must read the compacted bucketed tables")
        assert(!all.exists {
          case e: ShuffleExchangeExec => rawBelow(isIndexScan)(e.child)
          case _ => false
        }, "compacted index must still read in place")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // compacting a non-bucketed table is a loud error
      spark.range(3).write.mode("overwrite").format("parquet")
        .saveAsTable("cpx_plain")
      intercept[IllegalArgumentException] {
        Bucketing.compactBucketed(spark, "cpx_plain")
      }
    } finally {
      for (s <- Seq("_sh", "_bands", "_meta"))
        spark.sql(s"DROP TABLE IF EXISTS cpx_spec$s")
      spark.sql("DROP TABLE IF EXISTS cpx_plain")
      spark.sql("DROP TABLE IF EXISTS cpx_spec_sh__compact")
      spark.sql("DROP TABLE IF EXISTS cpx_spec_bands__compact")
    }
  }

  test("key index: serve ≡ rebuild over the union history, appended keys " +
      "live, merge-compaction merges split rows without changing the " +
      "answer") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val orders = Tables.load(spark, dir, "orders")
    val batch1 = orders.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") + 1000000L).as("o_orderkey"))
    val batch2 = orders.filter(col("o_orderkey") % 6 === 0)
      .select((col("o_orderkey") + 1000000L).as("o_orderkey"))
      .unionByName(orders.filter(col("o_orderkey") % 10 === 1)
        .select("o_orderkey"))
    IndexStore.writeKeyIndexBucketed(orders, "kix_spec",
      Seq("o_orderkey"), numBuckets = 8)
    IndexStore.appendKeyIndexBucketed(batch1, "kix_spec",
      Seq("o_orderkey"))
    IndexStore.writeKeyIndexBucketed(
      orders.select("o_orderkey").unionByName(batch1), "kix_full",
      Seq("o_orderkey"), numBuckets = 8)
    try {
      def serve(table: String): Set[(Long, Long, Long)] = {
        val idx = IndexStore.readKeyIndexBucketed(spark, table,
          Seq("o_orderkey"))
        graft.check.Checks.uniqueAgainstIndex(batch2, idx,
            Seq("o_orderkey"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      val appended = serve("kix_spec")
      assert(appended === serve("kix_full"),
        "append(build(hist), batch) must serve the union-rebuild answer")
      assert(appended.exists { case (k, _, ne) => k > 1000000L && ne > 0 },
        "batch-2 keys must collide with batch-1 keys appended earlier")
      // second append of the same batch splits its keys across files;
      // the serve must sum the split rows (n_existing = 2 now)
      IndexStore.appendKeyIndexBucketed(batch1, "kix_spec",
        Seq("o_orderkey"))
      val split = serve("kix_spec")
      assert(split.exists { case (k, _, ne) => k > 1000000L && ne == 2 },
        "LSM split rows must sum at serve time")
      val rowsBefore = spark.table("kix_spec_keys").count()
      val filesBefore = Bucketing.dataFileCount(spark, "kix_spec_keys")
      assert(filesBefore > 8, "two appends must exceed one file/bucket")
      IndexStore.compactKeyIndexBucketed(spark, "kix_spec")
      val filesAfter = Bucketing.dataFileCount(spark, "kix_spec_keys")
      assert(filesAfter <= 8 && filesAfter < filesBefore,
        s"compaction must shrink files ($filesBefore → $filesAfter)")
      val rowsAfter = spark.table("kix_spec_keys").count()
      assert(rowsAfter < rowsBefore,
        "merge-compaction must merge rows a key accumulated across " +
          s"appends ($rowsBefore → $rowsAfter)")
      val distinctKeys = orders.select("o_orderkey").unionByName(batch1)
        .distinct().count()
      assert(rowsAfter == distinctKeys,
        "post-merge the index holds exactly one row per key")
      assert(serve("kix_spec") === split,
        "merge-compaction must not change the served answer")
      // key-set guard fires on read and append
      intercept[IllegalArgumentException] {
        IndexStore.readKeyIndexBucketed(spark, "kix_spec",
          Seq("o_custkey"))
      }
      intercept[IllegalArgumentException] {
        IndexStore.appendKeyIndexBucketed(batch1, "kix_spec",
          Seq("o_custkey"))
      }
      // tombstones: deleting BOTH admitted copies of batch1 returns
      // the index to its pre-append state (serve-identical), and the
      // next merge-compaction drops the dead keys physically
      IndexStore.deleteFromKeyIndexBucketed(batch1, "kix_spec",
        Seq("o_orderkey"))
      IndexStore.deleteFromKeyIndexBucketed(batch1, "kix_spec",
        Seq("o_orderkey"))
      IndexStore.compactKeyIndexBucketed(spark, "kix_spec")
      assert(spark.table("kix_spec_keys")
        .filter(col("o_orderkey") > 1000000L).count() == 0,
        "merge-compaction must physically drop fully-deleted keys")
      val served = serve("kix_spec")
      assert(!served.exists { case (k, _, ne) => k > 1000000L && ne > 0 },
        "deleted batch-1 keys must contribute zero history")
      // plan contract: history side (scan → merge agg → join) reads in
      // place; no exchange may sit between the index scan and the join
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val idx = IndexStore.readKeyIndexBucketed(spark, "kix_spec",
          Seq("o_orderkey"))
        val p = graft.check.Checks.uniqueAgainstIndex(batch2, idx,
          Seq("o_orderkey"))
        p.count()
        val all = flatten(p.queryExecution.executedPlan)
        def isIndexScan(x: org.apache.spark.sql.execution.SparkPlan) =
          x match {
            case s: FileSourceScanExec =>
              s.tableIdentifier.exists(_.table == "kix_spec_keys")
            case _ => false
          }
        assert(all.exists(isIndexScan),
          "serve must read the bucketed key index")
        assert(!all.exists {
          case e: ShuffleExchangeExec => rawBelow(isIndexScan)(e.child)
          case _ => false
        }, "history side of the uniqueness serve must read in place:\n" +
          p.queryExecution.executedPlan)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally for (t <- Seq("kix_spec", "kix_full");
        s <- Seq("_keys", "_meta"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("phash index: serve ≡ self-join restricted to probe×corpus, " +
      "banding guard fires, corpus side reads in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ext.Multimodal
    val d = Tables.load(spark, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
      .select(col("id"), col("dhash"))
    val corpus = hashes.filter(col("id") % 2 === 0)
    val probes = hashes.filter(col("id") % 2 === 1)
    IndexStore.writePhashIndexBucketed(corpus, "phx_spec",
      numBuckets = 8, bands = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      intercept[IllegalArgumentException] {
        IndexStore.readPhashIndexBucketed(spark, "phx_spec", bands = 4)
      }
      val idx = IndexStore.readPhashIndexBucketed(spark, "phx_spec",
        bands = 8)
      val served = Multimodal.phashNearDuplicatesAgainst(probes, idx,
        bands = 8, maxDist = 7)
      val got = served.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // reference: the self-join over ALL items, restricted to
      // (odd probe, even corpus) pairs, either orientation
      val all = Multimodal.phashNearDuplicates(hashes, bands = 8,
          maxDist = 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val ref = all.collect {
        case (a, b, h) if a % 2 == 1 && b % 2 == 0 => (a, b, h)
        case (a, b, h) if b % 2 == 1 && a % 2 == 0 => (b, a, h)
      }.toSet
      assert(got === ref, "served pairs must match the self-join answer")
      assert(got.nonEmpty, "perturbed twins must hit their sources")
      val all2 = flatten(served.queryExecution.executedPlan)
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case s: FileSourceScanExec =>
            s.tableIdentifier.exists(_.table == "phx_spec_bands")
          case _ => false
        }
      assert(all2.exists(isIndexScan),
        "serve must read the bucketed phash index")
      assert(!all2.exists {
        case e: ShuffleExchangeExec => rawBelow(isIndexScan)(e.child)
        case _ => false
      }, "banded corpus index must read in place below the serve join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      for (s <- Seq("_bands", "_meta"))
        spark.sql(s"DROP TABLE IF EXISTS phx_spec$s")
    }
  }

  test("edit index: d guard fires; every corpus table reads in place " +
      "below its serve join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("s"))
    val batch = corpus.select((col("id") + 70000L).as("id"),
      concat(substring(col("s"), 1, 9), lit("X"),
        col("s").substr(lit(11), length(col("s")))).as("s"))
    IndexStore.writeEditIndexBucketed(corpus, "edx_spec",
      numBuckets = 8, d = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      intercept[IllegalArgumentException] {
        IndexStore.readEditIndexBucketed(spark, "edx_spec", d = 2)
      }
      val (segs, str, bylen) = IndexStore.readEditIndexBucketed(spark,
        "edx_spec", d = 4)
      // the plan probe: identical join tree WITHOUT the scoped-cache
      // localCheckpoint that collapses the public frame to a LogicalRDD
      val served = graft.ext.Dedup.editDistanceAgainstPlan(batch, "id",
        col("s"), segs, str, bylen, d = 4)
      assert(served.count() > 0, "mutants must find their sources")
      val all = flatten(served.queryExecution.executedPlan)
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case s: FileSourceScanExec => s.tableIdentifier.exists(t =>
            t.table.startsWith("edx_spec"))
          case _ => false
        }
      assert(all.exists(isIndexScan), "serve must read the index tables")
      assert(!all.exists {
        case e: ShuffleExchangeExec => rawBelow(isIndexScan)(e.child)
        case _ => false
      }, "every edit-index table must read in place below its join:\n" +
        served.queryExecution.executedPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      for (s <- Seq("_segs", "_str", "_bylen", "_meta"))
        spark.sql(s"DROP TABLE IF EXISTS edx_spec$s")
    }
  }

  test("dedup index tombstones: excluded serve ≡ rebuild-without-" +
      "deleted ≡ post-purge serve; purge drops rows physically") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val probes = docs.select((col("id") + 900000L).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    IndexStore.writeDedupIndexBucketed(docs, "del_spec",
      numBuckets = 8, k = 5)
    IndexStore.writeDedupIndexBucketed(docs.filter(col("id") % 3 =!= 0),
      "del_ref", numBuckets = 8, k = 5)
    IndexStore.deleteFromDedupIndexBucketed(
      docs.filter(col("id") % 3 === 0).select("id"), "del_spec")
    try {
      def serve(table: String, excludeDead: Boolean)
          : Set[(Long, Long, Double)] = {
        val (sh, bands) = IndexStore
          .readDedupIndexBucketed(spark, table, k = 5)
        val r0 = graft.ext.Dedup.nearDuplicatesAgainstIndex(probes, sh,
          bands, threshold = 0.5, k = 5)
        val r = if (!excludeDead) r0
          else r0.join(IndexStore.readDedupDeadIds(spark, table)
            .select(col("id").as("corpus_id")), Seq("corpus_id"),
            "left_anti")
        r.select(col("new_id"), col("corpus_id"), col("jaccard"))
          .collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      }
      val ref = serve("del_ref", excludeDead = false)
      assert(serve("del_spec", excludeDead = true) === ref,
        "tombstone-excluded serve must equal rebuild-without-deleted")
      assert(ref.nonEmpty)
      IndexStore.purgeDedupIndexBucketed(spark, "del_spec")
      assert(!spark.catalog.tableExists("del_spec_dead"),
        "purge must clear the tombstone table")
      assert(spark.table("del_spec_sh")
        .filter(col("id") % 3 === 0).count() == 0 &&
        spark.table("del_spec_bands")
          .filter(col("id") % 3 === 0).count() == 0,
        "purge must drop deleted rows physically")
      assert(Bucketing.numBucketsOf(spark, "del_spec_bands") == 8,
        "bucket layout must survive the purge rewrite")
      assert(serve("del_spec", excludeDead = false) === ref,
        "post-purge serve needs no exclusion and keeps the answer")
    } finally for (t <- Seq("del_spec", "del_ref");
        s <- Seq("_sh", "_bands", "_meta", "_dead"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("substring index tombstones: excluded serve ≡ rebuild-without-" +
      "deleted ≡ post-purge serve; purge drops grams physically") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val probes = docs.select((col("id") + 900000L).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    IndexStore.writeSubstringIndexBucketed(docs, "sdel_spec",
      numBuckets = 8, k = 8)
    IndexStore.writeSubstringIndexBucketed(
      docs.filter(col("id") % 3 =!= 0), "sdel_ref", numBuckets = 8, k = 8)
    IndexStore.deleteFromSubstringIndexBucketed(
      docs.filter(col("id") % 3 === 0).select("id"), "sdel_spec")
    try {
      def serve(table: String, excludeDead: Boolean)
          : Set[(Long, Long, Long, Long, Long)] = {
        val grams = IndexStore.readSubstringIndexBucketed(spark, table,
          k = 8)
        val r0 = graft.ext.Dedup.sharedSubstringRunsAgainst(probes,
          grams, minRunLen = 20, k = 8)
        val r = if (!excludeDead) r0
          else r0.join(IndexStore.readSubstringDeadIds(spark, table)
            .select(col("id").as("corpus_id")), Seq("corpus_id"),
            "left_anti")
        r.select(col("new_id"), col("corpus_id"), col("n_runs"),
            col("max_run"), col("overlap_tokens"))
          .collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
            x.getLong(3), x.getLong(4))).toSet
      }
      val ref = serve("sdel_ref", excludeDead = false)
      assert(serve("sdel_spec", excludeDead = true) === ref,
        "tombstone-excluded serve must equal rebuild-without-deleted")
      assert(ref.nonEmpty)
      IndexStore.purgeSubstringIndexBucketed(spark, "sdel_spec")
      assert(!spark.catalog.tableExists("sdel_spec_dead"),
        "purge must clear the tombstone table")
      assert(spark.table("sdel_spec_grams")
        .filter(col("id") % 3 === 0).count() == 0,
        "purge must drop deleted grams physically")
      assert(Bucketing.numBucketsOf(spark, "sdel_spec_grams") == 8,
        "bucket layout must survive the purge rewrite")
      assert(serve("sdel_spec", excludeDead = false) === ref,
        "post-purge serve needs no exclusion and keeps the answer")
    } finally for (t <- Seq("sdel_spec", "sdel_ref");
        s <- Seq("_grams", "_meta", "_dead"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("edit index tombstones: excluded serve ≡ rebuild-without-" +
      "deleted ≡ post-purge serve across all three tables") {
    val corpus = Tables.load(spark, dir, "documents")
      .filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    val batch = corpus.select((col("id") + 900000L).as("id"),
      concat(substring(col("s"), 1, 9), lit("X"),
        col("s").substr(lit(11), length(col("s")))).as("s"))
    IndexStore.writeEditIndexBucketed(corpus, "edel_spec",
      numBuckets = 8, d = 4)
    IndexStore.writeEditIndexBucketed(corpus.filter(col("id") % 3 =!= 0),
      "edel_ref", numBuckets = 8, d = 4)
    IndexStore.deleteFromEditIndexBucketed(
      corpus.filter(col("id") % 3 === 0).select("id"), "edel_spec")
    try {
      def serve(table: String, excludeDead: Boolean)
          : Set[(Long, Long, Long)] = {
        val (segs, str, bylen) = IndexStore.readEditIndexBucketed(spark,
          table, d = 4)
        val r0 = graft.ext.Dedup.editDistanceAgainst(batch, "id",
          col("s"), segs, str, bylen, d = 4)
        val r = if (!excludeDead) r0
          else r0.join(IndexStore.readEditDeadIds(spark, table)
            .select(col("id").as("corpus_id")), Seq("corpus_id"),
            "left_anti")
        r.select(col("new_id"), col("corpus_id"), col("dist"))
          .collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      }
      val ref = serve("edel_ref", excludeDead = false)
      assert(serve("edel_spec", excludeDead = true) === ref,
        "tombstone-excluded serve must equal rebuild-without-deleted")
      assert(ref.nonEmpty)
      IndexStore.purgeEditIndexBucketed(spark, "edel_spec")
      assert(!spark.catalog.tableExists("edel_spec_dead"),
        "purge must clear the tombstone table")
      for (t <- Seq("_segs", "_str", "_bylen"))
        assert(spark.table(s"edel_spec$t")
          .filter(col("id") % 3 === 0).count() == 0,
          s"purge must drop deleted rows from $t physically")
      assert(Bucketing.numBucketsOf(spark, "edel_spec_segs") == 8,
        "bucket layout must survive the purge rewrite")
      assert(serve("edel_spec", excludeDead = false) === ref,
        "post-purge serve needs no exclusion and keeps the answer")
    } finally for (t <- Seq("edel_spec", "edel_ref");
        s <- Seq("_segs", "_str", "_bylen", "_meta", "_dead"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("phash index tombstones: excluded serve ≡ rebuild-without-" +
      "deleted ≡ post-purge serve; purge drops band rows physically") {
    val d = Tables.load(spark, dir, "documents")
    val hashes = graft.ext.Multimodal.perceptualHash(
      graft.ext.Multimodal.synthesizeNearDupImages(d, "doc_id",
        every = 5))
    val corpus = hashes.filter(col("id") % 2 === 0)
      .select(col("id"), col("dhash"))
    val probes = hashes.filter(col("id") % 2 === 1)
      .select(col("id"), col("dhash"))
    IndexStore.writePhashIndexBucketed(corpus, "pdel_spec",
      numBuckets = 8, bands = 8)
    IndexStore.writePhashIndexBucketed(corpus.filter(col("id") % 4 =!= 0),
      "pdel_ref", numBuckets = 8, bands = 8)
    IndexStore.deleteFromPhashIndexBucketed(
      corpus.filter(col("id") % 4 === 0).select("id"), "pdel_spec")
    try {
      def serve(table: String, excludeDead: Boolean)
          : Set[(Long, Long, Int)] = {
        val idx = IndexStore.readPhashIndexBucketed(spark, table,
          bands = 8)
        val r0 = graft.ext.Multimodal.phashNearDuplicatesAgainst(probes,
          idx, bands = 8, maxDist = 7)
        val r = if (!excludeDead) r0
          else r0.join(IndexStore.readPhashDeadIds(spark, table)
            .select(col("id").as("corpus_id")), Seq("corpus_id"),
            "left_anti")
        r.select(col("new_id"), col("corpus_id"), col("hamming"))
          .collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      }
      val ref = serve("pdel_ref", excludeDead = false)
      assert(serve("pdel_spec", excludeDead = true) === ref,
        "tombstone-excluded serve must equal rebuild-without-deleted")
      assert(ref.nonEmpty)
      IndexStore.purgePhashIndexBucketed(spark, "pdel_spec")
      assert(!spark.catalog.tableExists("pdel_spec_dead"),
        "purge must clear the tombstone table")
      assert(spark.table("pdel_spec_bands")
        .filter(col("id") % 4 === 0).count() == 0,
        "purge must drop deleted band rows physically")
      assert(Bucketing.numBucketsOf(spark, "pdel_spec_bands") == 8,
        "bucket layout must survive the purge rewrite")
      assert(serve("pdel_spec", excludeDead = false) === ref,
        "post-purge serve needs no exclusion and keeps the answer")
    } finally for (t <- Seq("pdel_spec", "pdel_ref");
        s <- Seq("_bands", "_meta", "_dead"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("a rebuild starts with no tombstones: delete, rebuild, and the " +
      "live ids are the rebuilt corpus for every _dead family") {
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < 40 && col("n_chars") <= 250)
    val toks = docs.select(col("doc_id").as("id"),
      graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val strs = docs.select(col("doc_id").as("id"), col("text").as("s"))
    val hashes = graft.ext.Multimodal.perceptualHash(
      graft.ext.Multimodal.synthesizeNearDupImages(docs, "doc_id",
        every = 5)).select(col("id"), col("dhash"))
    // (table, build, delete, the member holding every indexed id, dead ids)
    val families = Seq[(String, String => Unit,
        (org.apache.spark.sql.DataFrame, String) => Unit, String,
        String => org.apache.spark.sql.DataFrame)](
      ("rb_dedup", IndexStore.writeDedupIndexBucketed(toks, _,
        numBuckets = 4, k = 5), IndexStore.deleteFromDedupIndexBucketed,
        "_sh", IndexStore.readDedupDeadIds(spark, _)),
      ("rb_sub", IndexStore.writeSubstringIndexBucketed(toks, _,
        numBuckets = 4, k = 8), IndexStore.deleteFromSubstringIndexBucketed,
        "_grams", IndexStore.readSubstringDeadIds(spark, _)),
      ("rb_edit", IndexStore.writeEditIndexBucketed(strs, _,
        numBuckets = 4, d = 4), IndexStore.deleteFromEditIndexBucketed,
        "_str", IndexStore.readEditDeadIds(spark, _)),
      ("rb_phash", IndexStore.writePhashIndexBucketed(hashes, _,
        numBuckets = 4, bands = 8), IndexStore.deleteFromPhashIndexBucketed,
        "_bands", IndexStore.readPhashDeadIds(spark, _)))
    def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("id")).collect().map(_.getLong(0)).toSet
    try {
      val stale = families.filterNot { case (t, build, delete, member,
          dead) =>
        build(t)
        val corpus = idSet(spark.table(t + member))
        delete(spark.table(t + member).select("id").distinct().limit(3), t)
        assert(idSet(dead(t)).size == 3, t)
        build(t)
        val rebuilt = idSet(spark.table(t + member))
        rebuilt == corpus && rebuilt -- idSet(dead(t)) == corpus
      }.map(_._1)
      assert(stale.isEmpty,
        s"a rebuild must drop the replaced index's tombstones: $stale")
    } finally for (t <- families.map(_._1);
        s <- Seq("_sh", "_bands", "_grams", "_segs", "_str", "_bylen",
          "_meta", "_dead"))
      spark.sql(s"DROP TABLE IF EXISTS $t$s")
  }

  test("tiered compaction rewrites ONLY buckets over the file " +
      "threshold; untouched files byte-identical, serve invariant, " +
      "crashed attempts recover") {
    import java.io.File
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("n_chars"))
      .coalesce(1) // one writer partition → base = one file per bucket
    Bucketing.writeBucketed(docs, "tier_spec", Seq("id"), 8)
    try {
      // two single-row appends land one extra file each in exactly ONE
      // bucket (pmod(murmur3(id), 8) routing) — the hot-bucket shape
      val one = docs.limit(1)
      Bucketing.appendBucketed(one, "tier_spec", Seq("id"), 8)
      Bucketing.appendBucketed(one, "tier_spec", Seq("id"), 8)
      val loc = new File(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("tier_spec"))
        .location)
      def dataFiles(): Map[String, (Long, Long)] =
        Option(loc.listFiles()).get
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(f => f.getName ->
            (f.length(), f.lastModified())).toMap
      val before = dataFiles()
      val byBucket = before.keys.toSeq
        .groupBy(n => Bucketing.bucketIdOf(n).get)
      val hot = byBucket.filter(_._2.size >= 3)
      assert(hot.size == 1, s"exactly one hot bucket expected: $byBucket")
      val expected = spark.table("tier_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      Bucketing.compactBucketedTiered(spark, "tier_spec",
        minFilesPerBucket = 3)
      val after = dataFiles()
      // untouched buckets: same files, byte-identical (name+size+mtime)
      val untouchedBefore = before.filter { case (n, _) =>
        Bucketing.bucketIdOf(n).get != hot.head._1 }
      assert(after.filter { case (n, _) =>
        Bucketing.bucketIdOf(n).get != hot.head._1 } === untouchedBefore,
        "files of buckets under the threshold must not be rewritten")
      // hot bucket: merged to exactly one file
      assert(after.keys.count(n =>
        Bucketing.bucketIdOf(n).get == hot.head._1) == 1,
        "the hot bucket must merge to one file")
      // serve invariant (multiset)
      assert(spark.table("tier_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted === expected)
      assert(Bucketing.numBucketsOf(spark, "tier_spec") == 8)
      // the bucketed contract survives: groupBy on the key, no shuffle
      val agg = spark.table("tier_spec").groupBy("id")
        .agg(count(lit(1)).as("n"))
      agg.count()
      assert(agg.queryExecution.executedPlan
        .collect { case e: Exchange => e }.isEmpty)

      // ---- crash recovery: ABORT path (manifest + hidden + originals
      // all present → recovery drops the attempt, originals untouched)
      val anyData = after.keys.head
      val hidden = new File(loc, ".graftcompact-test1.tmp")
      java.nio.file.Files.write(hidden.toPath, "x".getBytes)
      val manifest = new File(loc, ".graftcompact-test1.manifest")
      java.nio.file.Files.write(manifest.toPath,
        Seq(hidden.getName, "part-00000-test1_00000.c000.snappy.parquet",
          anyData).mkString("\n").getBytes)
      Bucketing.recoverTiered(loc)
      assert(!hidden.exists() && !manifest.exists(),
        "abort recovery must drop the hidden file and manifest")
      assert(new File(loc, anyData).exists(),
        "abort recovery must leave originals untouched")

      // ---- crash recovery: COMPLETE path (an original already gone →
      // recovery reveals the merged file and deletes the rest)
      val victims = after.keys.filter(n =>
        Bucketing.bucketIdOf(n).get == hot.head._1).toSeq
      val mergedBytes = java.nio.file.Files.readAllBytes(
        new File(loc, victims.head).toPath)
      val hidden2 = new File(loc, ".graftcompact-test2.tmp")
      java.nio.file.Files.write(hidden2.toPath, mergedBytes)
      val vis2 = s"part-00000-test2_${"%05d".format(hot.head._1)}" +
        ".c000.snappy.parquet"
      val manifest2 = new File(loc, ".graftcompact-test2.manifest")
      java.nio.file.Files.write(manifest2.toPath,
        (Seq(hidden2.getName, vis2) ++ victims).mkString("\n").getBytes)
      victims.foreach(v => java.nio.file.Files.delete(
        new File(loc, v).toPath)) // the mid-delete crash state
      Bucketing.recoverTiered(loc)
      spark.catalog.refreshTable("tier_spec")
      assert(new File(loc, vis2).exists() && !hidden2.exists() &&
        !manifest2.exists(), "complete recovery must reveal the merge")
      assert(spark.table("tier_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted === expected,
        "content must survive the completed recovery")
    } finally spark.sql("DROP TABLE IF EXISTS tier_spec")
  }

  test("tiered compaction is valid for the key index: file-level only " +
      "(split rows survive), serve sums across them unchanged") {
    import graft.sources.IndexStore
    val orders = Tables.load(spark, dir, "orders").select("o_orderkey")
    val batch1 = orders.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") + 900000L).as("o_orderkey"))
    val batch2 = batch1.unionByName(
      orders.filter(col("o_orderkey") % 10 === 1).select("o_orderkey"))
    IndexStore.writeKeyIndexBucketed(orders, "ktier_spec",
      Seq("o_orderkey"), numBuckets = 8)
    try {
      // two appends of the same batch → split per-key rows AND
      // multi-file buckets, the state tiered compaction operates on
      IndexStore.appendKeyIndexBucketed(batch1, "ktier_spec",
        Seq("o_orderkey"))
      IndexStore.appendKeyIndexBucketed(batch1, "ktier_spec",
        Seq("o_orderkey"))
      def serve(): Set[(Long, Long, Long)] =
        graft.check.Checks.uniqueAgainstIndex(batch2,
            IndexStore.readKeyIndexBucketed(spark, "ktier_spec",
              Seq("o_orderkey")), Seq("o_orderkey"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val before = serve()
      val rowsBefore = spark.table("ktier_spec_keys").count()
      val filesBefore = Bucketing.dataFileCount(spark, "ktier_spec_keys")
      Bucketing.compactBucketedTiered(spark, "ktier_spec_keys",
        minFilesPerBucket = 2)
      assert(Bucketing.dataFileCount(spark, "ktier_spec_keys")
        < filesBefore, "tiered compaction must shrink the file count")
      // file-level ONLY: split LSM rows survive (row merging is
      // compactKeyIndexBucketed's job) — and the serve's sum-per-key
      // makes that invisible, which is exactly why file-level tiered
      // compaction is VALID for the key family
      assert(spark.table("ktier_spec_keys").count() == rowsBefore,
        "tiered compaction must not merge rows")
      assert(serve() === before,
        "the served answer must be invariant under tiered compaction")
      assert(before.exists { case (k, _, ne) => k > 900000L && ne == 2 },
        "split rows must still sum at serve time")
    } finally for (s <- Seq("_keys", "_meta"))
      spark.sql(s"DROP TABLE IF EXISTS ktier_spec$s")
  }

  test("every family's _meta guard fails loudly on read and append, " +
      "naming the table, and the refused append writes nothing") {
    import graft.ext.Multimodal
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 25 === 0)
    val toks = docs.select(col("doc_id").as("id"),
      graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val strs = docs.select(col("doc_id").as("id"), col("text").as("s"))
    val hashes = Multimodal.perceptualHash(
        Multimodal.synthesizeNearDupImages(docs, "doc_id", every = 5))
      .select(col("id"), col("dhash"))
    val keyed = docs.select("doc_id", "n_chars")
    // (table, members, build, read with a wrong parameter, append with
    // a wrong parameter)
    val families: Seq[(String, Seq[String], () => Unit, () => Any,
        () => Any)] = Seq(
      ("mm_dedup", Seq("_sh", "_bands"),
        () => IndexStore.writeDedupIndexBucketed(toks, "mm_dedup", 4),
        () => IndexStore.readDedupIndexBucketed(spark, "mm_dedup",
          bands = 8),
        () => IndexStore.appendDedupIndexBucketed(toks, "mm_dedup",
          k = 5)),
      ("mm_substr", Seq("_grams"),
        () => IndexStore.writeSubstringIndexBucketed(toks, "mm_substr", 4,
          k = 8),
        () => IndexStore.readSubstringIndexBucketed(spark, "mm_substr",
          k = 6),
        () => IndexStore.appendSubstringIndexBucketed(toks, "mm_substr",
          k = 6)),
      ("mm_edit", Seq("_segs", "_str", "_bylen"),
        () => IndexStore.writeEditIndexBucketed(strs, "mm_edit", 4, d = 3),
        () => IndexStore.readEditIndexBucketed(spark, "mm_edit", d = 2),
        () => IndexStore.appendEditIndexBucketed(strs, "mm_edit", d = 2)),
      ("mm_phash", Seq("_bands"),
        () => IndexStore.writePhashIndexBucketed(hashes, "mm_phash", 4,
          bands = 8),
        () => IndexStore.readPhashIndexBucketed(spark, "mm_phash",
          bands = 4),
        () => IndexStore.appendPhashIndexBucketed(hashes, "mm_phash",
          bands = 4)),
      ("mm_key", Seq("_keys"),
        () => IndexStore.writeKeyIndexBucketed(keyed, "mm_key",
          Seq("doc_id"), 4),
        () => IndexStore.readKeyIndexBucketed(spark, "mm_key",
          Seq("doc_id", "n_chars")),
        () => IndexStore.appendKeyIndexBucketed(keyed, "mm_key",
          Seq("doc_id", "n_chars"))))
    for ((table, members, build, badRead, badAppend) <- families)
      try {
        build()
        def counts = members.map(m => spark.table(table + m).count())
        val before = counts
        assert(before.forall(_ > 0), s"$table must be built non-empty")
        for ((op, call) <- Seq("read" -> badRead, "append" -> badAppend)) {
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains(s"at $table was built with"),
            s"$table $op: ${e.getMessage}")
        }
        assert(counts == before, s"$table: a refused append wrote rows")
      } finally for (m <- members :+ "_meta")
        spark.sql(s"DROP TABLE IF EXISTS $table$m")
  }

  test("bucketed aggregation on the bucket key skips the shuffle") {
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber")
    Bucketing.writeBucketed(li, "li_agg_b", Seq("l_orderkey"), 8)
    try {
      val agg = Bucketing.readBucketed(spark, "li_agg_b")
        .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      agg.count()
      val exchanges = agg.queryExecution.executedPlan
        .collect { case e: Exchange => e }
      assert(exchanges.isEmpty,
        "groupBy on the bucket key must not re-shuffle")
    } finally spark.sql("DROP TABLE IF EXISTS li_agg_b")
  }

  test("scratch sweep deletes dead-pid leftovers, keeps live-pid and " +
      "non-scratch entries") {
    import java.io.File
    import java.nio.file.Files
    val wh = new File(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    wh.mkdirs()
    val self = ProcessHandle.current().pid()
    // 999999 exceeds this kernel's default pid_max — never a live pid
    val dead = new File(wh, "graft_test_cafe_p999999")
    // bucketed-index shape: artifact suffix AFTER the pid segment —
    // the end-anchored original pattern missed every one of these
    val deadSfx = new File(wh, "graft_test_cafe_p999999_keys")
    val liveSfx = new File(wh, s"graft_test_cafe_p${self}_keys")
    val live = new File(wh, s"graft_test_cafe_p$self")
    val other = new File(wh, "not_graft_p999999")
    Seq(dead, deadSfx, liveSfx, live, other).foreach { d =>
      d.mkdirs()
      Files.writeString(new File(d, "part-0").toPath, "x")
    }
    val tmpIdx = new File(
      s"${System.getProperty("java.io.tmpdir")}/graft_index")
    tmpIdx.mkdirs()
    val deadIdx = new File(tmpIdx, "abc123_p999999")
    deadIdx.mkdirs()
    // streaming sinks leak the same way (round-13 ADVICE): dead-pid
    // dirs under graft_stream_sink must be swept, live-pid kept
    val tmpSink = new File(
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_sink")
    tmpSink.mkdirs()
    val deadSink = new File(tmpSink, "u1a2b3_p999999")
    deadSink.mkdirs()
    val liveSink = new File(tmpSink, s"u1a2b3_p$self")
    liveSink.mkdirs()
    try {
      Scratch.sweepNow(spark)
      assert(!dead.exists(), "dead-pid warehouse scratch must be swept")
      assert(!deadSfx.exists(),
        "dead-pid SUFFIXED index tables must be swept too")
      assert(live.exists(), "live-pid scratch must survive")
      assert(liveSfx.exists(), "live-pid suffixed scratch must survive")
      assert(other.exists(), "non-graft dirs are not ours to delete")
      assert(!deadIdx.exists(), "dead-pid index scratch must be swept")
      assert(!deadSink.exists(), "dead-pid stream sinks must be swept")
      assert(liveSink.exists(), "live-pid stream sinks must survive")
    } finally Seq(dead, deadSfx, liveSfx, live, other, deadIdx,
        deadSink, liveSink)
      .foreach { d =>
        Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        d.delete()
      }
  }
}
