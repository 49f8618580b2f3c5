package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The gen-manifest bucketed store's whole contract (round-15
  * directive #1): versioned appends with atomic multi-member commits,
  * partition-pruned exchange-free serve over any version, snapshot
  * isolation across compactions, size-tiered compaction that
  * references big generations untouched, CAS multi-writer safety, and
  * age-gated vacuum as the only deleter.
  */
class BucketedManifestSpec extends SparkSpec {

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def frame(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i % 13)).toDF("id", "v")
  }

  private def idSet(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("create/append: every commit is a version; time travel reads " +
      "exactly the committed generation sets; both members advance " +
      "atomically") {
    val fam = "bm_basic"
    val (a, b) = (s"${fam}_a", s"${fam}_b")
    try {
      BucketedManifest.create(spark, fam, Seq(
        (a, frame(0 until 10), Seq("id"), 4),
        (b, frame(100 until 110), Seq("id"), 4)))
      assert(BucketedManifest.currentVersion(spark, fam) === 1)
      val v2 = BucketedManifest.append(spark, fam, Seq(
        (a, frame(10 until 20)), (b, frame(110 until 120))))
      assert(v2 === 2, "an append IS a new version — no freeze step")
      assert(idSet(BucketedManifest.readVersion(spark, fam, a, 1))
        === (0L until 10L).toSet,
        "version 1 must be blind to the append")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 20L).toSet)
      assert(idSet(BucketedManifest.readVersion(spark, fam, b, 1))
        === (100L until 110L).toSet)
      assert(idSet(BucketedManifest.read(spark, fam, b))
        === (100L until 120L).toSet)
      assert(BucketedManifest.gensOf(spark, fam, a).size === 2)
    } finally BucketedManifest.drop(spark, fam, Seq(a, b))
  }

  test("a crashed append (generation written, no manifest) is " +
      "invisible to every reader and collected by ungated vacuum") {
    val fam = "bm_crash"
    val a = s"${fam}_a"
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 10), Seq("id"), 4)))
      // the crash: generation files land, the manifest link never ran
      frame(50 until 60).withColumn("gen", lit(99))
        .write.mode("append").partitionBy("gen")
        .bucketBy(4, "id").sortBy("id")
        .format("parquet").saveAsTable(a)
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 10L).toSet,
        "an un-manifested generation must be invisible")
      BucketedManifest.vacuum(spark, fam)
      assert(spark.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(a)).size === 1,
        "ungated vacuum must drop the orphan generation's partition")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 10L).toSet)
    } finally BucketedManifest.drop(spark, fam, Seq(a))
  }

  test("serve plan: the gen predicate is a partition filter (prunes " +
      "to the manifest's generations) and the bucket-key join over a " +
      "multi-generation version runs with no exchange on the store side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val fam = "bm_plan"
    val a = s"${fam}_a"
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 500), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq((a, frame(500 until 1000))))
      BucketedManifest.append(spark, fam, Seq((a, frame(1000 until 1500))))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // serve version 2 (gens 1+2 of 3): pruning must exclude gen 3
      val corpus = BucketedManifest.readVersion(spark, fam, a, 2)
      val probe = frame(0 until 1500).select(col("id"),
        col("v").as("pv"))
      val j = corpus.join(probe, Seq("id"))
      assert(j.count() === 1000)
      val all = flatten(j.queryExecution.executedPlan)
      val scan = all.collect { case s: FileSourceScanExec
        if s.tableIdentifier.exists(_.table.toLowerCase == a) => s }
      assert(scan.nonEmpty, "the serve join must scan the member table")
      assert(scan.head.partitionFilters.nonEmpty,
        "the gen predicate must reach the scan as a partition filter")
      assert(all.collect { case e: ShuffleExchangeExec
        if flatten(e.child).exists {
          case s: FileSourceScanExec =>
            s.tableIdentifier.exists(_.table.toLowerCase == a)
          case _ => false
        } => e }.isEmpty,
        "the store side must read in place — no exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      BucketedManifest.drop(spark, fam, Seq(a))
    }
  }

  test("compact: content invariant, one generation after, old version " +
      "still travels, a captured reader frame survives (snapshot " +
      "isolation), stale basedOn fails loudly") {
    val fam = "bm_compact"
    val a = s"${fam}_a"
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 10), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq((a, frame(10 until 20))))
      val captured = BucketedManifest.read(spark, fam, a)
      BucketedManifest.compact(spark, fam)
      assert(BucketedManifest.currentVersion(spark, fam) === 3)
      assert(BucketedManifest.gensOf(spark, fam, a).size === 1)
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 20L).toSet, "compaction must not change content")
      assert(idSet(captured) === (0L until 20L).toSet,
        "a frame captured before the compaction must still collect")
      assert(idSet(BucketedManifest.readVersion(spark, fam, a, 1))
        === (0L until 10L).toSet,
        "pre-compaction versions stay readable until vacuum")
      // Iceberg rewrite semantics: a compaction computed against a
      // version that is no longer the head must fail loudly
      BucketedManifest.append(spark, fam, Seq((a, frame(20 until 30))))
      intercept[java.util.ConcurrentModificationException] {
        BucketedManifest.compact(spark, fam, basedOn = 3)
      }
    } finally BucketedManifest.drop(spark, fam, Seq(a))
  }

  test("compactTiered merges only the small generations and " +
      "REFERENCES the big one untouched (its files not rewritten)") {
    val fam = "bm_tier"
    val a = s"${fam}_a"
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 5000), Seq("id"), 4))) // the big gen
      BucketedManifest.append(spark, fam, Seq((a, frame(5000 until 5050))))
      BucketedManifest.append(spark, fam, Seq((a, frame(5050 until 5100))))
      BucketedManifest.append(spark, fam, Seq((a, frame(5100 until 5150))))
      assert(!BucketedManifest.compactTiered(spark, fam, maxGens = 4),
        "at the cap: no compaction")
      val bigGen = BucketedManifest.gensOf(spark, fam, a, 1).head
      val bigDirs = spark.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(a),
        Some(Map("gen" -> bigGen.toString)))
      val bigFiles = bigDirs.flatMap(p =>
        Option(new java.io.File(new java.net.URI(p.location.toString)
          .getPath).listFiles()).get.filter(_.isFile)
          .map(f => f.getName -> f.lastModified())).toMap
      assert(BucketedManifest.compactTiered(spark, fam, maxGens = 2),
        "above the cap: compaction must run")
      val gens = BucketedManifest.gensOf(spark, fam, a)
      assert(gens.size === 2, "result must hold exactly maxGens gens")
      assert(gens.contains(bigGen),
        "the big generation must be referenced, not rewritten")
      val bigAfter = bigDirs.flatMap(p =>
        Option(new java.io.File(new java.net.URI(p.location.toString)
          .getPath).listFiles()).get.filter(_.isFile)
          .map(f => f.getName -> f.lastModified())).toMap
      assert(bigAfter === bigFiles,
        "the big generation's files must be byte-for-byte untouched")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 5150L).toSet, "tiered compaction content-invariant")
    } finally BucketedManifest.drop(spark, fam, Seq(a))
  }

  test("two concurrent appenders interleave safely: both generations " +
      "survive, versions linearize into a dense chain") {
    val fam = "bm_race"
    val a = s"${fam}_a"
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 10), Seq("id"), 4)))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = Seq(
        (10, 20), (20, 30), (30, 40), (40, 50)).map { case (lo, hi) =>
        new Thread(() =>
          try BucketedManifest.append(spark, fam,
            Seq((a, frame(lo until hi)))): Unit
          catch { case t: Throwable => errs.add(t): Unit })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent appends must not fail: " +
        s"${Option(errs.peek()).map(_.toString)}")
      assert(BucketedManifest.currentVersion(spark, fam) === 5,
        "four appends over v1 must linearize to v5")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 50L).toSet, "every appender's rows must survive")
    } finally BucketedManifest.drop(spark, fam, Seq(a))
  }

  test("versioned MinHash family on the manifest store: append IS the " +
      "freeze (as-of reads blind to later admissions); serve join " +
      "over the compacted current version reads the corpus in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val fam = "bm_dedup"
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      IndexStore.Dedup.versioned(fam, k = 5).write(docs, numBuckets = 8)
      val frozen =
        IndexStore.Dedup.versioned(fam).snapshot(spark)
      assert(frozen === 1, "a freeze is a pure metadata read")
      val v2 = IndexStore.Dedup.versioned(fam, k = 5)
        .append(docs.select((col("id") + 500000L).as("id"), col("toks")))
      assert(v2 === 2, "the append commits the next version atomically")
      val (shAsOf, _) = IndexStore
        .Dedup.versioned(fam, k = 5).readAsOf(spark, frozen)
      assert(shAsOf.count() === docs.count(),
        "the freeze point must be blind to the later admission")
      IndexStore.Dedup.versioned(fam).compact(spark)
      assert(BucketedManifest.currentVersion(spark, fam) === 3)
      assert(BucketedManifest.gensOf(spark, fam, s"${fam}_bands")
        .size === 1, "compaction merges to one generation")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val corpus = BucketedManifest.read(spark, fam, s"${fam}_bands")
        .select(col("id").as("corpus_id"), col("band"), col("bucket"))
      val batch = graft.ext.Dedup.bandAssignmentsFromShingles(
          docs.select((col("id") + 900000L).as("id"),
            graft.ext.Dedup.shingleHashesFromTokens(col("toks"), 5)
              .as("sh")),
          32, 16)
        .select(col("id").as("new_id"), col("band").as("band_n"),
          col("bucket").as("bucket_n"))
      val joined = batch.join(corpus,
        col("band_n") === col("band") &&
          col("bucket_n") === col("bucket"))
      assert(joined.count() > 0, "twin batch must hit corpus buckets")
      val all = flatten(joined.queryExecution.executedPlan)
      def isIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case s: FileSourceScanExec => s.tableIdentifier.exists(
            _.table.toLowerCase == s"${fam}_bands")
          case _ => false
        }
      assert(all.collect { case e: ShuffleExchangeExec
        if flatten(e.child).exists(isIndexScan) => e }.isEmpty,
        "the current version's corpus side must read in place")
      assert(all.exists(isIndexScan),
        "the join must read the member's bucketed catalog table")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      BucketedManifest.drop(spark, fam,
        Seq(s"${fam}_sh", s"${fam}_bands", s"${fam}_meta"))
    }
  }

  test("versioned substring family on the manifest store (round-16 " +
      "migration): append IS the freeze, as-of serve is blind to later " +
      "admissions, tiered merge references the big gram generation " +
      "untouched, and the serve join reads the grams in place") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val fam = "bm_substr"
    val gt = s"${fam}_grams"
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      IndexStore.Substring.versioned(fam, k = 5).write(docs, numBuckets = 8)
      val frozen =
        IndexStore.Substring.versioned(fam, k = 5).snapshot(spark)
      assert(frozen === 1, "the freeze is a pure metadata read")
      val baseGrams = IndexStore
        .Substring.versioned(fam, k = 5).read(spark).count()
      // two small delta commits over the big base generation
      def delta(off: Long, lo: Long, hi: Long) = docs
        .filter(col("id") >= lo && col("id") < hi)
        .select((col("id") + off).as("id"), col("toks"))
      assert(IndexStore.Substring.versioned(fam, k = 5)
        .append(delta(600000L, 0L, 20L)) === 2)
      assert(IndexStore.Substring.versioned(fam, k = 5)
        .append(delta(700000L, 20L, 40L)) === 3)
      assert(IndexStore.Substring.versioned(fam, k = 5)
        .readAsOf(spark, frozen).count() === baseGrams,
        "the frozen version must be blind to both admissions")
      // k-mismatch still fails loudly through the migration
      intercept[IllegalArgumentException] {
        IndexStore.Substring.versioned(fam, k = 7).read(spark)
      }
      // tiered: the big base generation must be referenced, not
      // rewritten (byte-untouched files), and content must not move
      val bigGen = BucketedManifest.gensOf(spark, fam, gt, 1).head
      val bigFiles = spark.sessionState.catalog.listPartitions(
          org.apache.spark.sql.catalyst.TableIdentifier(gt),
          Some(Map("gen" -> bigGen.toString)))
        .flatMap(p => Option(new java.io.File(
          new java.net.URI(p.location.toString).getPath).listFiles())
          .get.filter(_.isFile)
          .map(f => f.getName -> f.lastModified())).toMap
      val before = IndexStore
        .Substring.versioned(fam, k = 5).read(spark).count()
      assert(IndexStore.Substring.versioned(fam, k = 5)
        .maybeCompact(spark, maxGens = 2))
      assert(BucketedManifest.gensOf(spark, fam, gt).size === 2)
      assert(BucketedManifest.gensOf(spark, fam, gt).contains(bigGen),
        "the big gram generation must survive by reference")
      val bigAfter = spark.sessionState.catalog.listPartitions(
          org.apache.spark.sql.catalyst.TableIdentifier(gt),
          Some(Map("gen" -> bigGen.toString)))
        .flatMap(p => Option(new java.io.File(
          new java.net.URI(p.location.toString).getPath).listFiles())
          .get.filter(_.isFile)
          .map(f => f.getName -> f.lastModified())).toMap
      assert(bigAfter === bigFiles,
        "the big generation's files must be byte-for-byte untouched")
      assert(IndexStore.Substring.versioned(fam, k = 5).read(spark).count()
        === before, "tiered merge is content-invariant")
      // serve plan: the anchor join on h reads the gram member in
      // place (partition-pruned, zero store-side exchanges)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val grams = IndexStore
        .Substring.versioned(fam, k = 5).read(spark)
      val probes = graft.ext.Dedup.substringGrams(
          delta(900000L, 0L, 30L), "id", col("toks"), 5)
        .select(col("id").as("new_id"), col("pos").as("new_pos"),
          col("h"))
      val j = probes.join(grams, Seq("h"))
      assert(j.count() > 0, "probe grams must hit the corpus")
      val all = flatten(j.queryExecution.executedPlan)
      val scan = all.collect { case s: FileSourceScanExec
        if s.tableIdentifier.exists(_.table.toLowerCase == gt) => s }
      assert(scan.nonEmpty && scan.head.partitionFilters.nonEmpty,
        "the gen predicate must reach the gram scan as a partition filter")
      assert(all.collect { case e: ShuffleExchangeExec
        if flatten(e.child).exists {
          case s: FileSourceScanExec =>
            s.tableIdentifier.exists(_.table.toLowerCase == gt)
          case _ => false
        } => e }.isEmpty,
        "the gram side of the serve join must read in place")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      BucketedManifest.drop(spark, fam, Seq(gt, s"${fam}_meta"))
    }
  }

  test("versioned key index (LSM family): merge-compaction collapses " +
      "split rows and negated tombstones into the merged generation; " +
      "tiered merge is serve-invariant; history time-travels per commit") {
    val fam = "bm_key"
    val kt = s"${fam}_keys"
    try {
      val o = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "orders").select("o_orderkey")
      IndexStore.Key.versioned(fam, Seq("o_orderkey")).write(o, numBuckets = 4)
      // split rows: the %5 subset re-admitted; tombstones: the %7
      // subset fully deleted (incl. the %35 re-admissions)
      IndexStore.Key.versioned(fam, Seq("o_orderkey"))
        .append(o.filter(col("o_orderkey") % 5 === 0))
      IndexStore.Key.versioned(fam, Seq("o_orderkey"))
        .delete(o.filter(col("o_orderkey") % 7 === 0)
          .unionByName(o.filter(col("o_orderkey") % 35 === 0)))
      assert(BucketedManifest.currentVersion(spark, fam) === 3,
        "admissions AND tombstones are versioned commits")
      def totals(df: DataFrame): Map[Long, Long] = df
        .groupBy("o_orderkey").agg(sum("n").as("n"))
        .filter(col("n") =!= 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def live() = IndexStore
        .Key.versioned(fam, Seq("o_orderkey")).read(spark)
      val before = totals(live())
      assert(!before.keySet.exists(_ % 7 == 0),
        "fully-deleted keys must sum to zero pre-compaction")
      // the pre-delete history is still exactly recomputable
      assert(totals(IndexStore.Key.versioned(fam, Seq("o_orderkey"))
        .readAsOf(spark, 2)).keySet.exists(_ % 7 == 0),
        "version 2 (pre-tombstone) must still hold the %7 keys")
      IndexStore.Key.versioned(fam, Seq("o_orderkey")).compact(spark)
      assert(BucketedManifest.currentVersion(spark, fam) === 4)
      assert(totals(live()) === before, "merge-compaction serve-invariant")
      val physical = live()
      assert(physical.groupBy("o_orderkey").count()
        .filter(col("count") > 1).count() === 0,
        "split rows must be physically merged in the new generation")
      assert(physical.filter(col("o_orderkey") % 7 === 0).count() === 0,
        "zero-total keys must be physically gone in the new generation")
      // tiered cadence with the LSM merge: more appends, then merge
      // only the small generations — totals never move
      IndexStore.Key.versioned(fam, Seq("o_orderkey"))
        .append(o.filter(col("o_orderkey") % 11 === 0))
      IndexStore.Key.versioned(fam, Seq("o_orderkey"))
        .append(o.filter(col("o_orderkey") % 13 === 0))
      val want = totals(live())
      assert(IndexStore.Key.versioned(fam, Seq("o_orderkey"))
        .maybeCompact(spark, maxGens = 2))
      assert(BucketedManifest.gensOf(spark, fam, kt).size === 2)
      assert(totals(live()) === want, "tiered LSM merge serve-invariant")
    } finally
      BucketedManifest.drop(spark, fam, Seq(kt, s"${fam}_meta"))
  }

  test("every versioned family's _meta guard fails loudly on read and " +
      "append, naming the table, and the refused append commits nothing") {
    import graft.ext.Multimodal
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").filter(col("doc_id") % 25 === 0)
    val toks = docs.select(col("doc_id").as("id"),
      graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
    val strs = docs.select(col("doc_id").as("id"), col("text").as("s"))
    val hashes = Multimodal.perceptualHash(
        Multimodal.synthesizeNearDupImages(docs, "doc_id", every = 5))
      .select(col("id"), col("dhash"))
    val keyed = docs.select("doc_id", "n_chars")
    // (family, members, build, read with a wrong parameter, append
    // with a wrong parameter)
    val families: Seq[(String, Seq[String], () => Unit, () => Any,
        () => Any)] = Seq(
      ("bm_mm_dedup", Seq("_sh", "_bands"),
        () => IndexStore.Dedup.versioned("bm_mm_dedup").write(toks, 4),
        () => IndexStore.Dedup.versioned("bm_mm_dedup", numHashes = 16)
          .read(spark),
        () => IndexStore.Dedup.versioned("bm_mm_dedup", bands = 8)
          .append(toks)),
      ("bm_mm_substr", Seq("_grams"),
        () => IndexStore.Substring.versioned("bm_mm_substr", k = 8)
          .write(toks, 4),
        () => IndexStore.Substring.versioned("bm_mm_substr", k = 6).read(spark),
        () => IndexStore.Substring.versioned("bm_mm_substr", k = 6)
          .append(toks)),
      ("bm_mm_edit", Seq("_segs", "_str", "_bylen"),
        () => IndexStore.Edit.versioned("bm_mm_edit", d = 3).write(strs, 4),
        () => IndexStore.Edit.versioned("bm_mm_edit", d = 2).read(spark),
        () => IndexStore.Edit.versioned("bm_mm_edit", d = 2).append(strs)),
      ("bm_mm_phash", Seq("_bands"),
        () => IndexStore.Phash.versioned("bm_mm_phash", bands = 8)
          .write(hashes, 4),
        () => IndexStore.Phash.versioned("bm_mm_phash", bands = 4).read(spark),
        () => IndexStore.Phash.versioned("bm_mm_phash", bands = 4)
          .append(hashes)),
      ("bm_mm_key", Seq("_keys"),
        () => IndexStore.Key.versioned("bm_mm_key", Seq("doc_id"))
          .write(keyed, 4),
        () => IndexStore.Key.versioned("bm_mm_key", Seq("doc_id", "n_chars"))
          .read(spark),
        () => IndexStore.Key.versioned("bm_mm_key", Seq("doc_id", "n_chars"))
          .append(keyed)))
    for ((fam, members, build, badRead, badAppend) <- families)
      try {
        build()
        def counts = members.map(m => spark.table(fam + m).count())
        val before = counts
        assert(before.forall(_ > 0), s"$fam must be built non-empty")
        for ((op, call) <- Seq("read" -> badRead, "append" -> badAppend)) {
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains(s"at $fam was built with"),
            s"$fam $op: ${e.getMessage}")
        }
        assert(BucketedManifest.currentVersion(spark, fam) === 1,
          s"$fam: a refused append committed a version")
        assert(counts == before, s"$fam: a refused append wrote rows")
      } finally
        BucketedManifest.drop(spark, fam, members.map(fam + _) :+
          s"${fam}_meta")
  }

  test("attach: a fresh catalog re-derives the family from the " +
      "manifest chain and files alone — reads, time travel, new " +
      "commits, and the exchange-free plan all survive catalog loss") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val fam = "bm_attach"
    val (a, b) = (s"${fam}_a", s"${fam}_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      BucketedManifest.create(spark, fam, Seq(
        (a, frame(0 until 300), Seq("id"), 4),
        (b, frame(500 until 800), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq(
        (a, frame(300 until 400)), (b, frame(800 until 900))))
      val locA = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(a))
        .location.toString
      val locB = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(b))
        .location.toString
      val ddl = org.apache.spark.sql.types.StructType(
        spark.table(a).schema.filterNot(_.name == "gen")).toDDL
      // the catalog loses both entries (members are EXTERNAL — the
      // drop deletes no data; the manifests and files are the truth)
      spark.sql(s"DROP TABLE `$a`")
      spark.sql(s"DROP TABLE `$b`")
      BucketedManifest.attach(spark, fam, a, locA, ddl, Seq("id"), 4)
      BucketedManifest.attach(spark, fam, b, locB, ddl, Seq("id"), 4)
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 400L).toSet, "the re-attached member serves")
      assert(idSet(BucketedManifest.readVersion(spark, fam, b, 1))
        === (500L until 800L).toSet, "time travel survives re-attach")
      // new commits keep working on the re-derived entry
      BucketedManifest.append(spark, fam, Seq(
        (a, frame(400 until 450)), (b, frame(900 until 950))))
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 450L).toSet)
      // the declared spec still drives planning: zero exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val agg = BucketedManifest.read(spark, fam, a)
        .groupBy("id").agg(count(lit(1)).as("n"))
      agg.collect()
      assert(!flatten(agg.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ShuffleExchangeExec]),
        "bucket-key agg over the re-attached member must not shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      BucketedManifest.drop(spark, fam, Seq(a, b))
    }
  }

  test("addMember: the family grows a new member online — birth " +
      "version semantics (pre-birth time travel fails loudly for the " +
      "new member, keeps working for the old), later appends carry " +
      "all members atomically, re-adding fails loudly") {
    val fam = "bm_evolve"
    val (a, b) = (s"${fam}_a", s"${fam}_b")
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 100), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq((a, frame(100 until 200))))
      val birth = BucketedManifest.addMember(spark, fam, b,
        frame(500 until 600), Seq("id"), 4)
      assert(birth === 3, "the member's birth is its own version")
      assert(idSet(BucketedManifest.read(spark, fam, b))
        === (500L until 600L).toSet)
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 200L).toSet, "existing members untouched")
      // pre-birth versions: the old member travels, the new one
      // fails loudly (the manifest is truth — no backfill)
      assert(idSet(BucketedManifest.readVersion(spark, fam, a, 2))
        === (0L until 200L).toSet)
      intercept[IllegalArgumentException] {
        BucketedManifest.readVersion(spark, fam, b, 2).collect()
      }
      // later commits carry every member atomically
      val v4 = BucketedManifest.append(spark, fam, Seq(
        (a, frame(200 until 250)), (b, frame(600 until 650))))
      assert(v4 === 4)
      assert(idSet(BucketedManifest.read(spark, fam, b))
        === (500L until 650L).toSet)
      // compaction spans old and new members alike
      BucketedManifest.compact(spark, fam)
      assert(BucketedManifest.gensOf(spark, fam, b).size === 1)
      assert(idSet(BucketedManifest.read(spark, fam, b))
        === (500L until 650L).toSet)
      intercept[IllegalArgumentException] {
        BucketedManifest.addMember(spark, fam, b,
          frame(0 until 1), Seq("id"), 4)
      }
    } finally BucketedManifest.drop(spark, fam, Seq(a, b))
  }

  test("rollback publishes a prior version's line set by reference: " +
      "the head reverts, the bad commit stays time-travelable, later " +
      "appends continue from the rolled-back state, members evolved " +
      "after the target drop out of the head and come back") {
    val fam = "bm_rollback"
    val (a, b) = (s"${fam}_a", s"${fam}_b")
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 100), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq((a, frame(100 until 150))))
      BucketedManifest.addMember(spark, fam, b,
        frame(500 until 550), Seq("id"), 4): Unit // v3
      // the bad state: v4 poisons a, v5 retires b
      BucketedManifest.append(spark, fam, Seq((a, frame(150 until 160))))
      BucketedManifest.dropMember(spark, fam, b): Unit // v5
      val rb = BucketedManifest.rollback(spark, fam, 3)
      assert(rb === 6, "a rollback is an ordinary commit")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 150L).toSet,
        "the head must revert to v3's content for a")
      assert(idSet(BucketedManifest.read(spark, fam, b))
        === (500L until 550L).toSet,
        "the member retired after the target must come back")
      assert(idSet(BucketedManifest.readVersion(spark, fam, a, 4))
        === (0L until 160L).toSet,
        "the bad commit stays time-travelable for the audit trail")
      // later work continues from the rolled-back state
      BucketedManifest.append(spark, fam, Seq(
        (a, frame(200 until 210)), (b, frame(550 until 560))))
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === ((0L until 150L) ++ (200L until 210L)).toSet)
      // rolling back to a nonexistent / vacuumed version fails loudly
      intercept[IllegalArgumentException] {
        BucketedManifest.rollback(spark, fam, 99)
      }
      // after retention ages the poisoned versions out, the rolled-
      // back-to state still serves (its generations are referenced
      // by the current head, so vacuum keeps them)
      BucketedManifest.vacuum(spark, fam, retain = 1)
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === ((0L until 150L) ++ (200L until 210L)).toSet)
      intercept[IllegalArgumentException] {
        BucketedManifest.readVersion(spark, fam, a, 4).collect()
      }
    } finally BucketedManifest.drop(spark, fam, Seq(a, b))
  }

  test("dropMember retires a member as a pure manifest op: pre-drop " +
      "versions still serve it, current reads and appends reject it " +
      "loudly, purgeMember refuses while referenced and reclaims " +
      "after retention") {
    val fam = "bm_retire"
    val (a, b) = (s"${fam}_a", s"${fam}_b")
    try {
      BucketedManifest.create(spark, fam, Seq(
        (a, frame(0 until 100), Seq("id"), 4),
        (b, frame(500 until 600), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq(
        (a, frame(100 until 150)), (b, frame(600 until 650))))
      val dropV = BucketedManifest.dropMember(spark, fam, b)
      assert(dropV === 3)
      // the retired member: pre-drop versions travel, current fails
      assert(idSet(BucketedManifest.readVersion(spark, fam, b, 2))
        === (500L until 650L).toSet,
        "a time traveler must keep the retired member")
      intercept[IllegalArgumentException] {
        BucketedManifest.read(spark, fam, b).collect()
      }
      // appends reject the retired name (no silent resurrection) but
      // keep working for the survivors
      intercept[IllegalArgumentException] {
        BucketedManifest.append(spark, fam, Seq((b, frame(0 until 1))))
      }
      BucketedManifest.append(spark, fam, Seq((a, frame(150 until 200))))
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 200L).toSet)
      // purge refuses while any retained manifest references b
      intercept[IllegalArgumentException] {
        BucketedManifest.purgeMember(spark, fam, b)
      }
      BucketedManifest.vacuum(spark, fam, retain = 1)
      BucketedManifest.purgeMember(spark, fam, b)
      assert(!spark.catalog.tableExists(b),
        "purge reclaims the retired member's table")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 200L).toSet, "survivors unaffected by the purge")
      // dropping the last member is refused — that is family deletion
      intercept[IllegalArgumentException] {
        BucketedManifest.dropMember(spark, fam, a)
      }
    } finally BucketedManifest.drop(spark, fam, Seq(a, b))
  }

  test("committer seam: the put committer (object-store discipline — " +
      "fresh byte puts at final names, zero renames) yields the same " +
      "content, bucket-file layout, and exchange-free plan as the " +
      "default rename committer, through append, tiered compact, " +
      "and vacuum") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (famR, famP) = ("bm_cmt_r", "bm_cmt_p")
    val (ar, ap) = (s"${famR}_a", s"${famP}_a")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def build(fam: String, a: String): Unit = {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 500), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq((a, frame(500 until 600))))
      BucketedManifest.append(spark, fam, Seq((a, frame(600 until 700))))
      assert(BucketedManifest.compactTiered(spark, fam, maxGens = 2))
    }
    // per-generation multiset of bucket ids parsed from the final
    // file names — the layout observable the serve contract rides on
    def layout(fam: String, a: String): Seq[Seq[Int]] =
      BucketedManifest.gensOf(spark, fam, a).sorted.map { g =>
        spark.sessionState.catalog.listPartitions(
            org.apache.spark.sql.catalyst.TableIdentifier(a),
            Some(Map("gen" -> g.toString)))
          .flatMap(p => Option(new java.io.File(
            new java.net.URI(p.location.toString).getPath).listFiles())
            .get.filter(_.isFile).toSeq
            .flatMap(f => Bucketing.bucketIdOf(f.getName)))
          .sorted
      }
    try {
      build(famR, ar)
      spark.conf.set("spark.graft.genCommitter", "put")
      build(famP, ap)
      assert(idSet(BucketedManifest.read(spark, famP, ap))
        === (0L until 700L).toSet,
        "the put-committed family must serve the full content")
      assert(layout(famP, ap) === layout(famR, ar),
        "both committers must land identical bucket-file layouts")
      // birth goes through the seam too (round-17 directive #3):
      // generation 1 was published by the committer, not by Spark's
      // table committer — the member directory holds ONLY generation
      // dirs, no _SUCCESS/_temporary debris and no leftover staging
      val apDir = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(ap))
          .location.toString).getPath)
      assert(apDir.listFiles().map(_.getName).forall(_.startsWith("gen=")),
        "a put-born member dir must contain only generation dirs — " +
          "table birth rides the committer seam, not saveAsTable")
      // time travel and vacuum behave identically on put-built gens
      assert(idSet(BucketedManifest.readVersion(spark, famP, ap, 1))
        === (0L until 500L).toSet)
      BucketedManifest.vacuum(spark, famP, retain = 1)
      assert(idSet(BucketedManifest.read(spark, famP, ap))
        === (0L until 700L).toSet)
      // the serve contract survives: bucket-key agg, zero exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val agg = BucketedManifest.read(spark, famP, ap)
        .groupBy("id").agg(count(lit(1)).as("n"))
      agg.collect()
      assert(!flatten(agg.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ShuffleExchangeExec]),
        "bucket-key agg over the put-committed member must not shuffle")
      // unknown committer names fail loudly before any bytes move
      spark.conf.set("spark.graft.genCommitter", "mystery")
      intercept[IllegalArgumentException] {
        BucketedManifest.append(spark, famP,
          Seq((ap, frame(700 until 710))))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.graft.genCommitter")
      BucketedManifest.drop(spark, famR, Seq(ar))
      BucketedManifest.drop(spark, famP, Seq(ap))
    }
  }

  test("vacuum collects unregistered on-disk generation directories " +
      "(crash between the generation write and ADD PARTITION) and " +
      "never reuses an in-flight appender's number: a stale claim " +
      "survives as long as its generation directories exist") {
    val fam = "bm_vac_orphan"
    val a = s"${fam}_a"
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 10), Seq("id"), 4)))
      val meta = BucketedManifest.metaDir(spark, fam)
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(a)).location
      val tableDir =
        if (loc.getScheme == null) new java.io.File(loc.toString)
        else new java.io.File(loc)
      // the crash: claim taken, generation files landing on disk, but
      // neither ADD PARTITION nor a manifest commit ever ran — the
      // generation is invisible AND unregistered
      val claim = new java.io.File(meta, "g-000077")
      java.nio.file.Files.createDirectory(claim.toPath)
      val genDir = new java.io.File(tableDir, "gen=77")
      assert(genDir.mkdirs())
      java.nio.file.Files.write(new java.io.File(genDir,
        "part-00000-crashed_00001.snappy.parquet").toPath,
        Array[Byte](1, 2, 3))
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 10L).toSet,
        "the unregistered generation must be invisible to readers")
      // crashed rename-committer staging: an aged one is debris, a
      // fresh one may be a live writer's staging write
      val stagingOld = new java.io.File(tableDir, ".gen=88.staging-x")
      val stagingNew = new java.io.File(tableDir, ".gen=89.staging-y")
      assert(stagingOld.mkdirs() && stagingNew.mkdirs())
      assert(stagingOld.setLastModified(
        System.currentTimeMillis() - 86400000L))
      // the claim went stale (an append can outlive orphanMinAgeMs)
      // but its generation directory is FRESH: the gated vacuum must
      // keep both — deleting the claim would let claimGen reuse 77
      // and clobber the in-flight write
      assert(claim.setLastModified(
        System.currentTimeMillis() - 86400000L))
      BucketedManifest.vacuum(spark, fam, retain = 1,
        orphanMinAgeMs = 3600000L)
      assert(genDir.exists(),
        "young unregistered generation dirs survive the gated vacuum")
      assert(claim.exists(),
        "a stale claim with live generation dirs must survive")
      assert(!stagingOld.exists(),
        "aged crashed staging is collected even under the gate")
      assert(stagingNew.exists(),
        "young staging may be a live writer's and survives the gate")
      // quiesced (ungated) vacuum reclaims the on-disk directory the
      // catalog never registered, and with it the claim
      BucketedManifest.vacuum(spark, fam, retain = 1)
      assert(!genDir.exists(),
        "ungated vacuum must collect the unregistered generation dir")
      assert(!claim.exists(),
        "once its directories are gone the stale claim goes too")
      assert(!stagingNew.exists(),
        "ungated (quiesced) vacuum collects remaining staging too")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 10L).toSet)
    } finally BucketedManifest.drop(spark, fam, Seq(a))
  }

  test("law: any op sequence (append / addMember / dropMember / " +
      "compact / compactTiered / rollback) ≡ an in-memory fold of the " +
      "same ops, at EVERY committed version — content per member and " +
      "loud failure for members absent from that version's manifest; " +
      "a checkpointed vacuum then preserves the retained fold exactly") {
    // Seeded model-based testing: the store is driven through a
    // random op sequence while a trivial in-memory model (member →
    // id set, plus the full per-version history) folds the same ops;
    // at the end every committed version is read back and compared.
    // Three fixed seeds keep the test deterministic and shrink-free.
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val fam = s"bm_law_$seed"
      var names = Vector(s"${fam}_m0")
      var nextId = 0L
      def take(n: Int): Range = {
        val r = nextId.toInt until (nextId.toInt + n)
        nextId += n; r
      }
      var added = 0
      try {
        val init = take(50)
        BucketedManifest.create(spark, fam,
          Seq((names.head, frame(init), Seq("id"), 4)))
        var state = Map(names.head -> init.map(_.toLong).toSet)
        // history(v-1) = expected member→ids at version v
        var history = Vector(state)
        for (_ <- 0 until 6) rnd.nextInt(6) match {
          case 0 => // append to a random nonempty member subset
            val targets = names.filter(_ => rnd.nextBoolean()) match {
              case Vector() => Vector(names(rnd.nextInt(names.size)))
              case ts => ts
            }
            val deltas = targets.map { t => (t, take(20)) }
            BucketedManifest.append(spark, fam,
              deltas.map { case (t, r) => (t, frame(r)) }): Unit
            state = deltas.foldLeft(state) { case (s, (t, r)) =>
              s.updated(t, s(t) ++ r.map(_.toLong)) }
            history :+= state
          case 1 => // grow the family
            added += 1
            val t = s"${fam}_m$added"
            val r = take(30)
            BucketedManifest.addMember(spark, fam, t, frame(r),
              Seq("id"), 4): Unit
            names :+= t
            state += (t -> r.map(_.toLong).toSet)
            history :+= state
          case 2 if names.size >= 2 => // retire a random member
            val t = names(rnd.nextInt(names.size))
            BucketedManifest.dropMember(spark, fam, t): Unit
            names = names.filterNot(_ == t)
            state -= t
            history :+= state
          case 3 =>
            BucketedManifest.compact(spark, fam)
            history :+= state // content-invariant, one version
          case 4 => // rollback to a random committed version
            val target = 1 + rnd.nextInt(history.size)
            BucketedManifest.rollback(spark, fam, target): Unit
            state = history(target - 1)
            names = state.keySet.toVector.sorted
            history :+= state
          case _ =>
            // cadence predicate is spec'd elsewhere; here the model
            // just mirrors whether the store committed a version
            if (BucketedManifest.compactTiered(spark, fam, maxGens = 2))
              history :+= state
        }
        assert(BucketedManifest.currentVersion(spark, fam)
          === history.size, s"seed $seed: version chain length")
        for (v <- 1 to history.size) {
          val expect = history(v - 1)
          expect.foreach { case (t, ids) =>
            assert(idSet(BucketedManifest.readVersion(spark, fam, t, v))
              === ids, s"seed $seed: member $t at version $v")
          }
          // members outside this version's manifest must fail loudly
          // (not yet born, or already retired at that version)
          ((0 to added).map(i => s"${fam}_m$i").toSet
              -- expect.keySet).foreach { t =>
            intercept[IllegalArgumentException] {
              BucketedManifest.readVersion(spark, fam, t, v).collect()
            }
          }
        }
        // CHECKPOINT epilogue (round-17 #1): vacuum to a 2-version
        // window — the floor advances past the expired history — and
        // the retained versions still fold to the model's state,
        // while pre-floor versions now fail loudly like any vacuumed
        // history. checkpoint() is idempotent on the vacuumed chain.
        val cur = history.size
        if (cur >= 2) {
          BucketedManifest.vacuum(spark, fam, retain = 2)
          val fl = BucketedManifest.floor(spark, fam)
          assert(fl === math.max(1, cur - 1),
            s"seed $seed: vacuum checkpoints the floor")
          assert(BucketedManifest.checkpoint(spark, fam) === fl,
            s"seed $seed: checkpoint is idempotent after vacuum")
          for (v <- fl to cur; (t, ids) <- history(v - 1))
            assert(idSet(BucketedManifest.readVersion(spark, fam, t, v))
              === ids, s"seed $seed: member $t at version $v " +
                "after checkpointed vacuum")
          for (v <- 1 until fl)
            intercept[IllegalArgumentException] {
              BucketedManifest.readVersion(spark, fam,
                history(v - 1).keySet.head, v).collect()
            }
        }
      } finally BucketedManifest.drop(spark, fam,
        names ++ (0 to added).map(i => s"${fam}_m$i"))
    }
  }

  test("vacuum honors retention and the age gate; time travel to a " +
      "vacuumed version fails loudly; the live version is untouched") {
    val fam = "bm_vac"
    val a = s"${fam}_a"
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 10), Seq("id"), 4)))
      BucketedManifest.append(spark, fam, Seq((a, frame(10 until 20))))
      BucketedManifest.compact(spark, fam) // v3, gens 1+2 unreferenced
      // age gate: young unreferenced generations survive
      BucketedManifest.vacuum(spark, fam, retain = 1,
        orphanMinAgeMs = 3600000L)
      assert(spark.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(a)).size === 3,
        "gated vacuum must keep young unreferenced generations")
      // ungated (quiesced) vacuum reclaims them
      BucketedManifest.vacuum(spark, fam, retain = 1)
      assert(spark.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(a)).size === 1,
        "ungated vacuum must drop unreferenced generations")
      intercept[IllegalArgumentException] {
        BucketedManifest.readVersion(spark, fam, a, 1).collect()
      }
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 20L).toSet, "the live version survives vacuum")
    } finally BucketedManifest.drop(spark, fam, Seq(a))
  }

  test("checkpoint: vacuum advances the manifest FLOOR so whole-chain " +
      "metadata walks read O(retained), not O(all-time) — purgeMember " +
      "and attach stay green on a chain whose pre-checkpoint manifests " +
      "were vacuumed, and provably never read below the floor") {
    val fam = "bm_ckpt"
    val (a, b) = (s"${fam}_a", s"${fam}_b")
    try {
      BucketedManifest.create(spark, fam,
        Seq((a, frame(0 until 50), Seq("id"), 4)))           // v1
      BucketedManifest.append(spark, fam,
        Seq((a, frame(50 until 80)))): Unit                  // v2
      BucketedManifest.addMember(spark, fam, b,
        frame(500 until 550), Seq("id"), 4): Unit            // v3
      BucketedManifest.append(spark, fam,
        Seq((a, frame(80 until 90)), (b, frame(550 until 560)))): Unit // v4
      BucketedManifest.dropMember(spark, fam, b): Unit       // v5
      BucketedManifest.append(spark, fam,
        Seq((a, frame(90 until 100)))): Unit                 // v6
      assert(BucketedManifest.floor(spark, fam) === 1,
        "a fresh chain's floor is version 1")
      // b is still referenced by retained manifests — purge refuses
      BucketedManifest.vacuum(spark, fam, retain = 4)
      assert(BucketedManifest.floor(spark, fam) === 3,
        "vacuum checkpoints the chain to the retention window")
      intercept[IllegalArgumentException] {
        BucketedManifest.purgeMember(spark, fam, b)
      }
      // tighter retention ages b's manifests out; the floor advances
      BucketedManifest.vacuum(spark, fam, retain = 1)
      assert(BucketedManifest.floor(spark, fam) === 6)
      assert(BucketedManifest.checkpoint(spark, fam) === 6,
        "checkpoint is idempotent once vacuum advanced the floor")
      // the O(retained) pin: plant a GARBAGE manifest file below the
      // floor — a walk that still scanned from version 1 would read
      // it and fail parsing; the floor-based walks never look there
      val meta = BucketedManifest.metaDir(spark, fam)
      java.nio.file.Files.write(
        new java.io.File(meta, "manifest-000002").toPath,
        "not a manifest line\n".getBytes("UTF-8")): Unit
      BucketedManifest.purgeMember(spark, fam, b)
      assert(!spark.catalog.tableExists(b),
        "purge reclaims the retired member after checkpointed vacuum")
      // attach on the checkpointed chain: the catalog loses the live
      // member; re-derivation reads floor..current only
      val locA = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(a))
        .location.toString
      val ddl = org.apache.spark.sql.types.StructType(
        spark.table(a).schema.filterNot(_.name == "gen")).toDDL
      spark.sql(s"DROP TABLE `$a`")
      BucketedManifest.attach(spark, fam, a, locA, ddl, Seq("id"), 4)
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 100L).toSet,
        "attach re-derives the member from the checkpointed chain")
      // a lagging floor (crash between deletion and advance) is
      // closed by the standalone checkpoint in O(lag) probes
      java.nio.file.Files.delete(
        new java.io.File(meta, "manifest-000002").toPath)
      java.nio.file.Files.delete(
        new java.io.File(meta, "FLOOR").toPath)
      assert(BucketedManifest.floor(spark, fam) === 1,
        "losing the hint only lags the floor — never wrong data")
      assert(BucketedManifest.checkpoint(spark, fam) === 6,
        "checkpoint re-derives the floor from manifest existence")
      assert(idSet(BucketedManifest.read(spark, fam, a))
        === (0L until 100L).toSet)
    } finally BucketedManifest.drop(spark, fam, Seq(a, b))
  }
}
