package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.check.Checks
import graft.CoreQueries._
import graft.oracle.Fixtures.{t, docsWithCopies, docsWithTwins, docsV2,
  skewedDocs, FunnelSteps, LangmixPlanted, IncrementalTwinOffset,
  SplitWeights, MixFractions, Bm25Terms, ZipfBm25Terms, PprSeeds}
import graft.ext.{Behavior, Cdc, Dedup, Joins, Linkage, Multimodal,
  Privacy, Reconcile, Sampling, Sessions, Similarity, Sketches,
  TextAnalysis}
import graft.parse.Parsers
import graft.schema.{Constraints, Field}
import graft.sources.{IndexStore, VersionedFlat}
import graft.streaming.StreamingValidate

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (parsers P1–P9, constraints C1–C8,
  * keys K1–K3) plus the §7.6 extensions gets a `queries` entry over the
  * harness parquet tables and, when SQL-expressible, a DuckDB `oracleSql`
  * twin. Queries are written non-empty on clean data (checks run against
  * deliberately degraded views where the real check would trivially pass)
  * and deterministic (explicit ORDER BY; aggregate/computed columns
  * aliased identically in Spark and SQL).
  */
object SparkEntry {


  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full E1 validation of the star-schema package — one row per
    * executed check (SURVEY.md §3 E1).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val report = Validate.validateTyped(
      Tables.loadAll(spark, dir), Tables.starSchema)
    Validate.reportDF(spark, report)
  }

  // ------------------------------------------------------- §7.6 extensions
  /** Rolling per-user features (Features.trailing): every event
    * annotated with its user's trailing-1-hour event count and exact
    * cent-sum. Key-partitioned value-range window — per-key history
    * partitions, integer-exact frame sums.
    */
  private def xFeatureRolling(s: SparkSession, dir: String): DataFrame =
    graft.ext.Features.trailing(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("value")),
        "user_id", unix_micros(col("ts")),
        floor(col("value") * 100).cast("long"), 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("n_trail"),
        col("sum_trail"))
      .orderBy("event_id")

  /** Mixed-language detection (TextAnalysis.langHalves): per-doc
    * language ID of each token-stream half plus the agreement flag;
    * documents plus one planted EN+ES concatenation that must come out
    * inconsistent.
    */
  private def xTextLangmix(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val planted = d.sparkSession.range(1).select(
      lit(5000000L).as("doc_id"), lit(LangmixPlanted).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(planted)
      .select(col("doc_id"),
        TextAnalysis.langHalves(col("text")).as("lh"))
      .select(col("doc_id"),
        col("lh.lang_a").as("lang_a"), col("lh.lang_b").as("lang_b"),
        (col("lh.lang_a") === col("lh.lang_b")).as("consistent"))
      .orderBy("doc_id")
  }

  /** Char-bigram entropy (TextAnalysis.charBigramEntropy): per-doc
    * Shannon entropy in nats via the native one-pass `array_entropy` —
    * documents plus one planted low-entropy spam row ("ha ha ha …"),
    * which must score far below the prose. Deterministic double fold
    * (sorted key order) keeps the raw doubles hash-comparable.
    */
  private def xTextEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val spam = d.sparkSession.range(1).select(
      lit(4000000L).as("doc_id"),
      lit(("ha " * 40).trim).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(spam)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"),
        TextAnalysis.charBigramEntropy(col("text")).as("entropy"))
      .orderBy("doc_id")
  }

  /** Normalized dedup (TextAnalysis.normalizedHash): documents plus
    * case/punctuation-mangled copies (upper-cased, " !!" appended) of
    * the first 50 — byte-exact hashing can NOT group these; the
    * canonicalized key recovers exactly the 50 mangled pairs at
    * exact-dedup cost (one hash-agg on the 48-bit key).
    */
  private def xTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val mangled = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(upper(col("text")), lit(" !!")).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(mangled)
      .groupBy(TextAnalysis.normalizedHash(col("text")).as("norm_hash"))
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .filter(col("n_members") > 1)
      .orderBy("norm_hash")
  }

  /** Exact dedup: full-content-hash groups over documents + copies. */
  private def xDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(docsWithCopies(s, dir), "text")
      .orderBy("content_hash")

  /** Normalized-key (first-3-token prefix) duplicate clusters. */
  private def xDedupPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixDupGroups(t(s, dir, "documents"), "text", 3)
      .orderBy("prefix_key")

  /** n-gram Jaccard similarity: each doc vs its 80 %-token-prefix twin —
    * exact word-3-gram overlap, integer-count division (engine-exact).
    */
  private def xDedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = TextAnalysis.tokens(col("text"))
    val twin = concat_ws(" ",
      slice(toks, lit(1), floor(size(toks) * 0.8).cast("int")))
    d.select(col("doc_id"), col("text"), twin.as("twin"))
      .filter(size(TextAnalysis.tokens(col("text"))) >= 10)
      .select(col("doc_id"),
        Dedup.jaccard(col("text"), col("twin"), 3).as("jaccard"))
      .orderBy("doc_id")
  }

  /** Containment (|sub ∩ sup| / |sub| over word-3-gram sets): each
    * doc's 50%-token-prefix twin vs the full doc. The prefix's shingles
    * are a subset of the doc's, so containment reads ≈1 while Jaccard
    * (reported alongside) sits near 0.5 — the asymmetric quote/excerpt
    * detector that symmetric thresholds miss. Integer-count division,
    * engine-exact.
    */
  private def xDedupContainment(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = TextAnalysis.tokens(col("text"))
    val twin = concat_ws(" ",
      slice(toks, lit(1), floor(size(toks) * 0.5).cast("int")))
    d.select(col("doc_id"), col("text"), twin.as("twin"))
      .filter(size(TextAnalysis.tokens(col("text"))) >= 10)
      .select(col("doc_id"),
        Dedup.containment(col("twin"), col("text"), 3).as("containment"),
        Dedup.jaccard(col("twin"), col("text"), 3).as("jaccard"))
      .orderBy("doc_id")
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard ≥ 0.5 over
    * documents + 80%-prefix twins. Portable hashing (md5-prefix +
    * universal-hash permutations) — fully oracle-checked in DuckDB.
    * Tokenizes each document ONCE; twins are token-array slices.
    */
  private def xDedupMinhash(s: SparkSession, dir: String): DataFrame =
    // k=5 shingles: with a small vocabulary, 3-grams collide across
    // unrelated docs (quadratic candidate blowup); 5-grams keep the
    // prefix-twin jaccard ≈ 0.8 while unrelated pairs drop to ~0
    Dedup.nearDuplicatesFromTokens(docsWithTwins(s, dir),
        threshold = 0.5, k = 5)
      .orderBy("id_a", "id_b")

  /** Transitive near-dup clusters: the x_dedup_minhash pair set closed
    * under connectivity — each member id mapped to its component's min
    * id (the canonical survivor). Iterative min-label propagation on
    * the engine side; recursive-CTE reachability closure in the oracle.
    */
  private def xDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(
        Dedup.nearDuplicatesFromTokens(docsWithTwins(s, dir),
          threshold = 0.5, k = 5))
      .orderBy("id")

  /** SimHash-48 document sketches (portable bit math — oracle-checked).
    * Two-step projection so the bit-count aggregate materializes once
    * per doc.
    */
  private def xDedupSimhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), Dedup.simhashBitCounts(col("text")).as("p"))
      .select(col("doc_id"), Dedup.simhashFinish(col("p")).as("simhash"))
      .orderBy("doc_id")

  /** Canonical-record dedup: earliest event per (user, type) — the
    * deterministic dropDuplicates replacement (survivor = min ts, not
    * partition luck).
    */
  private def xDedupKeepFirst(s: SparkSession, dir: String): DataFrame =
    Dedup.keepEarliest(t(s, dir, "events"), Seq("user_id", "event_type"),
      "ts").orderBy("user_id", "event_type")

  /** Embedding-cosine near-dup canonicalization: each vector with a
    * cosine-≥-threshold LSH partner maps to its smallest such partner.
    */
  private def xDedupEmbed(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCanonical(t(s, dir, "embeddings"), nPlanes = 8,
      threshold = 0.3).orderBy("dup_id")

  /** SemDeDup-style semantic dedup under the oracle-checkable first-N
    * quantizer: nearest-centroid clusters, within-cluster cosine >=
    * 0.35, canonical = smallest same-cluster partner. (The synthetic
    * embeddings are near-orthogonal — max pairwise cosine ~0.51 — so
    * the threshold sits below that; its nearest actual sim is 3.6e-4
    * away, far beyond cross-engine float noise.)
    */
  private def xDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Dedup.semanticCanonical(e,
      graft.ext.Similarity.firstIdCentroids(e, nLists = 16),
      threshold = 0.35).orderBy("dup_id")
  }

  /** Linear quality-classifier stage: fixed-weight linear score over
    * rational text features (raw score, not sigmoid — monotone-
    * equivalent and engine-exact), thresholded at 0.9 (nearest actual
    * score 7.7e-4 away).
    */
  private def xTextClassifier(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      round(TextAnalysis.qualityClassifierScore(col("text")), 6)
        .as("score"),
      (TextAnalysis.qualityClassifierScore(col("text")) >= 0.9)
        .as("label"))
      .orderBy("doc_id")

  /** Corpus-overlap screen via mergeable MinHash sketches: even-id vs
    * odd-id documents (shared soup vocabulary → moderate overlap
    * estimate), constant-size comparison at any corpus size.
    */
  private def xDedupCorpusSim(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    Dedup.corpusSimilarity(
      base.filter(col("id") % 2 === 0), base.filter(col("id") % 2 === 1),
      numHashes = 32, k = 3)
  }

  /** All source-pair overlap estimates in one pass (the "which crawl
    * snapshots duplicate each other" matrix): per-source corpus
    * sketches from one groupBy, then the matching-slots estimator on
    * sketch rows only — |sources|² output, corpus scanned once.
    */
  private def xDedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("source"),
      TextAnalysis.tokens(col("text")).as("toks"))
    Dedup.corpusSimilarityMatrix(base, "source", numHashes = 32, k = 3)
      .orderBy("grp_a", "grp_b")
  }

  /** Incremental near-dup: the prefix twins replayed as a NEW ingest
    * batch against the original documents as the standing corpus —
    * verified (new, corpus) pairs only, never corpus × corpus. Same
    * shingle/minhash/banding constants as x_dedup_minhash.
    */
  private def xDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val twins = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    Dedup.nearDuplicatesAgainstFromTokens(twins, base,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** Per-process, per-sf scratch dir for write-once index artifacts
    * (round-7 directive #3): keyed by the sf dir AND the pid — sf
    * keying keeps concurrent Verify (sf0.01) and Bench (sf0.1) runs
    * apart, and the pid keeps two processes over the SAME sf dir
    * (parallel Verify runs, or an sf-dir hashCode collision) from
    * overwriting each other's parquet mid-read. The artifact is
    * rebuilt per invocation, so a stale pid dir is just dead scratch.
    */
  private def indexDir(dir: String, kind: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_index/" +
      s"${java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)}_" +
      s"p${ProcessHandle.current().pid()}/$kind"

  /** SOURCE-FORMAT round-trips: the documents table written to and
    * re-read from another format under an EXPLICIT schema (never
    * inferred — the house rule), then projected to the same cells the
    * oracle computes from the PARQUET source. A hash-match proves the
    * full encode→decode cycle is faithful for every value INCLUDING
    * the free-text column (JSON string escaping / ORC string+long
    * round-trips) — a genuinely different claim than reading parquet
    * twice. Scratch lands under the pid-keyed index dir ([[Scratch]]
    * sweeps it).
    */
  private def sourceRoundTrip(s: SparkSession, dir: String,
      format: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val out = indexDir(dir, s"src_$format")
    docs.write.mode("overwrite").format(format).save(out)
    val back = s.read.format(format).schema(docs.schema).load(out)
    back.select(col("doc_id"), length(col("text")).as("text_len"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  private def xSourceJsonl(s: SparkSession, dir: String): DataFrame =
    sourceRoundTrip(s, dir, "json")

  /** Directory-partition pruning — the coarse skipping primitive:
    * events written ONCE partitioned on event_type
    * ([[graft.ext.Layout.writePartitioned]]), then a one-type read
    * aggregates per user. The filter prunes whole directories at
    * planning time (PlanSpec asserts partitionFilters non-empty and
    * that only the matching partition's files are listed); the oracle
    * recomputes the aggregate from the unpartitioned source, so the
    * hash-match proves pruning lost no rows. Exact-integer outputs by
    * house convention.
    */
  private def xLayoutPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val out = indexDir(dir, "part_events")
    graft.ext.Layout.writePartitioned(ev, out, "event_type")
    graft.ext.Layout.readPartitioned(s, out, ev.schema)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"))
      .orderBy("user_id")
  }

  private def xSourceOrc(s: SparkSession, dir: String): DataFrame =
    sourceRoundTrip(s, dir, "orc")

  /** Incremental re-materialization via DYNAMIC partition overwrite
    * ([[graft.ext.Layout.overwritePartitionsDynamic]]): a per-type
    * aggregate table is materialized from the first load, then a late
    * batch touching ONLY two event types re-materializes exactly those
    * two partitions (recomputed over first ∪ late for the touched
    * types) — untouched partitions keep their original files
    * (spec-asserted). The final read must hash-match the oracle's
    * from-scratch aggregate over first ∪ late, proving the
    * partial rewrite composed correctly.
    */
  private def xLayoutPartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val first = ev.filter(col("event_id") % 3 =!= 0)
    val late = ev.filter(col("event_id") % 3 === 0 &&
      col("event_type").isin("click", "view"))
    def agg(df: DataFrame) = df.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"))
    val out = indexDir(dir, "dyn_part")
    graft.ext.Layout.writePartitioned(agg(first), out, "event_type")
    val touched = first.filter(col("event_type").isin("click", "view"))
      .unionByName(late)
    graft.ext.Layout.overwritePartitionsDynamic(agg(touched), out,
      "event_type")
    graft.ext.Layout.readPartitioned(s, out, agg(ev).schema)
      .orderBy("event_type", "user_id")
  }

  /** Parquet SCHEMA EVOLUTION on read: an early batch lacks the
    * `quality` column a later batch carries; `mergeSchema` unions the
    * footers and fills the missing column with nulls for old files —
    * the ingest reality of any long-lived corpus. The oracle
    * recomputes the per-lang counts with quality only on the new half,
    * so the hash-match proves old rows surface with NULL (not 0, not
    * dropped) and new rows keep their values.
    */
  private def xSourceEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val out = indexDir(dir, "evo")
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$out/old")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") % 100).as("quality"))
      .write.mode("overwrite").parquet(s"$out/new")
    s.read.option("mergeSchema", "true")
      .parquet(s"$out/old", s"$out/new")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        count(col("quality")).as("n_with_quality"),
        sum(col("quality")).as("sum_quality"))
      .orderBy("lang")
  }

  /** The x_dedup_incremental contract served through a PARQUET
    * ROUND-TRIP of the corpus index (IndexStore): build (id, sh) +
    * (id, band, bucket) artifacts, write, RE-READ, and serve the same
    * twin batch from the re-read frames. Shares x_dedup_incremental's
    * oracle — the hash-match proves the persisted artifact is exactly
    * the in-memory index, which is what makes incremental ingestion
    * real at 100 TB (the corpus is scanned at build time, never per
    * batch).
    */
  private def xDedupIndexServed(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val idx = indexDir(dir, "dedup")
    graft.sources.IndexStore.writeDedupIndex(base, idx, k = 5)
    val (sh, bands) =
      graft.sources.IndexStore.readDedupIndex(s, idx, k = 5)
    val twins = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    Dedup.nearDuplicatesAgainstIndex(twins, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** Valid per-process SQL identifier for scratch bucketed-index
    * tables (the managed-table twin of [[indexDir]] — same sf + pid
    * keying, same rebuilt-per-invocation lifecycle; tables land in the
    * gitignored spark-warehouse dir).
    */
  private def indexTable(dir: String, kind: String): String =
    s"graft_${kind}_" +
      s"${java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)}_" +
      s"p${ProcessHandle.current().pid()}"

  /** The STREAMING ingest loop closed against the persisted BUCKETED
    * dedup index (the production 100 TB shape, previously proven only
    * by plan assertion): the corpus index is written once as bucketed
    * tables, the twin batch is written as multi-file parquet and
    * re-read as a real file STREAM, and every micro-batch is served
    * against the standing index inside foreachBatch
    * (StreamingValidate.nearDupIngestStream) — corpus side exchange-
    * free, batch side shuffling only itself. Shares
    * x_dedup_incremental's oracle verbatim: the union over
    * micro-batches must hash-equal the one-shot in-memory answer.
    */
  private def xStreamDedupIndex(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "sidx")
    graft.sources.IndexStore.writeDedupIndexBucketed(base, tbl,
      numBuckets = 8, k = 5)
    val twins = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val twinDir = indexDir(dir, "sidx_twins")
    // 4 part files → 4 micro-batches under maxFilesPerTrigger = 1
    twins.repartition(4).write.mode("overwrite").parquet(twinDir)
    StreamingValidate.nearDupIngestStream(s, twinDir, tbl,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** INDEX MAINTENANCE closed end to end (IndexStore
    * .appendDedupIndexBucketed): the bucketed corpus index is built
    * from the documents, a DELTA of 80%-prefix twins is APPENDED into
    * the standing tables (only the delta shuffles; the base files are
    * untouched), and a probe batch of 60%-prefix twins is served
    * against the appended index. Every probe must match BOTH its base
    * source and its delta twin — proving appended rows are live in
    * the serve join, not just present on disk. The oracle computes
    * near-duplicates against the UNION corpus from scratch in DuckDB,
    * so the hash-match proves append(build(base), delta) ≡
    * build(base ∪ delta) row-for-row.
    */
  private def xDedupIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_app")
    graft.sources.IndexStore.writeDedupIndexBucketed(base, tbl,
      numBuckets = 8, k = 5)
    graft.sources.IndexStore.appendDedupIndexBucketed(delta, tbl, k = 5)
    val (sh, bands) =
      graft.sources.IndexStore.readDedupIndexBucketed(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** Delta-twin id offset for [[xDedupIndexAppend]]: far above real
    * doc ids, far below [[IncrementalTwinOffset]] (the probe offset),
    * so the three id ranges never collide and the oracle's
    * corpus-vs-probe split is a single comparison.
    */
  private val AppendDeltaOffset = 1000000L

  /** Tombstone deletion for the near-dup corpus index: every 3rd
    * source document is DELETED (id-list tombstones — standing index
    * files untouched), and the twin batch is served with dead corpus
    * ids excluded via an anti-join on the OUTPUT pairs (batch-sized,
    * exact: a dead doc can only surface through candidates). The
    * oracle recomputes the incremental answer and drops the deleted
    * corpus ids — a failed exclusion reports their pairs and misses
    * the hash. Physical purge (compaction with an anti-join merge) is
    * proven serve-invariant in BucketingSpec.
    */
  private def xDedupIndexDelete(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_del")
    graft.sources.IndexStore.writeDedupIndexBucketed(base, tbl,
      numBuckets = 8, k = 5)
    graft.sources.IndexStore.deleteFromDedupIndexBucketed(
      base.filter(col("id") % 3 === 0).select("id"), tbl)
    val (sh, bands) =
      graft.sources.IndexStore.readDedupIndexBucketed(s, tbl, k = 5)
    val dead = graft.sources.IndexStore.readDedupDeadIds(s, tbl)
      .select(col("id").as("corpus_id"))
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .join(dead, Seq("corpus_id"), "left_anti")
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  /** The LSM arc CLOSED: build → append → COMPACT → serve. Identical
    * data flow to [[xDedupIndexAppend]] with one
    * [[graft.sources.IndexStore.compactDedupIndexBucketed]] between
    * the append and the serve — compaction rewrites the multi-file
    * buckets back to one file each WITHOUT changing content, layout,
    * or the serve plan, so this row shares x_dedup_index_append's
    * oracle verbatim: the hash-match proves
    * serve(compact(append(build(base), delta))) ≡
    * serve(append(build(base), delta)) ≡ build(base ∪ delta). The
    * file-count drop itself (the thing compaction buys) is asserted
    * in BucketingSpec, where the filesystem observable lives.
    */
  private def xDedupIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_cmp")
    graft.sources.IndexStore.writeDedupIndexBucketed(base, tbl,
      numBuckets = 8, k = 5)
    graft.sources.IndexStore.appendDedupIndexBucketed(delta, tbl, k = 5)
    graft.sources.IndexStore.compactDedupIndexBucketed(s, tbl)
    val (sh, bands) =
      graft.sources.IndexStore.readDedupIndexBucketed(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** TIME TRAVEL on the versioned MinHash index
    * (graft.sources.BucketedManifest — round-15: every committed
    * manifest IS a frozen version, so the freeze is a pure metadata
    * read, no links and no clone tables): the base corpus is indexed,
    * the current version number captured, the delta twins are then
    * admitted as a NEW version, and the probes are served against the
    * CAPTURED version — whose answer must be blind to everything
    * committed after it: probes × base only, x_dedup_incremental's
    * oracle VERBATIM. A leaked post-freeze admission adds
    * probe × delta pairs and misses the hash; this is the bucketed
    * families' reproducibility pin ("the corpus as of version N is a
    * stable, re-servable object"), twin to x_sim_ivf_time_travel on
    * the flat manifests.
    */
  private def xDedupIndexSnapshot(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_snap")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    val frozen = graft.sources.IndexStore
      .snapshotDedupIndexBucketedVersioned(s, tbl)
    graft.sources.IndexStore.appendDedupIndexBucketedVersioned(delta,
      tbl, k = 5)
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersionedAsOf(s, tbl, frozen, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** UNDO through the oracle gate (round-16 —
    * graft.sources.BucketedManifest.rollback, the Iceberg
    * rollback-to-snapshot semantics): a poisoned batch is admitted
    * (version 2), the family rolls back to the pre-admit freeze BY
    * REFERENCE (version 3 — nothing copied, rewritten, or deleted;
    * the bad version stays time-travelable for the audit trail), and
    * the CURRENT version then serves the base-only answer —
    * x_dedup_index_snapshot's oracle verbatim. The difference from
    * the snapshot row is the mechanism under test: there the READER
    * travels to the freeze; here the FAMILY ITSELF is reverted and an
    * ordinary current-version read proves it.
    */
  private def xDedupIndexRollback(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val poison = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_rb")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    val frozen = graft.sources.IndexStore
      .snapshotDedupIndexBucketedVersioned(s, tbl)
    graft.sources.IndexStore.appendDedupIndexBucketedVersioned(poison,
      tbl, k = 5): Unit
    require(graft.sources.BucketedManifest.rollback(s, tbl, frozen)
      == 3, "the rollback is itself an ordinary auditable commit")
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersioned(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** The MinHash index on GEN-MANIFEST bucketed tables
    * (graft.sources.BucketedManifest — round-15 directive #1, the
    * first bucketed family on the table format): identical data flow
    * to [[xDedupIndexCompact]], but the append commits both halves in
    * one atomic manifest and the compaction publishes merged
    * GENERATIONS that old versions keep referencing — no hard links,
    * no catalog-table-per-version, no pointer swap. Content, bucket
    * layout, and parameters are untouched by versioning, so this row
    * shares x_dedup_index_append's oracle VERBATIM; the
    * filesystem/catalog observables (snapshot isolation for captured
    * readers, partition-pruned exchange-free serve, CAS multi-writer
    * safety, vacuum) live in BucketedManifestSpec.
    */
  private def xDedupIndexVersioned(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_ver")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    graft.sources.IndexStore.appendDedupIndexBucketedVersioned(delta,
      tbl, k = 5)
    graft.sources.IndexStore.compactDedupIndexBucketedVersioned(s, tbl)
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersioned(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** MULTI-WRITER correctness through the oracle gate (round-16 —
    * the BucketedManifestSpec race linearization proven on real data
    * with the DuckDB oracle as the judge): the delta is split four
    * ways and admitted by FOUR CONCURRENT appender threads racing
    * the generation claims and the manifest CAS. Every writer's
    * commit survives (claims make generation numbers collision-free;
    * a lost CAS re-reads the winner's line set and retries), the
    * version chain linearizes dense, and after a compaction the
    * served answer is EXACTLY the single-writer arc's —
    * x_dedup_index_append's oracle verbatim. Lost updates or
    * half-visible members — what an uncoordinated store would
    * produce under this race — would hash-mismatch immediately.
    */
  private def xDedupIndexConcurrent(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_conc")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = (0 until 4).map { i =>
      new Thread(() =>
        try graft.sources.IndexStore.appendDedupIndexBucketedVersioned(
          delta.filter(pmod(col("id"), lit(4)) === i), tbl, k = 5): Unit
        catch { case t: Throwable => errs.add(t): Unit })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    require(errs.isEmpty,
      s"concurrent appenders must not fail: ${Option(errs.peek())}")
    require(graft.sources.BucketedManifest.currentVersion(s, tbl) == 5,
      "four appends over v1 must linearize to exactly v5")
    graft.sources.IndexStore.compactDedupIndexBucketedVersioned(s, tbl)
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersioned(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** MIXED-OP concurrency through the oracle gate (round-17
    * directive #4 — [[xDedupIndexConcurrent]] races appends only;
    * here the store's whole commit algebra races): FIVE threads hit
    * one family at once — three appenders on disjoint delta quarters,
    * one ONLINE MEMBER EVOLUTION (addMember of a per-doc audit
    * member), and one ROLLBACK to the birth version. Claims keep
    * generation numbers collision-free and the manifest CAS
    * linearizes all five into a dense chain of exactly six versions —
    * every thread's commit lands, none is lost, none is duplicated.
    * WHICH intermediate head results is genuinely order-dependent
    * (rollback drops whatever committed before it; that is its
    * semantics), so the row then RECONCILES deterministically — the
    * incident-response move the raced rollback models: roll back to
    * the birth version, re-admit the full delta in one commit,
    * compact, serve. The served answer is EXACTLY the single-writer
    * arc's — x_dedup_index_append's oracle verbatim. A store whose
    * claims, CAS, or rollback-by-reference interleaved wrongly (a
    * shared generation number, a half-applied member, a rollback that
    * deleted files a later re-append needed) would corrupt the final
    * serve and hash-mismatch immediately.
    */
  private def xDedupIndexConcurrentMixed(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_mix")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def th(body: => Unit): Thread = new Thread(() =>
      try body catch { case t: Throwable => errs.add(t): Unit })
    val writers = (0 until 3).map { i =>
      th(graft.sources.IndexStore.appendDedupIndexBucketedVersioned(
        delta.filter(pmod(col("id"), lit(4)) === i), tbl, k = 5): Unit)
    } ++ Seq(
      th(graft.sources.BucketedManifest.addMember(s, tbl,
        s"${tbl}_audit",
        delta.select(col("id"), size(col("toks")).as("n_toks")),
        Seq("id"), 8): Unit),
      th(graft.sources.BucketedManifest.rollback(s, tbl, 1): Unit))
    writers.foreach(_.start())
    writers.foreach(_.join())
    require(errs.isEmpty,
      s"mixed-op racers must not fail: ${Option(errs.peek())}")
    require(graft.sources.BucketedManifest.currentVersion(s, tbl) == 6,
      "five raced commits over v1 must linearize to exactly v6")
    // deterministic reconciliation: whatever interleaving won, revert
    // to the birth state and re-admit everything in one commit
    graft.sources.BucketedManifest.rollback(s, tbl, 1): Unit
    graft.sources.IndexStore.appendDedupIndexBucketedVersioned(delta,
      tbl, k = 5): Unit
    graft.sources.IndexStore.compactDedupIndexBucketedVersioned(s, tbl)
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersioned(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** DISASTER RECOVERY through the oracle gate (round-16 — the
    * attach() spec contract proven end to end on real data): the
    * versioned MinHash family is built and appended, then BOTH member
    * tables are DROPPED from the catalog — members are EXTERNAL, so
    * the generation files and the manifest chain survive, and they
    * are the truth. graft.sources.BucketedManifest.attach re-derives
    * each entry from manifests + files alone (pure metadata), the
    * family is then COMPACTED on the re-derived entries (the commit
    * protocol keeps working), and served. Shares
    * x_dedup_index_append's oracle verbatim: a metastore rebuild
    * changes no row.
    */
  private def xDedupIndexAttach(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_att")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    graft.sources.IndexStore.appendDedupIndexBucketedVersioned(delta,
      tbl, k = 5): Unit
    // the catalog loses both members; a deployment's config carries
    // exactly what attach needs (location, data schema, bucket spec)
    def loseAndAttach(member: String, keys: Seq[String]): Unit = {
      val m = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(member))
      val ddl = org.apache.spark.sql.types.StructType(
        m.schema.filterNot(_.name == "gen")).toDDL
      val loc = m.location.toString
      s.sql(s"DROP TABLE `$member`")
      graft.sources.BucketedManifest.attach(s, tbl, member, loc, ddl,
        keys, numBuckets = 8)
    }
    loseAndAttach(s"${tbl}_sh", Seq("id"))
    loseAndAttach(s"${tbl}_bands", Seq("band", "bucket"))
    graft.sources.IndexStore.compactDedupIndexBucketedVersioned(s, tbl)
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersioned(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** [[xDedupIndexVersioned]] under the PUT committer (round-16 — the
    * object-store write path through the oracle gate): EVERY
    * generation — including generation 1, since table birth is pure
    * DDL and its data lands through the committer seam (round-17
    * directive #3) — is published as fresh byte puts at final names
    * via graft.sources.PutGenCommitter: zero renames, zero links
    * anywhere in the family's life. Shares x_dedup_index_append's
    * oracle verbatim: the publication mechanics change no row. The
    * session conf is restored afterward.
    */
  private def xDedupIndexVersionedPut(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val delta = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val probes = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val tbl = indexTable(dir, "sidx_put")
    s.conf.set("spark.graft.genCommitter", "put")
    try {
      graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base,
        tbl, numBuckets = 8, k = 5)
      graft.sources.IndexStore.appendDedupIndexBucketedVersioned(delta,
        tbl, k = 5): Unit
      graft.sources.IndexStore.compactDedupIndexBucketedVersioned(s, tbl)
    } finally s.conf.unset("spark.graft.genCommitter")
    val (sh, bands) = graft.sources.IndexStore
      .readDedupIndexBucketedVersioned(s, tbl, k = 5)
    Dedup.nearDuplicatesAgainstIndex(probes, sh, bands,
        threshold = 0.5, k = 5)
      .orderBy("new_id", "corpus_id")
  }

  /** Per-invocation reset of a scratch path (stream dirs, checkpoints,
    * sinks) so bench reps stay independent.
    */
  private def wipeDir(p: String): Unit =
    graft.sources.Scratch.deleteRecursively(new java.io.File(p))

  /** RESTART-SAFE near-dup ingestion (round-13 directive #5 —
    * x_stream_unique_resume's two-run arc for the MinHash index): the
    * check-then-admit loop runs as TWO query runs over one checkpoint.
    * Run 1 sees only file A (the 80%-prefix delta twins), checks it
    * against the base index, and ADMITS it; file B (the 60%-prefix
    * probes) arrives before run 2, which — thanks to the checkpoint —
    * processes ONLY file B, against an index now holding base ∪ A.
    * The probes' sink rows are therefore exactly
    * x_dedup_index_append's answer (probes × (base ∪ delta)) and the
    * row SHARES that oracle verbatim. The restart proof: if run 2
    * re-processed the admitted file A, A's `_sh`/`_bands` rows would
    * duplicate and every probe×A pair would be emitted twice — row
    * count misses. Filters keep only probe rows (run 1's A×base check
    * rows and any probe×earlier-probe pairs are the stream's own
    * bookkeeping, outside the shared oracle's corpus).
    */
  private def xStreamDedupResume(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val fileA = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val fileB = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val streamDir = indexDir(dir, "dedup_resume")
    val ckpt = indexDir(dir, "dedup_resume_ckpt")
    val sink = indexDir(dir, "dedup_resume_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "sidxres")
    graft.sources.IndexStore.writeDedupIndexBucketed(base, tbl,
      numBuckets = 8, k = 5)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.nearDupIngestRun(s, streamDir, tbl, ckpt, sink,
      threshold = 0.5, k = 5)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.nearDupIngestRun(s, streamDir, tbl, ckpt, sink,
      threshold = 0.5, k = 5)
    s.read.parquet(sink)
      .filter(col("new_id") >= IncrementalTwinOffset &&
        col("corpus_id") < IncrementalTwinOffset)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  /** [[xStreamDedupResume]]'s two-run restart arc over the VERSIONED
    * MinHash family (StreamingValidate.nearDupIngestRunVersioned),
    * with a versioned COMPACTION interleaved between the runs — the
    * full cluster choreography: run 1 checks + admits file A into the
    * live version tables, the compaction publishes new version tables
    * and repoints (what run 1's checkpoint state or any concurrent
    * reader holds stays on disk), run 2 resumes and probes file B
    * against base ∪ A through the NEW live version. The probe rows
    * are exactly x_dedup_index_append's answer, shared verbatim —
    * admit-exactly-once, compaction content-invariance, and live-name
    * re-resolution all have to hold at once for the hash to match.
    */
  private def xStreamDedupVersioned(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val fileA = base.select((col("id") + AppendDeltaOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val fileB = base.select((col("id") + IncrementalTwinOffset).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.6).cast("int")).as("toks"))
    val streamDir = indexDir(dir, "dedup_ver_stream")
    val ckpt = indexDir(dir, "dedup_ver_ckpt")
    val sink = indexDir(dir, "dedup_ver_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "sidxvst")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(base, tbl,
      numBuckets = 8, k = 5)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.nearDupIngestRunVersioned(s, streamDir, tbl, ckpt,
      sink, threshold = 0.5, k = 5)
    graft.sources.IndexStore.compactDedupIndexBucketedVersioned(s, tbl)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.nearDupIngestRunVersioned(s, streamDir, tbl, ckpt,
      sink, threshold = 0.5, k = 5)
    s.read.parquet(sink)
      .filter(col("new_id") >= IncrementalTwinOffset &&
        col("corpus_id") < IncrementalTwinOffset)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  /** Incremental C2/K1 served from a persisted bucketed KEY INDEX
    * ([[graft.sources.IndexStore.writeKeyIndexBucketed]]) — the
    * validation-core twin of the dedup index arc: a growing table's
    * uniqueness check should only ask "does the BATCH collide with
    * history", never rescan history. The batch deliberately contains
    * all three violation shapes: keys history already holds (every
    * 5th order re-ingested → n_existing ≥ 1), keys duplicated both
    * against history AND inside the batch (the %15 subset rides
    * twice), and BATCH-INTERNAL-ONLY duplicates history has never
    * seen (fresh offset keys included twice → n_existing = 0, still
    * reported). Fresh singleton keys (%7 = 3, once each) prove the
    * non-violating path filters out. The oracle recomputes every
    * count from scratch over the same frames in DuckDB.
    */
  private def xUniqueIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val fresh = base.filter(col("o_orderkey") % 7 === 3)
      .select((col("o_orderkey") + KeyFreshOffset).as("o_orderkey"))
    val batch = base.filter(col("o_orderkey") % 5 === 0)
      .select("o_orderkey")
      .unionByName(base.filter(col("o_orderkey") % 15 === 0)
        .select("o_orderkey"))
      .unionByName(fresh).unionByName(fresh)
    val tbl = indexTable(dir, "keyidx")
    graft.sources.IndexStore.writeKeyIndexBucketed(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    val idx = graft.sources.IndexStore.readKeyIndexBucketed(s, tbl,
      Seq("o_orderkey"))
    Checks.uniqueAgainstIndex(batch, idx, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Fresh-key offset for the key-index rows: far above any real
    * o_orderkey at every harness sf, so offset ranges never collide
    * with history and the oracle's splits are single comparisons.
    */
  private val KeyFreshOffset = 1000000000L

  /** STREAMING uniqueness with check-then-admit state
    * ([[graft.streaming.StreamingValidate.uniqueIngestStream]]): the
    * key index is built on orders, then a 4-file stream of batch keys
    * is checked batch-by-batch against it, each batch ADMITTED after
    * its check — fresh keys riding the stream TWICE are caught only
    * because earlier batches' appends are live for later ones. The
    * output is the order-invariant aggregate (key, n_total), so the
    * DuckDB oracle recomputes totals over history ∪ stream with no
    * notion of batch boundaries — the hash-match proves the streamed
    * stateful decomposition equals the batchless answer.
    */
  private def xStreamUniqueIndex(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val fresh = base.filter(col("o_orderkey") % 6 === 0)
      .select((col("o_orderkey") + 3L * KeyFreshOffset).as("o_orderkey"))
    val stream = base.filter(col("o_orderkey") % 10 === 1)
      .select("o_orderkey")
      .unionByName(fresh).unionByName(fresh)
    val streamDir = indexDir(dir, "ukeys_stream")
    stream.repartition(4).write.mode("overwrite").parquet(streamDir)
    val tbl = indexTable(dir, "keyustr")
    graft.sources.IndexStore.writeKeyIndexBucketed(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    StreamingValidate.uniqueIngestStream(s, streamDir, tbl,
        Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Right-to-be-forgotten in the key index — LSM TOMBSTONES: every
    * 6th order's key is DELETED from the standing index (negated
    * counts appended, history files untouched), the index is
    * merge-compacted (zero-total rows physically dropped), and a batch
    * re-ingesting those keys twice plus some live keys is checked.
    * Deleted keys must surface with n_existing = 0 (batch-internal
    * duplicates only — a failed deletion would report their history
    * counts and miss the hash); live keys keep their history counts.
    */
  private def xUniqueIndexDelete(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val del = base.filter(col("o_orderkey") % 6 === 0)
    val batch = del.select("o_orderkey")
      .unionByName(del.select("o_orderkey"))
      .unionByName(base.filter(col("o_orderkey") % 10 === 1)
        .select("o_orderkey"))
    val tbl = indexTable(dir, "keydel")
    graft.sources.IndexStore.writeKeyIndexBucketed(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    graft.sources.IndexStore.deleteFromKeyIndexBucketed(del, tbl,
      Seq("o_orderkey"))
    graft.sources.IndexStore.compactKeyIndexBucketed(s, tbl)
    val idx = graft.sources.IndexStore.readKeyIndexBucketed(s, tbl,
      Seq("o_orderkey"))
    Checks.uniqueAgainstIndex(batch, idx, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** The FK twin of the tombstone arc: the FULL customer dimension is
    * indexed, every 10th customer is DELETED via tombstones (no
    * compaction — the serve must see through raw tombstone rows), and
    * orders are re-checked. Deleted customers' facts REOPEN as
    * orphans, which makes the answer exactly k3_fk_orders_customer's
    * (the same degradation constructed by filtering) — the oracle is
    * shared verbatim.
    */
  private def k3FkIndexDelete(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    val tbl = indexTable(dir, "fkdel")
    graft.sources.IndexStore.writeKeyIndexBucketed(customer, tbl,
      Seq("c_custkey"), numBuckets = 8)
    graft.sources.IndexStore.deleteFromKeyIndexBucketed(
      customer.filter(col("c_custkey") % 10 === 0), tbl,
      Seq("c_custkey"))
    val idx = graft.sources.IndexStore.readKeyIndexBucketed(s, tbl,
      Seq("c_custkey"))
    Checks.foreignKeyAgainstIndex(orders, Seq("o_custkey"), idx,
      Seq("c_custkey")).orderBy("o_custkey")
  }

  /** RESTART-SAFE streaming uniqueness: the check-then-admit loop is
    * driven as TWO separate query runs over one checkpoint — file A
    * exists for run 1; file B (colliding with A's fresh keys AND with
    * history) arrives before run 2. The checkpoint makes run 2 process
    * ONLY file B, and the oracle's batchless recompute is the
    * restart-safety proof: if run 2 re-processed the already-admitted
    * file A, A's keys would be re-checked against an index that now
    * CONTAINS them, inflating their cumulative counts and failing the
    * hash. Scratch (stream dir, checkpoint, sink) is reset per
    * invocation so bench reps stay independent.
    */
  private def xStreamUniqueResume(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val fileA = base.filter(col("o_orderkey") % 4 === 0)
      .select((col("o_orderkey") + 4L * KeyFreshOffset).as("o_orderkey"))
    val fileB = base.filter(col("o_orderkey") % 8 === 0)
      .select((col("o_orderkey") + 4L * KeyFreshOffset).as("o_orderkey"))
      .unionByName(base.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey"))
    val streamDir = indexDir(dir, "ukeys_resume")
    val ckpt = indexDir(dir, "ukeys_resume_ckpt")
    val sink = indexDir(dir, "ukeys_resume_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "keyres")
    graft.sources.IndexStore.writeKeyIndexBucketed(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.uniqueIngestRun(s, streamDir, tbl,
      Seq("o_orderkey"), ckpt, sink)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.uniqueIngestRun(s, streamDir, tbl,
      Seq("o_orderkey"), ckpt, sink)
    StreamingValidate.uniqueViolationTotals(s, sink, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** [[xStreamUniqueResume]]'s two-run arc over the VERSIONED key
    * index (StreamingValidate.uniqueIngestRunVersioned — round-15,
    * closing the versioned streaming-arc matrix): same files, same
    * checkpoint restart, with a versioned MERGE-COMPACTION interleaved
    * between the runs — run 2's checks read the NEW live version
    * (split rows merged, tombstone algebra intact) while any reader of
    * the old version keeps its files. Shares
    * x_stream_unique_resume's oracle VERBATIM.
    */
  private def xStreamUniqueVersioned(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val fileA = base.filter(col("o_orderkey") % 4 === 0)
      .select((col("o_orderkey") + 4L * KeyFreshOffset).as("o_orderkey"))
    val fileB = base.filter(col("o_orderkey") % 8 === 0)
      .select((col("o_orderkey") + 4L * KeyFreshOffset).as("o_orderkey"))
      .unionByName(base.filter(col("o_orderkey") % 10 === 3)
        .select("o_orderkey"))
    val streamDir = indexDir(dir, "ukeys_ver")
    val ckpt = indexDir(dir, "ukeys_ver_ckpt")
    val sink = indexDir(dir, "ukeys_ver_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "keyver_s")
    graft.sources.IndexStore.writeKeyIndexBucketedVersioned(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.uniqueIngestRunVersioned(s, streamDir, tbl,
      Seq("o_orderkey"), ckpt, sink)
    graft.sources.IndexStore.compactKeyIndexBucketedVersioned(s, tbl)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.uniqueIngestRunVersioned(s, streamDir, tbl,
      Seq("o_orderkey"), ckpt, sink)
    StreamingValidate.uniqueViolationTotals(s, sink, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** [[xStreamSubstringResume]] over the VERSIONED gram family with a
    * versioned compaction between the runs — shares
    * x_dedup_substring_append's oracle VERBATIM.
    */
  private def xStreamSubstringVersioned(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val fileA = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val fileB = substringPlanted(base)
    val streamDir = indexDir(dir, "substring_ver")
    val ckpt = indexDir(dir, "substring_ver_ckpt")
    val sink = indexDir(dir, "substring_ver_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "substr_v")
    graft.sources.IndexStore.writeSubstringIndexBucketedVersioned(base,
      tbl, numBuckets = 8, k = 8)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.substringIngestRunVersioned(s, streamDir, tbl,
      minRunLen = 30, k = 8, checkpointDir = ckpt, sinkDir = sink)
    graft.sources.IndexStore.compactSubstringIndexBucketedVersioned(s,
      tbl)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.substringIngestRunVersioned(s, streamDir, tbl,
      minRunLen = 30, k = 8, checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .filter(col("new_id") >= 7000000L && col("new_id") < 8000000L)
      .select(col("new_id"), col("corpus_id"), col("n_runs"),
        col("max_run"), col("overlap_tokens"))
      .orderBy("new_id", "corpus_id")
  }

  /** [[xStreamEditdistResume]] over the VERSIONED three-table PassJoin
    * family with a versioned compaction between the runs — shares
    * x_dedup_editdist_append's oracle VERBATIM.
    */
  private def xStreamEditdistVersioned(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    def mutated(off: Long, pos: Int) =
      corpus.select((col("id") + off).as("id"),
        concat(substring(col("s"), 1, pos - 1), lit("X"),
          col("s").substr(lit(pos + 1), length(col("s")))).as("s"))
    val fileA = mutated(8000000L, 20)
    val fileB = mutated(7000000L, 10)
    val streamDir = indexDir(dir, "edit_ver_stream")
    val ckpt = indexDir(dir, "edit_ver_stream_ckpt")
    val sink = indexDir(dir, "edit_ver_stream_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "editver_s")
    graft.sources.IndexStore.writeEditIndexBucketedVersioned(corpus,
      tbl, numBuckets = 8, d = 4)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.editDistanceIngestRunVersioned(s, streamDir, tbl,
      d = 4, checkpointDir = ckpt, sinkDir = sink)
    graft.sources.IndexStore.compactEditIndexBucketedVersioned(s, tbl)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.editDistanceIngestRunVersioned(s, streamDir, tbl,
      d = 4, checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .filter(col("new_id") >= 7000000L && col("new_id") < 8000000L &&
        !(col("corpus_id") >= 7000000L && col("corpus_id") < 8000000L))
      .select(col("new_id"), col("corpus_id"), col("dist"))
      .orderBy("new_id", "corpus_id")
  }

  /** [[xStreamPhashResume]] over the VERSIONED band family with a
    * versioned compaction between the runs — shares
    * x_mm_phash_served's oracle VERBATIM.
    */
  private def xStreamPhashVersioned(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val items = Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5)
    val baseHashes = Multimodal.perceptualHash(
        items.filter(col("id") % 4 === 0))
      .select(col("id"), col("dhash"))
    val fileA = items.filter(col("id") % 4 === 2)
    val fileB = items.filter(col("id") % 2 === 1)
    val streamDir = indexDir(dir, "phash_ver_stream")
    val ckpt = indexDir(dir, "phash_ver_stream_ckpt")
    val sink = indexDir(dir, "phash_ver_stream_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "phver_s")
    graft.sources.IndexStore.writePhashIndexBucketedVersioned(
      baseHashes, tbl, numBuckets = 8, bands = 8)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.phashIngestRunVersioned(s, streamDir, tbl,
      bands = 8, maxDist = 7, checkpointDir = ckpt, sinkDir = sink)
    graft.sources.IndexStore.compactPhashIndexBucketedVersioned(s, tbl)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.phashIngestRunVersioned(s, streamDir, tbl,
      bands = 8, maxDist = 7, checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .filter(col("new_id") % 2 === 1)
      .select(col("new_id"), col("corpus_id"), col("hamming"))
      .orderBy("new_id", "corpus_id")
  }

  /** The key-index LSM arc CLOSED: build on history → APPEND an
    * admitted batch → MERGE-COMPACT → serve the next batch. Batch 2
    * collides with BOTH the original history (%10 = 1 keys) and with
    * batch 1's appended fresh keys (the %6 = 0 offset subset of
    * batch 1's %3 = 0 keys) — so a hash-match against the oracle's
    * scratch recompute over history ∪ batch1 proves appended keys are
    * live in the serve join AND that
    * [[graft.sources.IndexStore.compactKeyIndexBucketed]]'s row-merge
    * rewrite changed nothing the serve can observe.
    */
  private def xUniqueIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val batch1 = base.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") + 2L * KeyFreshOffset).as("o_orderkey"))
    val batch2 = base.filter(col("o_orderkey") % 6 === 0)
      .select((col("o_orderkey") + 2L * KeyFreshOffset).as("o_orderkey"))
      .unionByName(base.filter(col("o_orderkey") % 10 === 1)
        .select("o_orderkey"))
    val tbl = indexTable(dir, "keyapp")
    graft.sources.IndexStore.writeKeyIndexBucketed(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    graft.sources.IndexStore.appendKeyIndexBucketed(batch1, tbl,
      Seq("o_orderkey"))
    graft.sources.IndexStore.compactKeyIndexBucketed(s, tbl)
    val idx = graft.sources.IndexStore.readKeyIndexBucketed(s, tbl,
      Seq("o_orderkey"))
    Checks.uniqueAgainstIndex(batch2, idx, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** [[xUniqueIndexAppend]]'s arc over the VERSIONED key index — the
    * validation core on graft.sources.BucketedManifest gen-manifest
    * tables (round-15): history built, batch 1 admitted as new LSM
    * rows in an atomic versioned commit, and the merge-compaction
    * (split rows re-aggregated, zero-total keys dropped) PUBLISHED as
    * a new generation a new manifest references rather than swapped
    * in place. Batch 2's check against the new live version must
    * equal the flat path's answer exactly: shares
    * x_unique_index_append's oracle VERBATIM.
    */
  private def xUniqueIndexVersioned(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
    val batch1 = base.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") + 2L * KeyFreshOffset).as("o_orderkey"))
    val batch2 = base.filter(col("o_orderkey") % 6 === 0)
      .select((col("o_orderkey") + 2L * KeyFreshOffset).as("o_orderkey"))
      .unionByName(base.filter(col("o_orderkey") % 10 === 1)
        .select("o_orderkey"))
    val tbl = indexTable(dir, "keyver")
    graft.sources.IndexStore.writeKeyIndexBucketedVersioned(base, tbl,
      Seq("o_orderkey"), numBuckets = 8)
    graft.sources.IndexStore.appendKeyIndexBucketedVersioned(batch1,
      tbl, Seq("o_orderkey"))
    graft.sources.IndexStore.compactKeyIndexBucketedVersioned(s, tbl)
    val idx = graft.sources.IndexStore.readKeyIndexBucketedVersioned(s,
      tbl, Seq("o_orderkey"))
    Checks.uniqueAgainstIndex(batch2, idx, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** K3 served from a standing PARENT key index — the FK check when
    * the dimension itself is 100 TB-class: too big to broadcast, too
    * hot to re-shuffle per ingest batch. Same degraded-parent scenario
    * as k3_fk_orders_customer (every 10th customer dropped) with the
    * parent persisted once as a bucketed key index and the child
    * batch anti-joined against it in place
    * ([[graft.check.Checks.foreignKeyAgainstIndex]]) — result contract
    * identical, so this row shares k3_fk_orders_customer's oracle
    * verbatim: hash-identity with the broadcast path IS the claim.
    */
  private def k3FkIndexServed(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val parent = t(s, dir, "customer").filter(col("c_custkey") % 10 =!= 0)
    val tbl = indexTable(dir, "fkidx")
    graft.sources.IndexStore.writeKeyIndexBucketed(parent, tbl,
      Seq("c_custkey"), numBuckets = 8)
    val idx = graft.sources.IndexStore.readKeyIndexBucketed(s, tbl,
      Seq("c_custkey"))
    Checks.foreignKeyAgainstIndex(orders, Seq("o_custkey"), idx,
      Seq("c_custkey")).orderBy("o_custkey")
  }

  /** The LATE-ARRIVING DIMENSION arc — the fk failure mode a streaming
    * warehouse actually has (facts land before their dims): orders are
    * checked against a customer key index missing every 10th customer,
    * then HALF the missing customers (the %20 = 0 subset) arrive late
    * and are appended, and the re-check's orphan set shrinks to
    * exactly the still-missing half. The output is the post-append
    * check; the oracle recomputes it against dim0 ∪ late in DuckDB,
    * proving appended dimension rows RESOLVE previously-orphan facts
    * (not just that appends are readable).
    */
  private def xFkIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    val dim0 = customer.filter(col("c_custkey") % 10 =!= 0)
    val late = customer.filter(col("c_custkey") % 10 === 0 &&
      col("c_custkey") % 20 === 0)
    val tbl = indexTable(dir, "fkapp")
    graft.sources.IndexStore.writeKeyIndexBucketed(dim0, tbl,
      Seq("c_custkey"), numBuckets = 8)
    graft.sources.IndexStore.appendKeyIndexBucketed(late, tbl,
      Seq("c_custkey"))
    val idx = graft.sources.IndexStore.readKeyIndexBucketed(s, tbl,
      Seq("c_custkey"))
    Checks.foreignKeyAgainstIndex(orders, Seq("o_custkey"), idx,
      Seq("c_custkey")).orderBy("o_custkey")
  }

  // ------------------------------------- flat similarity lifecycle rows
  /** A flat similarity family as its lifecycle rows drive it. `sim` and
    * `stream` are the row stems (`x_sim_<sim>_*`, `x_stream_<stream>_*`;
    * `stream` also prefixes the scratch dirs), `oracle` the oracle the
    * rows share, and `scenarios` the rows it has. `fit` is the model the
    * build takes (fitted per row, once, on the full corpus), `serve` the
    * top-k over a read state `S`, and every other field one public call
    * of the plain store or, suffixed `V`, the versioned one.
    */
  private final case class FlatRows[M, S](sim: String, stream: String,
      oracle: String, scenarios: Seq[FlatScenario], fit: DataFrame => M,
      serve: (SparkSession, String, DataFrame, S) => DataFrame,
      build: (DataFrame, M, String) => Unit,
      append: (DataFrame, String) => Unit,
      delete: (DataFrame, String) => Unit,
      read: (SparkSession, String) => S, live: (SparkSession, String) => S,
      ingest: (SparkSession, String, String, String, String) => Unit,
      buildV: (DataFrame, M, String) => Unit,
      appendV: (DataFrame, String) => Unit,
      readV: (SparkSession, String, Int) => S,
      compactV: (SparkSession, String) => Unit,
      ingestV: (SparkSession, String, String, String, String) => Unit,
      more: Option[FlatMore[S]] = None)

  /** The calls only IVF's rows make: the plain compact, and the versioned
    * store's delete, live read, current version and rollback.
    */
  private final case class FlatMore[S](compact: (SparkSession, String) => Unit,
      deleteV: (DataFrame, String) => Unit,
      liveV: (SparkSession, String) => S, version: String => Int,
      rollback: (SparkSession, String, Int) => Int)

  /** One lifecycle scenario: the row-name suffix, the scratch-dir suffix,
    * and whether the row hangs off the `x_stream_` stem. A row shares its
    * family's oracle unless it owns one (`ownOracle`) or overrides
    * [[oracle]].
    */
  private sealed abstract class FlatScenario(suffix: String,
      val dir: String, stream: Boolean = false,
      ownOracle: Boolean = false) {
    def row(f: FlatRows[_, _]): String =
      if (stream) s"x_stream_${f.stream}_$suffix" else s"x_sim_${f.sim}_$suffix"

    /** The row whose oracle this row shares, if it shares one. */
    def oracle(f: FlatRows[_, _]): Option[String] =
      if (ownOracle) None else Some(f.oracle)
  }
  private case object Served extends FlatScenario("served", "")
  private case object Append extends FlatScenario("append", "app")
  private case object Delete
      extends FlatScenario("delete", "del", ownOracle = true)
  private case object Compact extends FlatScenario("compact", "cmp")
  private case object Versioned extends FlatScenario("versioned", "ver")
  private case object Rollback extends FlatScenario("rollback", "rb")
  private case object TimeTravel
      extends FlatScenario("time_travel", "tt", ownOracle = true)
  private case object VersionedDelete
      extends FlatScenario("versioned_delete", "verdel") {
    override def oracle(f: FlatRows[_, _]): Option[String] =
      Some(Delete.row(f))
  }
  private case object StreamIngest
      extends FlatScenario("ingest", "_ingest", stream = true)
  private case object StreamResume
      extends FlatScenario("resume", "_resume", stream = true)
  private case object StreamVersioned
      extends FlatScenario("versioned", "_ver_stream", stream = true)

  private val FlatFamilies: Seq[FlatRows[_, _]] = Seq(
    FlatRows[DataFrame, (DataFrame, DataFrame)]("ivf", "ivf",
      "x_sim_ivf_topk", Seq(Served, Append, Delete, Compact, Versioned,
        Rollback, TimeTravel, VersionedDelete, StreamIngest, StreamResume,
        StreamVersioned),
      Similarity.firstIdCentroids(_, 16),
      (_, _, q, st) => Similarity.ivfTopKWith(q, st._1, st._2, 10,
        nProbe = 4),
      IndexStore.writeIvfIndex(_, _, _), IndexStore.appendIvfIndex(_, _),
      IndexStore.deleteFromIvfIndex, IndexStore.readIvfIndex,
      IndexStore.readIvfIndexLive,
      StreamingValidate.ivfIngestRun(_, _, _, 10, 4, _, _),
      IndexStore.writeIvfIndexVersioned(_, _, _),
      IndexStore.appendIvfIndexVersioned(_, _),
      IndexStore.readIvfIndexVersioned,
      IndexStore.compactIvfIndexVersioned(_, _),
      StreamingValidate.ivfIngestRunVersioned(_, _, _, 10, 4, _, _),
      Some(FlatMore(IndexStore.compactIvfIndex(_, _),
        IndexStore.deleteFromIvfIndexVersioned,
        IndexStore.readIvfIndexVersionedLive,
        d => VersionedFlat.currentVersion(IndexStore.Ivf.versioned(d)),
        IndexStore.rollbackIvfIndexVersioned))),
    FlatRows[Similarity.PqModel, DataFrame]("pq", "pq", "x_sim_pq",
      Seq(Served, Delete, Append, Versioned, StreamIngest, StreamVersioned),
      Similarity.pqFit(_, m = 16, ks = 16),
      (s, idx, q, codes) => Similarity.pqTopKFromCodes(q, codes, 10,
        IndexStore.readPqModel(s, idx)),
      IndexStore.writePqIndex(_, _, _), IndexStore.appendPqIndex(_, _),
      IndexStore.deleteFromPqIndex, IndexStore.readPqCodes,
      IndexStore.readPqCodesLive,
      StreamingValidate.pqIngestRun(_, _, _, 10, _, _),
      IndexStore.writePqIndexVersioned(_, _, _),
      IndexStore.appendPqIndexVersioned(_, _),
      IndexStore.readPqCodesVersioned,
      IndexStore.compactPqIndexVersioned(_, _),
      StreamingValidate.pqIngestRunVersioned(_, _, _, 10, _, _)),
    FlatRows[(Similarity.PqModel, DataFrame), (DataFrame, DataFrame)](
      "ivf_pq", "ivfpq", "x_sim_ivf_pq",
      Seq(Served, Delete, Append, Versioned, StreamIngest, StreamVersioned),
      e => (Similarity.pqFit(e, m = 16, ks = 16),
        Similarity.kmeansCentroids(e, nLists = 16)),
      (s, idx, q, st) => Similarity.ivfPqTopKFromIndex(q, st._1, st._2,
        IndexStore.readPqModel(s, idx), 10, nProbe = 4),
      (df, m, d) => IndexStore.writeIvfPqIndex(df, m._1, m._2, d),
      IndexStore.appendIvfPqIndex(_, _), IndexStore.deleteFromIvfPqIndex,
      IndexStore.readIvfPqIndex, IndexStore.readIvfPqIndexLive,
      StreamingValidate.ivfPqIngestRun(_, _, _, 10, 4, _, _),
      (df, m, d) => IndexStore.writeIvfPqIndexVersioned(df, m._1, m._2, d),
      IndexStore.appendIvfPqIndexVersioned(_, _),
      IndexStore.readIvfPqIndexVersioned,
      IndexStore.compactIvfPqIndexVersioned(_, _),
      StreamingValidate.ivfPqIngestRunVersioned(_, _, _, 10, 4, _, _)),
    FlatRows[Unit, DataFrame]("quantized", "int8", "x_sim_quantized",
      Seq(Served, Delete, Append, Versioned, StreamIngest, StreamVersioned),
      _ => (), (_, _, q, st) => Similarity.quantizedTopKFromIndex(q, st, 10),
      (df, _, d) => IndexStore.writeInt8Index(df, d),
      IndexStore.appendInt8Index(_, _), IndexStore.deleteFromInt8Index,
      IndexStore.readInt8Index, IndexStore.readInt8IndexLive,
      StreamingValidate.int8IngestRun(_, _, _, 10, _, _),
      (df, _, d) => IndexStore.writeInt8IndexVersioned(df, d),
      IndexStore.appendInt8IndexVersioned(_, _),
      IndexStore.readInt8IndexVersioned,
      (s, d) => VersionedFlat.compact(s, IndexStore.Int8.versioned(d)),
      StreamingValidate.int8IngestRunVersioned(_, _, _, 10, _, _)))

  /** Row `sc` of family `f`: the scenario's build → mutate → read steps
    * over the embeddings, then the one shared tail — the 5 queries
    * (vec_id < 5) served top-10 over the read state, `rank` cast to long,
    * ordered by (query_id, rank). Each scenario's comment says why its
    * answer is its oracle's.
    */
  private def flatRow[M, S](f: FlatRows[M, S], sc: FlatScenario)(
      s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = indexDir(dir, f.stream + sc.dir)
    def mod(n: Int, r: Int): DataFrame = e.filter(col("vec_id") % n === r)
    def more: FlatMore[S] = f.more.getOrElse(
      sys.error(s"${f.sim} has no compact, versioned delete or rollback row"))
    /** The standing artifact is built on the % 3 = 0 third; the other two
      * thirds arrive as files and are check-then-admitted by the ingest
      * run, each micro-batch checked against the live artifact (re-read
      * per batch, so batch 2 sees batch 1's admissions) strictly before
      * it is admitted. The per-batch sink rows depend on arrival order,
      * so the row hashes the order-invariant final state instead: a dead
      * or doubled admission drops or duplicates top-k slots and misses
      * the full-corpus oracle. `restart` splits the arrival over two runs
      * on one checkpoint.
      */
    def streamed(versioned: Boolean, restart: Boolean): S = {
      val Seq(src, ckpt, sink) = Seq("_src", "_ckpt", "_sink").map(idx + _)
      Seq(idx, src, ckpt, sink).foreach(wipeDir)
      val run = if (versioned) f.ingestV else f.ingest
      (if (versioned) f.buildV else f.build)(mod(3, 0), f.fit(e), idx)
      mod(3, 1).coalesce(1).write.mode("append").parquet(src)
      if (restart) run(s, src, idx, ckpt, sink)
      mod(3, 2).coalesce(1).write.mode("append").parquet(src)
      run(s, src, idx, ckpt, sink)
      if (versioned) f.readV(s, idx, 0) else f.read(s, idx)
    }
    def dead = mod(7, 3).select(col("vec_id").as("id"))
    val state = sc match {
      // the persisted artifact round-trips exactly: doubles (centroids,
      // codebooks, vectors) are bit-identical through parquet, and int8's
      // values are integers in [-127, 127], so its tinyint pack is exact
      case Served => f.build(e, f.fit(e), idx); f.read(s, idx)
      // built on the even half, the odd half admitted: encoding is a pure
      // per-vector function of the static model, read back from the
      // artifact (int8 reads none: its scales are per-vector), so
      // append ≡ the full build
      case Append =>
        f.build(mod(2, 0), f.fit(e), idx); f.append(mod(2, 1), idx)
        f.read(s, idx)
      // every 7th vector tombstoned; the live read excludes it BEFORE
      // ranking (the next-best neighbor promotes in) and the model stays,
      // which is what the oracle recomputes
      case Delete =>
        f.build(e, f.fit(e), idx); f.delete(dead, idx); f.live(s, idx)
      // the appended batches' files rewritten into one: layout only
      case Compact =>
        f.build(mod(2, 0), f.fit(e), idx); f.append(mod(2, 1), idx)
        more.compact(s, idx); f.read(s, idx)
      // build, admit and compact each publish a version; the versioned
      // compact is layout-only, so current ≡ the full build
      case Versioned =>
        f.buildV(mod(2, 0), f.fit(e), idx); f.appendV(mod(2, 1), idx)
        f.compactV(s, idx); f.readV(s, idx, 0)
      // copies of the query vectors under fresh ids (cosine-1.0
      // neighbors) are admitted, then rolled back by reference to the
      // clean version: current ≡ the full build, the poison stays
      // time-travelable
      case Rollback =>
        f.buildV(mod(2, 0), f.fit(e), idx); f.appendV(mod(2, 1), idx)
        val clean = more.version(idx)
        f.appendV(e.filter(col("vec_id") < 5).select(
          (col("vec_id") + 900000L).as("vec_id"), col("embedding")), idx)
        require(more.rollback(s, idx, clean) == clean + 2,
          "rollback is an ordinary commit")
        f.readV(s, idx, 0)
      // version 1 (the even half, under the full-corpus model it
      // persisted) is still served exactly as written after version 2
      case TimeTravel =>
        f.buildV(mod(2, 0), f.fit(e), idx); f.appendV(mod(2, 1), idx)
        f.readV(s, idx, 1)
      // tombstones mask the current version before ranking exactly as
      // they mask the plain artifact, so the delete row's oracle holds
      case VersionedDelete =>
        f.buildV(e, f.fit(e), idx); more.deleteV(dead, idx)
        more.liveV(s, idx)
      case StreamIngest => streamed(versioned = false, restart = false)
      // run 2 must process only the file that arrived after run 1: a
      // re-processed first file is admitted twice, and its doubled
      // candidates take two top-k slots
      case StreamResume => streamed(versioned = false, restart = true)
      // each admitted micro-batch publishes a version, over the restart arc
      case StreamVersioned => streamed(versioned = true, restart = true)
    }
    f.serve(s, idx, e.filter(col("vec_id") < 5), state)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** Every flat lifecycle row: name → (row, the oracle it shares). */
  private def flatRows: Seq[(String, (SparkSession, String) => DataFrame,
      Option[String])] =
    for (f <- FlatFamilies; sc <- f.scenarios)
      yield (sc.row(f), flatRow(f, sc) _, sc.oracle(f))

  /** Ranking-quality eval (Experiment.rankingMetrics): the brute-force
    * cosine top-10 run scored against label-derived graded judgments
    * (rel 2 for same-label docs with id % 3 = 0, rel 1 for other
    * same-label docs) — P@10, recall@10, RR, NDCG@10 per query with
    * the snapped-log2 DCG discipline. The oracle re-derives the run,
    * the judgments, and every snapped term in SQL.
    */
  private def xEvalRanking(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val run = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("__ql"))
    val qrels = e.select(col("vec_id").as("doc_id"), col("label"))
      .join(broadcast(queries),
        col("label") === col("__ql") && col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        when(col("doc_id") % 3 === 0, 2L).otherwise(1L).as("rel"))
    graft.ext.Experiment.rankingMetrics(run, qrels, 10)
      .orderBy("query_id")
  }

  /** Hybrid rank fusion (Similarity.rrfFuse): the float-cosine and
    * int8-quantized top-10 runs RRF-merged per query (k = 60) — the
    * heterogeneous-retriever merge that needs no score calibration.
    * Oracle recomputes both legs and the fused re-rank in SQL.
    */
  private def xSimRrf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def rn(df: DataFrame) = df.select(col("query_id"),
      col("neighbor_id").as("doc_id"), col("rank"))
    Similarity.rrfFuse(rn(Similarity.bruteForceTopK(q, e, 10)),
        rn(Similarity.quantizedTopK(q, e, 10)), topN = 10)
      .orderBy("query_id", "rank")
  }

  /** Rank-biased overlap between the float-cosine and int8-quantized
    * top-10 runs (Experiment.rboTruncated, p = 9/10): how much the
    * quantized serving index reorders the user-visible ranking
    * prefix, per query — the top-weighted drift gate between an index
    * and its cheaper twin. Exact rational arithmetic end to end (the
    * p = 9/10 depth weights are integers over one common
    * denominator); the oracle re-derives both runs AND shares the
    * same integer weight table, so the hash-match proves the
    * join/Σ/anchor path exact.
    */
  private def xEvalRbo(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def rn(df: DataFrame) = df.select(col("query_id"),
      col("neighbor_id").as("doc_id"), col("rank"))
    graft.ext.Experiment.rboTruncated(
        rn(Similarity.bruteForceTopK(q, e, 10)),
        rn(Similarity.quantizedTopK(q, e, 10)), k = 10)
      .orderBy("query_id")
  }

  /** Kendall rank correlation between the float-cosine and int8 top-10
    * runs (Experiment.kendallTau) — the UNWEIGHTED complement of
    * x_eval_rbo: does quantization preserve the relative order of
    * everything both indexes returned? Exact integer concordant /
    * discordant counts via the in-codegen pair fan-out; one division.
    * Oracle re-derives both runs and counts inversions by pair
    * self-join.
    */
  private def xEvalKendall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def rn(df: DataFrame) = df.select(col("query_id"),
      col("neighbor_id").as("doc_id"), col("rank"))
    graft.ext.Experiment.kendallTau(
        rn(Similarity.bruteForceTopK(q, e, 10)),
        rn(Similarity.quantizedTopK(q, e, 10)), k = 10)
      .orderBy("query_id")
  }

  /** The ANN SERVING loop streamed (the query-side twin of
    * x_stream_dedup_index): the IVF index is persisted once, the 5
    * query vectors arrive as a real file stream in 3 micro-batches,
    * and each batch probes the standing artifacts inside foreachBatch
    * (StreamingValidate.annServeStream). Per-query results depend
    * only on the static index, so the union over batches hash-matches
    * x_sim_ivf_topk's oracle verbatim.
    */
  private def xStreamAnnServe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = indexDir(dir, "ivf_stream")
    graft.sources.IndexStore.writeIvfIndex(e,
      Similarity.firstIdCentroids(e, 16), idx)
    val qDir = indexDir(dir, "ann_queries")
    e.filter(col("vec_id") < 5).repartition(3)
      .write.mode("overwrite").parquet(qDir)
    StreamingValidate.annServeStream(s, qDir, idx, 10, nProbe = 4)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** Streaming drift monitor (StreamingValidate.driftMonitorStream):
    * three monitoring windows of the R cohort's whole-dollar prices
    * (window_id = l_orderkey % 3, one parquet file each, written once
    * untimed) streamed against the static N-cohort reference; each
    * micro-batch emits the exact KS row for the windows it carries.
    * The oracle recomputes every window's KS in batch, so the
    * hash-match proves streamed ≡ batch directly.
    */
  private def xStreamDrift(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def dollars = call_function("div",
      round(col("l_extendedprice") * 100).cast("long"), lit(100L))
    val wDir = indexDir(dir, "drift_windows")
    li.filter(col("l_returnflag") === "R")
      .select((col("l_orderkey") % 3).as("window_id"), dollars.as("v"))
      .repartition(3, col("window_id"))
      .write.mode("overwrite").parquet(wDir)
    val ref = li.filter(col("l_returnflag") === "N")
      .select(dollars.as("v"))
    StreamingValidate.driftMonitorStream(s, wDir, ref)
      .orderBy("window_id")
  }

  /** Throughput twin of [[xStreamDrift]] (round-8 directive #3): the
    * SAME drift monitor with the files-per-trigger cap removed, so
    * AvailableNow drains all three window files in ONE micro-batch —
    * per-batch scheduling overhead amortized across the backlog.
    * Window identity is data-borne, so the rows are identical to the
    * latency row's: the oracle is shared verbatim, and the wall gap
    * between the two rows MEASURES the per-micro-batch cost the
    * latency contract pays (x_stream_drift is ~pure scheduling
    * latency per the round-8 attribution — this row documents the
    * other operating point).
    */
  private def xStreamDriftBatched(s: SparkSession, dir: String)
      : DataFrame = {
    val li = t(s, dir, "lineitem")
    def dollars = call_function("div",
      round(col("l_extendedprice") * 100).cast("long"), lit(100L))
    val wDir = indexDir(dir, "drift_windows_b")
    li.filter(col("l_returnflag") === "R")
      .select((col("l_orderkey") % 3).as("window_id"), dollars.as("v"))
      .repartition(3, col("window_id"))
      .write.mode("overwrite").parquet(wDir)
    val ref = li.filter(col("l_returnflag") === "N")
      .select(dollars.as("v"))
    StreamingValidate.driftMonitorStream(s, wDir, ref,
        filesPerTrigger = 0)
      .orderBy("window_id")
  }

  /** Pairwise Jensen–Shannon divergence between every source pair's
    * token distributions (Profile.jsDivergence) — the categorical
    * corpus-drift matrix: which sources speak the same language and
    * which are vocabulary outliers. 20 sources → 190 rows; every
    * snapped per-token term recomputed by the oracle.
    */
  private def xTextJsDivergence(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    graft.ext.Profile.jsDivergence(toks, col("source"), col("tok"))
      .orderBy("key_a", "key_b")
  }

  /** Cross-source quantile normalization (Profile.quantileNormalize):
    * every source's n_chars distribution mapped onto the pooled
    * corpus distribution on a 20-point exact-percentile grid — the
    * score-calibration step before mixing sources. Exact mid-rank
    * quantiles and one integral grid-index expression; the oracle
    * mirrors the frequency CDF, quantile_cont grid, and index
    * arithmetic.
    */
  private def xProfileQuantileNorm(s: SparkSession, dir: String)
      : DataFrame =
    graft.ext.Profile.quantileNormalize(t(s, dir, "documents"),
        col("source"), col("n_chars"), nBins = 20)
      .orderBy("group_id", "v")

  /** Spearman rank correlation (Profile.spearman) between quantity
    * and price cents over lineitem — the monotone-robust twin of
    * x_profile_corr's Pearson matrix, exact integer mid-ranks (tie-
    * corrected) and decimal moments. The oracle re-derives the rank
    * frames and every moment with the corrOracle double discipline.
    */
  private def xProfileSpearman(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.spearman(t(s, dir, "lineitem"),
      col("l_quantity"),
      round(col("l_extendedprice") * 100).cast(LongType))

  /** Per-source Gini concentration of document length
    * (Profile.giniByGroup): does one source's character budget sit in
    * a few mega-documents while another's is uniform? — the
    * concentration readout a mixing weight silently assumes. Exact
    * integer tie-block rank sums, one division; the oracle mirrors
    * the frequency CDF and the identity in HUGEINT.
    */
  private def xProfileGini(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.giniByGroup(t(s, dir, "documents"),
        col("source"), col("n_chars"))
      .orderBy("group_id")

  /** Distribution-matched sampling (Sampling.matchDistribution): draw
    * ≈100 documents from the whole corpus whose n_chars distribution
    * follows src0's shape — target-defined equal-frequency grid,
    * exact integral per-bin quotas, smallest-hash winners per bin.
    * The oracle re-derives the grid, quotas, and per-bin hash ranking.
    */
  private def xSampleMatchDist(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.ext.Sampling.matchDistribution(
        d.filter(col("source") === "src0"), d,
        col("n_chars"), col("n_chars"), "doc_id",
        nBins = 5, n = 100, salt = "md1")
      .orderBy("doc_id")
  }

  /** Exactly-100 deterministic document sample (eval-set carving):
    * the 100 smallest (hash, id) keys — TakeOrdered, no global sort
    * (asserted in PlanSpec), same rows on any partitioning.
    */
  private def xSampleExactN(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.exactN(
      t(s, dir, "documents").select("doc_id", "source"),
      "doc_id", 100, salt = "ev1")
      .orderBy("doc_id")

  /** Stream-stream interval join (view→click attribution within 10
    * minutes per user), aggregated per user with exact integer-µs lag
    * bounds. Runs here in batch; StreamingSpec drives the same operator
    * through two real file streams and asserts identical results.
    */
  private def xStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    StreamingValidate.joinWithin(views, clicks, "v_user", "c_user",
        "view_ts", "click_ts", within = "10 minutes")
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("min_lag_us"),
        max(unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("max_lag_us"))
      .orderBy("user_id")
  }

  /** Benchmark decontamination: the eval set is 80%-token-prefix
    * excerpts of every 50th document (ids + 2000000); the scan must
    * recover exactly those source documents as contaminated, with the
    * shared-shingle counts and eval-coverage fractions oracle-matched.
    */
  private def xDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val evalSet = base.filter(col("id") % 50 === 0)
      .select((col("id") + 2000000).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    graft.ext.Decontaminate.contaminationFromTokens(base, evalSet,
        k = 5, minShared = 2)
      .orderBy("train_id", "eval_id")
  }

  /** Substring-level decontamination (Decontaminate.
    * substringContamination): train docs sharing a verbatim ≥30-token
    * run with an eval doc — the long-n-gram eval-leakage check. Same
    * planted excerpts as x_decontaminate (every 50th doc's 80% token
    * prefix under an eval id): each source doc must be flagged with
    * max_run ≈ the excerpt length, scattered k-gram overlap alone must
    * not. The train corpus streams through a broadcast gram join with
    * zero shuffle of its own (plan-asserted in PlanSpec).
    */
  private def xDecontaminateSubstring(s: SparkSession,
      dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val evalSet = base.filter(col("id") % 50 === 0)
      .select((col("id") + 2000000).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    graft.ext.Decontaminate.substringContamination(base, evalSet,
        minRunLen = 30, k = 8)
      .orderBy("train_id", "eval_id")
  }

  /** Bloom-screened decontamination (Decontaminate.contaminationBloom):
    * same corpus and planted eval excerpts as x_decontaminate, but the
    * train shingles are prefiltered map-side against a constant-size
    * bloom of the eval shingles before the exact verification join.
    * The oracle is x_decontaminate's EXACT SQL — a green row proves the
    * screen is lossless.
    */
  private def xDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val evalSet = base.filter(col("id") % 50 === 0)
      .select((col("id") + 2000000).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    graft.ext.Decontaminate.contaminationBloom(base, evalSet,
        k = 5, minShared = 2)
      .orderBy("train_id", "eval_id")
  }

  /** Semantic decontamination (Decontaminate.semanticContamination):
    * train vectors (vec_id >= 50) whose cosine against any eval vector
    * (vec_id < 50) reaches 0.4 — paraphrase-level leakage the shingle
    * pass can't see. Broadcast eval, streaming train, bounded-top-k
    * argmax; the sim doubles hash-compare because both engines fold the
    * dot left-to-right over identically normalized vectors.
    */
  private def xDecontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ext.Decontaminate.semanticContamination(
        e.filter(col("vec_id") >= 50), e.filter(col("vec_id") < 50),
        threshold = 0.4)
      .orderBy("train_id")
  }

  /** End-to-end dedup application: near-dup pairs → transitive clusters
    * → corpus minus non-canonical members. The surviving id set is the
    * deduplicated corpus (canonicals + singletons).
    */
  private def xDedupApply(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsWithTwins(s, dir).select(col("id"))
    val clusters = Dedup.duplicateClusters(
      Dedup.nearDuplicatesFromTokens(docsWithTwins(s, dir),
        threshold = 0.5, k = 5))
    Dedup.dropDuplicateMembers(corpus, clusters, "id").orderBy("id")
  }

  /** Deterministic train/valid/test split of documents by id hash:
    * reproducible across runs/engines/partitionings (unlike df.sample),
    * zero-shuffle, oracle-checked cell-for-cell.
    */
  private def xSampleSplit(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.splitAssign(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", SplitWeights, salt = "split1")
      .orderBy("doc_id")

  /** Weighted corpus mixing: per-source deterministic downsampling of
    * documents, reported as kept-count per source.
    */
  private def xSampleMix(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.weightedMix(t(s, dir, "documents"), "doc_id",
        "source", MixFractions, default = 0.1, salt = "mix1")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
      .orderBy("source")

  /** Term-rarity top-k per document (TF-IDF-shaped): tf/df scoring
    * (exact integer-ratio doubles — ln-based idf differs in the last
    * ulp across libm implementations, so the oracle-checked variant
    * stays rational; the ranking is the same monotone-in-df idea),
    * document frequencies broadcast back onto term counts, per-doc
    * top-3 via sort of the doc's own bounded term list — no windows,
    * state per doc bounded by its vocabulary.
    */
  private def xTextTfidf(s: SparkSession, dir: String): DataFrame = {
    val terms = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") / col("df")).as("score"))
    scored.groupBy("doc_id")
      .agg(slice(sort_array(collect_list(
        struct(col("score"), col("term"))), asc = false), 1, 3).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("rank"),
        col("t.term").as("term"), round(col("t.score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Sliding-window chunking (TextAnalysis.chunkTokens): 30-token
    * windows with 10-token overlap — the embedding-prep shape, chunk
    * text hash-checked cell-for-cell.
    */
  private def xTextChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 30, overlap = 10)
      .select(col("id").as("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("chunk_hash"), col("n_tokens"))
      .orderBy("doc_id", "chunk_idx")

  /** Corpus-unigram log-probability per document
    * (TextAnalysis.unigramLogProb): the perplexity-proxy quality score —
    * docs of corpus-common words score near the ceiling, rare-token docs
    * very negative. avg rounded to 6dp (float sum order).
    */
  private def xTextLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"),
        round(col("avg_logprob"), 6).as("avg_logprob"))
      .orderBy("doc_id")

  /** Weighted exact-n sample (Sampling.weightedExactN): 100 documents
    * drawn with probability ∝ n_chars, without replacement — longer
    * docs proportionally more likely, deterministic A-ES keys.
    */
  private def xSampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.weightedExactN(
      t(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", 100, salt = "wx1")
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Token-budget mixture (Sampling.takeTokenBudget): a stable-hash
    * prefix of each source up to an absolute char budget — src3/src4
    * have no budget and are dropped; output size is set by the budgets,
    * not the corpus.
    */
  private def xSampleBudget(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.takeTokenBudget(
      t(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", "source",
      Map("src0" -> 3000.0, "src1" -> 1500.0, "src2" -> 800.0),
      salt = "tb1")
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Packed-sequence materialization (Sampling.packSequences): the
    * x_sample_pack bins reassembled into one training sequence each —
    * compared by md5 so the full concatenation is hash-checked without
    * dumping it.
    */
  private def xSamplePackSeq(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    graft.ext.Sampling.packSequences(docs, "doc_id", "n_tokens", "text",
        budget = 2000.0, nShards = 8, salt = "pack1")
      .select(col("shard"), col("bin"), md5(col("text")).as("content_hash"),
        col("n_docs"), col("total_weight"))
      .orderBy("shard", "bin")
  }

  /** BPE merge learning (TextAnalysis.learnBpeMerges): 16 merges from
    * the documents corpus, minCount 2 — (merge_rank, lhs, rhs, merged,
    * cnt). The oracle re-learns the FULL sequence from scratch in
    * DuckDB: one materialized pair-count + deterministic-argmax +
    * recursive merge-orbit CTE block per step, so every step's pair
    * statistics, tie-break, and leftmost-first application are
    * independently recomputed — not replayed from embedded constants.
    */
  private def xTextBpeLearn(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.learnBpeMerges(t(s, dir, "documents"), col("text"),
        nMerges = 16, minCount = 2L)
      .orderBy("merge_rank")

  /** The same 16 merges learned by the DISTRIBUTED per-iteration
    * aggregation (round-13 directive #2;
    * [[graft.ext.TextAnalysis.learnBpeMergesDistributed]]) — the
    * memory-bound path for histograms too large for one task. Shares
    * x_text_bpe_learn's oracle verbatim: the merge sequence must be
    * IDENTICAL to the single-task trainer's (law-pinned in
    * Round13PropSpec on random histograms).
    */
  private def xTextBpeLearnDist(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.learnBpeMergesDistributed(
        t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt")),
        nMerges = 16, minCount = 2L)
      .orderBy("merge_rank")

  /** End-to-end BPE arc (round 12): the vocabulary is LEARNED from the
    * corpus (the 16 merges of [[xTextBpeLearn]]) and then applied by
    * the join-based greedy segmenter (TextAnalysis.bpeTokenCountsFrom)
    * — real subword token counts per document with no hand-pinned
    * vocab anywhere. The oracle re-learns the merges AND re-derives
    * the greedy orbit over the learned pieces, all in one chain.
    */
  private def xTextBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = TextAnalysis.learnBpeMerges(docs, col("text"), 16, 2L)
      .select(col("merged").as("piece")).distinct()
    TextAnalysis.bpeTokenCountsFrom(docs, "doc_id", col("text"), vocab)
      .select(col("id").as("doc_id"), col("n_words"), col("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Bigram conditional log-probability (TextAnalysis.bigramLogProb):
    * the fluency signal one rung above unigrams — word-salad docs score
    * low even when every word is individually common.
    */
  private def xTextBigramLp(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("avg_logprob"), 6).as("avg_logprob"))
      .orderBy("doc_id")

  /** Hot-key skew report (Profile.keySkew): the 20 heaviest user_ids in
    * events with corpus share — the diagnostic that decides which keys
    * need salting before a skewed join.
    */
  private def xProfileKeyskew(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.keySkew(t(s, dir, "events"), Seq("user_id"), 20)

  /** Span-level (CCNet-style) corpus dedup (Dedup.dedupSpans): every doc
    * carries two injected boilerplate lines plus its body, and 30 docs
    * reappear as body-only copies under higher ids. After dedup the
    * lowest doc keeps all three spans, every other original keeps just
    * its body, and the copies vanish entirely — reported as (doc_id,
    * n_kept, text_len) so the reassembled text is hash-checked without
    * dumping it.
    */
  private def xDedupSpans(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val base = d.filter(col("doc_id") < 500).select(col("doc_id"),
      concat(col("text"),
        lit("\nall rights reserved contact us for more information"),
        lit("\nsubscribe to our newsletter for weekly updates")).as("text"))
    val copies = d.filter(col("doc_id") < 30)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    Dedup.dedupSpans(base.unionByName(copies), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_kept"),
        length(col("text")).cast(LongType).as("text_len"))
      .orderBy("doc_id")
  }

  /** Substring-level cross-document dedup (Dedup.sharedSubstringRuns):
    * maximal shared token runs >= 30 tokens via rolling k-gram anchors
    * (k = 8, every 23rd position) → bucketed equi-join on the gram
    * hash → chain-extension along matched diagonals — the Lee et al.
    * 2022 shape; never all-pairs. 40 planted docs embed a 35-token
    * mid-document slice of one doc plus a 12-token slice of another:
    * the 35-run must be reported, the 12-run must not, and the
    * corpus's own natural repeated stretches (the generator reuses
    * sentence templates) must come out identically on both engines.
    * The oracle brute-forces every gram-sharing diagonal; the engine
    * reaches the same pair set through anchor sampling.
    */
  private def xDedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSubstringRuns(substringDocs(s, dir), "id",
        col("toks"), minRunLen = 30, k = 8)
      .orderBy("id_a", "id_b")

  /** Tokenized documents corpus — the substring rows' base frame. */
  private def substringBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))

  /** The 40 planted batch docs: a 35-token mid-document slice of doc i
    * glued to a 12-token slice of doc i+100, under ids 7000000+i.
    */
  private def substringPlanted(base: DataFrame): DataFrame =
    base.filter(col("id") < 40)
      .select(col("id"), col("toks").as("toks_a"))
      .join(base.select((col("id") - 100).as("id"),
        col("toks").as("toks_b")), "id")
      .select((col("id") + 7000000L).as("id"),
        concat(slice(col("toks_a"), 7, 35),
          slice(col("toks_b"), 1, 12)).as("toks"))

  /** Corpus + planted — the self-join substring fixture. */
  private def substringDocs(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    base.unionByName(substringPlanted(base))
  }

  /** APPLY step of substring dedup (Dedup.stripSubstringRuns,
    * keep-first): every detected ≥30-token run is stripped from its
    * LATER occurrence and the survivors reassemble — planted docs lose
    * exactly their 35-token slice, fully-duplicated docs vanish, and
    * the reassembled text is length-checked without dumping it.
    */
  private def xDedupSubstringApply(s: SparkSession, dir: String): DataFrame = {
    val all = substringDocs(s, dir)
    val runs = Dedup.substringRuns(all, "id", col("toks"),
      minRunLen = 30, k = 8)
    Dedup.stripSubstringRuns(all, "id", col("toks"), runs)
      .select(col("id").as("doc_id"), col("n_kept"), col("n_removed"),
        length(col("text")).cast(LongType).as("text_len"))
      .orderBy("doc_id")
  }

  /** Incremental substring dedup served from a PERSISTED BUCKETED gram
    * index (Dedup.substringRunsAgainst + IndexStore substring index):
    * the corpus is gram-hashed ONCE into an h-bucketed table; the 40
    * planted batch documents are then screened against the standing
    * index — batch-vs-corpus only, never corpus × corpus, with the
    * corpus side of both serve joins reading its buckets in place.
    * The oracle brute-forces every batch-vs-corpus gram-sharing
    * diagonal; matching it through the parquet round-trip proves the
    * persisted artifact is exactly the in-memory gram frame.
    */
  private def xDedupSubstringServed(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val tbl = indexTable(dir, "subidx")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    val grams = graft.sources.IndexStore.readSubstringIndexBucketed(
      s, tbl, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** LSM MAINTENANCE of the substring gram index (IndexStore
    * .appendSubstringIndexBucketed): the corpus is gram-hashed once
    * into the h-bucketed table, a DELTA of 80%-prefix twins of the
    * first 40 docs is APPENDED (only the delta shuffles; standing
    * files untouched), and the planted batch is screened against the
    * appended index. Every planted doc must now report runs against
    * BOTH its base source and that source's appended delta twin —
    * proving appended grams are live in the serve join, not just on
    * disk. The oracle recomputes batch-vs-(base ∪ delta) from scratch
    * in DuckDB, so the hash-match proves
    * append(build(base), delta) ≡ build(base ∪ delta).
    */
  private def xDedupSubstringAppend(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val delta = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "subapp")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    graft.sources.IndexStore.appendSubstringIndexBucketed(delta, tbl, k = 8)
    val grams = graft.sources.IndexStore.readSubstringIndexBucketed(
      s, tbl, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** Delta-twin id offset for [[xDedupSubstringAppend]]: clear of real
    * doc ids and of the +7000000 planted-probe range, so the oracle's
    * corpus-vs-batch split is a single comparison.
    */
  private val SubstringDeltaOffset = 8000000L

  /** The substring gram index through the full LSM cycle — build →
    * append → COMPACT → serve — sharing x_dedup_substring_append's
    * oracle verbatim: compaction rewrites the multi-file buckets to
    * one file each without changing a row, so the served answer is
    * hash-identical to the uncompacted path (which itself equals the
    * DuckDB union-rebuild). With x_dedup_index_compact (MinHash) and
    * the key index's merge-compaction, every index family's
    * maintenance cycle is now oracle-closed.
    */
  private def xDedupSubstringCompact(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val delta = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "subcmp")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    graft.sources.IndexStore.appendSubstringIndexBucketed(delta, tbl, k = 8)
    graft.sources.IndexStore.compactSubstringIndexBucketed(s, tbl)
    val grams = graft.sources.IndexStore.readSubstringIndexBucketed(
      s, tbl, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** [[xDedupSubstringCompact]] on the VERSIONED gram table — now on
    * the graft.sources.BucketedManifest gen-manifest store (round-16
    * directive #1; rounds 14–15 ran it on VersionedBucketed's pointer
    * tables): the append commits its own manifest version, and the
    * compaction between append and serve publishes merged generations
    * a NEW manifest references instead of swap-dropping the
    * reader-held listing. Shares x_dedup_substring_append's oracle
    * verbatim — the hash-match through the migration IS the proof the
    * store swap changed no row.
    */
  private def xDedupSubstringVersioned(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val delta = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "subver")
    graft.sources.IndexStore.writeSubstringIndexBucketedVersioned(base,
      tbl, numBuckets = 8, k = 8)
    graft.sources.IndexStore.appendSubstringIndexBucketedVersioned(
      delta, tbl, k = 8)
    graft.sources.IndexStore.compactSubstringIndexBucketedVersioned(s,
      tbl)
    val grams = graft.sources.IndexStore
      .readSubstringIndexBucketedVersioned(s, tbl, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** [[xDedupSubstringCompactTiered]] with snapshot isolation on the
    * gen-manifest store (graft.sources.BucketedManifest.compactTiered
    * — round-16 directive #1; rounds 15's hard-link hybrid retired for
    * this family): the base corpus lands as one BIG generation, the
    * delta twins arrive as two SMALL generation commits, and the
    * size-tiered merge collapses only the small ones — the big
    * generation is REFERENCED in the new manifest untouched, zero
    * links, zero bytes of it rewritten, and the superseded versions'
    * readers keep their generations until vacuum. Layout-only like
    * every tiered rewrite, so this row shares
    * x_dedup_substring_append's oracle verbatim; the
    * big-gen-byte-untouched observables live in BucketedManifestSpec.
    */
  private def xDedupSubstringTieredVersioned(s: SparkSession,
      dir: String): DataFrame = {
    val base = substringBase(s, dir)
    def delta(lo: Long, hi: Long) = base
      .filter(col("id") >= lo && col("id") < hi)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "subtierv")
    graft.sources.IndexStore.writeSubstringIndexBucketedVersioned(base,
      tbl, numBuckets = 8, k = 8)
    graft.sources.IndexStore.appendSubstringIndexBucketedVersioned(
      delta(0L, 20L), tbl, k = 8): Unit
    graft.sources.IndexStore.appendSubstringIndexBucketedVersioned(
      delta(20L, 40L), tbl, k = 8): Unit
    require(graft.sources.IndexStore
      .maybeCompactSubstringIndexBucketedVersioned(s, tbl, maxGens = 2),
      "three generations over a cap of two must trigger a tiered merge")
    val grams = graft.sources.IndexStore
      .readSubstringIndexBucketedVersioned(s, tbl, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** TIME TRAVEL on the migrated substring family (round-16 — the
    * observable the gen-manifest store adds over the pointer store's
    * hard-link freezes): the base corpus commit IS the freeze point
    * (version 1, a pure metadata read), the delta twins are then
    * admitted (v2) and a full compaction publishes v3 — yet serving
    * the planted batch AS OF the freeze reproduces the BASE-ONLY
    * answer, x_dedup_substring_served's oracle verbatim. The frozen
    * version is blind to every admission and rewrite after it, with
    * zero hard links and zero copied bytes.
    */
  private def xDedupSubstringSnapshotVersioned(s: SparkSession,
      dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val delta = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "subsnap")
    graft.sources.IndexStore.writeSubstringIndexBucketedVersioned(base,
      tbl, numBuckets = 8, k = 8)
    val frozen = graft.sources.IndexStore
      .snapshotSubstringIndexBucketedVersioned(s, tbl)
    graft.sources.IndexStore.appendSubstringIndexBucketedVersioned(
      delta, tbl, k = 8): Unit
    graft.sources.IndexStore.compactSubstringIndexBucketedVersioned(s,
      tbl)
    val grams = graft.sources.IndexStore
      .readSubstringIndexBucketedVersionedAsOf(s, tbl, frozen, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** x_dedup_substring_served's contract driven through a REAL file
    * stream: the planted batch lands as 4 parquet part files, each
    * screened as its own micro-batch against the standing bucketed
    * gram index. Per-document independence + a static index + the
    * within-document pair rollup make the micro-batch union the
    * one-shot answer — shares the served row's oracle verbatim.
    */
  private def xStreamSubstring(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val tbl = indexTable(dir, "substr_s")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    val batchDir = indexDir(dir, "substring_stream")
    substringPlanted(base).repartition(4)
      .write.mode("overwrite").parquet(batchDir)
    StreamingValidate.substringIngestStream(s, batchDir, tbl,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** RESTART-SAFE substring ingestion — the x_stream_dedup_resume arc
    * for the gram index: run 1 checks and ADMITS the 80%-prefix delta
    * twins (file A); the planted probes (file B) arrive before run 2,
    * which processes only B against an index now holding base ∪ delta.
    * The probe rows equal x_dedup_substring_append's answer (oracle
    * shared verbatim); a re-processed file A would duplicate its gram
    * rows, double every matched diagonal position, and corrupt the
    * chained run lengths.
    */
  private def xStreamSubstringResume(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val fileA = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val fileB = substringPlanted(base)
    val streamDir = indexDir(dir, "substring_resume")
    val ckpt = indexDir(dir, "substring_resume_ckpt")
    val sink = indexDir(dir, "substring_resume_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "substr_r")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.substringIngestRun(s, streamDir, tbl,
      minRunLen = 30, k = 8, checkpointDir = ckpt, sinkDir = sink)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.substringIngestRun(s, streamDir, tbl,
      minRunLen = 30, k = 8, checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .filter(col("new_id") >= 7000000L && col("new_id") < 8000000L)
      .select(col("new_id"), col("corpus_id"), col("n_runs"),
        col("max_run"), col("overlap_tokens"))
      .orderBy("new_id", "corpus_id")
  }

  /** Tombstone deletion for the substring gram index (round-13: the
    * MinHash id-tombstone pattern transplanted to the gram family):
    * every 3rd corpus document is DELETED — one id-list append,
    * standing gram files untouched — and the planted batch is served
    * with dead corpus ids excluded via an anti-join on the OUTPUT
    * pairs. The oracle recomputes batch-vs-corpus runs and drops the
    * deleted corpus ids; a failed exclusion reports their runs and
    * misses the hash. Physical purge (gram-table compaction with an
    * anti-join merge) is proven serve-invariant in BucketingSpec.
    */
  private def xDedupSubstringDelete(s: SparkSession, dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val tbl = indexTable(dir, "subdel")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    graft.sources.IndexStore.deleteFromSubstringIndexBucketed(
      base.filter(col("id") % 3 === 0).select("id"), tbl)
    val grams = graft.sources.IndexStore.readSubstringIndexBucketed(
      s, tbl, k = 8)
    val dead = graft.sources.IndexStore.readSubstringDeadIds(s, tbl)
      .select(col("id").as("corpus_id"))
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .join(dead, Seq("corpus_id"), "left_anti")
      .select(col("new_id"), col("corpus_id"), col("n_runs"),
        col("max_run"), col("overlap_tokens"))
      .orderBy("new_id", "corpus_id")
  }

  /** The substring gram index through the SIZE-TIERED maintenance
    * cycle (round-13 directive #6): build → append → tiered compaction
    * (only buckets holding ≥ 2 files are rewritten, at the file level;
    * everything else stays byte-identical — asserted in BucketingSpec)
    * → serve. Shares x_dedup_substring_append's oracle verbatim: a
    * tiered rewrite changes file layout only, never a row, so the
    * served answer is hash-identical to the uncompacted path.
    */
  private def xDedupSubstringCompactTiered(s: SparkSession,
      dir: String): DataFrame = {
    val base = substringBase(s, dir)
    val delta = base.filter(col("id") < 40)
      .select((col("id") + SubstringDeltaOffset).as("id"),
        slice(col("toks"), lit(1),
          floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    val tbl = indexTable(dir, "subtier")
    graft.sources.IndexStore.writeSubstringIndexBucketed(base, tbl,
      numBuckets = 8, k = 8)
    graft.sources.IndexStore.appendSubstringIndexBucketed(delta, tbl, k = 8)
    graft.sources.IndexStore.compactSubstringIndexTiered(s, tbl,
      minFilesPerBucket = 2)
    val grams = graft.sources.IndexStore.readSubstringIndexBucketed(
      s, tbl, k = 8)
    Dedup.sharedSubstringRunsAgainst(substringPlanted(base), grams,
        minRunLen = 30, k = 8)
      .orderBy("new_id", "corpus_id")
  }

  /** Fixed-width histogram profile of l_quantity over [1, 51) in 10
    * bins — one hash-agg on the integer bin index, bounded output.
    */
  private def xProfileHistogram(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.histogram(t(s, dir, "lineitem"), "l_quantity",
        lo = 1.0, hi = 51.0, bins = 10)
      .orderBy("bin")

  /** Deterministic output sharding: documents → 8 hash shards; reported
    * as per-shard counts + id ranges (bounded output at any scale).
    */
  private def xSampleShards(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.shardAssign(t(s, dir, "documents"), "doc_id",
        nShards = 8, salt = "shard1")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("shard")

  /** Z-order layout audit (Layout.zValue): lineitem keys mapped into
    * fixed 8-bit lanes (mod 256 — the documented "map keys into
    * [0,2^bits)" contract, scale-independent) and interleaved into a
    * 16-bit Morton value; output = per-z-bucket row counts and min/max
    * of BOTH lanes. Every bucket is a 32×32 tile — narrow ranges in
    * every dimension are what make parquet min/max pruning fire
    * multi-dimensionally after a z-order rewrite. Pure integer bit
    * arithmetic, 64 output rows at any scale factor.
    */
  private def xLayoutZorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select((col("l_partkey") % 256).as("pk"),
        (col("l_suppkey") % 256).as("sk"))
      .select(graft.ext.Layout.zValue(Seq(col("pk"), col("sk")), 8)
          .as("zval"), col("pk"), col("sk"))
      .groupBy(shiftright(col("zval"), 10).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("pk").as("min_part"), max("pk").as("max_part"),
        min("sk").as("min_supp"), max("sk").as("max_supp"))
      .orderBy("zbucket")

  /** Deterministic global shuffle (Sampling.deterministicShuffle): the
    * whole corpus numbered 0..n-1 in stable-hash order — reproducible
    * training-order randomization. The numbering is the two-phase
    * bucketed form (bucket counts → driver prefix sum → per-bucket
    * window), never a single-partition global window; the oracle is the
    * single-window formulation it must exactly equal.
    */
  private def xSampleShuffle(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicShuffle(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        nBuckets = 64, salt = "shuf1")
      .select(col("doc_id"), col("idx"))
      .orderBy("doc_id")

  /** Curriculum sharding (Sampling.curriculumShards): corpus ordered by
    * length (n_chars ascending — the standard easy-to-hard proxy), cut
    * into 4 contiguous shards via the bucketed global index.
    */
  private def xSampleCurriculum(s: SparkSession, dir: String): DataFrame =
    Sampling.curriculumShards(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), floor(col("n_chars") / 64), nShards = 4)
      .select(col("doc_id"), col("idx"), col("shard"))
      .orderBy("doc_id")

  /** Temperature-scaled corpus mixing (Sampling.temperatureMix):
    * rate_s ∝ n_s^(α-1) with the largest source pinned at maxRate —
    * small sources upsampled toward balance (mT5-style multinomial
    * sampling). The fitted rates are a deterministic function of the
    * bounded per-source counts; the oracle embeds them as literals
    * (dynamicOracleSql) and replays the same hash-unit filter.
    */
  private def xSampleTemperature(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(skewedDocs(s, dir), "doc_id", "source",
        alpha = 0.5, maxRate = 0.8, salt = "tm1")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_id"))
      .orderBy("source")

  /** End-to-end cleaning funnel over documents + injected exact copies:
    * quality filter → repetition filter (top-word fraction: the
    * keyword-stuffing gate — every doc here is Latin script, so a
    * language gate would be a no-op on this corpus) → exact dedup
    * (min-id survivor per content hash) → per-source cap. One bounded
    * report row per stage; every stage is the library operator,
    * composed. (Threshold comparisons sit on integer-ratio doubles —
    * identical in any IEEE engine.)
    */
  private def xPipelineClean(s: SparkSession, dir: String): DataFrame = {
    val base = docsWithCopies(s, dir).select("doc_id", "text", "source")
    graft.ext.Pipeline.funnel(base, Seq(
      "s1_quality" -> ((df: DataFrame) =>
        df.filter(TextAnalysis.qualityScore(col("text")) >= 0.9)),
      "s2_repetition" -> ((df: DataFrame) =>
        df.filter(TextAnalysis.topWordFrac(col("text")) <= 0.12)),
      "s3_exact_dedup" -> ((df: DataFrame) =>
        df.groupBy(md5(col("text")).as("f"))
          .agg(min(struct(col("doc_id"), col("source"), col("text")))
            .as("r"))
          .select(col("r.doc_id"), col("r.source"), col("r.text"))),
      "s4_cap_per_source" -> ((df: DataFrame) =>
        graft.ext.Sampling.capPerKey(df, Seq("source"), "doc_id",
          maxPerKey = 10, salt = "fcap"))
    )).orderBy("stage_idx")
  }

  /** Sequence packing: documents into 2000-token bins across 8 hash
    * shards (append-style, deterministic); reported as per-shard bin
    * statistics so output stays bounded at any corpus size. The bin
    * weight is the REAL vocab-driven BPE token count (bpeTokenCounts
    * over the shared BpeVocab), not the whitespace estimate — token
    * budgets mean actual tokens.
    */
  private def xSamplePack(s: SparkSession, dir: String): DataFrame = {
    val docs = TextAnalysis.bpeTokenCounts(t(s, dir, "documents"),
        "doc_id", col("text"), graft.oracle.Fixtures.BpeVocab)
      .select(col("id").as("doc_id"),
        col("n_bpe_tokens").as("n_tokens"))
    graft.ext.Sampling.packBins(docs, "doc_id", "n_tokens",
        budget = 2000.0, nShards = 8, salt = "pack1")
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_bins"),
        max(col("bin_tokens")).as("max_bin_tokens"),
        sum(col("n_docs")).as("n_docs"))
      .orderBy("shard")
  }

  /** Per-key cap (max 500 events per type, smallest-hash survivors) —
    * reported as kept-count + kept-id checksum per key so the oracle
    * verifies WHICH rows survived, with output bounded at any scale.
    */
  private def xSampleCap(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.capPerKey(t(s, dir, "events"), Seq("event_type"),
        "event_id", maxPerKey = 500, salt = "cap1")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("event_id")).as("sum_kept_ids"))
      .orderBy("event_type")

  /** Sliding-window (1h every 30min) batch-equivalent of
    * StreamingValidate.slidingCounts — each event lands in two windows.
    */
  private def xStreamSliding(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"))
      .orderBy("window_start", "event_type")

  /** Single-scan column profiling over lineitem in EXACT mode (the
    * opt-in path): order-independent statistics per column (counts +
    * string-rendered min/max; no float averages).
    */
  private def xProfile(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.columnProfile(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"),
      exact = true)
      .orderBy("column_name")

  /** Default (approx) profiling mode — the 100 TB path: HLL++ distinct
    * estimates, one scan with NO Expand (asserted in PlanSpec). The
    * estimate itself is engine-specific, so the compared columns are
    * the exact measures plus a sanity gate on the estimate; estimate
    * accuracy vs exact is additionally asserted in ExtSpec.
    */
  private def xProfileApprox(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.columnProfile(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("min_value"), col("max_value"),
        (col("n_distinct") >= 1 &&
          col("n_distinct") <= col("n_rows") * 1.2).as("distinct_sane"))
      .orderBy("column_name")

  /** Exact interpolated quantiles over bounded-cardinality lineitem
    * measures — the documented use of exact mode (value→count map
    * partials stay small). The approx sketch path is the default in the
    * library; its accuracy vs exact is asserted in ExtSpec. Long form
    * (one scalar row per column × probability) so every output cell is
    * a hashable scalar.
    */
  private def xProfileQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.numericProfileLong(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_discount", "l_linenumber"), exact = true)
      .orderBy("column_name", "prob_idx")

  /** Per-group exact quantiles (Profile.numericProfileByGroup): the
    * distribution-drift monitor shape — lineitem measures per return
    * flag, one scalar row per (group, column, probability). Still one
    * scan + one hash agg keyed by the group column.
    */
  private def xProfileGroupQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.numericProfileByGroup(t(s, dir, "lineitem"),
      "l_returnflag", Seq("l_quantity", "l_discount"), exact = true)
      .orderBy("l_returnflag", "column_name", "prob_idx")

  /** Join-size prediction (Profile.joinSizeEstimate): exact lineitem ⋈
    * orders cardinality and skew hotspot from per-key histograms — at
    * histogram cost, never running the join. The query ALSO runs the
    * real join (affordable at harness scale) so the output certifies
    * predicted_rows == actual_rows cell-for-cell.
    */
  private def xProfileJoinSize(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
    val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
    val actual = li.join(o, "k").agg(count(lit(1)).as("actual_rows"))
    graft.ext.Profile.joinSizeEstimate(li, o, "k").crossJoin(actual)
  }

  /** Windowed percentiles (the latency-profile shape): exact p50/p95 of
    * event values per hour window — grouped quantiles over the time
    * dimension, one output row per window (bounded at any scale).
    */
  private def xProfileWindowQuantiles(
      s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        percentile(col("value").cast("double"), lit(0.5)).as("p50"),
        percentile(col("value").cast("double"), lit(0.95)).as("p95"))
      .select(col("window.start").as("window_start"), col("n"),
        col("p50"), col("p95"))
      .orderBy("window_start")

  /** Per-source vocabulary top-3: token counts per (source, token),
    * ranked within source. The ranking window partitions on the SOURCE
    * and each partition holds one source's VOCABULARY — bounded by
    * distinct tokens, never corpus rows — which is what makes a plain
    * row_number acceptable here (the global variant uses TakeOrdered).
    */
  private def xTextVocabBySource(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("tok"))
    counts.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .orderBy("source", "rank")
  }

  /** kNN-graph in-degree (hubness) distribution: how many vectors are
    * someone's top-3 neighbor N times — the standard ANN-graph
    * diagnostic (hub-dominated graphs degrade recall and skew
    * downstream clustering). Two bounded hash aggs over the edge list.
    */
  private def xSimGraphDegree(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinLsh(t(s, dir, "embeddings"), 3, nPlanes = 8)
      .groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("in_degree")

  /** HLL++ duplicate quick-screen (Checks.uniqueQuickScreen): one scan,
    * no key shuffle. The approx estimate is engine-specific, so the
    * compared columns are `n_rows` and the screening verdict only —
    * lineitem's degraded PK must scream duplicates, nation's clean PK
    * must not.
    */
  private def xUniqueScreen(s: SparkSession, dir: String): DataFrame = {
    val li = Checks.uniqueQuickScreen(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"))
      .select(lit("lineitem_pk").as("key_set"), col("n_rows"),
        col("definitely_has_duplicates"))
    val na = Checks.uniqueQuickScreen(t(s, dir, "nation"),
        Seq("n_nationkey"))
      .select(lit("nation_pk").as("key_set"), col("n_rows"),
        col("definitely_has_duplicates"))
    li.unionByName(na).orderBy("key_set")
  }

  /** Hot LSH buckets over documents (boilerplate-cluster reporting):
    * same shingle/minhash/banding constants as x_dedup_minhash, so the
    * oracle reuses the portable hash rendering.
    */
  private def xHotBuckets(s: SparkSession, dir: String): DataFrame =
    Dedup.hotBuckets(t(s, dir, "documents"), "doc_id", "text",
      maxBucketSize = 2, numHashes = 32, bands = 16, k = 5)
      .select(col("band").cast(LongType).as("band"), col("bucket"),
        col("bcnt"))
      .orderBy("band", "bucket")

  /** IVF under sampled k-means centroids — the quality quantizer. The
    * centroid fit is driver-side Lloyd on a bounded hash-ordered sample
    * (not SQL-expressible), so this entry has no oracle: the driver
    * records the rows-only check, while recall-vs-brute-force and
    * list-balance are asserted in ExtSpec.
    */
  private def xSimIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = Similarity.kmeansCentroids(e, nLists = 16)
    val index = Similarity.ivfIndexWith(e, cents)
    Similarity.ivfTopKWith(e.filter(col("vec_id") < 5), index, cents, 10,
      nProbe = 4)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** Full-corpus distributed k-means (Similarity.kmeansFitFull): the
    * sample fit seeds a Lloyd loop whose assignment and decimal-exact
    * per-dimension sums run over ALL vectors — the quantizer path that
    * still works when the corpus no longer fits a driver-side sample.
    * Output is the final assignment; the oracle re-fits the same
    * deterministic path and embeds the centroids as literals
    * (dynamicOracleSql), so the whole fit is hash-checked end to end.
    */
  private def xSimKmeansFull(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = Similarity.kmeansFitFull(e, nLists = 8, iters = 2)
    Similarity.ivfIndexWith(e, cents)
      .select(col("id"), col("list_id"))
      .orderBy("id")
  }

  /** Per-cluster simplified silhouette (Similarity
    * .silhouetteSimplified) over the 8-list sampled k-means fit — the
    * cluster-quality eval for the IVF partitioning itself: which lists
    * are tight (high s) and which are diffuse boundary lists that
    * deserve more probes. The oracle re-fits the same deterministic
    * centroids and recomputes every snapped score in SQL.
    */
  private def xSimSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = Similarity.kmeansCentroids(e, nLists = 8)
    Similarity.silhouetteSimplified(e, cents).orderBy("list_id")
  }

  /** Deterministic random projection (Similarity.randomProjection):
    * 64-dim embeddings → 8 dims via hash-parity ±1/√8 sign rows —
    * matrix-free JL compression as a narrow per-row map. Scalar-row
    * output (id, dim, proj); the oracle embeds the same sign constants.
    */
  private def xSimRproj(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(t(s, dir, "embeddings"), "vec_id",
        "embedding", inDims = 64, outDims = 8)
      .select(col("id"), posexplode(col("pvec")).as(Seq("dim", "proj")))
      .orderBy("id", "dim")

  /** Product-quantization ANN (Similarity.pqFit/pqEncode/pqTopK): the
    * corpus compressed to 16 codes/vector (16 subspaces × 16 centroids),
    * queries scored by ADC table lookups. The oracle re-fits the same
    * deterministic codebooks and re-derives codes, tables, and the
    * subspace-ordered score fold from the embedded literals
    * (dynamicOracleSql) — the whole compressed pipeline hash-checks.
    */
  private def xSimPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 16, ks = 16)
    Similarity.pqTopK(e.filter(col("vec_id") < 5), e, 10, model)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN (Similarity.ivfPqTopK): inverted lists + PQ codes built
    * in one pass, probe-restricted ADC search — the composed
    * memory-and-probe-bounded architecture. Oracle re-derives BOTH
    * literal sets (k-means centroids, PQ codebooks) and the probe, code
    * and score pipeline in SQL (dynamicOracleSql).
    */
  private def xSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 16, ks = 16)
    val cents = Similarity.kmeansCentroids(e, nLists = 16)
    Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e, 10, model,
        cents, nProbe = 4)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** Brute-force cosine top-k: 5 query vectors vs the full corpus; rank
    * output only (cosine computed in doubles on both engines, but kept
    * out of the compared columns).
    */
  private def xSimTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 10)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** LSH kNN-graph (Similarity.knnJoinLsh): every vector's top-3
    * neighbors among its bucket-mates — the ANN-graph construction
    * primitive, candidates bounded per bucket, window-free ranking.
    */
  private def xSimKnnGraph(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinLsh(t(s, dir, "embeddings"), 3, nPlanes = 8)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")

  /** Multi-probe LSH kNN (Similarity.knnJoinLshMultiProbe): every query
    * probes its bucket plus the 8 Hamming-1 flips — recall without
    * extra tables; probe-side fan-out only.
    */
  private def xSimLshProbe(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinLshMultiProbe(t(s, dir, "embeddings"), 3,
        nPlanes = 8)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")

  /** Two-table LSH kNN-graph (Similarity.knnJoinLshMulti): union of
    * bucket-mates from two independent plane sets — the recall lever;
    * candidate count stays Σ per-bucket n² per table.
    */
  private def xSimKnnMulti(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinLshMulti(t(s, dir, "embeddings"), 3,
        nPlanes = 8, nTables = 2)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")

  /** Int8-quantized cosine top-k (Similarity.quantizedTopK): the same
    * five queries as x_sim_topk against the quantized corpus — exact
    * integer dots times the two scales, so the ranking is engine-stable
    * and fully oracle-checked. Recall vs the float path is asserted in
    * ExtSpec.
    */
  private def xSimQuantized(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.quantizedTopK(e.filter(col("vec_id") < 5), e, 10)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** Exact cosine near-dup pairs over a bounded subset (all-pairs is the
    * oracle path; the LSH variant below is the scale path).
    */
  private def xSimPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.exactPairs(
      t(s, dir, "embeddings").filter(col("vec_id") < 300),
      threshold = 0.3)
      .drop("sim")
      .orderBy("id_a", "id_b")

  /** IVF probe-restricted top-k on the full corpus (deterministic;
    * oracle-checked — the centroid assignment, probe routing and
    * ranking are plain window/join SQL; recall vs brute force is
    * additionally asserted in ExtSpec).
    */
  private def xSimIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = Similarity.ivfIndex(e, nLists = 16)
    Similarity.ivfTopK(e.filter(col("vec_id") < 5), index, e, 10,
      nProbe = 4, nLists = 16)
      .withColumn("rank", col("rank").cast(LongType))
      .orderBy("query_id", "rank")
  }

  /** ANN quality eval: recall@10 of the probe-restricted IVF search
    * against the brute-force exact top-10, per query — the metric
    * that decides nProbe/nLists in production. Both rankings are
    * existing oracle-checked operators; the recall join is per-query
    * bounded (10 rows a side). Exact-integer hit counts, one double
    * division.
    */
  private def xSimIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, e, 10)
      .select(col("query_id"), col("neighbor_id"))
    val index = Similarity.ivfIndex(e, nLists = 16)
    val ivf = Similarity.ivfTopK(queries, index, e, 10, nProbe = 4,
        nLists = 16)
      .select(col("query_id").as("__qi"), col("neighbor_id").as("__ni"))
    brute.join(ivf,
        col("query_id") === col("__qi") &&
          col("neighbor_id") === col("__ni"), "left")
      .groupBy("query_id")
      .agg(sum(when(col("__ni").isNotNull, 1L).otherwise(0L))
          .as("n_hit"),
        count(lit(1)).as("__n_true"))
      .select(col("query_id"), col("n_hit"),
        round(col("n_hit").cast("double") /
          col("__n_true").cast("double"), 12).as("recall"))
      .orderBy("query_id")
  }

  /** LSH-bucketed cosine pairs on the full corpus (portable md5-derived
    * hyperplanes — oracle-checked).
    */
  private def xSimLshPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.lshCandidatePairs(t(s, dir, "embeddings"),
      nPlanes = 8, threshold = 0.3)
      .drop("sim")
      .orderBy("id_a", "id_b")

  /** PII audit scan over documents with injected PII-shaped strings
    * (the corpus itself is synthetic word soup, so known patterns are
    * appended to make hit counts non-trivial on both engines).
    */
  private def xTextPii(s: SparkSession, dir: String): DataFrame = {
    val raw = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" reach me at alice.smith@example.com")))
      .when(col("doc_id") % 5 === 1,
        concat(col("text"), lit(" or call 555-867-5309 today")))
      .when(col("doc_id") % 5 === 2,
        concat(col("text"), lit(" server at 192.168.10.42 responded")))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        TextAnalysis.piiEmailCount(col("raw")).cast(LongType)
          .as("n_email"),
        TextAnalysis.piiPhoneCount(col("raw")).cast(LongType)
          .as("n_phone"),
        TextAnalysis.piiIpv4Count(col("raw")).cast(LongType)
          .as("n_ipv4"))
      .orderBy("doc_id")
  }

  /** Corpus-level rollup by declared language: doc counts plus exact
    * integer token/char totals (no float averages — order-independent).
    */
  private def xTextCorpusStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast(LongType))
          .as("total_tokens"),
        sum(length(col("text")).cast(LongType)).as("total_chars"))
      .orderBy("lang")

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  private def xTextTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType)
          .as("n_tokens"),
        TextAnalysis.wordTokenCount(col("text")).cast(LongType)
          .as("n_word_tokens"))
      .orderBy("doc_id")

  /** Quality metrics: declared-length consistency, alpha ratio, average
    * token length, composite score.
    */
  private def xTextQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        (length(col("text")).cast(LongType) === col("n_chars"))
          .as("n_chars_ok"),
        TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
        TextAnalysis.avgTokenLength(col("text")).as("avg_token_len"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Corpus drift monitor (TextAnalysis.tokenDrift — round-16): the
    * short-document slice (n_chars <= 300, a genuinely shifted token
    * mix) measured against the full corpus's top-50 tokens. Every
    * column is integer-exact — `dev = |base_n·M − batch_n·N|`, the
    * cross-multiplied total-variation contribution — so the DuckDB
    * twin reproduces the drift table bit-for-bit with no float
    * rounding anywhere.
    */
  private def xTextDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.tokenDrift(docs,
        docs.filter(col("n_chars") <= 300), "text", k = 50)
      .orderBy("tok")
  }

  /** [[xTextDrift]] as a per-batch STREAMING monitor
    * (StreamingValidate.tokenDriftMonitorStream — round-16; the
    * TOKEN-distribution sibling of the numeric KS drift arc
    * [[xStreamDrift]] and the source-pair JS matrix
    * [[xTextJsDivergence]]): the standing top-50 head is built once
    * from the full corpus, then two "crawl batches" with genuinely
    * different token mixes — the short-doc slice and the doc_id % 5
    * slice — arrive as separate files, each screened as its own
    * micro-batch. The sink union equals the two one-shot drift
    * tables; every value integer-exact, so the oracle recomputes
    * both from scratch and unions.
    */
  private def xStreamTokenDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val streamDir = indexDir(dir, "tokdrift_stream")
    wipeDir(streamDir)
    docs.filter(col("n_chars") <= 300)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    StreamingValidate.tokenDriftMonitorStream(s, streamDir, docs,
        "text", k = 50)
      .orderBy("tok", "n_batch", "batch_n")
  }

  /** Embedding-space drift (Similarity.assignmentDrift — round-16):
    * the vec_id % 3 slice's centroid-assignment histogram against
    * the full corpus's, over the shared 16-list k-means centroids.
    * Integer-exact deviations; the fitted-literal dynamic oracle
    * re-derives assignment, histograms, and the cross-multiplied dev.
    */
  private def xEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.assignmentDrift(e, e.filter(col("vec_id") % 3 === 0),
        Similarity.kmeansCentroids(e, nLists = 16))
      .orderBy("list_id")
  }

  /** Numeric-PROFILE drift (Profile.profileDrift — round-17
    * directive #5, completing the drift-monitor family across the
    * column-profiling surface): per-column decile bounds fitted on
    * the full lineitem (exact interpolated percentiles — the
    * quantile_cont parity basis every profile row shares), both
    * sides bucketed by bounds reached, cross-multiplied integer
    * deviations per (column, bucket). The high-discount slice
    * genuinely drifts: l_discount's mass vacates the low deciles
    * while quantity/price stay flat — and every value is exact, so
    * the static DuckDB oracle recomputes bounds, buckets, and devs
    * bit-for-bit.
    */
  private def xProfileDrift(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    graft.ext.Profile.profileDrift(li,
        li.filter(col("l_discount") >= 0.05),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        exact = true)
      .orderBy("column_name", "bucket")
  }

  /** Language ID (stopword/script heuristic). */
  private def xTextLangid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Stopword hits + stopword ratio (per-token) — the quality signal
    * used to pre-filter machine-generated / non-prose text.
    */
  private def xTextStopwords(s: SparkSession, dir: String): DataFrame = {
    val hits = TextAnalysis.stopwordScore(col("text"),
      TextAnalysis.StopwordsEn)
    val toks = TextAnalysis.tokenCount(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), hits.cast(LongType).as("en_hits"),
        round(hits / greatest(toks, lit(1)), 6).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: md5 over normalized text. */
  private def xTextFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Multimodal: JSON props field extraction (typed metadata column). */
  private def xMmJson(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractJsonField(t(s, dir, "events"), "props", "k")
      .select(col("event_id"), col("k"))
      .orderBy("event_id")

  /** Multimodal: binary payload metadata (byte length of the blob). */
  private def xMmBinaryMeta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.withBinary(d, "doc_id", "text")
      .select(col("id").as("doc_id"),
        col("n_bytes").cast(LongType).as("n_bytes"))
      .orderBy("doc_id")
  }

  /** Multimodal: REAL image decode. Synthesizes a genuine 24-bit BMP
    * per document (dimensions and pixel content are pure functions of
    * doc_id), then `javax.imageio` parses the bytes back — decoded
    * width/height/channels, exact per-channel pixel sums, AND the
    * uncompressed byte length are all recomputed arithmetically by the
    * oracle, so the decoder's output is verified cell-for-cell.
    */
  private def xMmDecode(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.decode(Multimodal.synthesizeImages(d, "doc_id", "bmp"))
      .toDF()
      .orderBy("id")
  }

  /** Multimodal: real PNG round-trip — encode via the JDK PNG codec,
    * decode via `ImageIO.read`. Lossless, so the oracle's pixel-sum
    * arithmetic still holds; the compressed byte length is
    * codec-dependent and excluded from the compared columns.
    */
  private def xMmDecodePng(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.decode(Multimodal.synthesizeImages(d, "doc_id", "png"))
      .toDF()
      .drop("n_bytes")
      .orderBy("id")
  }

  /** Multimodal: real JPEG round-trip — encode via the JDK DCT codec,
    * decode via `ImageIO.read`. JPEG is LOSSY, so only the
    * container-level facts survive for oracle comparison: format
    * sniff, decoded width/height, channel count, frame count. Pixel
    * sums are excluded (they differ from the synthetic source by
    * design) — exercising the ImageIO JPEG path is the point.
    */
  private def xMmDecodeJpeg(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.decode(Multimodal.synthesizeImages(d, "doc_id", "jpeg"))
      .toDF()
      .select(col("id"), col("format"), col("width"), col("height"),
        col("channels"), col("n_frames"))
      .orderBy("id")
  }

  /** Multimodal: corrupt-blob posture — text bytes are not images, so
    * every row must degrade to the typed `unknown` row (correct byte
    * count, zero dims/sums) rather than erroring the scan.
    */
  private def xMmDecodeInvalid(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.decode(Multimodal.withBinary(d, "doc_id", "text"))
      .toDF()
      .orderBy("id")
  }

  /** Multimodal: frame-sampling plumbing — k byte-range slices per blob
    * with offsets (the schema/batch shape of video frame extraction).
    */
  private def xMmFrames(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.sampleFrames(Multimodal.withBinary(d, "doc_id", "text"), 3)
      .select(col("id").as("doc_id"), col("offset").cast(LongType)
        .as("offset"), col("frame_head"))
      .orderBy("doc_id", "offset")
  }

  /** Multimodal: perceptual dHash over REAL decoded rasters. Each doc
    * is encoded twice (uncompressed BMP and JDK-codec PNG), both are
    * decoded and dHashed; the output carries the hash AND the Hamming
    * distance between the two container formats — pinned to 0, the
    * content-level invariance byte-level dedup can't see. The hash
    * itself is nearest-neighbor integer arithmetic over pixels that
    * are pure functions of doc_id, so the oracle recomputes all 56
    * bits cell-for-cell without any image library.
    */
  private def xMmPhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bmp = Multimodal.perceptualHash(
      Multimodal.synthesizeImages(d, "doc_id", "bmp"))
    val png = Multimodal.perceptualHash(
      Multimodal.synthesizeImages(d, "doc_id", "png"))
      .select(col("id"), col("dhash").as("dhash_png"))
    bmp.join(png, "id")
      .select(col("id"), col("width"), col("height"), col("dhash"),
        Multimodal.hammingDist(col("dhash"), col("dhash_png"))
          .cast(IntegerType).as("hamming_bmp_png"))
      .orderBy("id")
  }

  /** Multimodal: banded Hamming LSH near-dup join over REAL decoded
    * dHashes (Multimodal.phashNearDuplicates). Items are every doc's
    * synthetic BMP plus a one-pixel-perturbed twin for each fifth doc;
    * 8 bands × 7 bits with maxDist 7 = bands − 1, so the banded join
    * is pigeonhole-COMPLETE and the output is exactly the brute-force
    * ≤7-bit pair set the oracle recomputes (hashes re-derived
    * arithmetically, then all pairs). The small synthetic rasters make
    * flat-image hash clusters — the degenerate case the bucket cap
    * exists for at scale; this row runs uncapped so exactness holds.
    */
  private def xMmPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
    Multimodal.phashNearDuplicates(
        hashes.select(col("id"), col("dhash")), bands = 8, maxDist = 7)
      .orderBy("id_a", "id_b")
  }

  /** The image family's incremental-ingest arc closed: the corpus'
    * banded dHash frame persisted ONCE as a bucketed index on the
    * serve join's own (band, key)
    * ([[graft.sources.IndexStore.writePhashIndexBucketed]]), a probe
    * batch (the perturbed twins) decoded/hashed/banded per ingest and
    * joined against it in place. Same pigeonhole completeness as the
    * self-join row; the oracle recomputes every luma byte, hash bit,
    * and popcount arithmetically in DuckDB for the probe×corpus pair
    * set.
    */
  private def xMmPhashServed(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
    val corpus = hashes.filter(col("id") % 2 === 0)
      .select(col("id"), col("dhash"))
    val probes = hashes.filter(col("id") % 2 === 1)
      .select(col("id"), col("dhash"))
    val tbl = indexTable(dir, "phidx")
    graft.sources.IndexStore.writePhashIndexBucketed(corpus, tbl,
      numBuckets = 8, bands = 8)
    val idx = graft.sources.IndexStore.readPhashIndexBucketed(s, tbl,
      bands = 8)
    Multimodal.phashNearDuplicatesAgainst(probes, idx, bands = 8,
        maxDist = 7)
      .orderBy("new_id", "corpus_id")
  }

  /** LSM APPEND for the pHash index: the index is built on HALF the
    * even-id corpus (item id % 4 = 0), the other half (% 4 = 2) is
    * APPENDED (only the delta is banded and shuffled; standing files
    * untouched), and the odd-id probes are served against the result.
    * Bands are a pure per-image function, so the served answer must
    * equal the full-corpus build's — this row shares
    * x_mm_phash_served's oracle VERBATIM: if appended band rows were
    * dead in the serve join, every probe×(%4 = 2) pair would be
    * missing and the hash would fail.
    */
  private def xMmPhashAppend(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
    val base = hashes.filter(col("id") % 4 === 0)
      .select(col("id"), col("dhash"))
    val delta = hashes.filter(col("id") % 4 === 2)
      .select(col("id"), col("dhash"))
    val probes = hashes.filter(col("id") % 2 === 1)
      .select(col("id"), col("dhash"))
    val tbl = indexTable(dir, "phapp")
    graft.sources.IndexStore.writePhashIndexBucketed(base, tbl,
      numBuckets = 8, bands = 8)
    graft.sources.IndexStore.appendPhashIndexBucketed(delta, tbl,
      bands = 8)
    val idx = graft.sources.IndexStore.readPhashIndexBucketed(s, tbl,
      bands = 8)
    Multimodal.phashNearDuplicatesAgainst(probes, idx, bands = 8,
        maxDist = 7)
      .orderBy("new_id", "corpus_id")
  }

  /** RESTART-SAFE image ingestion — the x_stream_dedup_resume arc for
    * the pHash index, over RAW IMAGE BYTES: run 1 decodes, hashes,
    * checks, and ADMITS the % 4 = 2 half of the corpus (file A); the
    * odd-id probe blobs (file B) arrive before run 2, which processes
    * only B against the now-complete even-id corpus. The probe rows
    * equal the full-corpus serve — x_mm_phash_served's oracle shared
    * verbatim; a re-processed file A would duplicate its band rows and
    * double-report every probe×A pair.
    */
  private def xStreamPhashResume(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val items = Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5)
    val baseHashes = Multimodal.perceptualHash(
        items.filter(col("id") % 4 === 0))
      .select(col("id"), col("dhash"))
    val fileA = items.filter(col("id") % 4 === 2)
    val fileB = items.filter(col("id") % 2 === 1)
    val streamDir = indexDir(dir, "phash_resume")
    val ckpt = indexDir(dir, "phash_resume_ckpt")
    val sink = indexDir(dir, "phash_resume_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "phres")
    graft.sources.IndexStore.writePhashIndexBucketed(baseHashes, tbl,
      numBuckets = 8, bands = 8)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.phashIngestRun(s, streamDir, tbl, bands = 8,
      maxDist = 7, checkpointDir = ckpt, sinkDir = sink)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.phashIngestRun(s, streamDir, tbl, bands = 8,
      maxDist = 7, checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .filter(col("new_id") % 2 === 1)
      .select(col("new_id"), col("corpus_id"), col("hamming"))
      .orderBy("new_id", "corpus_id")
  }

  /** The pHash index through the full LSM cycle — build on half the
    * even-id corpus → append the other half → COMPACT → serve the odd
    * probes — sharing x_mm_phash_served's oracle verbatim (same
    * argument as [[xMmPhashAppend]], plus compaction changing file
    * layout only).
    */
  private def xMmPhashCompact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
    val tbl = indexTable(dir, "phcmp")
    graft.sources.IndexStore.writePhashIndexBucketed(
      hashes.filter(col("id") % 4 === 0).select(col("id"), col("dhash")),
      tbl, numBuckets = 8, bands = 8)
    graft.sources.IndexStore.appendPhashIndexBucketed(
      hashes.filter(col("id") % 4 === 2).select(col("id"), col("dhash")),
      tbl, bands = 8)
    graft.sources.IndexStore.compactPhashIndexBucketed(s, tbl)
    val idx = graft.sources.IndexStore.readPhashIndexBucketed(s, tbl,
      bands = 8)
    Multimodal.phashNearDuplicatesAgainst(
        hashes.filter(col("id") % 2 === 1).select(col("id"), col("dhash")),
        idx, bands = 8, maxDist = 7)
      .orderBy("new_id", "corpus_id")
  }

  /** [[xMmPhashCompact]] on the VERSIONED band table. Shares
    * x_mm_phash_served's oracle verbatim.
    */
  private def xMmPhashVersioned(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
    val tbl = indexTable(dir, "phver")
    graft.sources.IndexStore.writePhashIndexBucketedVersioned(
      hashes.filter(col("id") % 4 === 0).select(col("id"), col("dhash")),
      tbl, numBuckets = 8, bands = 8)
    graft.sources.IndexStore.appendPhashIndexBucketedVersioned(
      hashes.filter(col("id") % 4 === 2).select(col("id"), col("dhash")),
      tbl, bands = 8)
    graft.sources.IndexStore.compactPhashIndexBucketedVersioned(s, tbl)
    val idx = graft.sources.IndexStore.readPhashIndexBucketedVersioned(
      s, tbl, bands = 8)
    Multimodal.phashNearDuplicatesAgainst(
        hashes.filter(col("id") % 2 === 1).select(col("id"), col("dhash")),
        idx, bands = 8, maxDist = 7)
      .orderBy("new_id", "corpus_id")
  }

  /** Tombstone deletion for the pHash index: every 4th item id is
    * DELETED from the (even-id) image corpus — one id-list append,
    * standing band files untouched — and the probe batch is served
    * with dead corpus ids excluded on the OUTPUT pairs. The oracle
    * recomputes the probe × corpus Hamming pairs arithmetically and
    * drops the deleted corpus ids; purge is proven serve-invariant in
    * BucketingSpec.
    */
  private def xMmPhashDelete(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hashes = Multimodal.perceptualHash(
      Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5))
    val corpus = hashes.filter(col("id") % 2 === 0)
      .select(col("id"), col("dhash"))
    val probes = hashes.filter(col("id") % 2 === 1)
      .select(col("id"), col("dhash"))
    val tbl = indexTable(dir, "phdel")
    graft.sources.IndexStore.writePhashIndexBucketed(corpus, tbl,
      numBuckets = 8, bands = 8)
    graft.sources.IndexStore.deleteFromPhashIndexBucketed(
      corpus.filter(col("id") % 4 === 0).select("id"), tbl)
    val idx = graft.sources.IndexStore.readPhashIndexBucketed(s, tbl,
      bands = 8)
    val dead = graft.sources.IndexStore.readPhashDeadIds(s, tbl)
      .select(col("id").as("corpus_id"))
    Multimodal.phashNearDuplicatesAgainst(probes, idx, bands = 8,
        maxDist = 7)
      .join(dead, Seq("corpus_id"), "left_anti")
      .select(col("new_id"), col("corpus_id"), col("hamming"))
      .orderBy("new_id", "corpus_id")
  }

  /** Multimodal: REAL WAV decode. Synthesizes a genuine RIFF/PCM16
    * blob per document (sample values are pure functions of doc_id),
    * then `javax.sound.sampled` parses the bytes back — container
    * facts, exact Σ|sample| loudness, and the clip count are all
    * recomputed arithmetically by the oracle, cell-for-cell.
    */
  private def xMmAudio(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.decodeAudio(Multimodal.synthesizeAudio(d, "doc_id"))
      .toDF()
      .orderBy("id")
  }

  /** Multimodal: corrupt-audio posture — text bytes are not RIFF, so
    * every row degrades to the typed unknown row (correct byte count,
    * zero stats) rather than erroring the scan.
    */
  private def xMmAudioInvalid(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Multimodal.decodeAudio(Multimodal.withBinary(d, "doc_id", "text"))
      .toDF()
      .orderBy("id")
  }

  /** Streaming-shaped tumbling-window aggregation (batch-equivalent
    * plan of StreamingValidate.windowedCounts, minus the watermark —
    * identical grouping).
    */
  private def xStreamWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Custom-state sessionization (flatMapGroupsWithState) in batch mode:
    * 30-minute-gap sessions per user, oracle-checked against a SQL
    * lag/cumulative-sum sessionization.
    */
  private def xStreamSessionize(s: SparkSession, dir: String): DataFrame =
    StreamingValidate.sessionize(t(s, dir, "events"), 30)
      .orderBy("user_id", "session_start")

  /** Streaming distinct users per hour window
    * (StreamingValidate.windowedDistinct): dropDuplicates-then-count,
    * the watermark-bounded streaming replacement for countDistinct.
    */
  /** Stateful streaming CUSUM (StreamingValidate.cusumStream) in batch
    * mode — the flatMapGroupsWithState recursion whose output must
    * equal the batch window identity (x_ts_cusum shares this oracle);
    * the true streaming mode's micro-batch ≡ batch parity is asserted
    * in StreamingSpec.
    */
  private def xStreamCusum(s: SparkSession, dir: String): DataFrame =
    StreamingValidate.cusumStream(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          col("ts"), floor(col("value") * 100).cast("long").as("cents")),
        targetCents = 15000L, threshold = 1000000L)
      .select(col("event_id"), col("user_id"), col("cusum"),
        col("flagged"))
      .orderBy("event_id")

  private def xStreamDistinct(s: SparkSession, dir: String): DataFrame =
    StreamingValidate.windowedDistinct(
        t(s, dir, "events").select(col("ts"), col("user_id")), "user_id")
      .orderBy("window_start")

  /** Batch formulation of StreamingValidate.dedupWithinWatermark under
    * simulated at-least-once redelivery (events unioned with
    * themselves): dedup on (event_id, ts) recovers exactly the original
    * stream — event_id is unique, so the survivor rows are well-defined
    * in every column. Streaming-mode state behavior is asserted in
    * StreamingSpec.
    */
  private def xStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"))
    StreamingValidate.dedupWithinWatermark(e.unionByName(e),
        Seq("event_id"))
      .groupBy("event_type").agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type")
  }

  /** Stream-static dimension enrichment (batch formulation of
    * StreamingValidate.enrich — streaming mode covered in
    * StreamingSpec): events pick up the customer's market segment via
    * a broadcast left join, rolled up per day × segment.
    */
  private def xStreamEnrich(s: SparkSession, dir: String): DataFrame =
    StreamingValidate.enrich(t(s, dir, "events"), Seq("user_id"),
        t(s, dir, "customer"), Seq("c_custkey"), Seq("c_mktsegment"))
      .groupBy(window(col("ts"), "1 day"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("c_mktsegment"), col("cnt"))
      .orderBy("window_start", "c_mktsegment")

  /** Event-rate anomaly scan: hourly counts per type, z-scored against
    * the type's own distribution from explicit integer sums (engine-
    * exact arithmetic — see Profile.rateAnomalies), |z| >= 2 flagged.
    */
  private def xStreamAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"))
    graft.ext.Profile.rateAnomalies(hourly, Seq("event_type"), "cnt", 2.0)
      .select(col("window_start"), col("event_type"), col("cnt"),
        round(col("z"), 6).as("z"))
      .orderBy("window_start", "event_type")
  }

  /** Trailing-baseline anomaly scan: each hourly count z-scored against
    * its type's previous 24 buckets (drifting-baseline monitor shape) —
    * the window runs over the aggregated series, not raw events.
    */
  private def xStreamAnomalyTrailing(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"))
    graft.ext.Profile.rateAnomaliesTrailing(hourly, Seq("event_type"),
        "window_start", "cnt", trailing = 24, zThreshold = 2.5)
      .select(col("window_start"), col("event_type"), col("cnt"),
        round(col("z"), 6).as("z"))
      .orderBy("window_start", "event_type")
  }

  /** Robust (median/MAD) anomaly scan (Profile.rateAnomaliesRobust):
    * the mean/stddev twin of x_stream_anomaly with a baseline the
    * anomalies can't inflate.
    */
  private def xStreamAnomalyRobust(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"))
    graft.ext.Profile.rateAnomaliesRobust(hourly, Seq("event_type"),
        "cnt", threshold = 3.0)
      .select(col("window_start"), col("event_type"), col("cnt"),
        round(col("z_mad"), 6).as("z_mad"))
      .orderBy("window_start", "event_type")
  }

  /** Embedding-column QA profile (Profile.vectorProfile): per-dimension
    * stats over the corpus — collapsed/dead dims and NaN leaks in one
    * scan, output bounded by dimensionality.
    */
  private def xProfileVectors(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.vectorProfile(t(s, dir, "embeddings"), "embedding")
      .select(col("dim"), col("n"), col("n_bad"),
        round(col("mean"), 6).as("mean"),
        col("min_value"), col("max_value"))
      .orderBy("dim")

  /** Native session_window sessionization — same sessions via the
    * built-in windowed aggregation (gap-tie boundary uses >=; see
    * StreamingValidate.sessionizeNative scaladoc).
    */
  private def xStreamSessionizeNative(s: SparkSession, dir: String): DataFrame =
    StreamingValidate.sessionizeNative(t(s, dir, "events"), 30)
      .orderBy("user_id", "session_start")

  /** Gopher-style repetition quality metrics per document: top-word
    * fraction and duplicated bigram/trigram fractions — pure per-row
    * Column expressions (zero shuffle, linear in input bytes).
    */
  private def xTextRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_words"),
      round(TextAnalysis.topWordFrac(col("text")), 6).as("top_word_frac"),
      round(TextAnalysis.dupNgramFrac(col("text"), 2), 6)
        .as("dup_bigram_frac"),
      round(TextAnalysis.dupNgramFrac(col("text"), 3), 6)
        .as("dup_trigram_frac"))
      .orderBy("doc_id")

  /** Corpus vocabulary: token frequencies, top 50. orderBy+limit plans
    * as TakeOrderedAndProject — per-partition top-k then a k-merge, the
    * same bounded shape as bounded_top_k, with no global sort (asserted
    * in PlanSpec).
    */
  private def xTextVocab(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(50)

  // ------------------------------------------------------------- temporal joins
  /** As-of join (Joins.asOfJoin): each purchase event picks up the latest
    * click by the same user at-or-before it (ties: greatest click_id);
    * purchases with no prior click keep nulls. Union+window plan — one
    * shuffle on user_id, no join node (plan shape asserted in PlanSpec).
    */
  private def xAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    Joins.asOfJoin(purchases, clicks, "user_id", "ts", "user_id", "ts",
        "click_id", Seq("click_id", "click_ts"))
      .orderBy("event_id")
  }

  /** Keyed range join (Joins.rangeJoinKeyed): clicks by the same user in
    * the half-open 6-hour window after each purchase, counted per
    * purchase. The equality key keeps Catalyst on an equi-join with a
    * residual range filter — never a nested loop (asserted in PlanSpec).
    */
  private def xRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    Joins.rangeJoinKeyed(purchases, clicks, "user_id", "c_user",
        col("c_ts"), col("ts"), col("ts") + expr("INTERVAL 6 HOURS"))
      .groupBy("event_id", "user_id", "ts")
      .agg(count(col("c_id")).as("n_clicks"))
      .orderBy("event_id")
  }

  /** Keyless interval join via binning (Joins.rangeJoinBinned): event
    * traffic inside five literal maintenance/eval windows. Without the
    * bin key Spark would nested-loop |events|×|windows|; the 6-hour bin
    * turns it into an equi-join plus residual filter.
    */
  private def xRangeJoinBinned(s: SparkSession, dir: String): DataFrame = {
    val windows = Seq(
      ("w1", "2024-01-03 00:00:00", "2024-01-04 12:00:00"),
      ("w2", "2024-01-08 06:00:00", "2024-01-09 00:00:00"),
      ("w3", "2024-01-15 00:00:00", "2024-01-18 00:00:00"),
      ("w4", "2024-01-22 18:00:00", "2024-01-23 06:00:00"),
      ("w5", "2024-01-29 00:00:00", "2024-01-31 00:00:00"))
    val iv = s.createDataFrame(windows).toDF("w_name", "w_start", "w_end")
      .select(col("w_name"), col("w_start").cast("timestamp").as("w_start"),
        col("w_end").cast("timestamp").as("w_end"))
    Joins.rangeJoinBinned(t(s, dir, "events"), "ts", iv,
        "w_start", "w_end", binSeconds = 21600L)
      .groupBy("w_name")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("w_name")
  }

  /** Interval × interval overlap join (Joins.intervalOverlapJoin) on
    * epoch-day bounds: per-lineitem in-transit windows
    * [ship_day, ship_day + 1 + (okey+line) % 21) — the span is derived
    * deterministically because the synthetic lineitem carries no
    * receiptdate — against 30-day order windows [order_day, +30),
    * counted per order. Day-grained longs sidestep timezone semantics
    * entirely; the 32-day bin keeps the fan-out at ~1–2 bins per
    * interval. Oracle = the naive inequality cross filter, so the
    * hash-match proves canonical-bin dedup exact.
    */
  private def xJoinIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val epochD = lit(java.sql.Date.valueOf(ZmEpoch))
    val shipDay = datediff(col("l_shipdate").cast("date"), epochD)
      .cast("long")
    val li = t(s, dir, "lineitem").where(col("l_orderkey") % 7 === 0)
      .select(shipDay.as("ls"),
        (shipDay + lit(1L) +
          pmod(col("l_orderkey") + col("l_linenumber"), lit(21L)))
          .as("le"))
    val orderDay = datediff(col("o_orderdate").cast("date"), epochD)
      .cast("long")
    val ord = t(s, dir, "orders").where(col("o_orderkey") % 251 === 0)
      .select(col("o_orderkey").as("okey"), orderDay.as("rs"),
        (orderDay + lit(30L)).as("re"))
    graft.ext.Joins.intervalOverlapJoin(li, col("ls"), col("le"),
        ord, col("rs"), col("re"), binSize = 32L)
      .groupBy(col("okey")).agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("okey"))
  }

  /** Per-source vocabulary-cardinality KMV sketch (Sketches.kmvSketch):
    * the k = 64 smallest distinct token hashes per source, the exact
    * distinct-hash count, and the standard (k-1)·2^48/h_(k) estimate.
    * Two map-side-combinable hash aggregates, O(k) state per group.
    */
  private def xSketchKmv(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    Sketches.kmvSketch(toks, col("tok"), Seq("source"), 64)
      .select(col("source"), col("n_distinct"), col("k_small"),
        Sketches.kmvEstimate(col("n_distinct"), col("k_small"), 64)
          .as("est_distinct"))
      .orderBy("source")
  }

  /** Pairwise source-vocabulary overlap from merged KMV sketches
    * (Sketches.kmvPairwise): Jaccard / union / intersection estimates
    * for every source pair, computed over s·k sketch rows — the corpus
    * is never rescanned for the set algebra.
    */
  private def xSketchKmvSetops(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val sk = Sketches.kmvSketch(toks, col("tok"), Seq("source"), 64)
    Sketches.kmvPairwise(sk, "source", 64)
      .orderBy("src_a", "src_b")
  }

  private val ReconcileCompareCols = Seq("text", "lang", "source", "n_chars")

  /** Version reconciliation counts (Reconcile.diffCounts): documents vs
    * its v2 twin — added/removed/changed/unchanged cardinalities off a
    * narrow (pk, row-hash) full outer join.
    */
  private def xReconcileCounts(s: SparkSession, dir: String): DataFrame =
    Reconcile.diffCounts(t(s, dir, "documents"), docsV2(s, dir),
        Seq("doc_id"), ReconcileCompareCols)
      .orderBy("status")

  /** Per-column drift (Reconcile.columnDrift): which columns changed,
    * counted only over rows the row hash already marked changed.
    */
  private def xReconcileDrift(s: SparkSession, dir: String): DataFrame =
    Reconcile.columnDrift(t(s, dir, "documents"), docsV2(s, dir),
        Seq("doc_id"), ReconcileCompareCols)
      .orderBy("column_name")

  private val QuasiIdCols = Seq("c_nationkey", "c_mktsegment")

  /** k-anonymity scan (Privacy.kAnonymityViolations): customer groups
    * whose (nation, segment) quasi-identifier re-identifies below k=7.
    */
  private def xPrivacyKanon(s: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymityViolations(t(s, dir, "customer"), QuasiIdCols, 7)
      .orderBy("c_nationkey", "c_mktsegment")

  /** One-row k-anonymity release report (Privacy.kAnonymityStats). */
  private def xPrivacyKanonStats(s: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymityStats(t(s, dir, "customer"), QuasiIdCols, 7)

  /** l-diversity scan (Privacy.lDiversityViolations): quasi groups
    * whose thousand-bucketed balance takes < 5 distinct values — the
    * leak k-anonymity alone misses.
    */
  private def xPrivacyLdiv(s: SparkSession, dir: String): DataFrame =
    Privacy.lDiversityViolations(t(s, dir, "customer"), QuasiIdCols,
        floor(col("c_acctbal") / 1000.0), 5)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Mangled part-name twins for the linkage queries: every 5th part
    * re-enters under a shifted id with its name's last character
    * dropped — edit distance 1 from its original, first token (the
    * block key) preserved. Mirrored in the oracle CTE.
    */
  private def mangledParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").filter(col("p_partkey") % 5 === 0)
      .select((col("p_partkey") + 9000000L).as("m_id"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("m_name"))

  /** Blocked fuzzy join (Linkage.fuzzyJoinBlocked): mangled twins vs
    * parts, first-token blocking, levenshtein ≤ 2 — candidates from
    * an equi-join on the block key over DISTINCT name values (the
    * harness part names are 64 distinct strings over 20k rows — the
    * value-dedup rewrite scores 64² value pairs instead of 50M id
    * pairs), never the cross product.
    */
  private def xLinkageFuzzy(s: SparkSession, dir: String): DataFrame =
    Linkage.fuzzyJoinBlocked(mangledParts(s, dir),
        t(s, dir, "part"), "m_id", "m_name", "p_partkey", "p_name",
        Linkage.firstTokenKey, maxDist = 2)
      .orderBy("left_id", "right_id")

  /** Best-match assignment (Linkage.bestMatchBlocked): smallest
    * distance per mangled row, id ascending on ties, ranked inside the
    * bounded aggregate (no window).
    */
  private def xLinkageBest(s: SparkSession, dir: String): DataFrame =
    Linkage.bestMatchBlocked(mangledParts(s, dir),
        t(s, dir, "part"), "m_id", "m_name", "p_partkey", "p_name",
        Linkage.firstTokenKey, maxDist = 2)
      .orderBy("left_id")

  /** PII redaction (TextAnalysis.redactPii) over the same planted rows
    * as x_text_pii: docs that contained PII, with the scrubbed text
    * (digested — the full redacted body is verified through the md5)
    * and how many placeholders were inserted.
    */
  private def xTextRedact(s: SparkSession, dir: String): DataFrame = {
    val raw = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" reach me at alice.smith@example.com")))
      .when(col("doc_id") % 5 === 1,
        concat(col("text"), lit(" or call 555-867-5309 today")))
      .when(col("doc_id") % 5 === 2,
        concat(col("text"), lit(" server at 192.168.10.42 responded")))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        (TextAnalysis.piiEmailCount(col("raw"))
          + TextAnalysis.piiPhoneCount(col("raw"))
          + TextAnalysis.piiIpv4Count(col("raw"))).cast(LongType)
          .as("n_redacted"),
        md5(TextAnalysis.redactPii(col("raw"))).as("red_hash"))
      .filter(col("n_redacted") > 0)
      .orderBy("doc_id")
  }

  /** Session gap for the batch sessionization queries: 6 hours in
    * microseconds — between the sf0.01 inter-arrival p10 (~1.1 h) and
    * median (~7.3 h), so sessions both merge and split. Shared with the
    * oracle.
    */
  private val SessionGapUs = 6L * 3600L * 1000000L

  /** Batch sessionization (Sessions.assign): every event tagged with
    * its user's 1-based session index under a 6-hour gap — one per-user
    * window, integer-microsecond arithmetic, engine-exact.
    */
  private def xSessionAssign(s: SparkSession, dir: String): DataFrame =
    Sessions.assign(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts")),
        "user_id", unix_micros(col("ts")), col("event_id"), SessionGapUs)
      .select(col("event_id"), col("user_id"), col("session_idx"))
      .orderBy("event_id")

  /** Per-session rollup (Sessions.stats): (user, session) → event
    * count, start/end micros, duration — the same shuffle as the
    * assignment (groupBy keys extend the window partition key).
    */
  private def xSessionStats(s: SparkSession, dir: String): DataFrame =
    Sessions.stats(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts")),
        "user_id", unix_micros(col("ts")), col("event_id"), SessionGapUs)
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"), col("duration_us"))
      .orderBy("user_id", "session_idx")

  /** CMS shape for x_sketch_cms: 150 distinct users into w=64 buckets
    * forces collisions (the overestimate is visible), d=4 rows bound
    * them. Shared with the oracle.
    */
  private val CmsDepth = 4
  private val CmsWidth = 64

  /** Count-min sketch (Sketches.cmsBuild/cmsEstimate): per-user event
    * frequency estimated from a 4×64-cell mergeable sketch, next to the
    * exact count — est ≥ exact always (collisions only add), equality
    * wherever no collision landed. Constant-size state, portable md5
    * bucketing, integer-exact.
    */
  private def xSketchCms(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"))
    val sk = Sketches.cmsBuild(ev, col("user_id"), CmsDepth, CmsWidth)
    Sketches.cmsEstimate(sk, ev, "user_id", CmsDepth, CmsWidth)
      .join(ev.groupBy("user_id").agg(count(lit(1)).as("n_exact")),
        "user_id")
      .select(col("user_id"), col("cms_est"), col("n_exact"))
      .orderBy("user_id")
  }

  /** Fixed-point PageRank (Graph.pageRank): 3 damped iterations over
    * the customer→supplier purchase graph (orders ⋈ lineitem), integer
    * rank units of 10⁻¹² — bitwise-deterministic, so the top-20 ranking
    * is oracle-checkable cell-for-cell. Node ids namespace the
    * bipartite sides (cust·2 even, supp·2+1 odd).
    */
  private def xGraphPagerank(s: SparkSession, dir: String): DataFrame =
    pageRankTop20(purchaseEdges(s, dir), iterations = 3,
      dangling = false)

  /** HITS hubs & authorities (Graph.hits), 2 rounds on the directed
    * customer→supplier purchase graph: customers are pure hubs,
    * suppliers pure authorities (bipartite), and the exact-integer L1
    * normalization makes both score columns engine-reproducible. Top
    * 20 by authority; the oracle unrolls both rounds as CTEs with
    * HUGEINT products mirroring decimal(38,0).
    */
  private def xGraphHits(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.hits(purchaseEdges(s, dir), "src", "dst",
        iterations = 2)
      .select(col("id").as("node_id"), col("hub_scaled"),
        col("auth_scaled"))
      .orderBy(desc("auth_scaled"), col("node_id")).limit(20)

  /** Shared purchase-graph edge frame for the five purchase-graph rows
    * (pagerank ×3, hits, ppr) — derived ONCE per process and served as
    * a src-bucketed EdgeStore artifact; the orders⋈lineitem projection
    * runs at first access, every later row reads the splits in place.
    */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.sources.EdgeStore.ensure(s, indexTable(dir, "pedges"),
        Seq("src"), 8) {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_suppkey")), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
    }

  private def pageRankTop20(edges: DataFrame, iterations: Int,
      dangling: Boolean): DataFrame =
    graft.ext.Graph.pageRank(edges, "src", "dst", iterations,
        danglingRedistribute = dangling)
      .select(col("id").as("node_id"),
        when(col("id") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        col("rank_scaled"))
      .orderBy(desc("rank_scaled"), asc("node_id"))
      .limit(20)

  /** Personalized PageRank (Graph.personalizedPageRank): teleport
    * pinned to two customer seed nodes — "suppliers most related to
    * these customers" over the bipartite purchase graph; exact-long
    * fixed point, oracle unrolls the same 3 rounds with seed-gated
    * base mass.
    */
  private def xGraphPpr(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.personalizedPageRank(purchaseEdges(s, dir),
        "src", "dst", iterations = 3, seeds = PprSeeds)
      .select(col("id").as("node_id"),
        when(col("id") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        col("rank_scaled"))
      .orderBy(desc("rank_scaled"), asc("node_id"))
      .limit(20)

  /** Lag-1 autocorrelation (TimeSeries.autocorrelation) of daily
    * order revenue — exact-moment Pearson over the (day, day+1)
    * self-join, bucket-grain work only.
    */
  private def xTsAutocorr(s: SparkSession, dir: String): DataFrame =
    // o_orderdate ships TIMESTAMP_NTZ: day index via DATE arithmetic,
    // which is wall-clock on both engines — no session-timezone
    // dependence (unix_micros would reject NTZ outright)
    graft.ext.TimeSeries.autocorrelation(t(s, dir, "orders"),
      datediff(col("o_orderdate").cast(DateType),
        to_date(lit("1970-01-01"))),
      round(col("o_totalprice") * 100).cast(LongType), lag = 1)

  /** Hour-of-day seasonality (TimeSeries.seasonalityProfile) of event
    * value and error share — one hash aggregate, 24 output rows.
    */
  private def xTsSeasonality(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.seasonalityProfile(t(s, dir, "events"),
        col("ts"), round(col("value") * 100).cast(LongType),
        col("event_type") === "error",
        bucketUs = 3600000000L, cycle = 24)
      .orderBy("phase")

  /** Neighbor-Jaccard link prediction (Graph.neighborJaccard) on the
    * co-purchase part graph: top-20 structurally-similar part pairs,
    * hub centers above degree 30 pruned (median degree ≈ 39 — the
    * production shape: a mega-hub's wedge pairs are the least
    * informative and the most expensive; uncapped the row costs
    * 10.4 s vs 3-4 s capped at sf0.1). Basket-array wedge fan-out on
    * the engine side, NAIVE capped wedge self-join in the oracle, so
    * the hash-match proves the fan-out path exact.
    */
  private def xGraphNeighborJaccard(s: SparkSession,
      dir: String): DataFrame =
    graft.ext.Graph.neighborJaccard(coPartEdges(s, dir), "src", "dst",
      topK = 20, maxCenterDegree = 30)

  /** Degree assortativity of the co-purchase graph
    * (Graph.degreeAssortativity): one exact-moment scalar that
    * fingerprints the graph's hub structure — the number a dedup or
    * sampling pass must not silently flip. Rounded to 12 decimals
    * like the corr rows (the oracle mirrors the identical sqrt
    * expression over HUGEINT moments).
    */
  private def xGraphAssortativity(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.degreeAssortativity(coPartEdges(s, dir), "src", "dst")
      .select(col("n_pairs"), round(col("assortativity"), 12)
        .as("assortativity"))

  /** Adamic–Adar link prediction (Graph.adamicAdar) on the same
    * co-purchase graph and hub cap as x_graph_neighbor_jaccard — the
    * degree-weighted variant (rare common neighbors dominate); each
    * center's 1/ln(deg) is snapped to 10⁻¹² fixed point once, pair
    * scores sum as exact longs, ranking ties break on the exact
    * integer. Oracle = the naive wedge self-join with the same
    * snapped weights.
    */
  private def xGraphAdamicAdar(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.adamicAdar(coPartEdges(s, dir), "src", "dst",
      topK = 20, maxCenterDegree = 30)

  /** Exact two-sample KS drift statistic (Profile.ksTwoSample):
    * whole-dollar price distributions of the R vs N return-flag
    * cohorts — cross-multiplied integer CDF comparison over the
    * bounded dollar domain, no libm, bit-identical on any engine.
    */
  private def xDriftKs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def cohort(f: String) = li.filter(col("l_returnflag") === f)
      .select(call_function("div",
        round(col("l_extendedprice") * 100).cast("long"), lit(100L))
        .as("price_d"))
    graft.ext.Profile.ksTwoSample(cohort("R"), cohort("N"),
      col("price_d"))
  }

  /** Label-propagation communities (Graph.labelPropagation), 4
    * synchronous rounds on the co-purchase part graph, reported as
    * community sizes. The oracle unrolls the same 4 rounds as CTEs
    * with the identical (count desc, label asc) tie-break, so the
    * hash-match proves the windowless struct-argmax path exact.
    */
  private def xGraphLpa(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.labelPropagation(coPartEdges(s, dir), "src", "dst",
        rounds = 4)
      .groupBy(col("community")).agg(count(lit(1)).as("size"))
      .orderBy(desc("size"), col("community")).limit(20)

  /** 10-round label propagation (past DeepIterThreshold): exercises
    * LPA's per-round localCheckpoint truncation path — the oracle's
    * 10 unrolled CTE rounds prove the label fixed point survives the
    * lineage-truncated chain bit-stably (the x_graph_pagerank_deep
    * contract, for the argmax update).
    */
  private def xGraphLpaDeep(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.labelPropagation(coPartEdges(s, dir), "src", "dst",
        rounds = 10)
      .groupBy(col("community")).agg(count(lit(1)).as("size"))
      .orderBy(desc("size"), col("community")).limit(20)

  /** 10-iteration PageRank (Graph.pageRank past DeepIterThreshold):
    * exercises the per-round localCheckpoint lineage-truncation path —
    * the oracle's 10 unrolled CTE rounds prove the fixed point stays
    * bit-stable over a deep chain.
    */
  private def xGraphPagerankDeep(s: SparkSession, dir: String): DataFrame =
    pageRankTop20(purchaseEdges(s, dir), iterations = 10,
      dangling = false)

  /** Dangling-mass redistribute PageRank (danglingRedistribute=true):
    * every supplier node is out-degree-0 in the purchase graph, so the
    * redistribute term moves real mass each round — exact long Σ,
    * broadcast back as a scalar, same bitwise determinism.
    */
  private def xGraphPagerankDangling(s: SparkSession,
      dir: String): DataFrame =
    pageRankTop20(purchaseEdges(s, dir), iterations = 3, dangling = true)

  /** CDC last-writer-wins compaction (Cdc.lastWriterWins): events as a
    * change log keyed by user — the latest change in (ts, event_id)
    * order wins, 'error' rows act as tombstones. ONE map-side-combinable
    * hash agg (native latest_by argmax); the oracle runs the
    * row_number-window formulation of the same semantics.
    */
  /** Snapshot state diff (Cdc.snapshotDiff): two deterministic
    * "releases" of the orders table — old drops okey % 5 = 4, new
    * drops okey % 7 = 3 and bumps totalprice where okey % 11 = 0 —
    * diffed on (totalprice, orderstatus) and reported as churn counts
    * per change type. Exercises all three change classes plus the
    * unchanged-drop on ~27k overlapping keys at sf0.01.
    */
  private def xCdcSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    val old = ord.where(col("o_orderkey") % 5 =!= 4)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val neu = ord.where(col("o_orderkey") % 7 =!= 3)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    graft.ext.Cdc.snapshotDiff(old, neu, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
      .groupBy(col("change")).agg(count(lit(1)).as("n"))
      .orderBy(col("change"))
  }

  private def xCdcMerge(s: SparkSession, dir: String): DataFrame =
    Cdc.lastWriterWins(t(s, dir, "events"),
        Seq("user_id"), Seq(unix_micros(col("ts")), col("event_id")),
        Seq("event_id", "event_type", "value"),
        col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id")

  /** SCD-type-2 history (Cdc.scd2): every change carries its validity
    * interval [own ts, next change's ts) per user, open (null) for the
    * current version. Per-key lead window — the bounded-partition
    * exception documented on the operator.
    */
  private def xCdcScd2(s: SparkSession, dir: String): DataFrame =
    Cdc.scd2(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          col("event_type"), col("ts")),
        Seq("user_id"), col("ts"), col("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("user_id", "event_id")

  /** Ordered-step funnel (Behavior.funnel): users reaching each step
    * strictly after their earliest arrival at the previous one —
    * (#steps − 1) user-keyed joins + min aggs, no window.
    */
  private def xFunnel(s: SparkSession, dir: String): DataFrame =
    Behavior.funnel(t(s, dir, "events"), "user_id", col("ts"),
        col("event_type"), FunnelSteps)
      .orderBy("step_idx")

  /** Weekly cohort retention (Behavior.cohortRetention): distinct users
    * per (first-event week, week offset) cell, week = exact long
    * epoch-µs bucket arithmetic mirrored by the oracle's integer `//`.
    */
  private def xCohort(s: SparkSession, dir: String): DataFrame =
    Behavior.cohortRetention(t(s, dir, "events"), "user_id",
        unix_micros(col("ts")))
      .orderBy("cohort_week", "week_offset")

  /** Event-type co-occurrence lift (Behavior.pairLift): market-basket
    * pairs over distinct (user, event_type) with exact integer counts
    * and a single final IEEE division for lift.
    */
  private def xBasketLift(s: SparkSession, dir: String): DataFrame =
    Behavior.pairLift(t(s, dir, "events"), "user_id", "event_type")
      .orderBy("item_a", "item_b")

  /** Winsorization clip-bounds report (Profile.winsorizeSummary): exact
    * interpolated p1/p99 of l_extendedprice plus the tail row counts
    * each bound would clip — percentile parity with quantile_cont as in
    * x_profile_quantiles.
    */
  private def xProfileWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.winsorizeSummary(t(s, dir, "lineitem"),
      "l_extendedprice", 0.01, 0.99)

  /** Incremental MERGE-INTO (Cdc.applyChanges): snapshot of the first
    * 19 days + the remaining days as a delta batch — the result must
    * equal batch LWW over the whole log, so the oracle is x_cdc_merge's
    * SQL verbatim (incremental ≡ batch invariant).
    */
  private def xCdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = to_timestamp(lit("2024-01-20 00:00:00"))
    val ord = Seq(unix_micros(col("ts")), col("event_id"))
    val pay = Seq("event_id", "event_type", "value")
    val del = col("event_type") === "error"
    val base = Cdc.lastWriterWins(ev.where(col("ts") < cut),
      Seq("user_id"), ord, pay, del)
    Cdc.applyChanges(base, ev.where(col("ts") >= cut),
        Seq("user_id"), ord, pay, del)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** Point-in-time SCD2 lookup (Cdc.pointInTime): each purchase joined
    * to the user-state version (non-purchase event history) valid at
    * purchase time — key-equi hash join with the interval residual.
    */
  private def xCdcPit(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hist = Cdc.scd2(
        ev.where(col("event_type") =!= "purchase")
          .select(col("user_id").as("h_user"),
            col("event_id").as("state_event_id"),
            col("event_type").as("state_type"), col("ts")),
        Seq("h_user"), col("ts"), col("state_event_id"))
      .select("h_user", "state_event_id", "state_type", "valid_from",
        "valid_to")
    val facts = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    Cdc.pointInTime(facts, hist, "user_id", "h_user", col("p_ts"))
      .select(col("purchase_id"), col("user_id"),
        col("state_event_id"), col("state_type"))
      .orderBy("purchase_id")
  }

  /** Funnel step latencies (Behavior.funnelTimes): per transition the
    * converting-user count, exact µs latency sum, and mean.
    */
  private def xFunnelTimes(s: SparkSession, dir: String): DataFrame =
    Behavior.funnelTimes(t(s, dir, "events"), "user_id",
        unix_micros(col("ts")), col("event_type"), FunnelSteps)
      .orderBy("step_idx")

  /** Quantile binning (Profile.quantileBuckets): l_quantity into
    * quartile buckets off exact interpolated bounds. Exact mode is the
    * oracle-parity opt-in and is priced for bounded-cardinality
    * columns like this one (50 distinct values); the library default
    * (percentile_approx sketch) is what a near-unique measure column
    * gets, plan-asserted in PlanSpec.
    */
  private def xBinQuantile(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.quantileBuckets(t(s, dir, "lineitem"),
        "l_quantity", Seq(0.25, 0.5, 0.75), exact = true)
      .orderBy("bucket")

  /** Distribution drift (Reconcile.psi): PSI of l_extendedprice between
    * the F and O linestatus populations over 10 fixed-width bins
    * (900–105000, integer-exact width). The compared term is rounded to
    * 12 decimals on BOTH sides: the raw (p−q)·ln(p/q) carries the
    * cross-engine libm caveat (Spark's Math.log vs DuckDB's log differ
    * by 1 ulp on some inputs — observed once at sf0.1), and the
    * rounding absorbs it without weakening the 5-significant-digit
    * drift verdict the scan exists for.
    */
  private def xDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    Reconcile.psi(
        li.where(col("l_linestatus") === "F"),
        li.where(col("l_linestatus") === "O"),
        "l_extendedprice", 900.0, 105000.0, 10)
      .withColumn("psi_term", round(col("psi_term"), 12))
      .orderBy("bin")
  }

  /** Gap-filled resampling (TimeSeries.resampleCounts): events onto a
    * 5-minute grid with empty buckets as explicit zero rows — the grid
    * from a sequence off the bounds agg, mirrored by the oracle's
    * generate_series.
    */
  private def xTsResample(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.resampleCounts(t(s, dir, "events"),
        unix_micros(col("ts")), 300L * 1000000L)
      .orderBy("bucket")

  /** Benford scan (Profile.benford): leading-digit distribution of
    * l_extendedprice vs log10(1+1/d). The synthetic uniform prices
    * should NOT follow Benford — the scan's job is to report that
    * faithfully, and the oracle pins every digit share.
    */
  private def xProfileBenford(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.benford(t(s, dir, "lineitem"), "l_extendedprice")
      .orderBy("digit")

  /** Schema inference (Infer.inferReport): the frictionless
    * `describe`/`infer` workflow over orders — per-column type mapping,
    * null/distinct facts, required/unique verdicts, enum candidates,
    * numeric bounds. One melted scan + one numeric-bounds scan.
    */
  private def xInferSchema(s: SparkSession, dir: String): DataFrame =
    graft.schema.Infer.inferReport(t(s, dir, "orders"))
      .orderBy("field")

  /** Poisson-bootstrap uncertainty (Profile.bootstrapMeans): 32
    * deterministic replicates of mean(l_extendedprice) with exact
    * cent-sums — the replicate spread is the metric's sampling
    * distribution, every weight a pure hash of (row id, replicate).
    */
  private def xProfileBootstrap(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.bootstrapMeans(t(s, dir, "lineitem"),
        concat(col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string")),
        round(col("l_extendedprice") * 100).cast("long"), 32)
      .orderBy("b")

  /** Co-purchase part graph for the triangle query: parts sharing an
    * order, canonical (a < b) undirected edges. The classic
    * "bought-together" projection of a bipartite order–part table.
    */
  private def coPartEdges(s: SparkSession, dir: String): DataFrame =
    // every-third order: the full co-purchase projection is quadratic
    // in basket size × order count, and the un-thinned sf0.1 graph
    // (1.2M edges, 83M wedges) makes this one demo row dominate the
    // whole bench — ⅓ of orders keeps the density realistic (~400k
    // edges) while the operator's bounds do the real scaling work.
    // Pairs come from per-order BASKET ARRAYS (one scan + one shuffle,
    // pair fan-out inside codegen), not a lineitem self-join that
    // would scan and shuffle the fact table twice. Served as a
    // src-bucketed EdgeStore artifact: the seven co-purchase rows
    // (jaccard, assortativity, adamic-adar, lpa ×2, triangles, k-core)
    // pay the fan-out once per process.
    graft.sources.EdgeStore.ensure(s, indexTable(dir, "copart"),
        Seq("src"), 8) {
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 3 === 0)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
            struct(x.as("src"), y.as("dst")))))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }

  /** Triangle counting (Graph.triangleCounts): degree-ordered
    * orientation over the co-purchase part graph — O(m^{3/2}) wedge
    * bound instead of Σdeg², every triangle counted exactly once. The
    * oracle enumerates the same triangle set from canonical a<b<c
    * three-way joins.
    */
  private def xGraphTriangles(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.triangleCounts(coPartEdges(s, dir), "src", "dst")
      .select(col("id").as("part_id"), col("n_triangles"))
      .orderBy(desc("n_triangles"), asc("part_id"))
      .limit(20)

  /** Markov transition matrix (Behavior.transitionMatrix): event-type
    * step counts and row-normalized probabilities per user stream —
    * one lead window, exact long counts, one IEEE division.
    */
  private def xBehaviorTransitions(s: SparkSession,
      dir: String): DataFrame =
    Behavior.transitionMatrix(t(s, dir, "events"), "user_id",
        unix_micros(col("ts")), col("event_id"), col("event_type"))
      .orderBy("from_state", "to_state")

  /** Session path mining (Behavior.topPaths): the 20 most common
    * event-type journeys under the shared 6-hour session gap —
    * deterministic path strings from sorted (ts, id, state) structs,
    * count-desc/path-asc total order on the cut.
    */
  private def xBehaviorPaths(s: SparkSession, dir: String): DataFrame =
    Behavior.topPaths(t(s, dir, "events"), "user_id",
      unix_micros(col("ts")), col("event_id"), col("event_type"),
      SessionGapUs, 20)

  /** Golden-record input: documents plus mirrored copies of the first
    * 50 (ids +10⁶, source "mirror"), with n_chars bumped by 3 on
    * doc_id % 10 == 0 so some groups' survivor is the COPY — both
    * argmax branches are exercised. Mirrored verbatim in the oracle.
    */
  private def goldenInput(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("mirror").as("source"),
          (col("n_chars") + when(col("doc_id") % 10 === 0, 3L)
            .otherwise(0L)).as("n_chars")))
  }

  /** Survivorship (Linkage.goldenRecords): each exact-duplicate text
    * group collapsed to its (n_chars desc, doc_id asc) winner plus
    * member/source counts — ONE native latest_by hash aggregate, no
    * window, no sort.
    */
  private def xLinkageGolden(s: SparkSession, dir: String): DataFrame =
    Linkage.goldenRecords(
        goldenInput(s, dir).withColumn("text_md5", md5(col("text"))),
        Seq("text_md5"), Seq(col("n_chars"), -col("doc_id")),
        Seq("doc_id", "source", "n_chars"),
        Seq(countDistinct(col("source")).as("n_sources")))
      .where(col("n_members") > 1)
      .select(col("text_md5"), col("n_members"), col("n_sources"),
        col("doc_id").as("rep_id"), col("source").as("rep_source"),
        col("n_chars").as("rep_chars"))
      .orderBy("text_md5")

  /** Zone-map layout shape shared with the oracle: 6-bit lanes for
    * quantity (1..50) and the 64-day-coarsened ship-day, file id =
    * top-6 z-bits → each file is one (8-quantity × 512-day) rectangle.
    */
  private val ZmBits = 6
  private val ZmShift = 6
  private val ZmEpoch = "1995-01-01"

  /** Zone map + min/max pruning (Layout.zoneMap / scanFlag): per-file
    * stats of a Z-ordered lineitem layout and the skip verdict for a
    * two-dimensional predicate (quantity ∈ [10,20] ∧ ship-day ∈
    * [100,400]) — the Z-interleave makes BOTH dimensions prune (~93%
    * of rows skipped at sf0.01), which a single-key sort cannot do.
    */
  private def xLayoutZonemap(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_quantity").cast("long").as("q"),
      datediff(col("l_shipdate").cast("date"),
        lit(java.sql.Date.valueOf(ZmEpoch))).cast("long").as("d"))
    val zv = graft.ext.Layout.zValue(
      Seq(col("q"), shiftright(col("d"), ZmBits)), ZmBits)
    graft.ext.Layout.zoneMap(li, shiftright(zv, ZmShift),
        Seq("q" -> col("q"), "d" -> col("d")))
      .withColumn("scanned", graft.ext.Layout.scanFlag(
        Seq(("q", lit(10L), lit(20L)), ("d", lit(100L), lit(400L)))))
      .orderBy("file_id")
  }

  /** Word co-occurrence lift: Behavior.pairLift over the (doc, word)
    * set restricted to the top-50 document-frequency vocabulary
    * (count desc, word asc — a deterministic cut, broadcast back onto
    * the token stream), so the pair space is ≤ C(50,2) regardless of
    * corpus size. Exact counts; lift's one division is IEEE-portable.
    */
  private def xTextCooc(s: SparkSession, dir: String): DataFrame = {
    // the distinct (doc, word) set feeds the vocab fit AND the
    // restricted pair join — scope-cache it so the tokenize runs once.
    // r17 (guide §2.4 "remove shuffles outright"): per-doc dedup moved
    // INTO the row as array_distinct BEFORE the explode — the emitted
    // (doc_id, w) pairs are distinct by construction, so the corpus-
    // wide `.distinct()` shuffle of the full occurrence stream (the
    // row's dominant exchange; 93 s summed task at sf0.1) is gone.
    // Same set, same downstream counts, hash unchanged.
    // PRECONDITION (r18, ADVICE): the per-row dedup is equivalent to
    // the oracle's corpus-wide SELECT DISTINCT doc_id, w ONLY because
    // doc_id is unique per documents row — the corpus primary key
    // (the fixture generator key-shifts doc_id per replica, never
    // duplicating it). A corpus with duplicate doc_id rows would
    // inflate df counts and pair lifts here while the oracle dedups
    // across rows — dedup on doc_id first if that contract ever bends.
    graft.ext.CacheScope.withCached(
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("w"))) { dw =>
      val vocab = dw.groupBy("w").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("w")).limit(50).select("w")
      Behavior.pairLift(dw.join(broadcast(vocab), "w"), "doc_id", "w")
        .orderBy("item_a", "item_b")
    }
  }

  /** END-TO-END training-data pipeline — the composition a real corpus
    * run chains, as ONE lazy plan over the degraded corpus (documents
    * plus exact copies of the first 50): exact dedup keeping the
    * lowest doc_id per text (one hash aggregation — never all-pairs),
    * then the quality gate (composite score ≥ 0.7), the language gate
    * (langId = 'en'), a minimum-length gate (≥ 10 whitespace tokens),
    * and deterministic hash-sharding of the survivors into 8 training
    * shards. Output is per-shard (n_docs, token sum, doc-id checksum)
    * — bounded at 8 rows at ANY corpus size, and the checksum pins
    * WHICH documents survived every gate, so the oracle re-deriving
    * the full dedup → score → gate → shard chain in SQL proves the
    * whole composition, not just the final counts. Each stage is an
    * already-proven operator (x_dedup_exact, x_text_quality,
    * x_text_langid, x_text_tokens, x_sample_* share the expressions);
    * this row proves they COMPOSE in one lazy plan: the corpus
    * shuffles ONCE (the dedup hash aggregation — its only exchange
    * before the 8-group shard rollup), and every gate is a plain
    * projection/filter over the keepers, eligible for whole-stage
    * codegen, with nothing materialized between stages.
    */
  private def xPipelineTrain(s: SparkSession, dir: String): DataFrame = {
    val kept = docsWithCopies(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .filter(TextAnalysis.qualityScore(col("text")) >= 0.7 &&
        TextAnalysis.langId(col("text")) === "en" &&
        TextAnalysis.tokenCount(col("text")) >= 10)
    kept.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType)
          .as("n_tokens"),
        (Dedup.hash48(concat(lit("pipe1"),
          col("doc_id").cast("string"))) % 8).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .orderBy("shard")
  }

  /** The MULTI-INDEX gated pipeline
    * (StreamingValidate.gatedIngestRunMulti over
    * graft.sources.IndexStore.writePipelineIndexVersioned — round-15
    * capstone): the MinHash halves AND a key member live in ONE
    * manifest chain, every batch is screened through BOTH gates —
    * near-dup CONTENT (MinHash) and duplicate-id IDENTITY (key) —
    * and the survivors are admitted into all three members with one
    * atomic commit. Batch 2 carries PLANTED re-fetches: corpus ids
    * (% 4 = 0, id < 80) re-sent with FRESH text (the % 4 = 3 neighbor
    * id+3's text, which is not yet in the index when the batch is
    * checked) — invisible to the content gate, caught only by the
    * identity gate; an admitted re-fetch would shift the shard
    * aggregate AND the key-index total. Output: the sink aggregate
    * (x_stream_pipeline_admit's shape, minus its offset-copy arm)
    * plus idx_total = the key member's count sum, which must equal
    * corpus + admissions exactly — the cross-index consistency the
    * atomic commit guarantees.
    */
  private def xStreamPipelineMulti(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "spmulti")
    graft.sources.IndexStore.writePipelineIndexVersioned(corpus, tbl,
      numBuckets = 8, k = 5)
    val streamDir = indexDir(dir, "spmulti_src")
    val ckpt = indexDir(dir, "spmulti_ckpt")
    val sink = indexDir(dir, "spmulti_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    d.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunMulti(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    val planted = d.filter(col("doc_id") % 4 === 0 &&
        col("doc_id") < 80)
      .select(col("doc_id"), (col("doc_id") + 3).as("src_id"))
      .join(d.select(col("doc_id").as("src_id"), col("text")),
        Seq("src_id"))
      .select(col("doc_id"), col("text"))
    d.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .unionByName(planted)
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunMulti(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    val total = graft.sources.IndexStore.readPipelineKeyIndex(s, tbl)
      .agg(sum(col("n")).cast(LongType).as("idx_total"))
    s.read.parquet(sink)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .crossJoin(total)
      .orderBy("shard")
  }

  /** [[xStreamPipelineMulti]] with the CADENCE KNOBS ON (round-16
    * directive #2 — the long-running shape of the capstone: a real
    * multi-gate ingest runs forever, so its generation and version
    * growth must be boundable): autoCompactGens=2 runs one tiered
    * merge across ALL THREE members per admit (one manifest commit —
    * even maintenance keeps the cross-member atomicity), and
    * autoVacuumRetain=2 keeps only the last two freezes. Compaction
    * and retention are layout-only, so the admitted set — and with it
    * every gate decision, the sink aggregate, and the key-member
    * total — is INVARIANT under the knobs: this row shares
    * x_stream_pipeline_multi's oracle VERBATIM, and the hash-match is
    * the proof that bounding growth changes no answer.
    */
  private def xStreamPipelineMultiBounded(s: SparkSession,
      dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "spmultib")
    graft.sources.IndexStore.writePipelineIndexVersioned(corpus, tbl,
      numBuckets = 8, k = 5)
    val streamDir = indexDir(dir, "spmultib_src")
    val ckpt = indexDir(dir, "spmultib_ckpt")
    val sink = indexDir(dir, "spmultib_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    d.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunMulti(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink,
      autoCompactGens = 2, autoVacuumRetain = 2)
    val planted = d.filter(col("doc_id") % 4 === 0 &&
        col("doc_id") < 80)
      .select(col("doc_id"), (col("doc_id") + 3).as("src_id"))
      .join(d.select(col("doc_id").as("src_id"), col("text")),
        Seq("src_id"))
      .select(col("doc_id"), col("text"))
    d.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .unionByName(planted)
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunMulti(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink,
      autoCompactGens = 2, autoVacuumRetain = 2)
    require(graft.sources.BucketedManifest.gensOf(s, tbl,
        s"${tbl}_keys").size <= 2,
      "the cadence knob must bound the key member's generation count")
    val total = graft.sources.IndexStore.readPipelineKeyIndex(s, tbl)
      .agg(sum(col("n")).cast(LongType).as("idx_total"))
    s.read.parquet(sink)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .crossJoin(total)
      .orderBy("shard")
  }

  /** ONLINE INDEX EVOLUTION through the oracle gate (round-16 —
    * graft.sources.BucketedManifest.addMember): the family STARTS as
    * the plain versioned MinHash pair and ingests batch 1 with the
    * content gate only (identical decisions — batch-1 ids are % 4 = 1
    * and can never collide with the even corpus, so the identity gate
    * is vacuous there); the key member is then derived from the ids
    * already admitted (`_sh`'s id set) and ADDED in one manifest
    * commit — no rebuild, no generation touched — and batch 2 (with
    * its planted re-fetches) runs through the FULL multi-gate loop on
    * the same checkpoint. Shares x_stream_pipeline_multi's oracle
    * VERBATIM: a family evolved mid-stream is indistinguishable from
    * one born with all three members.
    */
  private def xStreamPipelineEvolve(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "spevol")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(corpus,
      tbl, numBuckets = 8, k = 5)
    val streamDir = indexDir(dir, "spevol_src")
    val ckpt = indexDir(dir, "spevol_ckpt")
    val sink = indexDir(dir, "spevol_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    d.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunVersioned(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    // the evolution point: the identity gate's member is born from
    // the admitted state, in one commit
    graft.sources.IndexStore.addPipelineKeyMember(s, tbl,
      numBuckets = 8): Unit
    val planted = d.filter(col("doc_id") % 4 === 0 &&
        col("doc_id") < 80)
      .select(col("doc_id"), (col("doc_id") + 3).as("src_id"))
      .join(d.select(col("doc_id").as("src_id"), col("text")),
        Seq("src_id"))
      .select(col("doc_id"), col("text"))
    d.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .unionByName(planted)
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunMulti(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    val total = graft.sources.IndexStore.readPipelineKeyIndex(s, tbl)
      .agg(sum(col("n")).cast(LongType).as("idx_total"))
    s.read.parquet(sink)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .crossJoin(total)
      .orderBy("shard")
  }

  /** The x_pipeline_train composition STREAMED against a standing
    * index (StreamingValidate.gatedIngestStream) — the production
    * crawl-ingest loop end to end: the even-id half of the corpus is
    * indexed once (bucketed MinHash), the "new crawl" — the odd-id
    * half plus exact copies of the first 25 even docs — arrives as
    * real micro-batches, and each batch is near-dup screened against
    * the index, quality/language/length gated, and its survivors
    * emitted as (doc_id, n_tokens, shard) admit records. The copies
    * MUST die at the dedup gate (jaccard 1.0 against their sources);
    * the odd docs live or die by the data. Static index + per-document
    * gates ⇒ the union over micro-batches is the one-shot answer; the
    * oracle recomputes screen + gates + shard rollup from scratch,
    * checksum included.
    */
  private def xStreamPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "spipe")
    graft.sources.IndexStore.writeDedupIndexBucketed(corpus, tbl,
      numBuckets = 8, k = 5)
    val stream = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(
        d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val streamDir = indexDir(dir, "spipe_src")
    stream.repartition(2).write.mode("overwrite").parquet(streamDir)
    StreamingValidate.gatedIngestStream(s, streamDir, tbl,
        threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
        salt = "spipe1")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .orderBy("shard")
  }

  /** The gated pipeline with a GROWING index
    * (StreamingValidate.gatedIngestRun) — the full production crawl
    * loop: run 1 screens + gates file A (doc_id % 4 = 1) against the
    * even-id corpus index and ADMITS its survivors; file B — the
    * % 4 = 3 docs plus exact copies (+2000000) of the first A docs —
    * arrives before run 2, which resumes from the checkpoint and
    * screens B against corpus ∪ A-survivors. Every copy must die
    * REGARDLESS of its source's fate: an admitted source is now IN the
    * index (jaccard 1.0), and a rejected source's copy shares its
    * exact text, so it fails the same gate or corpus screen. The
    * oracle re-derives both runs' admission sets — including the
    * grown-index screen for run 2 — and the per-shard checksum pins
    * the exact surviving ids across the restart (a re-processed A
    * would double-admit and double-count).
    */
  private def xStreamPipelineAdmit(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "spadm")
    graft.sources.IndexStore.writeDedupIndexBucketed(corpus, tbl,
      numBuckets = 8, k = 5)
    val streamDir = indexDir(dir, "spadm_src")
    val ckpt = indexDir(dir, "spadm_ckpt")
    val sink = indexDir(dir, "spadm_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    d.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRun(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    d.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .unionByName(
        d.filter(col("doc_id") % 4 === 1 && col("doc_id") < 40)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRun(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .orderBy("shard")
  }

  /** [[xStreamPipelineAdmit]]'s gated-admission arc over the
    * VERSIONED MinHash family with a PER-BATCH FREEZE
    * (StreamingValidate.gatedIngestRunVersioned — the auditable-ingest
    * capstone, on graft.sources.BucketedManifest since round 15):
    * identical gate choreography and checkpoint restart, but every
    * admitted batch's atomic manifest commit IS the freeze, so the run
    * leaves a time-travelable ingest history (version k+1 = the corpus
    * after batch k) as a side effect of the loop itself. The sink aggregate
    * must be identical to the swap-family run's — shares
    * x_stream_pipeline_admit's oracle VERBATIM (a gate reading a stale
    * or wrong version re-admits copies and breaks the checksum); the
    * per-version history observables live in StreamingSpec.
    */
  private def xStreamPipelineAdmitVersioned(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val tbl = indexTable(dir, "spadmv")
    graft.sources.IndexStore.writeDedupIndexBucketedVersioned(corpus,
      tbl, numBuckets = 8, k = 5)
    val streamDir = indexDir(dir, "spadmv_src")
    val ckpt = indexDir(dir, "spadmv_ckpt")
    val sink = indexDir(dir, "spadmv_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    d.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunVersioned(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    d.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .unionByName(
        d.filter(col("doc_id") % 4 === 1 && col("doc_id") < 40)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.gatedIngestRunVersioned(s, streamDir, tbl,
      threshold = 0.5, k = 5, minQuality = 0.7, minTokens = 10,
      salt = "spadm1", checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("doc_id")).as("docid_checksum"))
      .orderBy("shard")
  }

  /** Exact-integer EWMA (TimeSeries.ewmaExact): per-user half-life-1
    * trailing-30 average of event value cents — num/den are exact
    * order-free long sums (bit-portable), ewma their single IEEE
    * division.
    */
  private def xTsEwma(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.ewmaExact(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        "user_id", unix_micros(col("ts")), col("event_id"),
        floor(col("value") * 100).cast("long"), 30)
      .select(col("event_id"), col("user_id"), col("ewma_n"),
        col("ewma_num"), col("ewma_den"), col("ewma"))
      .orderBy("event_id")

  /** Exact-moment correlation matrix (Profile.corrMatrix): pairwise
    * Pearson r over lineitem's numeric columns in cents — decimal(38)
    * integer moments from ONE scan, the final r assembled from
    * correctly-rounded double ops only, so both engines agree
    * bit-for-bit (Spark's own `corr` sums doubles in partition order
    * and can never hash-match).
    */
  private def xProfileCorr(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.corrMatrix(t(s, dir, "lineitem"),
        Seq("qty" -> col("l_quantity"),
          "price_c" -> round(col("l_extendedprice") * 100),
          "disc_c" -> round(col("l_discount") * 100),
          "tax_c" -> round(col("l_tax") * 100)))
      // DuckDB's HUGEINT→DOUBLE cast composes two 64-bit-half
      // roundings and can land 1 ulp off the correctly-rounded cast
      // Spark's decimal path produces (observed on Σprice² at sf0.1) —
      // the same documented absorption as x_drift_psi's libm log
      .withColumn("corr", round(col("corr"), 12))
      .orderBy("col_a", "col_b")

  /** t-closeness (Privacy.tCloseness): per-nation market-segment
    * distribution vs the corpus, total-variation EMD as an exact
    * integer numerator (absent-value mass included), verdict on
    * cross-multiplied integers at t > 1/10.
    */
  private def xPrivacyTclose(s: SparkSession, dir: String): DataFrame =
    Privacy.tCloseness(t(s, dir, "customer"), Seq("c_nationkey"),
        col("c_mktsegment"), (1L, 10L))
      .orderBy("c_nationkey")

  /** Compaction planning (Layout.compactionPlan) over the zone-map
    * metadata: the 35 z-bucket files binned toward ≈12k-row outputs in
    * file order — clustering preserved, pure integer assignment.
    */
  private def xLayoutCompaction(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_quantity").cast("long").as("q"),
      datediff(col("l_shipdate").cast("date"),
        lit(java.sql.Date.valueOf(ZmEpoch))).cast("long").as("d"))
    val zv = graft.ext.Layout.zValue(
      Seq(col("q"), shiftright(col("d"), ZmBits)), ZmBits)
    val zm = graft.ext.Layout.zoneMap(li, shiftright(zv, ZmShift),
      Seq("q" -> col("q"), "d" -> col("d")))
    graft.ext.Layout.compactionPlan(zm, col("file_id"), col("n_rows"),
        targetBytes = 12000L)
      .select(col("file_id"), col("n_rows"), col("bin"))
      .orderBy("file_id")
  }

  /** EXACT Jaccard similarity join (Dedup.jaccardJoinExact): prefix-
    * filtered AllPairs over an id%16 document subset plus their
    * 80%-token-prefix twins at τ = 7/10 — no LSH false negatives; the
    * rarest-first prefix ordering keeps hot tokens out of the join.
    * The oracle brute-forces every token-sharing pair; the engine
    * must reach the same pairs through pruning.
    */
  /** EXACT edit-distance join over the documents corpus (PassJoin
    * segment pigeonhole + banded levenshtein verify,
    * [[graft.ext.Dedup.editDistancePairs]]) — the near-dup family
    * member none of the token/shingle operators cover: character-level
    * tolerance to typos/small edits with a HARD metric guarantee. The
    * corpus genuinely contains mutated copies within distance 4, so
    * the result is non-empty without planting; restricted to
    * `n_chars <= 250` purely to keep the DuckDB brute-force oracle
    * (length-filtered all-pairs levenshtein) affordable — the Spark
    * side never goes all-pairs at any size.
    */
  private def xDedupEditdist(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(
        t(s, dir, "documents").filter(col("n_chars") <= 250),
        "doc_id", col("text"), d = 4)
      .orderBy("id_a", "id_b")

  /** The edit-distance family's ingest arc: the corpus' PassJoin index
    * (segment hashes / strings / length directory) persisted once as
    * bucketed tables, then a batch of one-char mutants (substitute
    * position 10 with 'X') screened against it
    * ([[graft.ext.Dedup.editDistanceAgainst]]). Every mutant must find
    * its source within distance 1 plus whatever other corpus strings
    * fall within 4 — the oracle brute-forces batch × corpus
    * levenshtein from the same deterministic mutation in DuckDB.
    */
  private def xDedupEditdistServed(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    val batch = corpus.select((col("id") + 7000000L).as("id"),
      concat(substring(col("s"), 1, 9), lit("X"),
        col("s").substr(lit(11), length(col("s")))).as("s"))
    val tbl = indexTable(dir, "editidx")
    graft.sources.IndexStore.writeEditIndexBucketed(corpus, tbl,
      numBuckets = 8, d = 4)
    val (segs, str, bylen) = graft.sources.IndexStore
      .readEditIndexBucketed(s, tbl, d = 4)
    Dedup.editDistanceAgainst(batch, "id", col("s"), segs, str, bylen,
        d = 4)
      .orderBy("new_id", "corpus_id")
  }

  /** x_dedup_editdist_served's contract driven through a REAL file
    * stream: the same mutant batch lands as 4 parquet part files, each
    * served as its own micro-batch against the standing PassJoin index
    * inside foreachBatch. Per-document independence + a static index
    * make the micro-batch union the one-shot answer — shares the
    * served row's oracle verbatim.
    */
  private def xStreamEditdist(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    val batch = corpus.select((col("id") + 7000000L).as("id"),
      concat(substring(col("s"), 1, 9), lit("X"),
        col("s").substr(lit(11), length(col("s")))).as("s"))
    val tbl = indexTable(dir, "editstr")
    graft.sources.IndexStore.writeEditIndexBucketed(corpus, tbl,
      numBuckets = 8, d = 4)
    val batchDir = indexDir(dir, "edit_stream")
    batch.repartition(4).write.mode("overwrite").parquet(batchDir)
    StreamingValidate.editDistanceIngestStream(s, batchDir, tbl, d = 4)
      .orderBy("new_id", "corpus_id")
  }

  /** x_mm_phash_served's contract driven through a file stream of RAW
    * IMAGE BYTES: each micro-batch decodes, dHashes, and bands its own
    * blobs (the codec seam runs inside the stream) and joins the
    * standing bucketed pHash index in place. Shares the served row's
    * oracle verbatim.
    */
  private def xStreamPhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val items = Multimodal.synthesizeNearDupImages(d, "doc_id", every = 5)
    val corpusHashes = Multimodal.perceptualHash(
        items.filter(col("id") % 2 === 0))
      .select(col("id"), col("dhash"))
    val tbl = indexTable(dir, "phstr")
    graft.sources.IndexStore.writePhashIndexBucketed(corpusHashes, tbl,
      numBuckets = 8, bands = 8)
    val probesDir = indexDir(dir, "phash_stream")
    items.filter(col("id") % 2 === 1).repartition(4)
      .write.mode("overwrite").parquet(probesDir)
    StreamingValidate.phashIngestStream(s, probesDir, tbl, bands = 8,
        maxDist = 7)
      .orderBy("new_id", "corpus_id")
  }

  /** Typo-chain clustering — editDistancePairs composed into
    * [[graft.ext.Dedup.duplicateClusters]]: the corpus carries
    * two-mutation and four-mutation variants of each source, and at
    * d = 2 the endpoints do NOT pair directly (distance 4) — the
    * three-member cluster forms only through transitive label
    * propagation via the middle variant, which is exactly what the
    * composition must get right. The oracle recomputes brute-force
    * pairs AND the min-label fixpoint with a recursive CTE.
    */
  private def xDedupEditdistClusters(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .filter(col("n_chars") <= 250 && col("doc_id") % 4 === 1)
      .select(col("doc_id").as("id"), col("text").as("s"))
    def subst(c: Column, pos: Int): Column =
      concat(substring(c, 1, pos - 1), lit("X"),
        c.substr(lit(pos + 1), length(c)))
    val m2 = base.select((col("id") + 7000000L).as("id"),
      subst(subst(col("s"), 10), 20).as("s"))
    val m4 = base.select((col("id") + 14000000L).as("id"),
      subst(subst(subst(subst(col("s"), 10), 20), 30), 40).as("s"))
    val corpus = base.unionByName(m2).unionByName(m4)
    Dedup.duplicateClusters(
        Dedup.editDistancePairs(corpus, "id", col("s"), d = 2))
      .orderBy("id")
  }

  /** The edit index's LSM append arc: build on the corpus, APPEND a
    * delta of position-20 variants (distance 1 from their sources),
    * then screen position-10 mutants against the appended index — each
    * probe must find BOTH its base source (distance 1) and the
    * appended variant (distance 2: the two strings differ at positions
    * 10 and 20), proving appended rows are live in all three bucketed
    * tables, not just present on disk. Oracle recomputes batch ×
    * (base ∪ delta) levenshtein from scratch:
    * append(build(base), delta) ≡ build(base ∪ delta).
    */
  private def xDedupEditdistAppend(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    def mutated(off: Long, pos: Int) =
      corpus.select((col("id") + off).as("id"),
        concat(substring(col("s"), 1, pos - 1), lit("X"),
          col("s").substr(lit(pos + 1), length(col("s")))).as("s"))
    val delta = mutated(8000000L, 20)
    val batch = mutated(7000000L, 10)
    val tbl = indexTable(dir, "editapp")
    graft.sources.IndexStore.writeEditIndexBucketed(corpus, tbl,
      numBuckets = 8, d = 4)
    graft.sources.IndexStore.appendEditIndexBucketed(delta, tbl, d = 4)
    val (segs, str, bylen) = graft.sources.IndexStore
      .readEditIndexBucketed(s, tbl, d = 4)
    Dedup.editDistanceAgainst(batch, "id", col("s"), segs, str, bylen,
        d = 4)
      .orderBy("new_id", "corpus_id")
  }

  /** RESTART-SAFE edit-distance ingestion — the x_stream_dedup_resume
    * arc for the PassJoin index: run 1 checks and ADMITS the
    * position-20 delta variants (file A); the position-10 mutant
    * probes (file B) arrive before run 2, which processes only B
    * against an index now holding corpus ∪ delta across all THREE
    * bucketed tables. The probe rows equal x_dedup_editdist_append's
    * answer (oracle shared verbatim); a re-processed file A would
    * duplicate the delta's `_str`/`_segs` rows and double-report every
    * probe×delta pair.
    */
  private def xStreamEditdistResume(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    def mutated(off: Long, pos: Int) =
      corpus.select((col("id") + off).as("id"),
        concat(substring(col("s"), 1, pos - 1), lit("X"),
          col("s").substr(lit(pos + 1), length(col("s")))).as("s"))
    val fileA = mutated(8000000L, 20)
    val fileB = mutated(7000000L, 10)
    val streamDir = indexDir(dir, "edit_resume")
    val ckpt = indexDir(dir, "edit_resume_ckpt")
    val sink = indexDir(dir, "edit_resume_sink")
    Seq(streamDir, ckpt, sink).foreach(wipeDir)
    val tbl = indexTable(dir, "editres")
    graft.sources.IndexStore.writeEditIndexBucketed(corpus, tbl,
      numBuckets = 8, d = 4)
    fileA.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.editDistanceIngestRun(s, streamDir, tbl, d = 4,
      checkpointDir = ckpt, sinkDir = sink)
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    StreamingValidate.editDistanceIngestRun(s, streamDir, tbl, d = 4,
      checkpointDir = ckpt, sinkDir = sink)
    s.read.parquet(sink)
      .filter(col("new_id") >= 7000000L && col("new_id") < 8000000L &&
        !(col("corpus_id") >= 7000000L && col("corpus_id") < 8000000L))
      .select(col("new_id"), col("corpus_id"), col("dist"))
      .orderBy("new_id", "corpus_id")
  }

  /** The edit index through the full LSM cycle — build → append →
    * COMPACT (all three bucketed tables) → serve — sharing
    * x_dedup_editdist_append's oracle verbatim: compaction rewrites
    * the multi-file buckets to one file each without changing a row.
    */
  private def xDedupEditdistCompact(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    def mutated(off: Long, pos: Int) =
      corpus.select((col("id") + off).as("id"),
        concat(substring(col("s"), 1, pos - 1), lit("X"),
          col("s").substr(lit(pos + 1), length(col("s")))).as("s"))
    val delta = mutated(8000000L, 20)
    val batch = mutated(7000000L, 10)
    val tbl = indexTable(dir, "editcmp")
    graft.sources.IndexStore.writeEditIndexBucketed(corpus, tbl,
      numBuckets = 8, d = 4)
    graft.sources.IndexStore.appendEditIndexBucketed(delta, tbl, d = 4)
    graft.sources.IndexStore.compactEditIndexBucketed(s, tbl)
    val (segs, str, bylen) = graft.sources.IndexStore
      .readEditIndexBucketed(s, tbl, d = 4)
    Dedup.editDistanceAgainst(batch, "id", col("s"), segs, str, bylen,
        d = 4)
      .orderBy("new_id", "corpus_id")
  }

  /** [[xDedupEditdistCompact]] on the VERSIONED three-table PassJoin
    * index: all three compactions publish new versions and repoint.
    * Shares x_dedup_editdist_append's oracle verbatim.
    */
  private def xDedupEditdistVersioned(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    def mutated(off: Long, pos: Int) =
      corpus.select((col("id") + off).as("id"),
        concat(substring(col("s"), 1, pos - 1), lit("X"),
          col("s").substr(lit(pos + 1), length(col("s")))).as("s"))
    val delta = mutated(8000000L, 20)
    val batch = mutated(7000000L, 10)
    val tbl = indexTable(dir, "editver")
    graft.sources.IndexStore.writeEditIndexBucketedVersioned(corpus,
      tbl, numBuckets = 8, d = 4)
    graft.sources.IndexStore.appendEditIndexBucketedVersioned(delta,
      tbl, d = 4)
    graft.sources.IndexStore.compactEditIndexBucketedVersioned(s, tbl)
    val (segs, str, bylen) = graft.sources.IndexStore
      .readEditIndexBucketedVersioned(s, tbl, d = 4)
    Dedup.editDistanceAgainst(batch, "id", col("s"), segs, str, bylen,
        d = 4)
      .orderBy("new_id", "corpus_id")
  }

  /** Tombstone deletion for the edit-distance index: every 3rd corpus
    * string is DELETED (id tombstones cover all three bucketed tables
    * at once — segments, strings, length directory are all keyed by
    * the same id), and the mutant batch is served with dead corpus
    * ids excluded on the OUTPUT pairs. The oracle recomputes
    * batch × corpus levenshtein minus the deleted ids; physical purge
    * across all three tables is proven serve-invariant in
    * BucketingSpec.
    */
  private def xDedupEditdistDelete(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("n_chars") <= 250)
      .select(col("doc_id").as("id"), col("text").as("s"))
    val batch = corpus.select((col("id") + 7000000L).as("id"),
      concat(substring(col("s"), 1, 9), lit("X"),
        col("s").substr(lit(11), length(col("s")))).as("s"))
    val tbl = indexTable(dir, "editdel")
    graft.sources.IndexStore.writeEditIndexBucketed(corpus, tbl,
      numBuckets = 8, d = 4)
    graft.sources.IndexStore.deleteFromEditIndexBucketed(
      corpus.filter(col("id") % 3 === 0).select("id"), tbl)
    val (segs, str, bylen) = graft.sources.IndexStore
      .readEditIndexBucketed(s, tbl, d = 4)
    val dead = graft.sources.IndexStore.readEditDeadIds(s, tbl)
      .select(col("id").as("corpus_id"))
    Dedup.editDistanceAgainst(batch, "id", col("s"), segs, str, bylen,
        d = 4)
      .join(dead, Seq("corpus_id"), "left_anti")
      .select(col("new_id"), col("corpus_id"), col("dist"))
      .orderBy("new_id", "corpus_id")
  }

  private def xDedupPpjoin(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .where(pmod(col("doc_id"), lit(16)) === 0)
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val twins = base.select((col("id") + 1000000).as("id"),
      slice(col("toks"), lit(1),
        floor(size(col("toks")) * 0.8).cast("int")).as("toks"))
    Dedup.jaccardJoinExact(base.unionByName(twins), "id", col("toks"),
        7L, 10L)
      .orderBy("id_a", "id_b")
  }

  /** PPJoin on the HEAVY-TAILED Zipf fixture (round-8 directive #3):
    * the same exact prefix-filtered AllPairs as x_dedup_ppjoin, run
    * over the distribution the plan was designed for — a 50k-word
    * Zipf vocabulary where df-ordered prefixes actually prune (the
    * driver corpus's ~50-word vocabulary makes every pair share hot
    * prefix tokens). The fixture plants a ~8%-perturbed replica every
    * 10th doc; the `% 10 IN (0, 9)` subset keeps every planted pair
    * while bounding the oracle's brute-force quadratic. The DuckDB
    * oracle reads the SAME parquet files (read_parquet over the
    * fixture path — dynamicOracleSql) and brute-forces every
    * token-sharing pair; the engine must reach the identical pair set
    * through pruning.
    */
  private def xZipfPpjoin(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.ZipfFixture.ensure(s, dir)
    val base = s.read.parquet(path)
      .where((col("doc_id") % 10).isin(0, 9))
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    Dedup.jaccardJoinExact(base, "id", col("toks"), 7L, 10L)
      .orderBy("id_a", "id_b")
  }

  /** Substring dedup on the heavy-tailed Zipf fixture (the round-8
    * realistic-vocabulary protocol applied to the round's new family):
    * replica docs perturb every 13th token, so the ONLY shared runs
    * are the exact 12-token stretches between consecutive
    * perturbations — detected with minRunLen = 12 (k = 8, stride 5),
    * and NOTHING else fires across a 50k-word Zipf vocabulary (the
    * natural 12-run collision probability is ~0.0065¹²). Every one of
    * the 200 planted replica pairs in the % 10 ∈ {0, 9} subset must
    * surface with its run count and total overlap; the oracle
    * brute-forces every gram-sharing diagonal over the same subset
    * (dynamicOracleSql — it reads the fixture parquet).
    */
  private def xZipfSubstring(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.ZipfFixture.ensure(s, dir)
    val base = s.read.parquet(path)
      .where((col("doc_id") % 10).isin(0, 9))
      .select(col("doc_id").as("id"),
        TextAnalysis.tokens(col("text")).as("toks"))
    Dedup.sharedSubstringRuns(base, "id", col("toks"),
        minRunLen = 12, k = 8)
      .orderBy("id_a", "id_b")
  }

  /** BM25 over the Zipf fixture: head/shoulder/tail query terms
    * against a 50k-word Zipf vocabulary, so the rational Robertson
    * idf runs on a realistic df spread. Same operator and constants
    * as x_text_bm25; oracle reads the fixture via read_parquet
    * (dynamicOracleSql).
    */
  private def xZipfBm25(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.bm25TopK(
        s.read.parquet(graft.sources.ZipfFixture.ensure(s, dir)),
        col("doc_id"), col("text"), ZipfBm25Terms, 10)
      .orderBy("rank")

  /** Bloom file skipping (Layout.bloomIndex/bloomScanFlag): per-z-file
    * 512-bit blocked blooms over l_orderkey, probed with three point
    * lookups — the high-cardinality complement to the zone map's
    * min/max pruning (which prunes nothing on a key every file
    * spans). md5-portable hashing lets the oracle rebuild the index
    * bit-identically.
    */
  private def xLayoutBloomskip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"),
      col("l_quantity").cast("long").as("q"),
      datediff(col("l_shipdate").cast("date"),
        lit(java.sql.Date.valueOf(ZmEpoch))).cast("long").as("d"))
    val zv = graft.ext.Layout.zValue(
      Seq(col("q"), shiftright(col("d"), ZmBits)), ZmBits)
    val files = li.withColumn("file_id", shiftright(zv, ZmShift))
    val idx = graft.ext.Layout.bloomIndex(files, col("file_id"),
      col("l_orderkey").cast("string"))
    val probes = Seq(1L, 777L, 5555L).toDF("pk")
      .select(col("pk").cast("string").as("v"))
    graft.ext.Layout.bloomScanFlag(idx, probes)
      .orderBy("file_id")
  }

  /** ROLLUP (Olap.rollupAgg): lineitem volume/revenue by returnflag ×
    * linestatus with subtotal + grand-total rows in ONE shuffle of
    * map-side-expanded partials; `gid` (MSB-first grouping bits)
    * disambiguates subtotal NULLs from genuine NULL group values —
    * the hash-match doubles as a cross-engine assertion that Spark
    * `grouping_id()` and DuckDB `GROUPING()` share the bit order.
    */
  private def xOlapRollup(s: SparkSession, dir: String): DataFrame =
    graft.ext.Olap.rollupAgg(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"), col("l_quantity"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c")),
        Seq("l_returnflag", "l_linestatus"),
        Seq(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(col("price_c")).as("sum_price_c")))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** CUBE (Olap.cubeAgg): all four grouping sets of orderstatus ×
    * orderpriority — same single-shuffle expansion, 2^d map-side
    * replication.
    */
  private def xOlapCube(s: SparkSession, dir: String): DataFrame =
    graft.ext.Olap.cubeAgg(
        t(s, dir, "orders").select(col("o_orderstatus"),
          col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("total_c")),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq(count(lit(1)).as("n_orders"),
          sum(col("total_c")).as("sum_total_c")))
      .orderBy("gid", "o_orderstatus", "o_orderpriority")

  /** Pivot (Olap.pivotAgg): order revenue cents per priority, order
    * status pivoted wide over the EXPLICIT value list O/F/P — one
    * conditional hash agg, no distinct-collect pre-pass.
    */
  private def xOlapPivot(s: SparkSession, dir: String): DataFrame =
    graft.ext.Olap.pivotAgg(
        t(s, dir, "orders").select(col("o_orderpriority"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("total_c")),
        Seq("o_orderpriority"), "o_orderstatus", Seq("O", "F", "P"),
        sum(col("total_c")), "status_")
      .orderBy("o_orderpriority")

  /** Skyline (Olap.skyline): the pareto frontier of parts maximizing
    * size while minimizing retail price (cents negated into the
    * larger-is-better convention). Sample-pruned exact two-phase —
    * the corpus never self-joins.
    */
  private def xOlapSkyline(s: SparkSession, dir: String): DataFrame =
    graft.ext.Olap.skyline(
        t(s, dir, "part").select(col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          round(col("p_retailprice") * 100).cast("long").as("price_c")),
        Seq("size" -> col("p_size"), "cheap" -> (-col("price_c"))))
      .orderBy("p_partkey")

  /** Incremental rollup maintenance (Olap.mergeAdditive): the corpus
    * split 2:1 on order key, each part rolled up separately, the two
    * aggregate frames merged per (dims, gid) — the oracle recomputes
    * the FULL rollup from scratch, so the hash-match proves
    * merge(rollup(base), rollup(delta)) ≡ rollup(base ∪ delta): the
    * base is never rescanned.
    */
  private def xOlapRollupIncr(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_linestatus"), col("l_quantity"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      col("l_orderkey"))
    val dims = Seq("l_returnflag", "l_linestatus")
    def aggs = Seq(count(lit(1)).as("n_rows"),
      sum(col("l_quantity").cast("long")).as("sum_qty"),
      sum(col("price_c")).as("sum_price_c"))
    val base = graft.ext.Olap.rollupAgg(
      li.where(pmod(col("l_orderkey"), lit(3)) =!= 0), dims, aggs)
    val delta = graft.ext.Olap.rollupAgg(
      li.where(pmod(col("l_orderkey"), lit(3)) === 0), dims, aggs)
    graft.ext.Olap.mergeAdditive(Seq(base, delta), dims :+ "gid",
        Seq("n_rows", "sum_qty", "sum_price_c"))
      .orderBy("gid", "l_returnflag", "l_linestatus")
  }

  /** CUPED experiment readout (Experiment.cuped): users split into
    * arms by id parity, pre/post periods cut at 2024-01-16 UTC —
    * per-arm means/variances and their CUPED-adjusted forms, all
    * derived from exact per-arm integer moments (no per-unit float
    * ever materialized). Round 12 absorbs the HUGEINT→DOUBLE
    * double-rounding on the oracle side.
    */
  private def xAbCuped(s: SparkSession, dir: String): DataFrame = {
    val CutUs = 1705363200000000L // 2024-01-16T00:00:00Z
    val ev = t(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts")).as("tu"),
      floor(col("value") * 100).cast("long").as("cents"))
    val units = ev.groupBy("user_id").agg(
      sum(when(col("tu") < CutUs, col("cents")).otherwise(0L))
        .as("pre_c"),
      sum(when(col("tu") >= CutUs, col("cents")).otherwise(0L))
        .as("post_c"))
    graft.ext.Experiment.cuped(units,
        when(pmod(col("user_id"), lit(2)) === 0, "control")
          .otherwise("treat"),
        col("pre_c"), col("post_c"))
      .withColumn("mean_post", round(col("mean_post"), 12))
      .withColumn("mean_adj", round(col("mean_adj"), 12))
      .withColumn("var_post", round(col("var_post"), 12))
      .withColumn("var_adj", round(col("var_adj"), 12))
      .orderBy("arm")
  }

  /** Exact ROC AUC (Experiment.aucExact): does document length rank
    * English docs above the rest? Mann–Whitney rank form with half-tie
    * credit, computed over the DISTINCT length domain (hash agg first,
    * window over ~hundreds of rows) — the bounded-domain discipline.
    */
  private def xEvalAuc(s: SparkSession, dir: String): DataFrame =
    graft.ext.Experiment.aucExact(t(s, dir, "documents"),
      col("n_chars"), col("lang") === "en")

  /** Reliability diagram (Experiment.calibrationBins): 64-char-wide
    * length bins (clamped to bin 9) vs English rate — one hash agg,
    * output bounded by 10 rows at any corpus size.
    */
  private def xEvalCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ext.Experiment.calibrationBins(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en", 64L, 9L)
      .orderBy("bin")

  /** Slice audit (Experiment.sliceMetrics): per lang/source value,
    * the long-document rate vs the corpus with a binomial z — one
    * explode-map exchange, broadcast global, bounded output.
    */
  private def xEvalSlices(s: SparkSession, dir: String): DataFrame =
    graft.ext.Experiment.sliceMetrics(t(s, dir, "documents"),
        Seq("lang" -> col("lang"), "source" -> col("source")),
        col("n_chars") > 256)
      .orderBy("slice", "value")

  /** Equal-frequency calibration (Experiment.calibrationQuantile):
    * quintile score bins from exact-percentile edges broadcast back —
    * the quantile twin of x_eval_calibration.
    */
  private def xEvalCalibrationQuantile(s: SparkSession,
      dir: String): DataFrame =
    graft.ext.Experiment.calibrationQuantile(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en", 5)
      .orderBy("bin")

  /** Neyman allocation (Sampling.neymanAllocation): a 1000-sample
    * budget split across return-flag strata ∝ N_h·σ_h of price cents
    * — exact-integer largest-remainder apportionment on fixed-point
    * weights.
    */
  private def xSampleNeyman(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.neymanAllocation(t(s, dir, "lineitem"),
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"), 1000L)
      .orderBy("stratum")

  /** Cohen's κ (Experiment.kappa) between two derived raters —
    * "is English" vs "is long" — exact integer contingency, one
    * cross-multiplied division.
    */
  private def xEvalKappa(s: SparkSession, dir: String): DataFrame =
    graft.ext.Experiment.kappa(t(s, dir, "documents"),
      col("lang") === "en", col("n_chars") > 256)

  /** BM25 top-10 retrieval (TextAnalysis.bm25TopK) for a fixed
    * three-term query — rational Robertson idf, integer-cross-
    * multiplied tf saturation, one corpus aggregate broadcast back,
    * bounded-top-k ranking (no global sort, no window).
    */
  private def xTextBm25(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.bm25TopK(t(s, dir, "documents"),
        col("doc_id"), col("text"), Bm25Terms, 10)
      .orderBy("rank")

  /** k-core peeling (Graph.kCorePeel) on the co-purchase part graph:
    * 3 synchronous ≥25-degree peels (median degree ≈ 39, so the
    * first shell is ~15% of nodes and the cascade is real), top-50
    * surviving nodes by
    * residual degree. The oracle unrolls the identical rounds.
    */
  private def xGraphKcore(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.kCorePeel(coPartEdges(s, dir), "src", "dst",
        k = 25, rounds = 3)
      .orderBy(desc("deg"), col("id"))
      .limit(50)

  /** RFM segmentation (Behavior.rfmSegments): per-user recency/
    * frequency/monetary quintile scores from exact integer metrics
    * and exact-percentile thresholds (broadcast compares, no corpus
    * window), rolled up to ≤125 populated cells.
    */
  private def xBehaviorRfm(s: SparkSession, dir: String): DataFrame =
    graft.ext.Behavior.rfmSegments(t(s, dir, "events"),
        col("user_id"), col("ts"), col("value"))
      .orderBy("r_score", "f_score", "m_score")

  /** Group-aware (leakage-free) split: every EVENT of a user lands in
    * the fold of the USER's hash — a pure projection (zero shuffle
    * for the assignment; the demo aggregates per-fold user/event
    * counts). The train/test-contamination-safe way to split
    * behavioral data: row-hash splitting would put one user's events
    * on both sides of the fence.
    */
  private def xSampleGroupSplit(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.splitAssign(
        t(s, dir, "events").select(col("user_id"), col("event_id")),
        "user_id", SplitWeights, salt = "gs1")
      .groupBy("split")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("split")

  /** Per-group OLS trend (Profile.olsTrend): discount cents against
    * ship-day index per return flag — exact decimal moments in one
    * hash agg, slope/intercept from correctly-rounded double ops.
    * Rounded to 12 decimals on both engines (the corrMatrix HUGEINT→
    * DOUBLE double-rounding absorption).
    */
  private def xProfileOls(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.olsTrend(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          datediff(col("l_shipdate").cast("date"),
            lit(java.sql.Date.valueOf(ZmEpoch))).as("ship_day"),
          round(col("l_discount") * 100).as("disc_c")),
        Seq("l_returnflag"), col("ship_day"), col("disc_c"))
      .withColumn("slope", round(col("slope"), 12))
      .withColumn("intercept", round(col("intercept"), 12))
      .orderBy("l_returnflag")

  /** Chi-square independence + Cramér's V (Profile.chiSquare) between
    * market segment and nation over customers — exact integer
    * contingency/marginals, per-cell terms snapped to 10⁻⁹ fixed
    * point and summed as longs (order-free), so the float statistic
    * hash-matches across engines.
    */
  private def xProfileChisq(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.chiSquare(t(s, dir, "customer"),
        col("c_mktsegment"), col("c_nationkey"))
      .withColumn("chi2", round(col("chi2"), 9))
      .withColumn("cramers_v", round(col("cramers_v"), 12))

  /** Robust MAD outlier stats (Profile.madOutliers): per return flag,
    * exact lower-median and MAD of WHOLE-DOLLAR price bins, values
    * beyond 3·MAD counted — exact order statistics from
    * value-frequency windows, integer cross-multiplied verdict.
    *
    * The value is pre-binned (cents div 100) per the operator's own
    * bounded-domain contract: binning is what the scale path demands
    * (the per-key cumulative window then runs over the dollar domain,
    * not the near-unique cent domain — at 100× the raw-cents shape
    * trips the enforced maxDomain guard BY DESIGN, and before the
    * guard it serialized >90% of the row's wall into three
    * near-single-partition windows). The raw-domain machinery and the
    * guard itself stay exercised in ProfileSpec.
    */
  private def xProfileMad(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.madOutliers(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          call_function("div",
            round(col("l_extendedprice") * 100).cast("long"), lit(100L))
            .as("price_d")),
        Seq("l_returnflag"), col("price_d"), 3L, 1L)
      .orderBy("l_returnflag")

  /** Top principal direction (Similarity.pcaFit power iteration on the
    * exact integer gram) projected over the corpus — the fitted
    * direction is a deterministic constant, so the oracle re-derives
    * it on the same path and projects with bit-identical literals.
    */
  private def xEmbedPca(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").where(size(col("embedding")) === 64)
    Similarity.pcaScores(e, Similarity.pcaFit(e))
      .select(col("id").as("vec_id"), round(col("score"), 9).as("score"))
      .orderBy("vec_id")
  }

  /** Kaplan–Meier survival (TimeSeries.kaplanMeier): user lifetime in
    * days (first→last event), "observed" = the user ever hit an error
    * event, everyone else right-censored — the churn curve, log-space
    * product with 10⁻¹² snapped terms cumulated as exact longs.
    */
  private def xTsKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val life = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_type"))
      .groupBy("user_id")
      .agg(call_function("div", max(col("tu")) - min(col("tu")),
          lit(86400000000L)).as("dur"),
        (max(when(col("event_type") === "error", 1L).otherwise(0L))
          === 1L).as("ev"))
    graft.ext.TimeSeries.kaplanMeier(life, Seq.empty, col("dur"),
        col("ev"))
      .withColumn("survival", round(col("survival"), 12))
      .orderBy("duration")
  }

  /** kNN label-noise screen (Similarity.labelDisagreement over exact
    * brute-force neighbors): a FIXED 500-query panel scored against
    * the full corpus (constant query count keeps the exact backend
    * linear in corpus size), top-5 neighborhood label consistency —
    * majority disagreement flags the mislabeled/boundary suspects.
    */
  private def xQualityLabelnoise(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.labelDisagreement(
        Similarity.bruteForceTopK(e.where(col("vec_id") < 500), e, 5),
        e)
      .withColumn("disagree_rate", round(col("disagree_rate"), 12))
      .orderBy("query_id")
  }

  /** Deterministic negative sampling (Sampling.negativeSamples): every
    * distinct (customer, purchased part) pair fans out to 3 uniform
    * hash-drawn negatives from [1, max part] minus the positive —
    * zero-shuffle narrow projection after one broadcast bound.
    */
  private def xSampleNegatives(s: SparkSession, dir: String): DataFrame = {
    val pos = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey")), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
      .distinct()
    Sampling.negativeSamples(pos, "u", "p", t(s, dir, "part"),
        "p_partkey", 3)
      .orderBy("user_id", "pos_item", "slot")
  }

  /** Embedding drift (Reconcile.embeddingDrift): the vector corpus
    * split by id parity into reference/current halves — centroid
    * cosine + mean-shift L2 from exact per-dim decimal moments (no
    * per-row float sum anywhere).
    */
  private def xDriftEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").where(size(col("embedding")) === 64)
    Reconcile.embeddingDrift(
        e.where(pmod(col("vec_id"), lit(2)) === 0),
        e.where(pmod(col("vec_id"), lit(2)) === 1), "embedding")
      .withColumn("centroid_cos", round(col("centroid_cos"), 12))
      .withColumn("mean_shift_l2", round(col("mean_shift_l2"), 12))
  }

  /** Mutual information + entropies (Profile.mutualInfo) between
    * market segment and nation — present-cells-only terms, each libm
    * `ln` snapped to 10⁻¹² fixed point before the exact long sum (the
    * PSI absorption applied to information theory).
    */
  private def xProfileMi(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.mutualInfo(t(s, dir, "customer"),
        col("c_mktsegment"), col("c_nationkey"))
      .withColumn("mi", round(col("mi"), 12))
      .withColumn("h_a", round(col("h_a"), 12))
      .withColumn("h_b", round(col("h_b"), 12))
      .withColumn("mi_norm", round(col("mi_norm"), 12))

  /** Functional-dependency violation scan (Profile.fdViolations):
    * l_orderkey → l_shipdate does NOT hold (an order's lines ship on
    * different days) — every violating order with row/distinct counts
    * and min/max witness dates. Pair pre-aggregate, never a
    * count(DISTINCT) Expand.
    */
  private def xQualityFd(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.fdViolations(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_shipdate").cast("date").as("l_shipdate")),
        Seq("l_orderkey"), col("l_shipdate"))
      .orderBy("l_orderkey")

  /** Interval union (TimeSeries.intervalUnion): per-supplier transit
    * islands over [ship_day, ship_day + quantity) intervals — maximal
    * overlapping spans from the two-window sweep, exact integer
    * covered lengths.
    */
  private def xTsIntervalUnion(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.intervalUnion(
        t(s, dir, "lineitem").select(col("l_suppkey"),
          datediff(col("l_shipdate").cast("date"),
            lit(java.sql.Date.valueOf(ZmEpoch))).cast("long").as("d0"),
          (datediff(col("l_shipdate").cast("date"),
            lit(java.sql.Date.valueOf(ZmEpoch))) +
            col("l_quantity").cast("long")).as("d1")),
        "l_suppkey", col("d0"), col("d1"))
      .orderBy("l_suppkey", "island")

  /** CUSUM drift scan (TimeSeries.cusum): per-user one-sided CUSUM of
    * event value cents against a 15000-cent target, alarm above 10⁶ —
    * the sequential recursion rewritten as prefix-sum − running-min
    * (two frames over one sort), exact longs.
    */
  private def xTsCusum(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.cusum(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), floor(col("value") * 100).cast("long").as("cents")),
        "user_id", unix_micros(col("ts")), col("event_id"),
        col("cents"), targetCents = 15000L, threshold = 1000000L)
      .select(col("event_id"), col("user_id"), col("cusum"),
        col("flagged"))
      .orderBy("event_id")

  /** Multi-source BFS (Graph.shortestHops): minimum hop count from the
    * customers whose key is divisible by 500 across the BIDIRECTIONAL
    * purchase graph, capped at 4 hops — frontier iteration, exact
    * integer distances, checkpoint-truncated lineage.
    */
  private def xGraphKhop(s: SparkSession, dir: String): DataFrame = {
    val fwd = purchaseEdges(s, dir)
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val sources = t(s, dir, "customer")
      .where(pmod(col("c_custkey"), lit(500)) === 0)
      .select((col("c_custkey") * 2).as("id"))
    graft.ext.Graph.shortestHops(edges, "src", "dst", sources, 4)
      .select(col("id").as("node_id"), col("hops"))
      .orderBy("node_id")
  }

  // -------------------------------------------------------------- registry
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k1_pk_lineitem" -> (k1PkLineitem _),
    "k1_pk_degraded" -> (k1PkDegraded _),
    "c2_unique_custkey" -> (c2UniqueCustkey _),
    "k3_fk_orders_customer" -> (k3FkOrdersCustomer _),
    "k3_fk_lineitem_orders" -> (k3FkLineitemOrders _),
    "c1_required" -> (c1Required _),
    "c3_minlength" -> (c3MinLength _),
    "c4_maxlength" -> (c4MaxLength _),
    "c5_minimum" -> (c5Minimum _),
    "c6_maximum" -> (c6Maximum _),
    "c7_pattern" -> (c7Pattern _),
    "c8_enum" -> (c8Enum _),
    "p3_integer" -> (p3Integer _),
    "p4_boolean" -> (p4Boolean _),
    "p1_string" -> (p1String _),
    "p1a_email" -> (p1aEmail _),
    "p1b_uri" -> (p1bUri _),
    "p1c_uuid" -> (p1cUuid _),
    "p1d_binary" -> (p1dBinary _),
    "p2_number" -> (p2Number _),
    "p2_number_eu" -> (p2NumberEu _),
    "p2_number_affix" -> (p2NumberAffix _),
    "p5_date" -> (p5Date _),
    "p5_date_fmt" -> (p5DateFmt _),
    "p6_datetime" -> (p6Datetime _),
    "p7_time" -> (p7Time _),
    "p8_year" -> (p8Year _),
    "p9_geopoint" -> (p9Geopoint _),
    "x_dedup_exact" -> (xDedupExact _),
    "x_dedup_prefix" -> (xDedupPrefix _),
    "x_dedup_jaccard" -> (xDedupJaccard _),
    "x_dedup_minhash" -> (xDedupMinhash _),
    "x_dedup_clusters" -> (xDedupClusters _),
    "x_sample_split" -> (xSampleSplit _),
    "x_profile_quantiles" -> (xProfileQuantiles _),
    "x_decontaminate" -> (xDecontaminate _),
    "x_text_pii" -> (xTextPii _),
    "x_text_corpus_stats" -> (xTextCorpusStats _),
    "x_sample_mix" -> (xSampleMix _),
    "x_dedup_simhash" -> (xDedupSimhash _),
    "x_sim_topk" -> (xSimTopk _),
    "x_sim_pairs" -> (xSimPairs _),
    "x_sim_lsh_pairs" -> (xSimLshPairs _),
    "x_sim_ivf_topk" -> (xSimIvfTopk _),
    "x_sim_ivf_recall" -> (xSimIvfRecall _),
    "x_text_tokens" -> (xTextTokens _),
    "x_text_quality" -> (xTextQuality _),
    "x_text_drift" -> (xTextDrift _),
    "x_stream_token_drift" -> (xStreamTokenDrift _),
    "x_embed_drift" -> (xEmbedDrift _),
    "x_profile_drift" -> (xProfileDrift _),
    "x_text_langid" -> (xTextLangid _),
    "x_text_fingerprint" -> (xTextFingerprint _),
    "x_mm_json" -> (xMmJson _),
    "x_mm_binary_meta" -> (xMmBinaryMeta _),
    "x_mm_decode" -> (xMmDecode _),
    "x_mm_decode_png" -> (xMmDecodePng _),
    "x_mm_decode_jpeg" -> (xMmDecodeJpeg _),
    "x_mm_decode_invalid" -> (xMmDecodeInvalid _),
    "x_mm_phash" -> (xMmPhash _),
    "x_mm_phash_neardup" -> (xMmPhashNeardup _),
    "x_mm_audio" -> (xMmAudio _),
    "x_mm_audio_invalid" -> (xMmAudioInvalid _),
    "x_stream_window" -> (xStreamWindow _),
    "r1_error_sample" -> (r1ErrorSample _),
    "k2_uniquekeys" -> (k2UniqueKeys _),
    "x_stream_sessionize" -> (xStreamSessionize _),
    "x_stream_dedup" -> (xStreamDedup _),
    "x_dedup_apply" -> (xDedupApply _),
    "p10_yearmonth" -> (p10Yearmonth _),
    "p11_object" -> (p11Object _),
    "p12_array" -> (p12Array _),
    "p13_duration" -> (p13Duration _),
    "p14_geojson" -> (p14Geojson _),
    "p15_date_any" -> (p15DateAny _),
    "p16_datetime_any" -> (p16DatetimeAny _),
    "p17_time_any" -> (p17TimeAny _),
    "x_dedup_keep_first" -> (xDedupKeepFirst _),
    "x_dedup_embed" -> (xDedupEmbed _),
    "x_stream_sliding" -> (xStreamSliding _),
    "k3_fk_salted" -> (k3FkSalted _),
    "x_stream_sessionize_native" -> (xStreamSessionizeNative _),
    "x_profile" -> (xProfile _),
    "x_mm_frames" -> (xMmFrames _),
    "x_text_stopwords" -> (xTextStopwords _),
    "x_profile_approx" -> (xProfileApprox _),
    "x_unique_screen" -> (xUniqueScreen _),
    "x_hot_buckets" -> (xHotBuckets _),
    "x_sim_ivf_kmeans" -> (xSimIvfKmeans _),
    "x_asof_join" -> (xAsofJoin _),
    "x_range_join" -> (xRangeJoin _),
    "x_range_join_binned" -> (xRangeJoinBinned _),
    "x_text_repetition" -> (xTextRepetition _),
    "x_text_vocab" -> (xTextVocab _),
    "x_dedup_semantic" -> (xDedupSemantic _),
    "x_sample_shards" -> (xSampleShards _),
    "x_sample_cap" -> (xSampleCap _),
    "x_pipeline_clean" -> (xPipelineClean _),
    "x_stream_enrich" -> (xStreamEnrich _),
    "x_stream_anomaly" -> (xStreamAnomaly _),
    "x_text_tfidf" -> (xTextTfidf _),
    "x_profile_histogram" -> (xProfileHistogram _),
    "x_dedup_corpus_sim" -> (xDedupCorpusSim _),
    "x_text_classifier" -> (xTextClassifier _),
    "x_stream_anomaly_trailing" -> (xStreamAnomalyTrailing _),
    "x_sample_pack" -> (xSamplePack _),
    "x_dedup_source_matrix" -> (xDedupSourceMatrix _),
    "x_dedup_incremental" -> (xDedupIncremental _),
    "x_dedup_index_served" -> (xDedupIndexServed _),
    "x_sample_exact_n" -> (xSampleExactN _),
    "x_stream_join" -> (xStreamJoin _),
    "x_dedup_containment" -> (xDedupContainment _),
    "x_profile_group_quantiles" -> (xProfileGroupQuantiles _),
    "x_dedup_spans" -> (xDedupSpans _),
    "x_dedup_substring" -> (xDedupSubstring _),
    "x_dedup_substring_served" -> (xDedupSubstringServed _),
    "x_dedup_substring_append" -> (xDedupSubstringAppend _),
    "x_dedup_substring_apply" -> (xDedupSubstringApply _),
    "x_text_logprob" -> (xTextLogprob _),
    "x_sim_quantized" -> (xSimQuantized _),
    "x_text_bigram_lp" -> (xTextBigramLp _),
    "x_text_bpe" -> (xTextBpe _),
    "x_text_bpe_learn" -> (xTextBpeLearn _),
    "x_text_bpe_learn_dist" -> (xTextBpeLearnDist _),
    "x_profile_keyskew" -> (xProfileKeyskew _),
    "x_sample_weighted" -> (xSampleWeighted _),
    "x_sample_pack_seq" -> (xSamplePackSeq _),
    "x_stream_anomaly_robust" -> (xStreamAnomalyRobust _),
    "x_profile_vectors" -> (xProfileVectors _),
    "x_sim_knn_graph" -> (xSimKnnGraph _),
    "x_sample_budget" -> (xSampleBudget _),
    "x_text_chunks" -> (xTextChunks _),
    "x_sim_knn_multi" -> (xSimKnnMulti _),
    "x_sim_kmeans_full" -> (xSimKmeansFull _),
    "x_decontaminate_semantic" -> (xDecontaminateSemantic _),
    "x_sample_shuffle" -> (xSampleShuffle _),
    "x_sample_curriculum" -> (xSampleCurriculum _),
    "x_sim_rproj" -> (xSimRproj _),
    "x_text_normalize" -> (xTextNormalize _),
    "x_decontaminate_bloom" -> (xDecontaminateBloom _),
    "x_decontaminate_substring" -> (xDecontaminateSubstring _),
    "x_sim_pq" -> (xSimPq _),
    "x_layout_zorder" -> (xLayoutZorder _),
    "x_sim_lsh_probe" -> (xSimLshProbe _),
    "x_text_entropy" -> (xTextEntropy _),
    "x_feature_rolling" -> (xFeatureRolling _),
    "x_stream_distinct" -> (xStreamDistinct _),
    "x_sim_ivf_pq" -> (xSimIvfPq _),
    "x_profile_window_quantiles" -> (xProfileWindowQuantiles _),
    "x_text_vocab_by_source" -> (xTextVocabBySource _),
    "x_sim_graph_degree" -> (xSimGraphDegree _),
    "x_sample_temperature" -> (xSampleTemperature _),
    "x_profile_join_size" -> (xProfileJoinSize _),
    "x_text_langmix" -> (xTextLangmix _),
    "x_sketch_kmv" -> (xSketchKmv _),
    "x_sketch_kmv_setops" -> (xSketchKmvSetops _),
    "x_reconcile_counts" -> (xReconcileCounts _),
    "x_reconcile_drift" -> (xReconcileDrift _),
    "x_privacy_kanon" -> (xPrivacyKanon _),
    "x_privacy_kanon_stats" -> (xPrivacyKanonStats _),
    "x_privacy_ldiv" -> (xPrivacyLdiv _),
    "x_linkage_fuzzy" -> (xLinkageFuzzy _),
    "x_linkage_best" -> (xLinkageBest _),
    "x_session_assign" -> (xSessionAssign _),
    "x_session_stats" -> (xSessionStats _),
    "x_sketch_cms" -> (xSketchCms _),
    "x_graph_pagerank" -> (xGraphPagerank _),
    "x_graph_pagerank_deep" -> (xGraphPagerankDeep _),
    "x_graph_pagerank_dangling" -> (xGraphPagerankDangling _),
    "x_text_redact" -> (xTextRedact _),
    "x_cdc_merge" -> (xCdcMerge _),
    "x_cdc_scd2" -> (xCdcScd2 _),
    "x_funnel" -> (xFunnel _),
    "x_cohort" -> (xCohort _),
    "x_basket_lift" -> (xBasketLift _),
    "x_profile_winsorize" -> (xProfileWinsorize _),
    "x_cdc_upsert" -> (xCdcUpsert _),
    "x_cdc_pit" -> (xCdcPit _),
    "x_funnel_times" -> (xFunnelTimes _),
    "x_bin_quantile" -> (xBinQuantile _),
    "x_drift_psi" -> (xDriftPsi _),
    "x_ts_resample" -> (xTsResample _),
    "x_profile_benford" -> (xProfileBenford _),
    "x_infer_schema" -> (xInferSchema _),
    "x_profile_bootstrap" -> (xProfileBootstrap _),
    "x_graph_triangles" -> (xGraphTriangles _),
    "x_behavior_transitions" -> (xBehaviorTransitions _),
    "x_behavior_paths" -> (xBehaviorPaths _),
    "x_linkage_golden" -> (xLinkageGolden _),
    "x_layout_zonemap" -> (xLayoutZonemap _),
    "x_text_cooc" -> (xTextCooc _),
    "x_ts_ewma" -> (xTsEwma _),
    "x_profile_corr" -> (xProfileCorr _),
    "x_privacy_tclose" -> (xPrivacyTclose _),
    "x_layout_compaction" -> (xLayoutCompaction _),
    "x_olap_rollup" -> (xOlapRollup _),
    "x_olap_cube" -> (xOlapCube _),
    "x_olap_pivot" -> (xOlapPivot _),
    "x_olap_skyline" -> (xOlapSkyline _),
    "x_profile_ols" -> (xProfileOls _),
    "x_profile_chisq" -> (xProfileChisq _),
    "x_quality_fd" -> (xQualityFd _),
    "x_ts_interval_union" -> (xTsIntervalUnion _),
    "x_ts_cusum" -> (xTsCusum _),
    "x_graph_khop" -> (xGraphKhop _),
    "x_dedup_ppjoin" -> (xDedupPpjoin _),
    "x_dedup_editdist" -> (xDedupEditdist _),
    "x_dedup_editdist_served" -> (xDedupEditdistServed _),
    "x_dedup_editdist_append" -> (xDedupEditdistAppend _),
    "x_dedup_editdist_clusters" -> (xDedupEditdistClusters _),
    "x_fk_index_append" -> (xFkIndexAppend _),
    "x_dedup_substring_compact" -> (xDedupSubstringCompact _),
    "x_dedup_substring_compact_tiered" -> (xDedupSubstringCompactTiered _),
    "x_stream_editdist" -> (xStreamEditdist _),
    "x_stream_phash" -> (xStreamPhash _),
    "x_source_jsonl" -> (xSourceJsonl _),
    "x_source_orc" -> (xSourceOrc _),
    "x_layout_partition_prune" -> (xLayoutPartitionPrune _),
    "x_layout_partition_overwrite" -> (xLayoutPartitionOverwrite _),
    "x_source_evolution" -> (xSourceEvolution _),
    "x_layout_bloomskip" -> (xLayoutBloomskip _),
    "x_olap_rollup_incr" -> (xOlapRollupIncr _),
    "x_ab_cuped" -> (xAbCuped _),
    "x_stream_cusum" -> (xStreamCusum _),
    "x_profile_mi" -> (xProfileMi _),
    "x_drift_embedding" -> (xDriftEmbedding _),
    "x_sample_negatives" -> (xSampleNegatives _),
    "x_quality_labelnoise" -> (xQualityLabelnoise _),
    "x_ts_kaplan_meier" -> (xTsKaplanMeier _),
    "x_embed_pca" -> (xEmbedPca _),
    "x_profile_mad" -> (xProfileMad _),
    "x_eval_auc" -> (xEvalAuc _),
    "x_eval_calibration" -> (xEvalCalibration _),
    "x_eval_kappa" -> (xEvalKappa _),
    "x_text_bm25" -> (xTextBm25 _),
    "x_graph_kcore" -> (xGraphKcore _),
    "x_sample_group_split" -> (xSampleGroupSplit _),
    "x_behavior_rfm" -> (xBehaviorRfm _),
    "x_eval_calibration_quantile" -> (xEvalCalibrationQuantile _),
    "x_sample_neyman" -> (xSampleNeyman _),
    "x_graph_ppr" -> (xGraphPpr _),
    "x_eval_slices" -> (xEvalSlices _),
    "x_graph_neighbor_jaccard" -> (xGraphNeighborJaccard _),
    "x_ts_autocorr" -> (xTsAutocorr _),
    "x_ts_seasonality" -> (xTsSeasonality _),
    "x_stream_dedup_index" -> (xStreamDedupIndex _),
    "x_zipf_ppjoin" -> (xZipfPpjoin _),
    "x_zipf_substring" -> (xZipfSubstring _),
    "x_zipf_bm25" -> (xZipfBm25 _),
    "x_eval_ranking" -> (xEvalRanking _),
    "x_sim_rrf" -> (xSimRrf _),
    "x_stream_ann_serve" -> (xStreamAnnServe _),
    "x_graph_adamic_adar" -> (xGraphAdamicAdar _),
    "x_drift_ks" -> (xDriftKs _),
    "x_graph_lpa" -> (xGraphLpa _),
    "x_join_interval_overlap" -> (xJoinIntervalOverlap _),
    "x_cdc_snapshot_diff" -> (xCdcSnapshotDiff _),
    "x_sim_silhouette" -> (xSimSilhouette _),
    "x_stream_drift" -> (xStreamDrift _),
    "x_graph_hits" -> (xGraphHits _),
    "x_text_js_divergence" -> (xTextJsDivergence _),
    "x_graph_assortativity" -> (xGraphAssortativity _),
    "x_graph_lpa_deep" -> (xGraphLpaDeep _),
    "x_stream_drift_batched" -> (xStreamDriftBatched _),
    "x_eval_rbo" -> (xEvalRbo _),
    "x_dedup_index_append" -> (xDedupIndexAppend _),
    "x_dedup_index_compact" -> (xDedupIndexCompact _),
    "x_unique_incremental" -> (xUniqueIncremental _),
    "x_unique_index_append" -> (xUniqueIndexAppend _),
    "k3_fk_index_served" -> (k3FkIndexServed _),
    "x_stream_unique_index" -> (xStreamUniqueIndex _),
    "x_stream_unique_resume" -> (xStreamUniqueResume _),
    "x_stream_pipeline_multi" -> (xStreamPipelineMulti _),
    "x_stream_pipeline_multi_bounded" ->
      (xStreamPipelineMultiBounded _),
    "x_stream_pipeline_evolve" -> (xStreamPipelineEvolve _),
    "x_stream_unique_versioned" -> (xStreamUniqueVersioned _),
    "x_stream_substring_versioned" -> (xStreamSubstringVersioned _),
    "x_stream_editdist_versioned" -> (xStreamEditdistVersioned _),
    "x_stream_phash_versioned" -> (xStreamPhashVersioned _),
    "x_stream_dedup_resume" -> (xStreamDedupResume _),
    "x_stream_editdist_resume" -> (xStreamEditdistResume _),
    "x_unique_index_delete" -> (xUniqueIndexDelete _),
    "k3_fk_index_delete" -> (k3FkIndexDelete _),
    "x_dedup_index_delete" -> (xDedupIndexDelete _),
    "x_dedup_substring_delete" -> (xDedupSubstringDelete _),
    "x_dedup_editdist_delete" -> (xDedupEditdistDelete _),
    "x_mm_phash_delete" -> (xMmPhashDelete _),
    "x_mm_phash_append" -> (xMmPhashAppend _),
    "x_mm_phash_compact" -> (xMmPhashCompact _),
    "x_stream_phash_resume" -> (xStreamPhashResume _),
    "x_dedup_editdist_compact" -> (xDedupEditdistCompact _),
    "x_stream_substring" -> (xStreamSubstring _),
    "x_stream_substring_resume" -> (xStreamSubstringResume _),
    "x_mm_phash_served" -> (xMmPhashServed _),
    "x_eval_kendall" -> (xEvalKendall _),
    "x_profile_quantile_norm" -> (xProfileQuantileNorm _),
    "x_profile_spearman" -> (xProfileSpearman _),
    "x_profile_gini" -> (xProfileGini _),
    "x_sample_match_dist" -> (xSampleMatchDist _),
    "x_pipeline_train" -> (xPipelineTrain _),
    "x_stream_pipeline" -> (xStreamPipeline _),
    "x_stream_pipeline_admit" -> (xStreamPipelineAdmit _),
    "x_dedup_index_versioned" -> (xDedupIndexVersioned _),
    "x_dedup_index_attach" -> (xDedupIndexAttach _),
    "x_dedup_index_versioned_put" -> (xDedupIndexVersionedPut _),
    "x_dedup_index_concurrent" -> (xDedupIndexConcurrent _),
    "x_dedup_index_concurrent_mixed" -> (xDedupIndexConcurrentMixed _),
    "x_stream_dedup_versioned" -> (xStreamDedupVersioned _),
    "x_unique_index_versioned" -> (xUniqueIndexVersioned _),
    "x_dedup_substring_versioned" -> (xDedupSubstringVersioned _),
    "x_dedup_substring_tiered_versioned" ->
      (xDedupSubstringTieredVersioned _),
    "x_dedup_substring_snapshot_versioned" ->
      (xDedupSubstringSnapshotVersioned _),
    "x_dedup_editdist_versioned" -> (xDedupEditdistVersioned _),
    "x_mm_phash_versioned" -> (xMmPhashVersioned _),
    "x_dedup_index_snapshot" -> (xDedupIndexSnapshot _),
    "x_dedup_index_rollback" -> (xDedupIndexRollback _),
    "x_stream_pipeline_admit_versioned" ->
      (xStreamPipelineAdmitVersioned _)
  ) ++ flatRows.map { case (name, row, _) => name -> row }

  // ------------------------------------------------------------- oracles
  // The DuckDB oracle maps live in graft.oracle (round-5 split): shared
  // fixtures in Fixtures, SQL fragment builders in DuckSql, the static
  // map in StaticOracles, fitted-literal oracles in DynamicOracles.
  // These delegations keep the driver contract (SparkEntry.oracleSql)
  // and Verify's call sites unchanged.

  /** Every "this row shares that row's oracle" decision, row → the row
    * that owns the oracle (static or dynamic). The index-served,
    * appended, compacted, versioned and streamed rows share their
    * in-memory twins' oracles VERBATIM: the claim is hash-identity with
    * the in-memory path, so sharing the oracle is the contract, not a
    * shortcut. The flat similarity rows' entries come from their table.
    */
  private[graft] def sharedOracle: Map[String, String] = Map(
    "x_dedup_index_served" -> "x_dedup_incremental",
    "x_stream_dedup_index" -> "x_dedup_incremental",
    "x_stream_ann_serve" -> "x_sim_ivf_topk",
    "x_dedup_index_compact" -> "x_dedup_index_append",
    "k3_fk_index_served" -> "k3_fk_orders_customer",
    "x_dedup_substring_compact" -> "x_dedup_substring_append",
    "x_dedup_substring_compact_tiered" -> "x_dedup_substring_append",
    "x_dedup_substring_tiered_versioned" -> "x_dedup_substring_append",
    "x_dedup_substring_snapshot_versioned" -> "x_dedup_substring_served",
    "x_stream_editdist" -> "x_dedup_editdist_served",
    "x_stream_phash" -> "x_mm_phash_served",
    "k3_fk_index_delete" -> "k3_fk_orders_customer",
    "x_stream_dedup_resume" -> "x_dedup_index_append",
    "x_stream_editdist_resume" -> "x_dedup_editdist_append",
    "x_text_bpe_learn_dist" -> "x_text_bpe_learn",
    "x_mm_phash_append" -> "x_mm_phash_served",
    "x_mm_phash_compact" -> "x_mm_phash_served",
    "x_dedup_editdist_compact" -> "x_dedup_editdist_append",
    "x_stream_substring" -> "x_dedup_substring_served",
    "x_stream_substring_resume" -> "x_dedup_substring_append",
    "x_stream_substring_versioned" -> "x_dedup_substring_append",
    "x_stream_phash_resume" -> "x_mm_phash_served",
    "x_stream_phash_versioned" -> "x_mm_phash_served",
    "x_stream_editdist_versioned" -> "x_dedup_editdist_append",
    "x_stream_unique_versioned" -> "x_stream_unique_resume",
    "x_dedup_index_versioned" -> "x_dedup_index_append",
    "x_dedup_index_attach" -> "x_dedup_index_append",
    "x_dedup_index_versioned_put" -> "x_dedup_index_append",
    "x_dedup_index_concurrent" -> "x_dedup_index_append",
    "x_dedup_index_concurrent_mixed" -> "x_dedup_index_append",
    "x_stream_dedup_versioned" -> "x_dedup_index_append",
    "x_unique_index_versioned" -> "x_unique_index_append",
    "x_dedup_substring_versioned" -> "x_dedup_substring_append",
    "x_dedup_editdist_versioned" -> "x_dedup_editdist_append",
    "x_mm_phash_versioned" -> "x_mm_phash_served",
    "x_dedup_index_snapshot" -> "x_dedup_incremental",
    "x_dedup_index_rollback" -> "x_dedup_incremental",
    "x_stream_pipeline_admit_versioned" -> "x_stream_pipeline_admit",
    "x_stream_pipeline_multi_bounded" -> "x_stream_pipeline_multi",
    "x_stream_pipeline_evolve" -> "x_stream_pipeline_multi") ++
    flatRows.flatMap { case (name, _, shared) => shared.map(name -> _) }

  /** DuckDB twins of `queries` — identical column names and ordering. */
  def oracleSql: Map[String, String] = graft.oracle.StaticOracles.sql ++
    sharedOracle.collect { case (row, owner)
        if graft.oracle.StaticOracles.sql.contains(owner) =>
      row -> graft.oracle.StaticOracles.sql(owner) }

  /** Names with data-dependent oracles ([[dynamicOracleSql]]) — lets
    * Verify skip the generation work when a name filter excludes them.
    */
  val dynamicQueryNames: Set[String] = graft.oracle.DynamicOracles.names ++
    sharedDynamic.keySet

  private def sharedDynamic: Map[String, String] =
    sharedOracle.filter { case (_, owner) =>
      graft.oracle.DynamicOracles.names(owner) }

  /** Oracle SQL that depends on the DATA, not just the query — rendered
    * per sfDir by Verify at dump time and merged into oracle_sql.json.
    * A requested row that shares an oracle asks for its owner's fit.
    */
  def dynamicOracleSql(
      spark: SparkSession, sfDir: String,
      only: Set[String] = Set.empty): Map[String, String] = {
    val shared = sharedDynamic
    val m = graft.oracle.DynamicOracles.sql(spark, sfDir,
      only ++ only.flatMap(shared.get))
    m ++ shared.collect { case (row, owner)
        if (only.isEmpty || only(row)) && m.contains(owner) =>
      row -> m(owner) }
  }
}
