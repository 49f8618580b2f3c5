package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity}

/** Write-once / read-many index artifacts (round-7 directive #3).
  *
  * The incremental-ingest operators' scale story is "build the corpus
  * index ONCE, serve every future batch from the artifact" — until
  * this module that contract was asserted in scaladoc but never
  * exercised: every harness query rebuilt its index in memory. These
  * helpers persist the index frames as plain parquet (no engine-
  * private format — an external system can rebuild or consume them)
  * and re-read them for serving; the harness proves the round-trip by
  * hash-matching an index-served query against the in-memory path's
  * DuckDB oracle (x_dedup_index_served / x_sim_ivf_served).
  *
  * Artifact schemas (all columns engine-portable primitives):
  *  - dedup:  `shingles.parquet` (id long, sh array<long>) and
  *            `bands.parquet` (id long, band int, bucket long)
  *  - flat similarity families: the write-once model leaves
  *            `centroids.parquet` (list_id long, cvec array<double>)
  *            and `codebooks.parquet` (j int, code int, cvec
  *            array<double>, bias double), and one row per corpus
  *            vector: IVF (id long, nvec array<double>, list_id long),
  *            int8 (id long, q array<tinyint>, scale double), PQ (id
  *            long, codes array<int>) and IVF-PQ (id long, list_id
  *            long, codes array<int>)
  *
  * At 100 TB: the dedup band frame is the per-batch join's build side
  * — persist it bucketed by `bucket` ([[Bucketing]]) and the serve
  * join runs exchange-free; the shingle frame is only touched by the
  * candidate verify join (semi-join-shaped, candidate-bounded). The
  * IVF frames are read probe-restricted (nProbe/nLists of the lists).
  * Doubles round-trip parquet bit-identically, so a served query is
  * hash-equal to the in-memory plan, not just approximately equal.
  *
  * The bucketed families (MinHash dedup and its multi-index pipeline
  * extension, substring grams, edit distance, pHash, key) are each
  * described once as a [[Family]] value, and every lifecycle step is
  * written once per store: the plain store ([[Bucketing]] catalog
  * tables) and the versioned store ([[BucketedManifest]] gen
  * manifests). The public methods below name a family and a store.
  *
  * The flat similarity families (IVF, int8, PQ, IVF-PQ) are likewise
  * each one [[Flat]] value: where its per-vector rows live in each
  * store, its model leaves (centroids, codebooks, both or none), its
  * encode and its serving decode. Every lifecycle step is written once
  * per store: the plain store (a parquet leaf under `dir` —
  * `ivf.parquet`, `int8.parquet`, `codes.parquet`, `ivfpq.parquet` —
  * rewritten in place by purge and compact) and the versioned store (a
  * [[VersionedFlat]] manifest chain — `dir/enc` for IVF and IVF-PQ,
  * `dir/codes` for PQ, `dir` itself for int8 — whose purges and
  * compactions publish versions).
  * Both keep deleted ids in `dir/dead.parquet` until a purge.
  */
object IndexStore {

  // ------------------------------------------ bucketed index families
  /** One member table of a bucketed family: its name suffix, its
    * bucket keys (the serve join's key), and its rows, derived from
    * the input frame and the family's shared intermediate frame. An
    * `lsm` member holds `(key…, n)` count rows that compaction
    * re-aggregates ([[keyMerge]]).
    */
  private final case class Member[P](suffix: String,
      keys: P => Seq[String], rows: (P, DataFrame, DataFrame) => DataFrame,
      lsm: Boolean = false)

  /** A bucketed index family. Its build parameters `P` ride along as
    * the one-row `_meta` record every read and append checks first:
    * serving or admitting under different parameters than the index
    * was built with would silently break what `why` names, so it fails
    * loudly instead. `shared` is the intermediate frame the members
    * derive from (cached while they are written when there is more
    * than one member); `idFrom` is the member whose `id` column types
    * the empty tombstone frame of the id-tombstoned families.
    */
  private final case class Family[P](kind: String, why: String,
      meta: P => Seq[(String, Any)], members: Seq[Member[P]],
      shared: P => DataFrame => DataFrame = (_: P) => identity[DataFrame] _,
      idFrom: String = "")

  /** MinHash banding parameters: (numHashes, bands, k). */
  private type Banding = (Int, Int, Int)

  /** MinHash dedup over `(id, toks)`: `_sh` (id, sh) on id — the verify
    * join's key — and `_bands` (id, band, bucket) on (band, bucket) —
    * the candidate join's key.
    */
  private val DedupFamily = Family[Banding]("dedup",
    "mismatched banding never collides with the corpus buckets and " +
      "silently under-reports duplicates",
    { case (numHashes, bands, k) =>
      Seq("num_hashes" -> numHashes, "bands" -> bands, "k" -> k) },
    Seq(Member("_sh", _ => Seq("id"), (_, _, sh) => sh),
      Member("_bands", _ => Seq("band", "bucket"),
        { case ((numHashes, bands, _), _, sh) =>
          Dedup.bandAssignmentsFromShingles(sh, numHashes, bands) })),
    shared = { case (_, _, k) => toks => toks.select(col("id"),
      Dedup.shingleHashesFromTokens(col("toks"), k).as("sh")) },
    idFrom = "_sh")

  /** The key-uniqueness member: one `(key…, n)` count row per distinct
    * non-null key tuple of the input. Nulls are exempt, matching
    * [[graft.check.Checks.unique]] / SQL convention: a null key tuple
    * is a `required` problem, not a uniqueness one.
    */
  private def keyMember[P](keys: P => Seq[String]): Member[P] =
    Member("_keys", keys, (p, in, _) => keyCounts(in, keys(p)), lsm = true)

  private def keyCounts(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(keys.map(df(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(df(_)): _*)
      .agg(count(lit(1)).as("n"))

  /** The LSM merge of a key member: split rows re-aggregate per key and
    * keys whose total reached zero (collapsed tombstones) drop. Serve
    * paths already sum per key, so a merge never changes an answer.
    */
  private val keyMerge: DataFrame => DataFrame = df => {
    val keys = df.columns.filter(_ != "n").toSeq
    df.groupBy(keys.map(df(_)): _*).agg(sum(col("n")).as("n"))
      .filter(col("n") =!= 0)
  }

  /** The MinHash halves plus a key member on `id` (document identity)
    * in one family, with the dedup `_meta` record.
    */
  private val PipelineFamily = DedupFamily.copy(members =
    DedupFamily.members :+ keyMember[Banding](_ => Seq("id")))

  private val KeyFamily = Family[Seq[String]]("key",
    "a different key set silently reports zero collisions",
    keys => Seq("keys" -> keys.mkString(",")),
    Seq(keyMember[Seq[String]](keys => keys)))

  /** Substring grams over `(id, toks)`: `(id, pos, h)` rows on `h`, the
    * key both serve-time joins use.
    */
  private val SubstringFamily = Family[Int]("substring",
    "mismatched gram sizes never collide and silently report zero " +
      "overlap",
    k => Seq("k" -> k),
    Seq(Member("_grams", _ => Seq("h"),
      (k, toks, _) => Dedup.substringGrams(toks, "id", col("toks"), k))),
    idFrom = "_grams")

  /** PassJoin edit distance over `(id, s)` strings (nulls dropped):
    * `_segs` (id, len, h) on `h` — the single-column candidate join,
    * length and slot folded into the hash — `_str` (id, s) on `id` —
    * the verify fetch — and `_bylen` (len, id) on `len` — the
    * sub-(d+1)-char directory.
    */
  private val EditFamily = Family[Int]("edit",
    "differently-cut segments never collide and silently report no " +
      "matches",
    d => Seq("d" -> d),
    Seq(Member("_segs", _ => Seq("h"),
        (d, _, c) => Dedup.editSegmentFrame(c, d)),
      Member("_str", _ => Seq("id"),
        (_, _, c) => c.select(col("__id").as("id"), col("__s").as("s"))),
      Member("_bylen", _ => Seq("len"),
        (_, _, c) => c.select(col("__l").as("len"), col("__id").as("id")))),
    shared = _ => in => in.select(col("id").as("__id"), col("s").as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__l", length(col("__s"))),
    idFrom = "_str")

  private def editInput(df: DataFrame, idCol: String,
      strCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))

  /** Perceptual hashes `(id, dhash)` banded on (band, key) — exactly the
    * serve join's key.
    */
  private val PhashFamily = Family[Int]("phash",
    "mismatched banding never collides and silently reports no " +
      "near-duplicates",
    bands => Seq("bands" -> bands),
    Seq(Member("_bands", _ => Seq("band", "key"),
      (bands, hashes, _) => Multimodal.phashBands(hashes, bands))),
    idFrom = "_bands")

  private def metaFrame(spark: SparkSession,
      meta: Seq[(String, Any)]): DataFrame =
    spark.range(1).select(meta.map { case (c, v) => lit(v).as(c) }: _*)

  private def writeMeta(spark: SparkSession, table: String,
      meta: Seq[(String, Any)]): Unit =
    metaFrame(spark, meta).write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")

  private def checkMeta[P](built: DataFrame, where: String, f: Family[P],
      p: P): Unit = {
    val want = f.meta(p)
    val got = built.select(want.map(c => col(c._1)): _*).head.toSeq
    def show(vs: Seq[Any]): String =
      want.map(_._1).zip(vs).map { case (c, v) => s"$c=$v" }.mkString(", ")
    require(got == want.map(_._2),
      s"${f.kind} index at $where was built with (${show(got)}) but is " +
        s"being served with (${show(want.map(_._2))}) — ${f.why}")
  }

  /** Member table name, rows and bucket keys, as a store writes them. */
  private type Rows = Seq[(String, DataFrame, Seq[String])]

  /** Derive every member's rows from `in` and hand them to `use`; the
    * shared frame is cached meanwhile when more than one member reads
    * it (one input scan for the whole family).
    */
  private def withRows[P, R](f: Family[P], p: P, in: DataFrame,
      table: String)(use: Rows => R): R = {
    val multi = f.members.size > 1
    val s = f.shared(p)(in)
    if (multi) s.cache()
    try use(f.members.map(m => (table + m.suffix, m.rows(p, in, s),
      m.keys(p))))
    finally { if (multi) s.unpersist(blocking = false); () }
  }

  /** The two places a family's members can live. */
  private sealed trait Store {
    def create(spark: SparkSession, table: String, rows: Rows,
        numBuckets: Int): Unit

    /** The committed version (0 on the unversioned store). */
    def append(spark: SparkSession, table: String, rows: Rows): Int
  }

  /** The plain store: one bucketed catalog table per member. Appends
    * land one file per non-empty bucket beside the standing files (the
    * bucket count is read from the catalog; Spark rejects a spec
    * mismatch), compaction rewrites in place, and deleted ids wait in a
    * sibling `_dead` table until a purge.
    */
  private object Plain extends Store {
    def create(spark: SparkSession, table: String, rows: Rows,
        numBuckets: Int): Unit =
      rows.foreach { case (t, df, keys) =>
        Bucketing.writeBucketed(df, t, keys, numBuckets) }

    def append(spark: SparkSession, table: String, rows: Rows): Int = {
      rows.foreach { case (t, df, keys) =>
        Bucketing.appendBucketed(df, t, keys,
          Bucketing.numBucketsOf(spark, t)) }
      0
    }

    def read(spark: SparkSession, member: String): DataFrame =
      Bucketing.readBucketed(spark, member)

    def compact(spark: SparkSession, table: String, f: Family[_]): Unit =
      f.members.foreach(m => Bucketing.compactBucketed(spark,
        table + m.suffix, if (m.lsm) keyMerge else identity))

    def compactTiered(spark: SparkSession, table: String, f: Family[_],
        minFilesPerBucket: Int): Unit =
      f.members.foreach(m => Bucketing.compactBucketedTiered(spark,
        table + m.suffix, minFilesPerBucket))

    /** Rewrite every member without the tombstoned ids (the compaction
      * rewrite with an anti-join merge), then clear the tombstones.
      */
    def purge(spark: SparkSession, table: String, f: Family[_]): Unit = {
      val dead = readDeadIds(spark, table, table + f.idFrom)
      f.members.foreach(m => Bucketing.compactBucketed(spark,
        table + m.suffix, _.join(dead, Seq("id"), "left_anti")))
      spark.sql(s"DROP TABLE IF EXISTS `${table}_dead`"): Unit
    }
  }

  /** The versioned store: the members of one [[BucketedManifest]]
    * family, so every append and compaction is one atomic manifest
    * commit across all members and every commit stays readable as of
    * its version until vacuumed.
    */
  private object Versioned extends Store {
    def create(spark: SparkSession, table: String, rows: Rows,
        numBuckets: Int): Unit =
      BucketedManifest.create(spark, table,
        rows.map { case (t, df, keys) => (t, df, keys, numBuckets) })

    def append(spark: SparkSession, table: String, rows: Rows): Int =
      BucketedManifest.append(spark, table,
        rows.map { case (t, df, _) => (t, df) })

    def read(spark: SparkSession, table: String, member: String)
        : DataFrame =
      BucketedManifest.read(spark, table, member)

    def readAsOf(spark: SparkSession, table: String, member: String,
        v: Int): DataFrame =
      BucketedManifest.readVersion(spark, table, member, v)

    def snapshot(spark: SparkSession, table: String): Int =
      BucketedManifest.currentVersion(spark, table)

    def compact(spark: SparkSession, table: String, f: Family[_]): Unit =
      BucketedManifest.compact(spark, table, merges(table, f))

    def compactTiered(spark: SparkSession, table: String, f: Family[_],
        maxGens: Int): Boolean =
      BucketedManifest.compactTiered(spark, table, maxGens,
        merges(table, f))

    def addMember(spark: SparkSession, table: String, member: String,
        rows: DataFrame, keys: Seq[String], numBuckets: Int): Int =
      BucketedManifest.addMember(spark, table, member, rows, keys,
        numBuckets)

    private def merges(table: String, f: Family[_])
        : Map[String, DataFrame => DataFrame] =
      f.members.filter(_.lsm)
        .map(m => (table + m.suffix).toLowerCase -> keyMerge).toMap
  }

  private def build[P](store: Store, f: Family[P], p: P, in: DataFrame,
      table: String, numBuckets: Int): Unit = {
    val spark = in.sparkSession
    Scratch.sweepOnce(spark) // age out dead-pid scratch
    // a build replaces the whole corpus: the replaced one's tombstones go
    spark.sql(s"DROP TABLE IF EXISTS `${table}_dead`")
    withRows(f, p, in, table)(store.create(spark, table, _, numBuckets))
    writeMeta(spark, table, f.meta(p))
  }

  private def admit[P](store: Store, f: Family[P], p: P, delta: DataFrame,
      table: String): Int = {
    val spark = delta.sparkSession
    checkMeta(spark.table(s"${table}_meta"), table, f, p)
    withRows(f, p, delta, table)(store.append(spark, table, _))
  }

  private def serve[P](f: Family[P], p: P, spark: SparkSession,
      table: String)(read: String => DataFrame): Seq[DataFrame] = {
    checkMeta(spark.table(s"${table}_meta"), table, f, p)
    f.members.map(m => read(table + m.suffix))
  }

  /** Key deletion as LSM tombstones: the deleted rows' per-key counts
    * are appended NEGATED, so a fully-deleted key sums to zero.
    */
  private def deleteKeys(store: Store, deleted: DataFrame, table: String,
      keys: Seq[String]): Unit = {
    val spark = deleted.sparkSession
    checkMeta(spark.table(s"${table}_meta"), table, KeyFamily, keys)
    store.append(spark, table, Seq((s"${table}_keys",
      keyCounts(deleted, keys).withColumn("n", -col("n")), keys))): Unit
  }

  private def pair(dfs: Seq[DataFrame]): (DataFrame, DataFrame) =
    (dfs(0), dfs(1))

  // ------------------------------------------------- MinHash family
  /** Build + persist the near-dup corpus index from a pre-tokenized
    * `(id, toks)` frame as plain parquet under `dir`. One corpus scan:
    * the shingle frame is cached, written, and reused for the band
    * build. The banding parameters ride along as `meta.parquet`;
    * [[readDedupIndex]] validates them.
    */
  def writeDedupIndex(corpusToks: DataFrame, dir: String,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3): Unit = {
    val p = (numHashes, bands, k)
    Scratch.sweepOnce(corpusToks.sparkSession)
    withRows(DedupFamily, p, corpusToks, dir)(_.zip(Seq("shingles", "bands"))
      .foreach { case ((_, df, _), leaf) =>
        df.write.mode("overwrite").parquet(s"$dir/$leaf.parquet") })
    metaFrame(corpusToks.sparkSession, DedupFamily.meta(p))
      .write.mode("overwrite").parquet(s"$dir/meta.parquet")
  }

  /** Re-read the two dedup artifacts: (shingles, bands). The serve-time
    * parameters must MATCH the build-time record in `meta.parquet`.
    */
  def readDedupIndex(spark: SparkSession, dir: String,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3)
      : (DataFrame, DataFrame) = {
    checkMeta(spark.read.parquet(s"$dir/meta.parquet"), dir, DedupFamily,
      (numHashes, bands, k))
    (spark.read.parquet(s"$dir/shingles.parquet"),
      spark.read.parquet(s"$dir/bands.parquet"))
  }

  /** Bucketed-table variant of the dedup index: the band frame is
    * saved bucketed on `(band, bucket)` — the serve join's exchange
    * key — and the shingle frame bucketed on `id` (the verify join's
    * key). Every future batch then joins against co-located splits:
    * the CORPUS side of the per-batch join reads with NO Exchange
    * (asserted in BucketingSpec); only the (small) new batch shuffles
    * to match. At 100 TB this is the difference between re-shuffling
    * the standing index per ingest batch and reading it in place.
    */
  def writeDedupIndexBucketed(corpusToks: DataFrame, table: String,
      numBuckets: Int, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3): Unit =
    build(Plain, DedupFamily, (numHashes, bands, k), corpusToks, table,
      numBuckets)

  /** Re-read the bucketed dedup index: (shingles, bands), both with
    * catalog bucket metadata so the per-batch serve join reads the
    * corpus side with zero exchanges. Parameters validated against the
    * build-time `_meta` record, like [[readDedupIndex]].
    */
  def readDedupIndexBucketed(spark: SparkSession, table: String,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3)
      : (DataFrame, DataFrame) =
    pair(serve(DedupFamily, (numHashes, bands, k), spark, table)(
      Plain.read(spark, _)))

  /** Append a DELTA of new `(id, toks)` documents INTO the standing
    * bucketed dedup index — the maintenance arc that closes the
    * production ingest loop (serve the batch against the index, then
    * ADMIT it so future batches dedup against it too; without this
    * the index is frozen at build time and near-dups arriving in two
    * different later batches are never caught).
    *
    * Only the delta is shingled, minhashed, and shuffled into the
    * table's bucket layout (bucket count read from the catalog; a
    * spec mismatch is rejected by Spark itself, so an append can
    * never silently break the serve join's exchange-free contract —
    * re-asserted after an append in BucketingSpec). The standing
    * index files are never rewritten; each append adds one file per
    * non-empty bucket — the LSM trade, compacted periodically like
    * any bucketed fact table.
    *
    * Serve-time parameters are validated against the build-time meta
    * record FIRST: appending band assignments computed under
    * different banding than the standing rows would corrupt the
    * index silently, the exact failure mode the meta record exists
    * to stop. Shingles and band assignments are pure per-document
    * functions, so append(build(base), delta) is ROW-IDENTICAL to
    * build(base ∪ delta) — the x_dedup_index_append oracle computes
    * the union-corpus answer in DuckDB and the hash-match proves it.
    */
  def appendDedupIndexBucketed(deltaToks: DataFrame, table: String,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3): Unit =
    admit(Plain, DedupFamily, (numHashes, bands, k), deltaToks, table): Unit

  /** Tombstone DELETION for the MinHash index: deleted document ids
    * land in a sibling `_dead` table — standing index files untouched,
    * one id-list append. Serving excludes dead corpus ids by
    * anti-joining the OUTPUT pairs (batch-sized — the cheap side; a
    * dead doc can only surface through candidates, so post-join
    * exclusion is exact). [[purgeDedupIndexBucketed]] later removes
    * dead rows physically via the compaction rewrite and clears the
    * tombstones; the serve answer is invariant across the purge
    * (BucketingSpec proves excluded-serve ≡ post-purge serve ≡
    * rebuild-without-deleted).
    */
  def deleteFromDedupIndexBucketed(ids: DataFrame, table: String): Unit =
    appendDeadIds(ids, table)

  /** Generic id-tombstone primitives shared by every PER-DOCUMENT index
    * family (MinHash, substring grams, edit-distance, pHash — all pure
    * functions of single documents, so deletes are id-keyed): deleted
    * ids land in a sibling `_dead` table, one batch-sized append,
    * standing index files untouched. Each family serves with dead
    * corpus ids excluded by anti-joining the OUTPUT pairs (batch-sized,
    * exact — a dead doc can only surface through candidates) and purges
    * physically via its compaction rewrite with an anti-join merge.
    */
  private def appendDeadIds(ids: DataFrame, table: String): Unit =
    ids.select(col("id"))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${table}_dead")

  /** The standing tombstone set — empty frame if none were deleted;
    * the empty fallback's id TYPE comes from `idTypeFrom`'s own id
    * column, never a hardcoded type (a mismatched empty frame would
    * silently type-coerce the purge anti-join and the serve-side
    * exclusion: string-vs-long casts can null out and un-exclude).
    */
  def readDeadIds(spark: SparkSession, table: String,
      idTypeFrom: String): DataFrame =
    if (spark.catalog.tableExists(s"${table}_dead"))
      spark.table(s"${table}_dead")
    else spark.table(idTypeFrom).select(col("id")).limit(0)

  /** The MinHash index's standing tombstone set (id type from `_sh`). */
  def readDedupDeadIds(spark: SparkSession, table: String): DataFrame =
    readDeadIds(spark, table, table + DedupFamily.idFrom)

  /** Physically remove tombstoned documents from both index halves
    * (the compaction rewrite with an anti-join merge) and clear the
    * tombstone table. After a purge, serving needs no exclusion until
    * the next delete.
    */
  def purgeDedupIndexBucketed(spark: SparkSession, table: String): Unit =
    Plain.purge(spark, table, DedupFamily)

  /** Compact the standing bucketed MinHash dedup index back to one
    * data file per non-empty bucket ([[Bucketing.compactBucketed]] on
    * both halves) — the periodic rewrite [[appendDedupIndexBucketed]]
    * prices in: after b appended batches every serve scan opens
    * O(b × buckets) small files. Content, bucket layout, and the
    * `_meta` parameter record are all untouched, so serving after a
    * compaction is the SAME join plan over the SAME rows — the
    * x_dedup_index_compact row shares x_dedup_index_append's oracle
    * verbatim (hash-identity IS the claim), and BucketingSpec asserts
    * the file count actually drops and the exchange-free serve
    * contract survives.
    */
  def compactDedupIndexBucketed(spark: SparkSession,
      table: String): Unit =
    Plain.compact(spark, table, DedupFamily)

  // -------------------------- MinHash family, versioned (round-15 #1)
  /** The MinHash dedup index on [[BucketedManifest]] gen-manifest
    * tables. Both halves (`_sh` on id, `_bands` on (band, bucket)) are
    * MEMBERS of ONE family: every append commits both in a single
    * atomic manifest (a half-frozen crash split cannot exist), every
    * commit is a time-travelable version, and compaction publishes
    * merged generations the old versions keep referencing — no hard
    * links, no catalog-table-per-version, no pointer swap. Serve reads
    * are partition-pruned catalog scans carrying the bucket metadata,
    * so the per-batch join still reads the corpus side exchange-free
    * (BucketedManifestSpec asserts the executed plan). Content contract
    * unchanged: x_dedup_index_versioned shares x_dedup_index_append's
    * oracle verbatim through a build/append/compact cycle.
    */
  def writeDedupIndexBucketedVersioned(corpusToks: DataFrame,
      table: String, numBuckets: Int, numHashes: Int = 32,
      bands: Int = 16, k: Int = 3): Unit =
    build(Versioned, DedupFamily, (numHashes, bands, k), corpusToks, table,
      numBuckets)

  /** (shingles, bands) of the CURRENT version, bucket metadata
    * attached; serve-time parameters validated against the build-time
    * record. The manifest is resolved at call time, so a per-batch
    * caller always serves against everything committed so far.
    */
  def readDedupIndexBucketedVersioned(spark: SparkSession,
      table: String, numHashes: Int = 32, bands: Int = 16, k: Int = 3)
      : (DataFrame, DataFrame) =
    pair(serve(DedupFamily, (numHashes, bands, k), spark, table)(
      Versioned.read(spark, table, _)))

  /** [[appendDedupIndexBucketed]] as ONE atomic family commit: the
    * delta's shingle and band generations land under a claimed gen
    * number and both halves advance in a single manifest link — the
    * committed version is returned and IS the freeze point ("the
    * corpus after this batch"). Standing generations untouched;
    * captured reader frames remain valid.
    */
  def appendDedupIndexBucketedVersioned(deltaToks: DataFrame,
      table: String, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3): Int =
    admit(Versioned, DedupFamily, (numHashes, bands, k), deltaToks, table)

  /** The freeze point of the current ingest state. On the manifest
    * store a snapshot is PURE METADATA — every committed version is
    * already frozen (generations are immutable, manifests reference
    * them forever until vacuum), so "freeze now" just reads the
    * current version number.
    */
  def snapshotDedupIndexBucketedVersioned(spark: SparkSession,
      table: String): Int =
    Versioned.snapshot(spark, table)

  /** (shingles, bands) of FROZEN version `v` — the corpus exactly as
    * of that commit, regardless of every admission since.
    */
  def readDedupIndexBucketedVersionedAsOf(spark: SparkSession,
      table: String, v: Int, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3): (DataFrame, DataFrame) =
    pair(serve(DedupFamily, (numHashes, bands, k), spark, table)(
      Versioned.readAsOf(spark, table, _, v)))

  /** [[compactDedupIndexBucketed]] as version publication: both
    * halves' one-file-per-bucket merged generations land under one
    * claimed gen and ONE manifest commit — concurrent readers keep
    * their versions' generations until [[BucketedManifest.vacuum]].
    * Content, layout, `_meta` untouched, so the serve answer is
    * hash-invariant.
    */
  def compactDedupIndexBucketedVersioned(spark: SparkSession,
      table: String): Unit =
    Versioned.compact(spark, table, DedupFamily)

  /** Size-tiered cadence for the versioned MinHash family
    * ([[BucketedManifest.compactTiered]]): when the manifest
    * references more than `maxGens` generations, merge the smallest
    * down to the cap and reference the big ones untouched — the
    * O(small-generations) maintenance an every-batch ingest loop can
    * afford to run after each admit.
    */
  def maybeCompactDedupIndexBucketedVersioned(spark: SparkSession,
      table: String, maxGens: Int): Boolean =
    Versioned.compactTiered(spark, table, DedupFamily, maxGens)

  // ------------------- multi-index pipeline family (round-15 capstone)
  /** The MULTI-INDEX pipeline family: the MinHash halves (content
    * identity) and a key member (document identity) in ONE manifest
    * chain — the composability the gen-manifest store was built for.
    * A training-data ingest loop screens every batch through BOTH
    * gates (near-dup content, duplicate id) and admits the survivors
    * into all three members with ONE atomic commit: a crash between
    * "document counted in the dedup index" and "document counted in
    * the key index" cannot exist, so the two indexes can never
    * disagree about what was admitted — the cross-index consistency a
    * per-index commit protocol cannot give. The dedup halves serve
    * through [[readDedupIndexBucketedVersioned]] unchanged (same
    * member names and `_meta` record); the key member serves the
    * uniqueness gate.
    */
  def writePipelineIndexVersioned(corpusToks: DataFrame, table: String,
      numBuckets: Int, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3): Unit =
    build(Versioned, PipelineFamily, (numHashes, bands, k), corpusToks,
      table, numBuckets)

  /** Admit a delta into ALL THREE members atomically (one manifest
    * link — returns the committed version, which is the freeze point
    * of the whole pipeline state).
    */
  def appendPipelineIndexVersioned(deltaToks: DataFrame, table: String,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3): Int =
    admit(Versioned, PipelineFamily, (numHashes, bands, k), deltaToks,
      table)

  /** The key member's raw LSM rows (id, n) of the current version —
    * the uniqueness gate anti-joins present ids, audits sum totals.
    */
  def readPipelineKeyIndex(spark: SparkSession, table: String): DataFrame =
    Versioned.read(spark, table, s"${table}_keys")

  /** EVOLVE a versioned MinHash family into the pipeline family
    * online ([[BucketedManifest.addMember]] — round-16): the key
    * member is derived from the ids ALREADY ADMITTED (the `_sh`
    * member's id set — corpus plus every admission so far) and added
    * in one manifest commit. From that version on,
    * [[readPipelineKeyIndex]] and the identity gate serve exactly as
    * if the family had been born with
    * [[writePipelineIndexVersioned]]; no existing generation is
    * touched, nothing is rebuilt, and time travel before the birth
    * version keeps working for the original members. Returns the
    * birth version.
    */
  def addPipelineKeyMember(spark: SparkSession, table: String,
      numBuckets: Int): Int =
    Versioned.addMember(spark, table, s"${table}_keys",
      keyCounts(Versioned.read(spark, table, s"${table}_sh")
        .select("id").distinct(), Seq("id")),
      Seq("id"), numBuckets)

  /** Size-tiered cadence for the whole pipeline family (round-16
    * directive #2 — the multi-gate ingest loop is the operator a real
    * pipeline runs forever, so its generation growth must be
    * boundable like every other ingest loop's): ONE tiered merge
    * across all three members — the MinHash halves merge by plain
    * concatenation (pure per-document rows), the key member through
    * the LSM re-aggregation (split rows collapse, zero-total keys
    * drop) — published as ONE manifest commit, so even the
    * maintenance path keeps the cross-member atomicity the family
    * exists for. Big standing generations are referenced untouched.
    */
  def maybeCompactPipelineIndexVersioned(spark: SparkSession,
      table: String, maxGens: Int): Boolean =
    Versioned.compactTiered(spark, table, PipelineFamily, maxGens)

  // ------------------------------------------ substring gram family
  /** Build + persist the SUBSTRING-DEDUP gram index from a
    * pre-tokenized `(id, toks)` frame: `(id, pos, h)` k-gram rows
    * ([[Dedup.substringGrams]]) saved as a bucketed table on `h` — the
    * key BOTH serve-time joins (anchor candidates and diagonal
    * extension) use, so every future batch reads the corpus side of
    * both joins in place (asserted in BucketingSpec). The gram size
    * `k` rides along as `_meta`: serving with a different k than the
    * index was built with never matches a single gram and silently
    * reports zero overlap — fail loudly instead.
    */
  def writeSubstringIndexBucketed(corpusToks: DataFrame, table: String,
      numBuckets: Int, k: Int): Unit =
    build(Plain, SubstringFamily, k, corpusToks, table, numBuckets)

  /** Re-read the bucketed substring gram index; the serve-time `k`
    * must match the build-time record.
    */
  def readSubstringIndexBucketed(spark: SparkSession, table: String,
      k: Int): DataFrame =
    serve(SubstringFamily, k, spark, table)(Plain.read(spark, _)).head

  /** Append a DELTA of new `(id, toks)` documents INTO the standing
    * bucketed substring gram index — the LSM maintenance arc the
    * MinHash index already has ([[appendDedupIndexBucketed]]): without
    * it a growing 100 TB corpus must re-gram-hash the FULL corpus per
    * ingest batch just to admit the batch into future screens.
    *
    * Only the delta is gram-hashed and shuffled into the table's
    * bucket layout; standing files are never rewritten. The gram size
    * is validated against the build-time `_meta` record FIRST:
    * appending k'-grams into a k-gram index would silently split every
    * cross-boundary run. [[graft.ext.Dedup.substringGrams]] is a pure
    * per-document function, so append(build(base), delta) is
    * ROW-IDENTICAL to build(base ∪ delta) — the
    * x_dedup_substring_append oracle computes the union-corpus answer
    * from scratch in DuckDB and the hash-match proves it.
    */
  def appendSubstringIndexBucketed(deltaToks: DataFrame, table: String,
      k: Int): Unit =
    admit(Plain, SubstringFamily, k, deltaToks, table): Unit

  /** Compact the standing bucketed substring gram index — same
    * contract as [[compactDedupIndexBucketed]].
    */
  def compactSubstringIndexBucketed(spark: SparkSession,
      table: String): Unit =
    Plain.compact(spark, table, SubstringFamily)

  /** Size-tiered compaction of the substring gram index: only buckets
    * that accumulated >= `minFilesPerBucket` files are rewritten
    * ([[Bucketing.compactBucketedTiered]]) — the periodic maintenance
    * shape for a 100 TB index whose appends hit a few hot buckets.
    */
  def compactSubstringIndexTiered(spark: SparkSession, table: String,
      minFilesPerBucket: Int): Unit =
    Plain.compactTiered(spark, table, SubstringFamily, minFilesPerBucket)

  /** Tombstone DELETION for the substring gram index — the MinHash
    * id-tombstone pattern (grams are a pure per-document frame, so
    * deletes are id-keyed): deleted ids land in `_dead`; serving
    * excludes dead corpus ids by anti-joining the OUTPUT run/pair rows
    * on corpus_id (exact — a dead doc can only surface through gram
    * candidates); [[purgeSubstringIndexBucketed]] later removes dead
    * grams physically. The right-to-be-forgotten shape: no rewrite of
    * a 100 TB gram index on the request path.
    */
  def deleteFromSubstringIndexBucketed(ids: DataFrame,
      table: String): Unit =
    appendDeadIds(ids, table)

  /** The substring index's standing tombstone set. */
  def readSubstringDeadIds(spark: SparkSession, table: String): DataFrame =
    readDeadIds(spark, table, table + SubstringFamily.idFrom)

  /** Physically remove tombstoned documents' grams (the compaction
    * rewrite with an anti-join merge) and clear the tombstone table;
    * the served answer is invariant across the purge (BucketingSpec:
    * excluded serve ≡ rebuild-without-deleted ≡ post-purge serve).
    */
  def purgeSubstringIndexBucketed(spark: SparkSession,
      table: String): Unit =
    Plain.purge(spark, table, SubstringFamily)

  /** The substring gram index on [[BucketedManifest]] gen-manifest
    * tables: one member, the gram frame on `h`; `_meta` pins k exactly
    * as the plain twin does. Every admit commits a manifest and IS the
    * freeze point, snapshots are pure metadata reads, and tiered
    * compaction references big standing generations untouched. Serve
    * content matches the plain store: x_dedup_substring_versioned,
    * x_dedup_substring_tiered_versioned, and
    * x_stream_substring_versioned share x_dedup_substring_append's
    * oracle verbatim.
    */
  def writeSubstringIndexBucketedVersioned(corpusToks: DataFrame,
      table: String, numBuckets: Int, k: Int): Unit =
    build(Versioned, SubstringFamily, k, corpusToks, table, numBuckets)

  /** The CURRENT version's gram set, bucket metadata attached (the
    * manifest is resolved at call time, so a per-batch caller always
    * serves against everything committed so far).
    */
  def readSubstringIndexBucketedVersioned(spark: SparkSession,
      table: String, k: Int): DataFrame =
    serve(SubstringFamily, k, spark, table)(
      Versioned.read(spark, table, _)).head

  /** Admit a delta's grams as a NEW VERSION (returned — it IS the
    * freeze point "the corpus after this batch"; standing generations
    * untouched, captured reader frames remain valid).
    */
  def appendSubstringIndexBucketedVersioned(deltaToks: DataFrame,
      table: String, k: Int): Int =
    admit(Versioned, SubstringFamily, k, deltaToks, table)

  /** The freeze point of the current ingest state — PURE METADATA on
    * the manifest store (every committed version is already frozen).
    */
  def snapshotSubstringIndexBucketedVersioned(spark: SparkSession,
      table: String): Int =
    Versioned.snapshot(spark, table)

  /** The gram set as of FROZEN version `v` — blind to every admission
    * and rewrite since that commit.
    */
  def readSubstringIndexBucketedVersionedAsOf(spark: SparkSession,
      table: String, v: Int, k: Int): DataFrame =
    serve(SubstringFamily, k, spark, table)(
      Versioned.readAsOf(spark, table, _, v)).head

  /** Full compaction as version publication: one merged generation,
    * one file per non-empty bucket; older versions keep their
    * generations until [[BucketedManifest.vacuum]]. Content-invariant
    * (grams are pure per-document rows — no merge algebra needed).
    */
  def compactSubstringIndexBucketedVersioned(spark: SparkSession,
      table: String): Unit =
    Versioned.compact(spark, table, SubstringFamily)

  /** Size-tiered cadence ([[BucketedManifest.compactTiered]]): when
    * the manifest references more than `maxGens` generations, merge
    * the SMALLEST down to the cap and reference the big standing ones
    * untouched — O(small generations) maintenance with snapshot
    * isolation.
    */
  def maybeCompactSubstringIndexBucketedVersioned(spark: SparkSession,
      table: String, maxGens: Int): Boolean =
    Versioned.compactTiered(spark, table, SubstringFamily, maxGens)

  // ------------------------------------------------ edit-dist index
  /** Persist the PassJoin corpus for incremental edit-distance
    * screening ([[graft.ext.Dedup.editDistanceAgainst]]): three
    * bucketed tables, each on its own serve join's key — `_segs`
    * (id, len, h) on `h`, `_str` (id, s) on `id`, `_bylen` (len, id)
    * on `len`. All three are pure per-string functions, so
    * append(build(base), delta) ≡ build(base ∪ delta) row-for-row and
    * the generic LSM append/compaction paths apply. `_meta` pins `d`:
    * segments cut for a different threshold never hash-collide with
    * the probes and silently report nothing — fail loudly instead.
    */
  def writeEditIndexBucketed(corpus: DataFrame, table: String,
      numBuckets: Int, d: Int, idCol: String = "id",
      strCol: String = "s"): Unit =
    build(Plain, EditFamily, d, editInput(corpus, idCol, strCol), table,
      numBuckets)

  /** Admit a checked batch into the standing edit index (all three
    * tables; only the delta shuffles).
    */
  def appendEditIndexBucketed(delta: DataFrame, table: String, d: Int,
      idCol: String = "id", strCol: String = "s"): Unit =
    admit(Plain, EditFamily, d, editInput(delta, idCol, strCol), table)
      : Unit

  /** Re-read the edit index: (segs, str, bylen); serve-time `d` must
    * match the build-time record.
    */
  def readEditIndexBucketed(spark: SparkSession, table: String, d: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val m = serve(EditFamily, d, spark, table)(Plain.read(spark, _))
    (m(0), m(1), m(2))
  }

  /** Compact all three standing edit-index tables back to one file
    * per non-empty bucket — same contract as
    * [[compactDedupIndexBucketed]] (content, layout, `_meta`
    * untouched; the serve plan is the same join over the same rows,
    * so x_dedup_editdist_compact shares the append row's oracle
    * verbatim).
    */
  def compactEditIndexBucketed(spark: SparkSession,
      table: String): Unit =
    Plain.compact(spark, table, EditFamily)

  /** The PassJoin edit index on [[BucketedManifest]] gen-manifest
    * tables: ONE family with THREE members, so every admit advances
    * all three in ONE atomic manifest commit — per-table appends could
    * crash with the segment table a batch ahead of the string table (a
    * candidate whose verify fetch finds no string); here that split
    * cannot exist. `_meta` pins d as on the plain store. Serve content
    * matches the plain store: x_dedup_editdist_versioned and
    * x_stream_editdist_versioned share x_dedup_editdist_append's
    * oracle verbatim.
    */
  def writeEditIndexBucketedVersioned(corpus: DataFrame, table: String,
      numBuckets: Int, d: Int, idCol: String = "id",
      strCol: String = "s"): Unit =
    build(Versioned, EditFamily, d, editInput(corpus, idCol, strCol),
      table, numBuckets)

  /** Admit a checked batch as a NEW VERSION — all three members in
    * one atomic manifest commit (returned; it IS the freeze point).
    */
  def appendEditIndexBucketedVersioned(delta: DataFrame, table: String,
      d: Int, idCol: String = "id", strCol: String = "s"): Int =
    admit(Versioned, EditFamily, d, editInput(delta, idCol, strCol), table)

  def readEditIndexBucketedVersioned(spark: SparkSession, table: String,
      d: Int): (DataFrame, DataFrame, DataFrame) = {
    val m = serve(EditFamily, d, spark, table)(
      Versioned.read(spark, table, _))
    (m(0), m(1), m(2))
  }

  /** Full compaction as version publication — one merged generation
    * per member, all three published in ONE manifest commit.
    */
  def compactEditIndexBucketedVersioned(spark: SparkSession,
      table: String): Unit =
    Versioned.compact(spark, table, EditFamily)

  /** Tombstone DELETION for the edit-distance index: all three tables
    * are pure per-string frames keyed by id, so one id-list tombstone
    * covers segments, strings, and the length directory alike. Serving
    * excludes dead corpus ids on the OUTPUT pairs;
    * [[purgeEditIndexBucketed]] rewrites all three tables without dead
    * rows and clears the tombstones.
    */
  def deleteFromEditIndexBucketed(ids: DataFrame, table: String): Unit =
    appendDeadIds(ids, table)

  /** The edit index's standing tombstone set. */
  def readEditDeadIds(spark: SparkSession, table: String): DataFrame =
    readDeadIds(spark, table, table + EditFamily.idFrom)

  /** Physically remove tombstoned strings from all three edit-index
    * tables (compaction rewrites with an anti-join merge) and clear
    * the tombstone table; serve answer invariant (BucketingSpec).
    */
  def purgeEditIndexBucketed(spark: SparkSession, table: String): Unit =
    Plain.purge(spark, table, EditFamily)

  // ----------------------------------------------------- pHash index
  /** Persist the banded perceptual-hash frame
    * ([[graft.ext.Multimodal.phashBands]]) as a bucketed table on
    * (band, key) — exactly the serve join's key, so checking an image
    * ingest batch against the standing corpus
    * ([[graft.ext.Multimodal.phashNearDuplicatesAgainst]]) reads the
    * corpus side in place; only the batch is decoded, hashed, banded,
    * and shuffled. `_meta` pins the band count: hashes banded
    * differently never collide and silently report no near-dups —
    * fail loudly instead.
    */
  def writePhashIndexBucketed(hashes: DataFrame, table: String,
      numBuckets: Int, bands: Int = 8): Unit =
    build(Plain, PhashFamily, bands, hashes, table, numBuckets)

  def readPhashIndexBucketed(spark: SparkSession, table: String,
      bands: Int = 8): DataFrame =
    serve(PhashFamily, bands, spark, table)(Plain.read(spark, _)).head

  /** Admit a checked image batch's `(id, dhash)` rows into the
    * standing pHash index: only the delta is banded and shuffled into
    * the table's bucket layout; standing files untouched. Band count
    * validated against the build-time `_meta` record first. Bands are
    * a pure per-image function, so append(build(base), delta) ≡
    * build(base ∪ delta) row-for-row — x_mm_phash_append proves it by
    * sharing the full-corpus serve oracle.
    */
  def appendPhashIndexBucketed(deltaHashes: DataFrame, table: String,
      bands: Int = 8): Unit =
    admit(Plain, PhashFamily, bands, deltaHashes, table): Unit

  /** Compact the standing pHash band table — same contract as
    * [[compactDedupIndexBucketed]].
    */
  def compactPhashIndexBucketed(spark: SparkSession,
      table: String): Unit =
    Plain.compact(spark, table, PhashFamily)

  /** The pHash band index on [[BucketedManifest]] gen-manifest tables:
    * one member on (band, key); `_meta` pins the band count. Serve
    * content matches the plain store: x_mm_phash_versioned and
    * x_stream_phash_versioned share x_mm_phash_served's oracle
    * verbatim.
    */
  def writePhashIndexBucketedVersioned(hashes: DataFrame, table: String,
      numBuckets: Int, bands: Int = 8): Unit =
    build(Versioned, PhashFamily, bands, hashes, table, numBuckets)

  def readPhashIndexBucketedVersioned(spark: SparkSession,
      table: String, bands: Int = 8): DataFrame =
    serve(PhashFamily, bands, spark, table)(
      Versioned.read(spark, table, _)).head

  /** Admit a checked image batch as a NEW VERSION (returned; it IS
    * the freeze point).
    */
  def appendPhashIndexBucketedVersioned(deltaHashes: DataFrame,
      table: String, bands: Int = 8): Int =
    admit(Versioned, PhashFamily, bands, deltaHashes, table)

  def compactPhashIndexBucketedVersioned(spark: SparkSession,
      table: String): Unit =
    Versioned.compact(spark, table, PhashFamily)

  /** Tombstone DELETION for the pHash index: the banded hash frame is
    * a pure per-image function, so deletes are id-keyed like the other
    * per-document families. Serving excludes dead corpus ids on the
    * OUTPUT pairs; [[purgePhashIndexBucketed]] rewrites the band table
    * without dead rows and clears the tombstones.
    */
  def deleteFromPhashIndexBucketed(ids: DataFrame, table: String): Unit =
    appendDeadIds(ids, table)

  /** The pHash index's standing tombstone set. */
  def readPhashDeadIds(spark: SparkSession, table: String): DataFrame =
    readDeadIds(spark, table, table + PhashFamily.idFrom)

  /** Physically remove tombstoned images' band rows (compaction
    * rewrite with an anti-join merge) and clear the tombstone table;
    * serve answer invariant (BucketingSpec).
    */
  def purgePhashIndexBucketed(spark: SparkSession, table: String): Unit =
    Plain.purge(spark, table, PhashFamily)

  // ------------------------------------------------------- key index
  /** The key-uniqueness / foreign-key twin of the dedup index arc —
    * the validation-core operator a growing 100 TB table actually
    * needs: re-running `unique`/`primaryKey` over the FULL history per
    * ingest batch re-scans and re-shuffles everything ever ingested,
    * when the only question is "does the BATCH collide with what the
    * history already holds". The key index persists one
    * `(key…, n)` count row per distinct historical key tuple, bucketed
    * on the key columns — exactly the serve join's key, so checking a
    * batch reads the history side in place (BucketingSpec) and only
    * the batch shuffles.
    *
    * LSM semantics, deliberately: [[appendKeyIndexBucketed]] appends
    * the DELTA's per-key counts as new rows (never rewrites standing
    * files), so one key's total may be split across several physical
    * rows; every serve path merges with `sum(n) GROUP BY key` — a
    * groupBy on the bucket columns, i.e. exchange-free — which makes
    * correctness invariant under append granularity.
    * [[compactKeyIndexBucketed]] is therefore a true LSM merge, not
    * just a file rewrite: it re-aggregates split rows while
    * compacting, and the serve answer cannot change because the serve
    * already sums.
    */
  def writeKeyIndexBucketed(df: DataFrame, table: String,
      keys: Seq[String], numBuckets: Int): Unit =
    build(Plain, KeyFamily, keys, df, table, numBuckets)

  /** Admit a checked batch's keys into the standing index: only the
    * delta aggregates and shuffles into the table's bucket layout;
    * standing files are untouched. Key columns are validated against
    * the build-time `_meta` record first.
    */
  def appendKeyIndexBucketed(delta: DataFrame, table: String,
      keys: Seq[String]): Unit =
    admit(Plain, KeyFamily, keys, delta, table): Unit

  /** Re-read the standing key index (bucket metadata from the
    * catalog). Rows are RAW LSM rows — consumers must merge per key
    * ([[graft.check.Checks.uniqueAgainstIndex]] does; FK serving
    * doesn't need to, an anti join ignores right-side multiplicity).
    */
  def readKeyIndexBucketed(spark: SparkSession, table: String,
      keys: Seq[String]): DataFrame =
    serve(KeyFamily, keys, spark, table)(Plain.read(spark, _)).head

  /** DELETE keys from the standing index WITHOUT touching history
    * files — LSM tombstones: the deleted rows' per-key counts are
    * appended NEGATED, and because every serve path aggregates with
    * `sum(n)` per key, a fully-deleted key contributes exactly zero
    * from the moment the tombstone lands. This is the
    * right-to-be-forgotten shape at 100 TB: no rewrite of years of
    * standing files, one batch-sized append; the next
    * [[compactKeyIndexBucketed]] collapses tombstones physically
    * (zero-total rows are dropped by the merge). Contract: delete
    * rows that were actually ingested — over-deleting drives a key's
    * total negative, which no serve interprets.
    */
  def deleteFromKeyIndexBucketed(deleted: DataFrame, table: String,
      keys: Seq[String]): Unit =
    deleteKeys(Plain, deleted, table, keys)

  /** True LSM merge-compaction: re-aggregate rows a key accumulated
    * across appends AND rewrite to one file per non-empty bucket,
    * DROPPING keys whose total reached zero (collapsed tombstones —
    * a fully-deleted key physically disappears here). The merge is a
    * groupBy on the bucket columns (exchange-free) and the serve
    * paths already sum per key, so the served answer is invariant —
    * asserted in BucketingSpec alongside the file-count drop.
    */
  def compactKeyIndexBucketed(spark: SparkSession, table: String): Unit =
    Plain.compact(spark, table, KeyFamily)

  // ------------------------- key index, versioned (round-14 #2 cont.)
  /** The key index on [[BucketedManifest]] gen-manifests — the LSM
    * family: split rows, NEGATED-COUNT tombstones, and a
    * merge-compaction that re-aggregates INTO the merged generation
    * (the store's `merges` hook carries the full LSM algebra, not just
    * file layout). Every append — admissions AND tombstones alike — is
    * an atomic versioned commit, so the key history is time-travelable
    * per batch with no freeze step.
    */
  def writeKeyIndexBucketedVersioned(df: DataFrame, table: String,
      keys: Seq[String], numBuckets: Int): Unit =
    build(Versioned, KeyFamily, keys, df, table, numBuckets)

  /** Admit a delta's count rows as a new version (returns it). */
  def appendKeyIndexBucketedVersioned(delta: DataFrame, table: String,
      keys: Seq[String]): Int =
    admit(Versioned, KeyFamily, keys, delta, table)

  /** RAW LSM rows of the current version — consumers merge per key,
    * like [[readKeyIndexBucketed]].
    */
  def readKeyIndexBucketedVersioned(spark: SparkSession, table: String,
      keys: Seq[String]): DataFrame =
    serve(KeyFamily, keys, spark, table)(
      Versioned.read(spark, table, _)).head

  /** RAW LSM rows as of version `v` — the key history at that commit. */
  def readKeyIndexBucketedVersionedAsOf(spark: SparkSession,
      table: String, keys: Seq[String], v: Int): DataFrame =
    serve(KeyFamily, keys, spark, table)(
      Versioned.readAsOf(spark, table, _, v)).head

  /** Negated-count tombstones, committed as their own version
    * ([[deleteFromKeyIndexBucketed]]'s contract — deletion is part of
    * the auditable history too).
    */
  def deleteFromKeyIndexBucketedVersioned(deleted: DataFrame,
      table: String, keys: Seq[String]): Unit =
    deleteKeys(Versioned, deleted, table, keys)

  /** The LSM merge-compaction as version publication: split rows
    * re-aggregate, zero-total keys (collapsed tombstones) drop, and
    * the result lands as ONE merged generation — readers of older
    * versions keep their generations until vacuum.
    */
  def compactKeyIndexBucketedVersioned(spark: SparkSession,
      table: String): Unit =
    Versioned.compact(spark, table, KeyFamily)

  /** Size-tiered cadence for the versioned key index: the smallest
    * generations MERGE (with the LSM re-aggregation — split rows
    * collapse, zero-totals drop within the merged part), big standing
    * generations are referenced untouched. Serve-invariant: consumers
    * sum per key, and re-aggregating a subset of generations never
    * changes a key's total.
    */
  def maybeCompactKeyIndexBucketedVersioned(spark: SparkSession,
      table: String, maxGens: Int): Boolean =
    Versioned.compactTiered(spark, table, KeyFamily, maxGens)


  // ----------------------------------------- flat similarity artifacts
  /** The write-once model leaves of a flat family under `dir`: written
    * by the build from the caller's model, read back by every append —
    * serving must probe and score with the model the index was built
    * with, so admission never re-fits it or takes a caller frame.
    * Deleting vectors never removes a model row either (a refit is a
    * rebuild decision, like any trained model).
    */
  private[graft] final case class Model[M](
      write: (SparkSession, M, String) => Unit,
      read: (SparkSession, String) => M)

  private val Centroids = Model[DataFrame](
    (_, c, dir) => c.write.mode("overwrite").parquet(s"$dir/centroids.parquet"),
    (spark, dir) => spark.read.parquet(s"$dir/centroids.parquet"))

  /** `codebooks.parquet` (j int, code int, cvec array<double>, bias
    * double): m·ks rows, the whole PQ model.
    */
  private val Codebooks = Model[Similarity.PqModel](
    (spark, model, dir) => {
      import spark.implicits._
      (for (j <- 0 until model.m; c <- 0 until model.ks)
        yield (j, c, model.codebooks(j)(c).toSeq, model.biases(j)(c)))
        .toDF("j", "code", "cvec", "bias").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/codebooks.parquet")
    }, readPqModel)

  /** A flat similarity family: one row per corpus vector, keyed by
    * `id`. `plain(dir)` is where the plain store keeps the rows (a
    * parquet leaf) and `versioned(dir)` where the versioned store keeps
    * them (`dir` itself when the family has no model leaves to sit
    * beside). `encode` maps `(vectors, model, idCol, vecCol)` to the
    * stored rows, a pure per-vector function of the static model, so
    * append(build(base), delta) ≡ build(base ∪ delta) row-for-row;
    * `decode` maps stored rows to the serving frame. The raw stored
    * rows type the empty tombstone set and are what purges and
    * compactions rewrite, so a packed schema survives them byte-exact.
    * `name` spells the public build method, `write<name>Index`.
    */
  private[graft] final case class Flat[M](name: String,
      plain: String => String, versioned: String => String, model: Model[M],
      encode: (DataFrame, M, String, String) => DataFrame,
      decode: DataFrame => DataFrame = identity[DataFrame] _)

  private[graft] val Ivf = Flat[DataFrame]("Ivf", _ + "/ivf.parquet",
    _ + "/enc", Centroids, Similarity.ivfIndexWith(_, _, _, _))

  /** Quantized values are exact integers in [-127, 127], so the tinyint
    * pack on write and the double cast on read both round-trip exactly.
    */
  private[graft] val Int8 = Flat[Unit]("Int8", _ + "/int8.parquet", identity,
    Model((_, _, _) => (), (_, _) => ()), (df, _, idCol, vecCol) =>
      retype(Similarity.int8Index(df, idCol, vecCol), "tinyint"),
    retype(_, "double"))

  private def retype(df: DataFrame, q: String): DataFrame =
    df.select(col("id"), transform(col("q"), _.cast(q)).as("q"), col("scale"))

  private[graft] val Pq = Flat[Similarity.PqModel]("Pq", _ + "/codes.parquet",
    _ + "/codes", Codebooks, (df, model, idCol, vecCol) =>
      Similarity.pqEncode(df, model, idCol, vecCol).select("id", "codes"))

  private[graft] val IvfPq = Flat[(Similarity.PqModel, DataFrame)]("IvfPq",
    _ + "/ivfpq.parquet", _ + "/enc", Model(
      { case (s, (model, c), dir) =>
        Centroids.write(s, c, dir); Codebooks.write(s, model, dir) },
      (s, dir) => (Codebooks.read(s, dir), Centroids.read(s, dir))),
    { case (df, (model, c), idCol, vecCol) =>
      Similarity.ivfPqIndex(df, model, c, idCol, vecCol) })

  /** One of the two places a flat family's stored rows can live, given
    * as where the rows of family `f` sit under `dir` (`at`) and four
    * primitives over that path. Both stores keep tombstones in
    * `dir/dead.parquet` and anti-join them BEFORE ranking: a dropped
    * neighbor is replaced by the next-best, so exclusion cannot wait
    * for the output.
    */
  private abstract class FlatStore(suffix: String,
      at: Flat[_] => String => String, built: String => Boolean,
      create: (DataFrame, String) => Unit, append: (DataFrame, String) => Unit,
      raw: (SparkSession, String) => DataFrame) {
    def build[M](f: Flat[M], corpus: DataFrame, model: M, dir: String,
        idCol: String, vecCol: String): Unit = {
      Scratch.sweepOnce(corpus.sparkSession) // age out dead-pid scratch
      // a build replaces the whole corpus: the replaced one's tombstones go
      Scratch.deleteRecursively(new java.io.File(s"$dir/dead.parquet"))
      f.model.write(corpus.sparkSession, model, dir)
      create(f.encode(corpus, model, idCol, vecCol), at(f)(dir))
    }

    /** Encode `delta` against the artifact's own model and append it.
      * An unbuilt store fails before anything is read or written: an
      * append into it would silently create a partial corpus.
      */
    def admit[M](f: Flat[M], delta: DataFrame, dir: String,
        idCol: String, vecCol: String): Unit = {
      require(built(at(f)(dir)), s"no ${f.name} artifact at $dir — " +
        s"build with write${f.name}Index$suffix first")
      append(f.encode(delta, f.model.read(delta.sparkSession, dir), idCol,
        vecCol), at(f)(dir))
    }

    def read(spark: SparkSession, f: Flat[_], dir: String): DataFrame =
      f.decode(raw(spark, at(f)(dir)))

    /** The tombstones, or an empty set typed by the stored rows. */
    def dead(spark: SparkSession, f: Flat[_], dir: String): DataFrame =
      if (new java.io.File(s"$dir/dead.parquet").exists())
        spark.read.parquet(s"$dir/dead.parquet")
      else raw(spark, at(f)(dir)).select(col("id")).limit(0)

    def live(spark: SparkSession, f: Flat[_], dir: String): DataFrame =
      read(spark, f, dir).join(dead(spark, f, dir), Seq("id"), "left_anti")
  }

  /** The plain store: the rows are the leaf `plain(dir)`, appends land
    * as files beside the standing ones, and purge and compaction rewrite
    * it in place.
    */
  private object FlatPlain extends FlatStore("", _.plain,
      p => new java.io.File(p).exists(),
      (rows, p) => rows.write.mode("overwrite").parquet(p),
      (rows, p) => rows.write.mode("append").parquet(p),
      (spark, p) => spark.read.parquet(p)) {
    /** Rewrite the leaf minus the tombstoned ids, then clear them. A
      * purge keeps the write's natural partitioning (`targetFiles` 0);
      * a compaction coalesces the one-file-per-batch appends and folds
      * pending tombstones in (the bucketed compacts' purge-on-compact
      * discipline). The original is renamed aside first, so it survives
      * under SOME name at every crash point (the
      * [[Bucketing.compactBucketed]] discipline). Local File ops, the
      * harness shape; an object-store deployment swaps in its
      * FileSystem.
      */
    def rewrite(spark: SparkSession, f: Flat[_], dir: String,
        targetFiles: Int = 0): Unit = {
      val cur = new java.io.File(f.plain(dir))
      val tmp = new java.io.File(s"${cur}__purge")
      val old = new java.io.File(s"${cur}__old")
      val live = spark.read.parquet(cur.getPath)
        .join(dead(spark, f, dir), Seq("id"), "left_anti")
      (if (targetFiles > 0) live.coalesce(targetFiles) else live)
        .write.mode("overwrite").parquet(tmp.getPath)
      Scratch.deleteRecursively(old)
      java.nio.file.Files.move(cur.toPath, old.toPath)
      java.nio.file.Files.move(tmp.toPath, cur.toPath)
      Scratch.deleteRecursively(old)
      Scratch.deleteRecursively(new java.io.File(s"$dir/dead.parquet"))
    }
  }

  /** The versioned store: the rows are a [[VersionedFlat]] manifest
    * chain at `versioned(dir)`, so appends and compactions publish new
    * versions instead of mutating what a concurrent reader holds, and
    * every version stays readable until vacuumed. The model leaves are
    * written once and never rewritten, so they stay plain. Tombstones
    * mask serving at once, but the bytes persist in older versions
    * until a purge publishes the excluded frame AND
    * [[VersionedFlat.vacuum]] drops the versions that still hold them:
    * physical erasure is purge + vacuum, by construction of time travel.
    */
  private object FlatVersioned extends FlatStore("Versioned",
      _.versioned, VersionedFlat.currentVersion(_) > 0,
      VersionedFlat.write(_, _), VersionedFlat.append(_, _),
      VersionedFlat.read(_, _)) {
    /** Version `asOf` decoded; 0 = current. */
    def readAsOf(spark: SparkSession, f: Flat[_], dir: String,
        asOf: Int): DataFrame =
      if (asOf > 0)
        f.decode(VersionedFlat.readVersion(spark, f.versioned(dir), asOf))
      else read(spark, f, dir)

    /** The merged batch is PUBLISHED as a new version. By default this
      * is LAYOUT-ONLY — tombstones keep masking and the dead bytes stay
      * until a purge — because in a store whose versions are immutable
      * snapshots, silently erasing rows during a compact would
      * contradict what time travel promises. That deliberately DIVERGES
      * from the plain store's compact, which folds and clears pending
      * tombstones, so the divergence is a call-site-visible flag:
      * `purgeTombstones = true` opts into fold-and-clear.
      */
    def compact(spark: SparkSession, f: Flat[_], dir: String,
        targetFiles: Int, purgeTombstones: Boolean): Unit =
      if (purgeTombstones) purge(spark, f, dir, targetFiles)
      else VersionedFlat.compact(spark, f.versioned(dir), targetFiles)

    /** Publish the rows minus the tombstoned ids as the next version,
      * then clear the tombstones — publish STRICTLY BEFORE the clear,
      * so a crash between the two leaves pending tombstones whose
      * anti-join over the already-purged rows is a harmless no-op. The
      * base version is captured FIRST and passed to
      * [[VersionedFlat.replace]] as `basedOn`: an append that commits
      * between the capture and the CAS raises
      * ConcurrentModificationException instead of being silently erased
      * by a purge built from a now-stale snapshot.
      */
    def purge(spark: SparkSession, f: Flat[_], dir: String,
        targetFiles: Int): Unit = {
      val (gone, at) = (dead(spark, f, dir), f.versioned(dir))
      val v = VersionedFlat.currentVersion(at)
      VersionedFlat.replace(VersionedFlat.readVersion(spark, at, v)
        .join(gone, Seq("id"), "left_anti"), at, targetFiles, basedOn = v)
      Scratch.deleteRecursively(new java.io.File(s"$dir/dead.parquet"))
    }

    /** Revert to version `v` by reference ([[VersionedFlat.rollback]]);
      * the reverted-from versions stay time-travelable and the model
      * leaves are untouched. Returns the committed version.
      */
    def rollback(f: Flat[_], dir: String, v: Int): Int =
      VersionedFlat.rollback(f.versioned(dir), v)
  }

  /** The flat artifacts' one tombstone writer: deleted ids append to
    * `dir/dead.parquet`, the standing artifact untouched.
    */
  private def appendDeadFile(ids: DataFrame, dir: String): Unit =
    ids.select(col("id")).write.mode("append").parquet(s"$dir/dead.parquet")

  // ------------------------------------------------------- IVF, plain
  /** Build the IVF index (`ivf.parquet`: id long, nvec array<double>,
    * list_id long) under an explicit centroid frame
    * ([[Similarity.firstIdCentroids]] for the deterministic plumbing
    * path, [[Similarity.kmeansCentroids]] for the quality path); the
    * artifact records whichever was used.
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatPlain.build(Ivf, corpus, centroids, dir, idCol, vecCol)

  /** (index, centroids). */
  def readIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (FlatPlain.read(spark, Ivf, dir), Centroids.read(spark, dir))

  /** Admit a vector batch, assigned against the artifact's own
    * centroids; x_sim_ivf_append shares x_sim_ivf_topk's full-corpus
    * oracle verbatim.
    */
  def appendIvfIndex(delta: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatPlain.admit(Ivf, delta, dir, idCol, vecCol)

  /** Tombstone deletion: dead ids append to `dead.parquet`;
    * [[readIvfIndexLive]] excludes them before ranking and
    * [[purgeIvfIndex]] removes them physically.
    */
  def deleteFromIvfIndex(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readIvfDeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.dead(spark, Ivf, dir)

  /** (index minus tombstoned ids, centroids): the frame serving must
    * rank over while tombstones are pending.
    */
  def readIvfIndexLive(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (FlatPlain.live(spark, Ivf, dir), Centroids.read(spark, dir))

  /** IvfDeleteSpec: live serve ≡ rebuild-without-deleted ≡ post-purge
    * serve.
    */
  def purgeIvfIndex(spark: SparkSession, dir: String): Unit =
    FlatPlain.rewrite(spark, Ivf, dir)

  /** Rewrite the live rows into `targetFiles` files, folding and
    * clearing pending tombstones; x_sim_ivf_compact shares
    * x_sim_ivf_topk's oracle verbatim.
    */
  def compactIvfIndex(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatPlain.rewrite(spark, Ivf, dir, targetFiles)

  // --------------------------------------------------- IVF, versioned
  /** Serving any version equals building from that version's corpus:
    * x_sim_ivf_versioned shares x_sim_ivf_topk's oracle through a
    * write/append/compact cycle, and x_sim_ivf_time_travel pins
    * version 1's serve to an evens-only recompute.
    */
  def writeIvfIndexVersioned(corpus: DataFrame, centroids: DataFrame,
      dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatVersioned.build(Ivf, corpus, centroids, dir, idCol, vecCol)

  def appendIvfIndexVersioned(delta: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatVersioned.admit(Ivf, delta, dir, idCol, vecCol)

  /** Layout-only unless `purgeTombstones`. */
  def compactIvfIndexVersioned(spark: SparkSession, dir: String,
      targetFiles: Int = 1, purgeTombstones: Boolean = false): Unit =
    FlatVersioned.compact(spark, Ivf, dir, targetFiles, purgeTombstones)

  /** (enc of version `asOf` — 0 = current, centroids). */
  def readIvfIndexVersioned(spark: SparkSession, dir: String,
      asOf: Int = 0): (DataFrame, DataFrame) =
    (FlatVersioned.readAsOf(spark, Ivf, dir, asOf), Centroids.read(spark, dir))

  /** Revert a poisoned admission: serving the current version then
    * equals serving version `v` (x_sim_ivf_rollback).
    */
  def rollbackIvfIndexVersioned(spark: SparkSession, dir: String, v: Int): Int =
    FlatVersioned.rollback(Ivf, dir, v)

  def deleteFromIvfIndexVersioned(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readIvfVersionedDeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatVersioned.dead(spark, Ivf, dir)

  /** (current enc minus tombstoned ids, centroids). */
  def readIvfIndexVersionedLive(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (FlatVersioned.live(spark, Ivf, dir), Centroids.read(spark, dir))

  def purgeIvfIndexVersioned(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatVersioned.purge(spark, Ivf, dir, targetFiles)

  // -------------------------------------------------- int8, versioned
  /** Batches land packed and [[VersionedFlat.compact]]'s raw rewrite
    * keeps the tinyint schema; x_sim_quantized_versioned shares
    * x_sim_quantized's oracle through a write/append/compact cycle.
    */
  def writeInt8IndexVersioned(corpus: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatVersioned.build(Int8, corpus, (), dir, idCol, vecCol)

  def appendInt8IndexVersioned(delta: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatVersioned.admit(Int8, delta, dir, idCol, vecCol)

  /** Version `asOf` (0 = current) decoded for serving. */
  def readInt8IndexVersioned(spark: SparkSession, dir: String,
      asOf: Int = 0): DataFrame =
    FlatVersioned.readAsOf(spark, Int8, dir, asOf)

  // ------------------------------------------------------ int8, plain
  /** Persist the int8-quantized corpus as `int8.parquet` (id long,
    * q array<tinyint> in [-127, 127], scale double), 4× smaller than
    * float32 (Int8PackSpec measures the on-disk ratio);
    * x_sim_quantized_served shares x_sim_quantized's oracle verbatim.
    */
  def writeInt8Index(corpus: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatPlain.build(Int8, corpus, (), dir, idCol, vecCol)

  /** Per-vector quantization has no fitted state (each row's scale is
    * its own max-abs), so the delta is only quantized and packed.
    */
  def appendInt8Index(delta: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatPlain.admit(Int8, delta, dir, idCol, vecCol)

  /** (id, q array<double>, scale): the exact frame
    * [[graft.ext.Similarity.quantizedTopKFromIndex]] consumes.
    */
  def readInt8Index(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.read(spark, Int8, dir)

  def deleteFromInt8Index(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readInt8DeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.dead(spark, Int8, dir)

  /** The int8 corpus minus tombstoned ids, decoded for serving. */
  def readInt8IndexLive(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.live(spark, Int8, dir)

  def purgeInt8Index(spark: SparkSession, dir: String): Unit =
    FlatPlain.rewrite(spark, Int8, dir)

  def compactInt8Index(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatPlain.rewrite(spark, Int8, dir, targetFiles)

  // -------------------------------------------------------- PQ, plain
  /** Persist a PQ index: `codebooks.parquet` (the model) and
    * `codes.parquet` (id long, codes array<int>: m small codes per
    * corpus vector, the state that stays in executor memory when float
    * vectors cannot).
    */
  def writePqIndex(corpus: DataFrame, model: Similarity.PqModel, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatPlain.build(Pq, corpus, model, dir, idCol, vecCol)

  /** Encode the delta against the artifact's own codebooks;
    * x_sim_pq_append shares x_sim_pq's fitted-literal oracle verbatim.
    */
  def appendPqIndex(delta: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatPlain.admit(Pq, delta, dir, idCol, vecCol)

  def deleteFromPqIndex(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readPqDeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.dead(spark, Pq, dir)

  /** The PQ corpus codes minus tombstoned ids. */
  def readPqCodesLive(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.live(spark, Pq, dir)

  def purgePqIndex(spark: SparkSession, dir: String): Unit =
    FlatPlain.rewrite(spark, Pq, dir)

  def compactPqIndex(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatPlain.rewrite(spark, Pq, dir, targetFiles)

  // ---------------------------------------------------- PQ, versioned
  /** x_sim_pq_versioned shares x_sim_pq's fitted-literal oracle through
    * a write/append/compact cycle.
    */
  def writePqIndexVersioned(corpus: DataFrame, model: Similarity.PqModel,
      dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatVersioned.build(Pq, corpus, model, dir, idCol, vecCol)

  def appendPqIndexVersioned(delta: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatVersioned.admit(Pq, delta, dir, idCol, vecCol)

  /** Layout-only unless `purgeTombstones`. */
  def compactPqIndexVersioned(spark: SparkSession, dir: String,
      targetFiles: Int = 1, purgeTombstones: Boolean = false): Unit =
    FlatVersioned.compact(spark, Pq, dir, targetFiles, purgeTombstones)

  /** The code frame of version `asOf` (0 = current). */
  def readPqCodesVersioned(spark: SparkSession, dir: String,
      asOf: Int = 0): DataFrame =
    FlatVersioned.readAsOf(spark, Pq, dir, asOf)

  def deleteFromPqIndexVersioned(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readPqVersionedDeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatVersioned.dead(spark, Pq, dir)

  /** The current code frame minus tombstoned ids. */
  def readPqCodesVersionedLive(spark: SparkSession, dir: String): DataFrame =
    FlatVersioned.live(spark, Pq, dir)

  def purgePqIndexVersioned(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatVersioned.purge(spark, Pq, dir, targetFiles)

  // ---------------------------------------------------- IVF-PQ, plain
  /** Persist the composed IVF-PQ index: `centroids.parquet` (probe
    * routing), `codebooks.parquet` (the model) and `ivfpq.parquet` (id,
    * list_id, codes). Serving never touches the float corpus again
    * ([[graft.ext.Similarity.ivfPqTopKFromIndex]]); x_sim_ivf_pq_served
    * shares x_sim_ivf_pq's oracle verbatim.
    */
  def writeIvfPqIndex(corpus: DataFrame, model: Similarity.PqModel,
      centroids: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatPlain.build(IvfPq, corpus, (model, centroids), dir, idCol, vecCol)

  /** (enc, centroids); the model comes from [[readPqModel]]. */
  def readIvfPqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (FlatPlain.read(spark, IvfPq, dir), Centroids.read(spark, dir))

  /** Assign AND encode the delta against both persisted model halves. */
  def appendIvfPqIndex(delta: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatPlain.admit(IvfPq, delta, dir, idCol, vecCol)

  def deleteFromIvfPqIndex(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readIvfPqDeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.dead(spark, IvfPq, dir)

  /** (enc minus tombstoned ids, centroids). */
  def readIvfPqIndexLive(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (FlatPlain.live(spark, IvfPq, dir), Centroids.read(spark, dir))

  def purgeIvfPqIndex(spark: SparkSession, dir: String): Unit =
    FlatPlain.rewrite(spark, IvfPq, dir)

  def compactIvfPqIndex(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatPlain.rewrite(spark, IvfPq, dir, targetFiles)

  // ------------------------------------------------ IVF-PQ, versioned
  /** x_sim_ivf_pq_versioned shares x_sim_ivf_pq's fitted-literal oracle
    * through a write/append/compact cycle.
    */
  def writeIvfPqIndexVersioned(corpus: DataFrame, model: Similarity.PqModel,
      centroids: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    FlatVersioned.build(IvfPq, corpus, (model, centroids), dir, idCol, vecCol)

  def appendIvfPqIndexVersioned(delta: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    FlatVersioned.admit(IvfPq, delta, dir, idCol, vecCol)

  /** Layout-only unless `purgeTombstones`. */
  def compactIvfPqIndexVersioned(spark: SparkSession, dir: String,
      targetFiles: Int = 1, purgeTombstones: Boolean = false): Unit =
    FlatVersioned.compact(spark, IvfPq, dir, targetFiles, purgeTombstones)

  /** (enc of version `asOf` — 0 = current, centroids). */
  def readIvfPqIndexVersioned(spark: SparkSession, dir: String,
      asOf: Int = 0): (DataFrame, DataFrame) =
    (FlatVersioned.readAsOf(spark, IvfPq, dir, asOf),
      Centroids.read(spark, dir))

  def deleteFromIvfPqIndexVersioned(ids: DataFrame, dir: String): Unit =
    appendDeadFile(ids, dir)

  def readIvfPqVersionedDeadIds(spark: SparkSession, dir: String): DataFrame =
    FlatVersioned.dead(spark, IvfPq, dir)

  /** (current enc minus tombstoned ids, centroids). */
  def readIvfPqIndexVersionedLive(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (FlatVersioned.live(spark, IvfPq, dir), Centroids.read(spark, dir))

  def purgeIvfPqIndexVersioned(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    FlatVersioned.purge(spark, IvfPq, dir, targetFiles)

  // ----------------------------------------------------------- PQ model
  /** Reconstruct the PqModel from the codebook artifact (bounded:
    * m·ks rows of ds doubles — driver-side by the same contract as
    * the fit that produced it).
    */
  def readPqModel(spark: SparkSession, dir: String): Similarity.PqModel = {
    val rows = spark.read.parquet(s"$dir/codebooks.parquet")
      .select("j", "code", "cvec", "bias").collect()
    require(rows.nonEmpty, s"empty PQ codebook artifact at $dir")
    val m = rows.iterator.map(_.getInt(0)).max + 1
    val ks = rows.iterator.map(_.getInt(1)).max + 1
    require(rows.length == m * ks, s"PQ codebook artifact at $dir has " +
      s"${rows.length} rows, expected $m×$ks")
    val codebooks = Array.ofDim[Array[Double]](m, ks)
    val biases = Array.ofDim[Double](m, ks)
    rows.foreach { r =>
      codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      biases(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
    }
    Similarity.PqModel(m, ks, codebooks(0)(0).length, codebooks, biases)
  }

  /** Re-read the PQ corpus codes: (id, codes). */
  def readPqCodes(spark: SparkSession, dir: String): DataFrame =
    FlatPlain.read(spark, Pq, dir)
}
