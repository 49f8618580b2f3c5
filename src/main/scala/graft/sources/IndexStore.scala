package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Similarity}

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
  * '''Families and handles.''' Each index family is one public object:
  * the bucketed [[Dedup]] (and its [[Pipeline]] extension),
  * [[Substring]], [[Edit]], [[Phash]] and [[Key]], and the flat [[Ivf]],
  * [[Int8]], [[Pq]] and [[IvfPq]]. Its `plain(…)` and `versioned(…)`
  * give a handle: the family bound to its build parameters (banding,
  * `k`, `d`, `keys`), one store and one location (a table, or a dir for
  * the flat families). A handle's methods are the lifecycle steps that
  * family × store cell has — build (`write`), append, delete, read /
  * live / as-of, snapshot, compact, tiered compact, purge, rollback,
  * add member — and nothing else, so a step a cell lacks is a compile
  * error. Every handle that reads and appends is also an [[Ingest]]
  * index, the one thing [[graft.streaming.StreamingValidate.ingestRun]]
  * needs.
  *
  * The stores: the plain bucketed store is one [[Bucketing]] catalog
  * table per member, rewritten in place by purge and compact; the
  * versioned one is the members of one [[BucketedManifest]] family. The
  * plain flat store is a parquet leaf under `dir` — `ivf.parquet`,
  * `int8.parquet`, `codes.parquet`, `ivfpq.parquet` — and the versioned
  * one a [[VersionedFlat]] manifest chain: `dir/enc` for IVF and IVF-PQ,
  * `dir/codes` for PQ, `dir` itself for int8. The flat stores keep
  * deleted ids in `dir/dead.parquet` until a purge; the plain bucketed
  * store keeps them in `<table>_dead`.
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
    * the empty tombstone frame of the id-tombstoned families; `batch`
    * maps an ingest run's micro-batch to the frame it admits.
    */
  private final case class Family[P](kind: String, why: String,
      meta: P => Seq[(String, Any)], members: Seq[Member[P]],
      shared: P => DataFrame => DataFrame = (_: P) => identity[DataFrame] _,
      idFrom: String = "",
      batch: DataFrame => DataFrame = identity[DataFrame] _)

  /** MinHash banding parameters: (numHashes, bands, k). */
  type Banding = (Int, Int, Int)

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
          graft.ext.Dedup.bandAssignmentsFromShingles(sh, numHashes, bands) })),
    shared = { case (_, _, k) => toks => toks.select(col("id"),
      graft.ext.Dedup.shingleHashesFromTokens(col("toks"), k).as("sh")) },
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
      (k, toks, _) =>
        graft.ext.Dedup.substringGrams(toks, "id", col("toks"), k))),
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
        (d, _, c) => graft.ext.Dedup.editSegmentFrame(c, d)),
      Member("_str", _ => Seq("id"),
        (_, _, c) => c.select(col("__id").as("id"), col("__s").as("s"))),
      Member("_bylen", _ => Seq("len"),
        (_, _, c) => c.select(col("__l").as("len"), col("__id").as("id")))),
    shared = _ => in => in.select(col("id").as("__id"), col("s").as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__l", length(col("__s"))),
    idFrom = "_str")

  /** Perceptual hashes `(id, dhash)` banded on (band, key) — exactly the
    * serve join's key. An ingest run's batches are raw `(id, blob)`
    * images, hashed before admission.
    */
  private val PhashFamily = Family[Int]("phash",
    "mismatched banding never collides and silently reports no " +
      "near-duplicates",
    bands => Seq("bands" -> bands),
    Seq(Member("_bands", _ => Seq("band", "key"),
      (bands, hashes, _) => Multimodal.phashBands(hashes, bands))),
    idFrom = "_bands",
    batch = b => Multimodal.perceptualHash(b).select(col("id"), col("dhash")))

  private def metaFrame(spark: SparkSession,
      meta: Seq[(String, Any)]): DataFrame =
    spark.range(1).select(meta.map { case (c, v) => lit(v).as(c) }: _*)

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

    def read(spark: SparkSession, table: String, member: String): DataFrame

    def compact(spark: SparkSession, table: String, f: Family[_]): Unit
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

    def read(spark: SparkSession, table: String, m: String): DataFrame =
      Bucketing.readBucketed(spark, m)

    def compact(spark: SparkSession, table: String, f: Family[_]): Unit =
      f.members.foreach(m => Bucketing.compactBucketed(spark,
        table + m.suffix, if (m.lsm) keyMerge else identity))
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

    def read(spark: SparkSession, table: String, m: String): DataFrame =
      BucketedManifest.read(spark, table, m)

    def compact(spark: SparkSession, table: String, f: Family[_]): Unit =
      BucketedManifest.compact(spark, table, merges(table, f))

    def merges(table: String, f: Family[_])
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
    metaFrame(spark, f.meta(p)).write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_meta")
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

  // -------------------------------------------------- bucketed handles
  /** What one check-then-admit ingest run needs of an index
    * ([[graft.streaming.StreamingValidate.ingestRun]]): the state a
    * micro-batch is checked against, the batch's admission, and the
    * catalog tables whose cached file listings each admission makes
    * stale (none for the flat families, whose reads re-list a path).
    */
  trait Ingest[R] {
    private[graft] def current(spark: SparkSession): R
    private[graft] def admit(spark: SparkSession, batch: DataFrame): Unit
    private[graft] def stale: Seq[String] = Seq.empty
  }

  /** A bucketed family bound to its build parameters, one store and the
    * table its members hang off (`<table>_<member>`, `<table>_meta`).
    * Every cell builds: `write` replaces the table's corpus, and its
    * tombstones, with `in`'s rows in `numBuckets` buckets per member.
    */
  sealed abstract class Bucketed[P] private[IndexStore] (
      private[IndexStore] val family: Family[P],
      private[IndexStore] val params: P, val table: String,
      private[IndexStore] val store: Store) {
    def write(in: DataFrame, numBuckets: Int): Unit =
      build(store, family, params, in, table, numBuckets)

    /** Check the build parameters, derive the delta's member rows, and
      * append them; the committed version (0 on the plain store).
      */
    private[IndexStore] def admitted(delta: DataFrame): Int =
      admit(store, family, params, delta, table)
  }

  /** A bucketed cell that serves: `read` checks the build parameters
    * against `_meta` and returns one frame per member as `R`, with
    * bucket metadata attached so the per-batch serve join reads the
    * corpus side exchange-free. `compact` rewrites every member to one
    * file per non-empty bucket (the LSM merge for key members); content,
    * layout and `_meta` are untouched, so the serve answer is invariant.
    */
  sealed abstract class Serving[P, R] private[IndexStore] (f: Family[P],
      p: P, t: String, s: Store, shape: Seq[DataFrame] => R)
      extends Bucketed[P](f, p, t, s) with Ingest[R] {
    def read(spark: SparkSession): R =
      served(spark)(store.read(spark, table, _))

    def compact(spark: SparkSession): Unit = store.compact(spark, table, family)

    private[IndexStore] def served(spark: SparkSession)(
        read: String => DataFrame): R =
      shape(serve(family, params, spark, table)(read))

    private[graft] def current(spark: SparkSession): R = read(spark)
    private[graft] def admit(spark: SparkSession, batch: DataFrame): Unit =
      admitted(family.batch(batch)): Unit
    override private[graft] def stale: Seq[String] =
      family.members.map(table + _.suffix)
  }

  /** A bucketed cell on the plain store. `append` admits a delta: only
    * the delta's rows are derived and shuffled into the tables' bucket
    * layout (a spec mismatch is rejected by Spark), standing files are
    * never rewritten, and every member's rows are a pure function of
    * one document, so append(build(base), delta) ≡ build(base ∪ delta)
    * row for row.
    */
  class PlainIndex[P, R] private[IndexStore] (f: Family[P], p: P,
      t: String, shape: Seq[DataFrame] => R)
      extends Serving[P, R](f, p, t, Plain, shape) {
    def append(delta: DataFrame): Unit = admitted(delta): Unit
  }

  /** A bucketed cell on the versioned store. `append` commits the
    * delta's rows of every member as ONE manifest link and returns the
    * committed version — the freeze point "the corpus after this batch";
    * standing generations are untouched, so captured reader frames stay
    * valid. `read` resolves the manifest at call time; `compact`
    * publishes merged generations the older versions keep referencing
    * until [[BucketedManifest.vacuum]].
    */
  class VersionedIndex[P, R] private[IndexStore] (f: Family[P], p: P,
      t: String, shape: Seq[DataFrame] => R)
      extends Serving[P, R](f, p, t, Versioned, shape) {
    def append(delta: DataFrame): Int = admitted(delta)
  }

  /** Id tombstones of the per-document families on the plain store:
    * `delete` appends ids to `<table>_dead`, standing files untouched.
    * Serving excludes dead corpus ids by anti-joining the OUTPUT pairs
    * (exact: a dead document can only surface through candidates).
    * `purge` rewrites every member without them (the compaction rewrite
    * with an anti-join merge) and drops the tombstone table; the serve
    * answer is invariant across it (BucketingSpec: excluded serve ≡
    * rebuild-without-deleted ≡ post-purge serve).
    */
  trait Tombstones { this: PlainIndex[_, _] =>
    def delete(ids: DataFrame): Unit =
      ids.select(col("id")).write.mode("append").format("parquet")
        .saveAsTable(s"${table}_dead")

    /** The standing tombstone set — empty frame if none were deleted;
      * the empty fallback's id TYPE comes from the family's own id
      * member, never a hardcoded type (a mismatched empty frame would
      * silently type-coerce the purge anti-join and the serve-side
      * exclusion: string-vs-long casts can null out and un-exclude).
      */
    def deadIds(spark: SparkSession): DataFrame =
      if (spark.catalog.tableExists(s"${table}_dead"))
        spark.table(s"${table}_dead")
      else spark.table(table + family.idFrom).select(col("id")).limit(0)

    def purge(spark: SparkSession): Unit = {
      val dead = deadIds(spark)
      family.members.foreach(m => Bucketing.compactBucketed(spark,
        table + m.suffix, _.join(dead, Seq("id"), "left_anti")))
      spark.sql(s"DROP TABLE IF EXISTS `${table}_dead`"): Unit
    }
  }

  /** Key deletion as LSM tombstones: the deleted rows' per-key counts
    * are appended NEGATED, so a fully-deleted key sums to zero from the
    * moment the tombstone lands (one batch-sized append, no rewrite of
    * history); the next compaction drops it physically. On the versioned
    * store the tombstones are a commit of their own. Delete rows that
    * were actually ingested: over-deleting drives a total negative,
    * which no serve interprets.
    */
  trait KeyDeletes { this: Serving[Seq[String], _] =>
    def delete(deleted: DataFrame): Unit = {
      val spark = deleted.sparkSession
      checkMeta(spark.table(s"${table}_meta"), table, KeyFamily, params)
      store.append(spark, table, Seq((s"${table}_keys",
        keyCounts(deleted, params).withColumn("n", -col("n")), params))): Unit
    }
  }

  /** Size-tiered compaction on the plain store: only buckets holding
    * at least `minFilesPerBucket` files are rewritten
    * ([[Bucketing.compactBucketedTiered]]).
    */
  trait TieredPlain { this: PlainIndex[_, _] =>
    def compactTiered(spark: SparkSession, minFilesPerBucket: Int): Unit =
      family.members.foreach(m => Bucketing.compactBucketedTiered(spark,
        table + m.suffix, minFilesPerBucket))
  }

  /** Every member as of FROZEN version `v`, blind to every commit since. */
  trait AsOf[R] { this: VersionedIndex[_, R] =>
    def readAsOf(spark: SparkSession, v: Int): R =
      served(spark)(BucketedManifest.readVersion(spark, table, _, v))
  }

  /** The freeze point of the current state: pure metadata, since every
    * committed version is already frozen.
    */
  trait Snapshots { this: VersionedIndex[_, _] =>
    def snapshot(spark: SparkSession): Int =
      BucketedManifest.currentVersion(spark, table)
  }

  /** Size-tiered cadence ([[BucketedManifest.compactTiered]]): when the
    * manifest references more than `maxGens` generations, merge the
    * smallest down to the cap (LSM members re-aggregate) in one commit
    * and reference the big ones untouched — the O(small generations)
    * maintenance an every-batch ingest loop can run after each admit.
    * Returns whether a merge ran.
    */
  trait Tiered { this: Bucketed[_] =>
    def maybeCompact(spark: SparkSession, maxGens: Int): Boolean =
      BucketedManifest.compactTiered(spark, table, maxGens,
        Versioned.merges(table, family))
  }

  /** MinHash near-duplicate dedup over pre-tokenized `(id, toks)`
    * documents: `_sh` (id, sh) bucketed on id, the verify join's key,
    * and `_bands` (id, band, bucket) on (band, bucket), the candidate
    * join's key, so every future batch joins co-located splits (the
    * corpus side reads with NO Exchange; only the batch shuffles). The
    * banding is pinned by `_meta`. `versioned` commits both halves in
    * one atomic manifest per append (a half-frozen split cannot exist);
    * x_dedup_index_versioned shares x_dedup_index_append's oracle.
    * `files` is the unbucketed artifact: `shingles.parquet`,
    * `bands.parquet` and the banding in `meta.parquet` under a dir.
    */
  object Dedup {
    def files(dir: String, numHashes: Int = 32, bands: Int = 16,
        k: Int = 3): DedupFiles = new DedupFiles(dir, (numHashes, bands, k))

    def plain(table: String, numHashes: Int = 32, bands: Int = 16,
        k: Int = 3) =
      new PlainIndex[Banding, (DataFrame, DataFrame)](DedupFamily,
        (numHashes, bands, k), table, m => (m(0), m(1))) with Tombstones

    def versioned(table: String, numHashes: Int = 32, bands: Int = 16,
        k: Int = 3) =
      new VersionedIndex[Banding, (DataFrame, DataFrame)](DedupFamily,
        (numHashes, bands, k), table, m => (m(0), m(1)))
        with AsOf[(DataFrame, DataFrame)] with Snapshots with Tiered
  }

  /** The unbucketed dedup artifact under `dir`. One corpus scan builds
    * it: the shingle frame is cached, written, and reused for the band
    * build. `read` returns (shingles, bands) after checking the banding
    * against `meta.parquet`.
    */
  final class DedupFiles private[IndexStore] (dir: String, p: Banding) {
    def write(corpusToks: DataFrame): Unit = {
      Scratch.sweepOnce(corpusToks.sparkSession)
      withRows(DedupFamily, p, corpusToks, dir)(_.zip(Seq("shingles", "bands"))
        .foreach { case ((_, df, _), leaf) =>
          df.write.mode("overwrite").parquet(s"$dir/$leaf.parquet") })
      metaFrame(corpusToks.sparkSession, DedupFamily.meta(p))
        .write.mode("overwrite").parquet(s"$dir/meta.parquet")
    }

    def read(spark: SparkSession): (DataFrame, DataFrame) = {
      checkMeta(spark.read.parquet(s"$dir/meta.parquet"), dir, DedupFamily, p)
      (spark.read.parquet(s"$dir/shingles.parquet"),
        spark.read.parquet(s"$dir/bands.parquet"))
    }
  }

  /** The MULTI-INDEX pipeline family: the MinHash halves (content
    * identity) and a key member `_keys` on `id` (document identity) in
    * ONE manifest chain, with the dedup `_meta` record. An ingest loop
    * screens every batch through both gates and admits the survivors
    * into all three members with one atomic commit, so the two indexes
    * can never disagree about what was admitted. The dedup halves serve
    * through [[Dedup.versioned]] unchanged.
    */
  object Pipeline {
    def versioned(table: String, numHashes: Int = 32, bands: Int = 16,
        k: Int = 3): PipelineIndex =
      new PipelineIndex(table, (numHashes, bands, k))
  }

  final class PipelineIndex private[IndexStore] (t: String, p: Banding)
      extends Bucketed[Banding](PipelineFamily, p, t, Versioned) with Tiered {
    /** Admit into all three members in one commit; the version. */
    def append(delta: DataFrame): Int = admitted(delta)

    /** The key member's raw LSM rows (id, n) of the current version —
      * the uniqueness gate anti-joins present ids, audits sum totals.
      */
    def readKeys(spark: SparkSession): DataFrame =
      Versioned.read(spark, table, s"${table}_keys")

    /** EVOLVE a versioned MinHash family into this one online
      * ([[BucketedManifest.addMember]]): the key member is derived from
      * the ids already admitted (the `_sh` member's id set) and added in
      * one commit, touching no existing generation; time travel before
      * the birth version keeps working for the original members. Returns
      * the birth version.
      */
    def addKeyMember(spark: SparkSession, numBuckets: Int): Int =
      BucketedManifest.addMember(spark, table, s"${table}_keys",
        keyCounts(Versioned.read(spark, table, s"${table}_sh")
          .select("id").distinct(), Seq("id")),
        Seq("id"), numBuckets)
  }

  /** SUBSTRING-dedup grams over pre-tokenized `(id, toks)` documents:
    * `(id, pos, h)` k-gram rows ([[graft.ext.Dedup.substringGrams]])
    * bucketed on `h`, the key both serve-time joins (anchor candidates
    * and diagonal extension) use. `_meta` pins `k`: k'-grams never match
    * k-grams and would silently report zero overlap.
    */
  object Substring {
    def plain(table: String, k: Int) =
      new PlainIndex[Int, DataFrame](SubstringFamily, k, table, _.head)
        with Tombstones with TieredPlain

    def versioned(table: String, k: Int) =
      new VersionedIndex[Int, DataFrame](SubstringFamily, k, table, _.head)
        with AsOf[DataFrame] with Snapshots with Tiered
  }

  /** The PassJoin corpus for incremental edit-distance screening
    * ([[graft.ext.Dedup.editDistanceAgainst]]) over `(id, s)` strings:
    * `read` serves (segs, str, bylen) — `_segs` (id, len, h) on `h`,
    * `_str` (id, s) on `id`, `_bylen` (len, id) on `len`. `_meta` pins
    * `d`: segments cut for another threshold never collide with the
    * probes. On the versioned store one commit advances all three, so a
    * candidate whose verify fetch finds no string cannot exist.
    */
  object Edit {
    def plain(table: String, d: Int) =
      new PlainIndex[Int, (DataFrame, DataFrame, DataFrame)](EditFamily, d,
        table, m => (m(0), m(1), m(2))) with Tombstones

    def versioned(table: String, d: Int) =
      new VersionedIndex[Int, (DataFrame, DataFrame, DataFrame)](EditFamily,
        d, table, m => (m(0), m(1), m(2)))
  }

  /** Banded perceptual hashes ([[graft.ext.Multimodal.phashBands]] over
    * `(id, dhash)` rows) bucketed on (band, key), exactly the serve
    * join's key, so checking an image batch
    * ([[graft.ext.Multimodal.phashNearDuplicatesAgainst]]) reads the
    * corpus side in place. `_meta` pins the band count.
    */
  object Phash {
    def plain(table: String, bands: Int = 8) =
      new PlainIndex[Int, DataFrame](PhashFamily, bands, table, _.head)
        with Tombstones

    def versioned(table: String, bands: Int = 8) =
      new VersionedIndex[Int, DataFrame](PhashFamily, bands, table, _.head)
  }

  /** The key-uniqueness / foreign-key index: one `(key…, n)` count row
    * per distinct non-null key tuple, bucketed on the key columns, so
    * checking a batch against history ([[graft.check.Checks
    * .uniqueAgainstIndex]]) reads the history side in place and only
    * the batch shuffles. LSM semantics: appends add the delta's per-key
    * counts as new rows, so one key's total may be split across rows
    * and `read` returns RAW rows — consumers sum per key (an FK anti
    * join ignores multiplicity). `compact` re-aggregates split rows and
    * drops zero totals (collapsed tombstones); `_meta` pins the key set.
    */
  object Key {
    def plain(table: String, keys: Seq[String]) =
      new PlainIndex[Seq[String], DataFrame](KeyFamily, keys, table, _.head)
        with KeyDeletes

    def versioned(table: String, keys: Seq[String]) =
      new VersionedIndex[Seq[String], DataFrame](KeyFamily, keys, table,
        _.head) with AsOf[DataFrame] with KeyDeletes with Tiered
  }

  /** `Key.versioned(table, keys).write`, kept by name for
    * perfbench/src/PerfBench.scala; goes with the next benchmark change.
    */
  def writeKeyIndexBucketedVersioned(df: DataFrame, table: String,
      keys: Seq[String], numBuckets: Int): Unit =
    Key.versioned(table, keys).write(df, numBuckets)

  /** `Key.versioned(table, keys).append`, kept for perfbench likewise. */
  def appendKeyIndexBucketedVersioned(delta: DataFrame, table: String,
      keys: Seq[String]): Int =
    Key.versioned(table, keys).append(delta)

  /** `Key.versioned(table, keys).read`, kept for perfbench likewise. */
  def readKeyIndexBucketedVersioned(spark: SparkSession, table: String,
      keys: Seq[String]): DataFrame =
    Key.versioned(table, keys).read(spark)

  /** `Key.versioned(table, …).maybeCompact`, kept for perfbench likewise.
    * The cadence reads no key column, so the handle's key set is empty.
    */
  def maybeCompactKeyIndexBucketedVersioned(spark: SparkSession,
      table: String, maxGens: Int): Boolean =
    Key.versioned(table, Nil).maybeCompact(spark, maxGens)

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
    * `id`. `plainAt(dir)` is where the plain store keeps the rows (a
    * parquet leaf) and `versionedAt(dir)` where the versioned store
    * keeps them (`dir` itself when the family has no model leaves to
    * sit beside). `encode` maps `(vectors, model, idCol, vecCol)` to the
    * stored rows, a pure per-vector function of the static model, so
    * append(build(base), delta) ≡ build(base ∪ delta) row-for-row;
    * `decode` maps stored rows to the serving frame, and `state` pairs
    * it with the model leaf serving reads beside it (IVF's and IVF-PQ's
    * centroids). The raw stored rows type the empty tombstone set and
    * are what purges and compactions rewrite, so a packed schema
    * survives them byte-exact.
    */
  private final case class Flat[M, S](plainAt: String => String,
      versionedAt: String => String, model: Model[M],
      encode: (DataFrame, M, String, String) => DataFrame,
      state: (SparkSession, String, DataFrame) => S,
      decode: DataFrame => DataFrame = identity[DataFrame] _)

  private def withCentroids(spark: SparkSession, dir: String,
      rows: DataFrame): (DataFrame, DataFrame) =
    (rows, Centroids.read(spark, dir))

  private val IvfFlat = Flat[DataFrame, (DataFrame, DataFrame)](
    _ + "/ivf.parquet", _ + "/enc", Centroids,
    Similarity.ivfIndexWith(_, _, _, _), withCentroids)

  /** Quantized values are exact integers in [-127, 127], so the tinyint
    * pack on write and the double cast on read both round-trip exactly.
    */
  private val Int8Flat = Flat[Unit, DataFrame](_ + "/int8.parquet", identity,
    Model((_, _, _) => (), (_, _) => ()), (df, _, idCol, vecCol) =>
      retype(Similarity.int8Index(df, idCol, vecCol), "tinyint"),
    (_, _, rows) => rows, retype(_, "double"))

  private def retype(df: DataFrame, q: String): DataFrame =
    df.select(col("id"), transform(col("q"), _.cast(q)).as("q"), col("scale"))

  private val PqFlat = Flat[Similarity.PqModel, DataFrame](_ + "/codes.parquet",
    _ + "/codes", Codebooks, (df, model, idCol, vecCol) =>
      Similarity.pqEncode(df, model, idCol, vecCol).select("id", "codes"),
    (_, _, rows) => rows)

  private val IvfPqFlat = Flat[(Similarity.PqModel, DataFrame),
      (DataFrame, DataFrame)](
    _ + "/ivfpq.parquet", _ + "/enc", Model(
      { case (s, (model, c), dir) =>
        Centroids.write(s, c, dir); Codebooks.write(s, model, dir) },
      (s, dir) => (Codebooks.read(s, dir), Centroids.read(s, dir))),
    { case (df, (model, c), idCol, vecCol) =>
      Similarity.ivfPqIndex(df, model, c, idCol, vecCol) },
    withCentroids)

  /** One of the two places a flat family's stored rows can live, given
    * as where the rows of family `f` sit under `dir` (`at`) and four
    * primitives over that path. Both stores keep tombstones in
    * `dir/dead.parquet` and anti-join them BEFORE ranking: a dropped
    * neighbor is replaced by the next-best, so exclusion cannot wait
    * for the output.
    */
  private abstract class FlatStore(
      val at: Flat[_, _] => String => String, built: String => Boolean,
      create: (DataFrame, String) => Unit, append: (DataFrame, String) => Unit,
      raw: (SparkSession, String) => DataFrame) {
    def build[M](f: Flat[M, _], corpus: DataFrame, model: M, dir: String,
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
    def admit[M](f: Flat[M, _], delta: DataFrame, dir: String,
        idCol: String, vecCol: String): Unit = {
      require(built(at(f)(dir)),
        s"no index artifact at $dir — build with write before append")
      append(f.encode(delta, f.model.read(delta.sparkSession, dir), idCol,
        vecCol), at(f)(dir))
    }

    def read(spark: SparkSession, f: Flat[_, _], dir: String): DataFrame =
      f.decode(raw(spark, at(f)(dir)))

    /** The tombstones, or an empty set typed by the stored rows. */
    def dead(spark: SparkSession, f: Flat[_, _], dir: String): DataFrame =
      if (new java.io.File(s"$dir/dead.parquet").exists())
        spark.read.parquet(s"$dir/dead.parquet")
      else raw(spark, at(f)(dir)).select(col("id")).limit(0)

    def live(spark: SparkSession, f: Flat[_, _], dir: String): DataFrame =
      read(spark, f, dir).join(dead(spark, f, dir), Seq("id"), "left_anti")
  }

  /** The plain store: the rows are the leaf `plainAt(dir)`, appends land
    * as files beside the standing ones, and purge and compaction rewrite
    * it in place.
    */
  private object FlatPlain extends FlatStore(_.plainAt,
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
    def rewrite(spark: SparkSession, f: Flat[_, _], dir: String,
        targetFiles: Int = 0): Unit = {
      val cur = new java.io.File(f.plainAt(dir))
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
    * chain at `versionedAt(dir)`, so appends and compactions publish
    * new versions instead of mutating what a concurrent reader holds,
    * and every version stays readable until vacuumed. The model leaves
    * are written once and never rewritten, so they stay plain.
    * Tombstones mask serving at once, but the bytes persist in older
    * versions until a purge publishes the excluded frame AND
    * [[VersionedFlat.vacuum]] drops the versions that still hold them:
    * physical erasure is purge + vacuum, by construction of time travel.
    */
  private object FlatVersioned extends FlatStore(_.versionedAt,
      VersionedFlat.currentVersion(_) > 0,
      VersionedFlat.write(_, _), VersionedFlat.append(_, _),
      VersionedFlat.read(_, _)) {
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
    def purge(spark: SparkSession, f: Flat[_, _], dir: String,
        targetFiles: Int): Unit = {
      val (gone, at) = (dead(spark, f, dir), f.versionedAt(dir))
      val v = VersionedFlat.currentVersion(at)
      VersionedFlat.replace(VersionedFlat.readVersion(spark, at, v)
        .join(gone, Seq("id"), "left_anti"), at, targetFiles, basedOn = v)
      Scratch.deleteRecursively(new java.io.File(s"$dir/dead.parquet"))
    }
  }

  // ------------------------------------------------------ flat handles
  /** A flat family's artifact under `dir` in one store. `write` builds
    * it from the corpus and the caller's model (`()` for int8, which has
    * none; (codebooks, centroids) for IVF-PQ) and drops the replaced
    * artifact's tombstones; `append` encodes a delta against the
    * artifact's own persisted model, and fails on an unbuilt store.
    * `S` is what a read serves: the decoded rows, paired with the
    * centroids for IVF and IVF-PQ.
    */
  sealed abstract class FlatIndex[M, S] private[IndexStore] (
      private[IndexStore] val flat: Flat[M, S], val dir: String,
      private[IndexStore] val store: FlatStore) extends Ingest[S] {
    def write(corpus: DataFrame, model: M, idCol: String = "vec_id",
        vecCol: String = "embedding"): Unit =
      store.build(flat, corpus, model, dir, idCol, vecCol)

    def append(delta: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): Unit =
      store.admit(flat, delta, dir, idCol, vecCol)

    /** Where the stored rows live: the plain leaf or the manifest dir. */
    private[graft] def at: String = store.at(flat)(dir)

    private[IndexStore] def served(spark: SparkSession, rows: DataFrame): S =
      flat.state(spark, dir, rows)

    private[graft] def admit(spark: SparkSession, batch: DataFrame): Unit =
      append(batch)
  }

  /** Tombstone deletion: `delete` appends ids to `dir/dead.parquet`, the
    * stored rows untouched, and `live` serves the rows minus them — the
    * state an ingest run checks against.
    */
  trait FlatTombstones[S] { this: FlatIndex[_, S] =>
    def delete(ids: DataFrame): Unit =
      ids.select(col("id")).write.mode("append").parquet(s"$dir/dead.parquet")

    def live(spark: SparkSession): S =
      served(spark, store.live(spark, flat, dir))

    override private[graft] def current(spark: SparkSession): S = live(spark)
  }

  /** A flat artifact on the plain store. `purge` rewrites the leaf
    * without the tombstoned rows and clears them (live serve ≡
    * rebuild-without-deleted ≡ post-purge serve); `compact` rewrites the
    * live rows into `targetFiles` files, folding and clearing pending
    * tombstones the same way.
    */
  final class FlatPlainIndex[M, S] private[IndexStore] (f: Flat[M, S],
      d: String) extends FlatIndex[M, S](f, d, FlatPlain)
      with FlatTombstones[S] {
    def read(spark: SparkSession): S =
      served(spark, FlatPlain.read(spark, flat, dir))

    def purge(spark: SparkSession): Unit = FlatPlain.rewrite(spark, flat, dir)

    def compact(spark: SparkSession, targetFiles: Int = 1): Unit =
      FlatPlain.rewrite(spark, flat, dir, targetFiles)
  }

  /** A flat artifact on the versioned store: `read` serves version
    * `asOf` (0 = current), and serving any version equals building from
    * that version's corpus. `autoCompacting(maxBatches)` is this
    * artifact as an ingest run's index whose every admission is
    * followed by [[VersionedFlat.maybeCompact]], so a long-lived
    * stream's read plans keep O(1) multi-path roots (0 = off).
    */
  class FlatVersionedIndex[M, S] private[IndexStore] (f: Flat[M, S],
      d: String) extends FlatIndex[M, S](f, d, FlatVersioned) {
    def read(spark: SparkSession, asOf: Int = 0): S =
      served(spark, if (asOf > 0)
        flat.decode(VersionedFlat.readVersion(spark, at, asOf))
      else FlatVersioned.read(spark, flat, dir))

    private[graft] def current(spark: SparkSession): S = read(spark)

    def autoCompacting(maxBatches: Int): Ingest[S] = new Ingest[S] {
      private[graft] def current(spark: SparkSession): S =
        FlatVersionedIndex.this.current(spark)
      private[graft] def admit(spark: SparkSession, batch: DataFrame): Unit = {
        FlatVersionedIndex.this.admit(spark, batch)
        if (maxBatches > 0)
          VersionedFlat.maybeCompact(spark, at, maxBatches): Unit
      }
    }
  }

  /** Tombstones on the versioned store. `compact` publishes the merged
    * batch as a new version and is LAYOUT-ONLY by default: in a store
    * whose versions are immutable snapshots, silently erasing rows
    * during a compact would contradict what time travel promises. That
    * deliberately diverges from the plain compact, so
    * `purgeTombstones = true` opts into fold-and-clear, which is
    * `purge`: the live rows published as the next version, then the
    * tombstones cleared.
    */
  trait VersionedTombstones[S] extends FlatTombstones[S] {
    this: FlatVersionedIndex[_, S] =>
    def purge(spark: SparkSession, targetFiles: Int = 1): Unit =
      FlatVersioned.purge(spark, flat, dir, targetFiles)

    def compact(spark: SparkSession, targetFiles: Int = 1,
        purgeTombstones: Boolean = false): Unit =
      if (purgeTombstones) purge(spark, targetFiles)
      else VersionedFlat.compact(spark, at, targetFiles)
  }

  /** Revert to version `v` by reference ([[VersionedFlat.rollback]]):
    * serving the current version then equals serving `v`, the
    * reverted-from versions stay time-travelable and the model leaves
    * are untouched. Returns the committed version.
    */
  trait Rollbacks { this: FlatVersionedIndex[_, _] =>
    def rollback(v: Int): Int = VersionedFlat.rollback(at, v)
  }

  /** IVF: `ivf.parquet` / `enc` (id long, nvec array<double>, list_id
    * long) under an explicit centroid frame
    * ([[Similarity.firstIdCentroids]] for the deterministic plumbing
    * path, [[Similarity.kmeansCentroids]] for the quality path); reads
    * serve (rows, centroids).
    */
  object Ivf {
    def plain(dir: String) = new FlatPlainIndex(IvfFlat, dir)

    def versioned(dir: String) = new FlatVersionedIndex(IvfFlat, dir)
      with VersionedTombstones[(DataFrame, DataFrame)] with Rollbacks
  }

  /** int8: `int8.parquet` / `dir` (id long, q array<tinyint> in
    * [-127, 127], scale double), 4× smaller than float32; reads serve
    * (id, q array<double>, scale), the frame
    * [[graft.ext.Similarity.quantizedTopKFromIndex]] consumes. Per-vector
    * quantization has no fitted state, so the model is `()`.
    */
  object Int8 {
    def plain(dir: String) = new FlatPlainIndex(Int8Flat, dir)

    def versioned(dir: String) = new FlatVersionedIndex(Int8Flat, dir)
  }

  /** PQ: `codebooks.parquet` (the model, see [[readPqModel]]) and
    * `codes.parquet` / `codes` (id long, codes array<int>: m small codes
    * per corpus vector); reads serve the codes.
    */
  object Pq {
    def plain(dir: String) = new FlatPlainIndex(PqFlat, dir)

    def versioned(dir: String) = new FlatVersionedIndex(PqFlat, dir)
      with VersionedTombstones[DataFrame]
  }

  /** IVF-PQ: `centroids.parquet` (probe routing), `codebooks.parquet`
    * (the model) and `ivfpq.parquet` / `enc` (id, list_id, codes); the
    * model is (codebooks, centroids) and reads serve (rows, centroids).
    * Serving never touches the float corpus again
    * ([[graft.ext.Similarity.ivfPqTopKFromIndex]]).
    */
  object IvfPq {
    def plain(dir: String) = new FlatPlainIndex(IvfPqFlat, dir)

    def versioned(dir: String) = new FlatVersionedIndex(IvfPqFlat, dir)
      with VersionedTombstones[(DataFrame, DataFrame)]
  }

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
}
