package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators (SURVEY.md §7.6): exact, normalized-key,
  * MinHash+LSH banding, SimHash, and n-gram Jaccard verification.
  *
  * Scale design (100 TB): every variant reduces to hash-shuffle
  * aggregations / joins on *bounded-size keys* (hashes, band buckets) —
  * never a full cross join. MinHash banding turns O(n²) pair search into
  * per-bucket joins whose fan-out is controlled by the band count; the
  * expensive exact Jaccard runs only on candidate pairs. AQE handles
  * skewed buckets (e.g. boilerplate-heavy shards).
  *
  * Hashing is ENGINE-PORTABLE by design: [[hash48]] (md5-prefix) and the
  * universal-hash MinHash permutations are plain integer arithmetic any
  * SQL engine can reproduce, so every pipeline stage is oracle-checkable
  * (SparkEntry pairs each with a DuckDB twin). The cost vs xxhash64 is
  * noise next to the shuffles that dominate at scale.
  *
  * Interpreter discipline: higher-order functions (transform/aggregate/
  * zip_with) do NOT participate in whole-stage codegen and have no
  * common-subexpression elimination — an expression substituted into a
  * lambda body is re-evaluated per element. Every stage here therefore
  * consumes *materialized* attribute arrays (tokens → shingle hashes →
  * signatures as separate projections), never a nested expression.
  */
object Dedup {

  // ------------------------------------------------------ portable hashing
  /** 48-bit portable content hash: integer value of the first 12 hex
    * chars of md5. 48 bits keep every value exact in double arithmetic
    * too (< 2^53), so even engines without 64-bit integer ops match.
    */
  def hash48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast(LongType)

  /** Modulus for MinHash universal hashing: the Mersenne prime 2^31-1.
    * All arithmetic stays < 2^62 — safe under ANSI overflow checking.
    */
  val P31 = 2147483647L

  /** Driver-side twin of [[hash48]] — same md5-prefix value, used to
    * derive constants at plan-build time.
    */
  def hash48Value(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** Independent universal-hash coefficients for up to 64 MinHash
    * permutations, derived from fixed strings — mutually independent
    * (a linear family a_i = c·i correlates the min locations across
    * slots and measurably hurts LSH recall), deterministic, and
    * embeddable as plain integer literals in any engine's SQL.
    */
  val MaxPerms = 64
  val minhashA: IndexedSeq[Long] =
    (0 until MaxPerms).map(i => hash48Value(s"minhash_a_$i") % (P31 - 1) + 1)
  val minhashB: IndexedSeq[Long] =
    (0 until MaxPerms).map(i => hash48Value(s"minhash_b_$i") % P31)

  private val aLit = array(minhashA.map(lit): _*)
  private val bLit = array(minhashB.map(lit): _*)

  /** MinHash permutation i: h_i(x) = (a_i·x + b_i) mod p — coefficient
    * lookup from the constant-folded literal arrays.
    */
  private def permHash(x: Column, i: Column): Column =
    pmod(
      element_at(aLit, (i + 1).cast("int")) * pmod(x, lit(P31))
        + element_at(bLit, (i + 1).cast("int")),
      lit(P31))

  // ------------------------------------------------------------- shingling
  /** Sliding word k-grams over a *materialized* token-array column;
    * shorter docs collapse to one whole-doc shingle. Distinct.
    */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Sliding word k-grams (shingles) of a text column, distinct. */
  def shingles(c: Column, k: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(c), k)

  /** Fast non-portable twin of [[hash48]]: xxhash64 folded into the
    * same 48-bit range. One codegen'd integer-mix pass per shingle vs a
    * full message digest — the md5 "portable-hash tax" is most of the
    * near-dup pipeline's per-doc cost (see PLANS.md). Collision and
    * distribution properties are equivalent for shingle/minhash use;
    * what is LOST is cross-engine portability (the DuckDB oracle has no
    * xxhash64), so the hash is only stable within Spark. Harness
    * queries keep md5; production jobs that never leave Spark should
    * pass `fast = true` to the near-dup entry points.
    */
  def hash48Fast(c: Column): Column = pmod(xxhash64(c), lit(1L << 48))

  /** Shingle set hashed to 48-bit longs — all downstream MinHash/Jaccard
    * work runs on 8-byte hashes instead of strings (cheaper to shuffle
    * and intersect; collisions negligible at 48 bits for corpus-scale
    * shingle counts).
    */
  def shingleHashesFromTokens(toks: Column, k: Int,
      fast: Boolean = false): Column =
    transform(shinglesFromTokens(toks, k),
      s => if (fast) hash48Fast(s) else hash48(s))

  def shingleHashes(c: Column, k: Int = 3): Column =
    transform(shingles(c, k), s => hash48(s))

  // ------------------------------------------------------------ exact dedup
  /** Exact duplicate groups by full-content hash: returns
    * (key, cnt) for groups with >1 member. One hash-agg shuffle on a
    * 32-byte key regardless of document size.
    */
  def exactDupGroups(df: DataFrame, c: String): DataFrame =
    df.groupBy(md5(col(c)).as("content_hash"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** Normalized-key duplicate groups: first `n` tokens as the key
    * (cheap prefix clustering — catches copy-paste with different tails).
    */
  def normalizedKey(c: Column, n: Int = 3): Column =
    concat_ws(" ", slice(TextAnalysis.tokens(c), 1, n))

  def prefixDupGroups(df: DataFrame, c: String, n: Int = 3): DataFrame =
    df.groupBy(normalizedKey(col(c), n).as("prefix_key"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** Canonical-record selection: for each key tuple keep the earliest
    * `orderCol` value (deterministic min — unlike `dropDuplicates`,
    * whose survivor depends on partition order). One hash-agg shuffle;
    * the min is computed map-side first.
    */
  def keepEarliest(
      df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(orderCol)).as(s"first_$orderCol"),
        count(lit(1)).as("n_dups"))

  // --------------------------------------------------------- span-level dedup
  /** CCNet-style span (line/paragraph) deduplication: split every
    * document on `delim`, keep only the FIRST occurrence of each
    * distinct span content corpus-wide (first = smallest (id, position)
    * — a total order, independent of partitioning), drop the rest, and
    * reassemble each document's surviving spans in original order.
    * Documents left with zero spans disappear (the CCNet convention:
    * a document that was all boilerplate is dropped, not kept empty).
    * Output: (id, text, n_kept).
    *
    * Scale shape: spans travel on their 16-byte md5 content key, never
    * re-shuffling the span text, through one map-side-combinable
    * min-(id,pos) aggregate; survivors are marked with an equi-join on
    * that key (a boilerplate span repeated 10^8 times collapses to one
    * row per partition in the agg's combiners, and AQE skew-splits the
    * join side), and reassembly is one groupBy on the doc id whose
    * state is the document's own span list. No windows over the corpus
    * anywhere.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    require(!Seq("pos", "span", "h", "first").contains(idCol),
      s"idCol '$idCol' collides with a dedupSpans working column")
    val spans = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("pos", "span")))
      .withColumn("h", md5(col("span")))
    val first = spans.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    spans.join(first, "h")
      .filter(struct(col("id"), col("pos")) === col("first"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(delim, transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span"))).as("text"))
      .select(col("id"), col("text"), col("n_kept"))
  }

  /** Embedding-cosine near-dup canonicalization: LSH-bucketed cosine
    * pairs at `threshold`, then each duplicate id maps to its smallest
    * near-duplicate id (the canonical survivor). Pair search shuffles on
    * the LSH bucket only; the canonical reduction is one more hash agg
    * on the pair ids.
    */
  def embeddingCanonical(
      df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nPlanes: Int = 8,
      threshold: Double = 0.9): DataFrame =
    Similarity.lshCandidatePairs(df, idCol, vecCol, nPlanes, threshold)
      .groupBy(col("id_b").as("dup_id"))
      .agg(min(col("id_a")).as("canonical_id"))

  /** SemDeDup-style semantic dedup: assign every vector to its nearest
    * centroid list (the same IVF assignment the ANN index uses), compare
    * pairs ONLY within a list, and map each near-duplicate to its
    * smallest same-list partner (canonical survivor).
    *
    * Scale shape: the pairwise stage shuffles on `list_id` only and its
    * cost is Σ per-list n², bounded by centroid count and balance (use
    * [[Similarity.kmeansCentroids]] on clustered data — list balance is
    * exactly what it optimizes); the canonical reduction is one hash agg
    * on pair ids. Against an all-pairs formulation this is the same
    * candidates-only shape as MinHash banding, with clusters instead of
    * signature buckets. Cross-list near-dups (rare: near-identical
    * vectors share a nearest centroid except at list boundaries) are the
    * recall tradeoff, same as SemDeDup's.
    */
  def semanticCanonical(df: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9): DataFrame = {
    // the index is an eagerly-materialized artifact (its internal
    // normalization cache is already scoped+released by ivfIndexWith)
    val idx = Similarity.ivfIndexWith(df, centroids, idCol, vecCol)
    val left = idx.select(col("id").as("id_a"),
      col("nvec").as("nvec_a"), col("list_id"))
    val right = idx.select(col("id").as("id_b"),
      col("nvec").as("nvec_b"), col("list_id").as("list_id_b"))
    left.join(right,
        col("list_id") === col("list_id_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.dotN(col("nvec_a"), col("nvec_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("id_b").as("dup_id"))
      .agg(min(col("id_a")).as("canonical_id"))
  }

  // --------------------------------------------------------------- MinHash
  /** MinHash signature from a materialized hashed-shingle array: slot i
    * is the min of permutation i over the shingle set.
    */
  def minhashFromHashes(sh: Column, numHashes: Int = 32): Column =
    graft.functions.MinHashSig.sigs(sh, numHashes)

  /** The HOF formulation of [[minhashFromHashes]] — interpreted, kept as
    * the executable spec the native expression is asserted against
    * (ExtSpec parity test) and as documentation of the exact arithmetic
    * the oracle SQL reproduces.
    */
  def minhashFromHashesHof(sh: Column, numHashes: Int = 32): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(sh, h => permHash(h, i))))

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows each; the bucket key is the band's joined
    * signature slice (a plain string — no extra hash, engine-portable).
    * Docs sharing any band bucket are candidate near-duplicates.
    */
  def lshBandHashes(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        concat_ws("_",
          transform(slice(sig, b * rows + 1, lit(rows)),
            h => h.cast("string"))).as("bucket")))
  }

  /** Exploded (id, band, bucket) assignments for a (id, sig) frame. */
  private def bandedAssignments(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sigs
      .select(col("id"),
        explode(lshBandHashes(col("sig"), numHashes, bands)).as("bh"))
      .select(col("id"), col("bh.band").as("band"),
        col("bh.bucket").as("bucket"))

  /** Hot LSH buckets (> `maxBucketSize` members) — at corpus scale these
    * are boilerplate clusters (headers, licenses, templates), and a
    * bucket of size m contributes m·(m-1)/2 candidate pairs, so one
    * boilerplate bucket can dominate the whole join. Surfaced as their
    * own artifact: (band, bucket, bcnt).
    */
  def hotBuckets(
      df: DataFrame, idCol: String, textCol: String, maxBucketSize: Int,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3): DataFrame =
    // the scoped cache is a MATERIALIZATION BARRIER, not a reuse cache:
    // without it CollapseProject substitutes the shingle-hash HOF into
    // all `numHashes` permutation lambdas (no CSE in interpreted HOFs →
    // the shingling re-runs once per slot; measured 15.6 s vs 2 s at
    // sf0.1)
    CacheScope.withCached(
      df.select(col(idCol).as("id"),
          TextAnalysis.tokens(col(textCol)).as("toks"))
        .select(col("id"),
          shingleHashesFromTokens(col("toks"), k).as("sh"))) { base =>
      val sigs = base.select(col("id"),
        minhashFromHashes(col("sh"), numHashes).as("sig"))
      bandedAssignments(sigs, numHashes, bands)
        .groupBy("band", "bucket").agg(count(lit(1)).as("bcnt"))
        .filter(col("bcnt") > maxBucketSize)
    }

  /** Candidate near-duplicate pairs via MinHash LSH over a
    * (id, sig) frame: explode band buckets, self-join per bucket, emit
    * ordered (id_a < id_b) pairs. The shuffle key is (band, bucket) —
    * bounded fan-out, no cross join.
    *
    * `maxBucketSize > 0` additionally drops buckets with more members
    * (quadratic-blowup guard for boilerplate-heavy corpora; the dropped
    * buckets are what [[hotBuckets]] reports). The pruning reuses the
    * (band, bucket) shuffle key, so it costs one aggregation on the
    * exchange that the join needs anyway.
    */
  /** Drop rows of buckets larger than `cap` (0 = off) — the shared
    * degenerate-hub guard for every Σ per-bucket n² stage (MinHash
    * banding, incremental ingest, LSH kNN): one boilerplate bucket
    * otherwise quadratically dominates its join. One aggregation on
    * the join's own exchange key + a left-semi prune.
    */
  private[ext] def capBuckets(
      b: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    if (cap <= 0) b
    else {
      val small = b.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bcnt"))
        .filter(col("__bcnt") <= cap)
        .drop("__bcnt")
      b.join(small, keys, "left_semi")
    }

  private def candidatesFromSigs(
      sigs: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    val banded = capBuckets(bandedAssignments(sigs, numHashes, bands),
      Seq("band", "bucket"), maxBucketSize)
    // disjoint column names on the two sides: a self-join through `.as`
    // aliases on the same exploded plan defeats equi-key extraction and
    // Catalyst falls back to a nested-loop join (measured 224 s vs 2 s
    // at sf0.1); renamed projections give a plain shuffle hash join on
    // (band, bucket)
    val left = banded.select(col("id").as("id_a"), col("band"),
      col("bucket"))
    val right = banded.select(col("id").as("id_b"),
      col("band").as("band_b"), col("bucket").as("bucket_b"))
    left.join(right,
        col("band") === col("band_b") &&
          col("bucket") === col("bucket_b") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 16, k: Int = 3,
      maxBucketSize: Int = 0): DataFrame =
    // staged projections: tokens and shingle hashes materialize before
    // the signature lambda consumes them (see interpreter discipline
    // note above); cached (scoped — released before returning) because
    // both sides of the bucket self-join scan the signatures
    CacheScope.withCached(
      df.select(col(idCol).as("id"),
          TextAnalysis.tokens(col(textCol)).as("toks"))
        .select(col("id"),
          shingleHashesFromTokens(col("toks"), k).as("sh"))) { base =>
      candidatesFromSigs(
        base.select(col("id"),
          minhashFromHashes(col("sh"), numHashes).as("sig")),
        numHashes, bands, maxBucketSize)
    }

  // --------------------------------------------------------------- Jaccard
  /** Exact n-gram Jaccard similarity of two text columns: |A∩B| / |A∪B|
    * over distinct word k-grams. Integer-count division — deterministic
    * across engines.
    */
  def jaccard(a: Column, b: Column, k: Int = 3): Column = {
    val sa = shingles(a, k)
    val sb = shingles(b, k)
    val inter = size(array_intersect(sa, sb))
    val union = size(array_union(sa, sb))
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }

  /** Containment of `sub`'s shingle set in `sup`'s: |sub ∩ sup| / |sub|
    * over distinct word k-grams (0.0 when `sub` has none). The
    * ASYMMETRIC near-dup measure: a short document pasted inside a long
    * one has low Jaccard (the union is dominated by the long side) but
    * containment ≈ 1 — the quote/excerpt/subset-copy detector that
    * Jaccard thresholds miss. Integer-count division, deterministic
    * across engines.
    */
  def containment(sub: Column, sup: Column, k: Int = 3): Column = {
    val ssub = array_distinct(shingles(sub, k))
    val ssup = shingles(sup, k)
    when(size(ssub) > 0,
      size(array_intersect(ssub, ssup)).cast("double") / size(ssub))
      .otherwise(lit(0.0))
  }

  /** Jaccard over pre-hashed shingle arrays — the native primitive-set
    * expression (one hash pass per array, no intermediate arrays).
    */
  def jaccardHashes(a: Column, b: Column): Column =
    graft.functions.JaccardLong.jaccard(a, b)

  /** Built-in formulation of [[jaccardHashes]] (parity spec). */
  def jaccardHashesHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }

  /** Containment of shingle set `sub` in `sup`: |sub ∩ sup| / |sub|
    * (0.0 when `sub` is empty). The ASYMMETRIC near-dup measure:
    * a short document pasted inside a long one has low Jaccard (the
    * union is dominated by the long side) but containment ≈ 1 — the
    * quote/excerpt/subset-copy detector Jaccard thresholds miss.
    * Integer-count division, deterministic across engines. Native
    * primitive-set expression (one hash pass per array — same inner-
    * loop rationale as [[jaccardHashes]]).
    */
  def containmentHashes(sub: Column, sup: Column): Column =
    graft.functions.ContainmentLong.containment(sub, sup)

  /** Built-in formulation of [[containmentHashes]] (parity spec). */
  def containmentHashesHof(sub: Column, sup: Column): Column = {
    val s = size(array_distinct(sub))
    when(s > 0,
      size(array_intersect(sub, sup)).cast("double") / s)
      .otherwise(lit(0.0))
  }

  // ------------------------------------------------- corpus-level sketches
  /** Corpus-level MinHash sketch: the elementwise min over every
    * document's signature — i.e. the signature of the UNION of all
    * shingle sets. Slot-min is associative and commutative, so this is
    * a textbook mergeable summary: partial sketches combine map-side,
    * per-corpus state is `numHashes` longs regardless of corpus size,
    * and sketches of data shards can be merged without re-reading them.
    * Output: (slot, min_h), `numHashes` rows.
    */
  def corpusSignature(df: DataFrame, numHashes: Int = 32,
      k: Int = 3): DataFrame =
    df.select(posexplode(
        minhashFromHashes(shingleHashesFromTokens(col("toks"), k),
          numHashes)).as(Seq("slot", "h")))
      .groupBy("slot").agg(min("h").as("min_h"))

  /** Estimated shingle-set Jaccard between two corpora from their
    * sketches: the fraction of matching slots (the standard MinHash
    * estimator, standard error ~ 1/sqrt(numHashes)). Constant-size
    * comparison no matter how large either corpus is — the "how much
    * does this new crawl overlap what we already have" screen that
    * would otherwise be a cross-corpus join.
    */
  def corpusSimilarity(a: DataFrame, b: DataFrame, numHashes: Int = 32,
      k: Int = 3): DataFrame = {
    val sa = corpusSignature(a, numHashes, k)
    val sb = corpusSignature(b, numHashes, k)
      .withColumnRenamed("min_h", "min_h_b")
    sa.join(sb, "slot")
      .agg(count(lit(1)).as("n_slots"),
        sum(when(col("min_h") === col("min_h_b"), 1L).otherwise(0L))
          .as("n_equal"))
      .select(col("n_slots"), col("n_equal"),
        (col("n_equal").cast("double") / col("n_slots"))
          .as("est_jaccard"))
  }

  /** Pairwise overlap matrix between every pair of corpus GROUPS
    * (sources, snapshots, shards) in one pass: per-group MinHash corpus
    * sketches — built by one groupBy((grp, slot), min) over the
    * exploded per-doc signatures, map-side combinable — then the
    * standard matching-slots estimator on the |groups| × numHashes
    * sketch frame. The pair join touches ONLY sketch rows: estimating
    * all source-pair overlaps of a 100 TB corpus costs one corpus scan
    * plus a join of a few thousand rows. Input is a pre-tokenized
    * (groupCol, toks) frame; output (grp_a, grp_b, n_slots, n_equal,
    * est_jaccard) for grp_a < grp_b.
    */
  def corpusSimilarityMatrix(df: DataFrame, groupCol: String,
      numHashes: Int = 32, k: Int = 3): DataFrame = {
    val sigs = df.select(col(groupCol).as("grp"),
        posexplode(
          minhashFromHashes(shingleHashesFromTokens(col("toks"), k),
            numHashes)).as(Seq("slot", "h")))
      .groupBy("grp", "slot").agg(min("h").as("min_h"))
    val a = sigs.select(col("grp").as("grp_a"), col("slot"),
      col("min_h").as("h_a"))
    val b = sigs.select(col("grp").as("grp_b"), col("slot").as("slot_b"),
      col("min_h").as("h_b"))
    a.join(b, col("slot") === col("slot_b") && col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b")
      .agg(count(lit(1)).as("n_slots"),
        sum(when(col("h_a") === col("h_b"), 1L).otherwise(0L))
          .as("n_equal"))
      .select(col("grp_a"), col("grp_b"), col("n_slots"), col("n_equal"),
        (col("n_equal").cast("double") / col("n_slots"))
          .as("est_jaccard"))
  }

  // --------------------------------------------------------------- SimHash
  /** SimHash-48 stage 1: per-bit set counts over distinct-token 48-bit
    * hashes + token count, as a struct. One pass over the token array
    * (each hash expanded to its 48 bits, summed with zip_with).
    *
    * Split from [[simhashFinish]] on purpose: the finishing sum reads
    * the counts 48 times and must consume a *materialized* attribute,
    * not re-evaluate this aggregate per bit.
    */
  val SimhashBits = 48

  def simhashBitCounts(c: Column): Column = {
    val hs = transform(array_distinct(TextAnalysis.tokens(c)),
      t => hash48(t))
    val bitArrays = transform(hs, h =>
      array((0 until SimhashBits).map(b =>
        shiftright(h, b).bitwiseAND(lit(1L))): _*))
    val counts = aggregate(bitArrays,
      array_repeat(lit(0L), SimhashBits),
      (acc, bits) => zip_with(acc, bits, (a, x) => a + x))
    struct(counts.as("counts"), size(hs).cast("long").as("n"))
  }

  /** SimHash stage 2: bit b is set when more than half the tokens have
    * it set. 48 cheap array reads of the materialized counts.
    */
  def simhashFinish(parts: Column): Column =
    (0 until SimhashBits).map { b =>
      when(element_at(parts.getField("counts"), b + 1) * 2 >
        parts.getField("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** One-column convenience (small inputs / tests): for bulk use, project
    * [[simhashBitCounts]] first, then [[simhashFinish]] — see SparkEntry.
    */
  def simhash48(c: Column): Column = simhashFinish(simhashBitCounts(c))

  // ------------------------------------------------------- full near-dup
  /** Full near-dup pipeline over a pre-tokenized (id, toks) frame:
    * shingle-hash each doc ONCE, MinHash-LSH candidates, then exact
    * Jaccard verification on the precomputed hash arrays at `threshold`.
    * The hash arrays are cached so the signature build and both sides of
    * the verification join reuse them instead of re-shingling per
    * candidate pair (the naive version was ~50× slower at sf0.1).
    */
  def nearDuplicatesFromTokens(
      df: DataFrame,
      threshold: Double = 0.7, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3, maxBucketSize: Int = 0,
      fast: Boolean = false): DataFrame =
    CacheScope.withCached(
      df.select(col("id"),
        shingleHashesFromTokens(col("toks"), k, fast).as("sh"))) { base =>
      val sigs = base.select(col("id"),
        minhashFromHashes(col("sh"), numHashes).as("sig"))
      val cands = candidatesFromSigs(sigs, numHashes, bands, maxBucketSize)
      cands
        .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          jaccardHashes(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }

  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3): DataFrame =
    nearDuplicatesFromTokens(
      df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks")),
      threshold, numHashes, bands, k)

  /** Incremental near-dup: verified pairs between a NEW batch and an
    * existing CORPUS, never corpus × corpus — the production ingestion
    * shape ("is anything in today's crawl a near-dup of what we already
    * hold?"). Both inputs are pre-tokenized (id, toks) frames.
    *
    * Candidates come from a banded equi-join of the new batch's LSH
    * band assignments against the corpus's, so the shuffle key is
    * (band, bucket) and candidate count scales with |new| × bucket hit
    * rate — independent of |corpus|² . At 100 TB the corpus side's
    * (id, band, bucket) and (id, sh) frames are write-once index
    * artifacts re-read per batch (recomputed here to keep the operator
    * self-contained; persist them with [[graft.sources.Bucketing]]
    * bucketed by `bucket` to make the per-batch join exchange-free).
    * `maxBucketSize` prunes oversized CORPUS buckets (boilerplate
    * clusters — the [[hotBuckets]] report): one aggregation on the
    * join's own exchange key.
    *
    * Output: (new_id, corpus_id, jaccard) with jaccard >= `threshold`.
    */
  def nearDuplicatesAgainstFromTokens(
      newDf: DataFrame, corpusDf: DataFrame,
      threshold: Double = 0.7, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3, maxBucketSize: Int = 0): DataFrame =
    // one scope for both hash frames: nesting two withCached calls
    // would localCheckpoint the pair result twice (see withCached2)
    CacheScope.withCached2(
      newDf.select(col("id"),
        shingleHashesFromTokens(col("toks"), k).as("sh")),
      corpusDf.select(col("id"),
        shingleHashesFromTokens(col("toks"), k).as("sh"))) { (nb, cb) =>
      againstCore(nb, cb,
        bandAssignmentsFromShingles(cb, numHashes, bands),
        threshold, numHashes, bands, maxBucketSize)
    }

  /** Corpus-side index artifacts for the incremental-ingest path, from
    * a pre-tokenized `(id, toks)` frame: the `(id, sh)` shingle-hash
    * frame and the `(id, band, bucket)` LSH band-assignment frame —
    * exactly the two frames [[nearDuplicatesAgainstFromTokens]]
    * recomputes per batch. Persist them once (parquet; see
    * [[graft.sources.IndexStore]]) and serve every future batch with
    * [[nearDuplicatesAgainstIndex]] — at 100 TB the corpus is scanned
    * once at index-build time, never again.
    */
  def bandAssignmentsFromShingles(shFrame: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    bandedAssignments(
      shFrame.select(col("id"),
        minhashFromHashes(col("sh"), numHashes).as("sig")),
      numHashes, bands)

  /** [[nearDuplicatesAgainstFromTokens]] served from PREBUILT corpus
    * artifacts — `corpusSh` = `(id, sh)` and `corpusBands` =
    * `(id, band, bucket)`, typically re-read from parquet: only the
    * (small) new batch is shingled/hashed here; the corpus side costs
    * a band equi-join plus a semi-join-shaped verify read. Same
    * output contract, proven by the harness serving the
    * x_dedup_incremental query through a parquet round-trip against
    * the in-memory path's oracle.
    */
  def nearDuplicatesAgainstIndex(
      newDf: DataFrame, corpusSh: DataFrame, corpusBands: DataFrame,
      threshold: Double = 0.7, numHashes: Int = 32, bands: Int = 16,
      k: Int = 3, maxBucketSize: Int = 0): DataFrame =
    CacheScope.withCached(
      newDf.select(col("id"),
        shingleHashesFromTokens(col("toks"), k).as("sh"))) { nb =>
      againstCore(nb, corpusSh, corpusBands,
        threshold, numHashes, bands, maxBucketSize)
    }

  /** The EXACT serve join [[nearDuplicatesAgainstIndex]] runs, without
    * the scoped-cache materialization — the returned frame still
    * carries the join plan (CacheScope's localCheckpoint collapses it
    * to a LogicalRDD), so specs can assert the corpus sides read their
    * bucketed splits in place. Production callers want
    * [[nearDuplicatesAgainstIndex]] (the new batch's shingle frame is
    * scanned by both the band and the verify join — worth caching).
    */
  private[graft] def againstIndexPlan(
      newDf: DataFrame, corpusSh: DataFrame, corpusBands: DataFrame,
      threshold: Double, numHashes: Int, bands: Int, k: Int,
      maxBucketSize: Int = 0): DataFrame =
    againstCore(
      newDf.select(col("id"),
        shingleHashesFromTokens(col("toks"), k).as("sh")),
      corpusSh, corpusBands, threshold, numHashes, bands, maxBucketSize)

  /** Shared core of the batch-vs-corpus near-dup join: band the new
    * batch, equi-join against the corpus band assignments (capped),
    * verify candidates by exact hash-set Jaccard.
    */
  private def againstCore(nb: DataFrame, corpusSh: DataFrame,
      corpusBands: DataFrame, threshold: Double, numHashes: Int,
      bands: Int, maxBucketSize: Int): DataFrame = {
    val nBanded = bandAssignmentsFromShingles(nb, numHashes, bands)
      .select(col("id").as("new_id"), col("band"), col("bucket"))
    val cBanded = capBuckets(corpusBands,
        Seq("band", "bucket"), maxBucketSize)
      .select(col("id").as("corpus_id"),
        col("band").as("band_c"), col("bucket").as("bucket_c"))
    val cands = nBanded.join(cBanded,
        col("band") === col("band_c") &&
          col("bucket") === col("bucket_c"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    cands
      .join(nb.select(col("id").as("new_id"), col("sh").as("sh_n")),
        "new_id")
      .join(corpusSh.select(col("id").as("corpus_id"),
          col("sh").as("sh_c")),
        "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        jaccardHashes(col("sh_n"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------- duplicate clustering
  /** Transitive duplicate clusters over a verified-pair edge list: every
    * id appearing in `pairs` maps to the smallest id reachable through
    * pair edges — the connected component's min, i.e. the canonical
    * survivor. Pair-source agnostic: feed it MinHash near-dup pairs,
    * embedding-LSH pairs, or any blocking scheme's verified matches.
    * Ids must be integral (string keys: [[hash48]] them first — that is
    * also the cheaper key to shuffle at corpus scale).
    *
    * Scale design: iterative min-label propagation. Each round is one
    * shuffle — the label frame joins the symmetric edge list (cached and
    * pre-partitioned on `src`, so only labels move) and the propagated
    * labels hash-aggregate with map-side partial `min`. Rounds needed =
    * the duplicate graph's diameter; near-dup components are dense (band
    * co-membership), so this is small, and `maxIters` bounds pathological
    * chains. Labels only decrease, so convergence is "the label sum is
    * unchanged" — one scalar aggregate per round (exact in decimal; no
    * change-detection join). Each round `localCheckpoint`s the labels:
    * lineage would otherwise grow per iteration until re-optimization
    * dominates.
    */
  def duplicateClusters(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val a = col(idA).cast(LongType)
    val b = col(idB).cast(LongType)
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .repartition(col("src"))
      .cache()
    try {
      var labels = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
        .localCheckpoint(eager = true)
      // exact decimal sum: label values are < 2^48 but the row count is
      // unbounded, so a long sum could overflow at corpus scale
      def labelSum(l: DataFrame): java.math.BigDecimal = {
        val s = l.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
        if (s == null) java.math.BigDecimal.ZERO else s
      }
      val debug = sys.env.contains("GRAFT_DEBUG_CLUSTERS")
      var prevSum = labelSum(labels)
      var it = 0
      var done = prevSum.signum == 0 && labels.isEmpty
      while (!done && it < maxIters) {
        val t0 = System.nanoTime()
        val next = edges.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("label"))
          .union(labels)
          .groupBy("id").agg(min("label").as("label"))
          .localCheckpoint(eager = true)
        val t1 = System.nanoTime()
        val s = labelSum(next)
        done = s.compareTo(prevSum) == 0
        prevSum = s
        labels = next
        it += 1
        if (debug) println(f"[clusters] iter $it%2d " +
          f"propagate ${(t1 - t0) / 1e9}%7.2f s " +
          f"sum ${(System.nanoTime() - t1) / 1e9}%7.2f s")
      }
      labels.select(col("id"), col("label").as("cluster_id"))
    } finally edges.unpersist(blocking = false)
  }

  /** Apply a [[duplicateClusters]] mapping to the corpus: drop every row
    * whose id maps to a different canonical (keep cluster survivors and
    * all singletons — ids never appearing in a pair). One LEFT ANTI join
    * against the non-canonical member ids. NO broadcast hint: the dup-id
    * set scales with the corpus duplicate RATE (30–50% on web crawls),
    * not a constant, so forcing a broadcast would collect an
    * O(corpus)-sized set onto the driver at 100 TB. The un-hinted anti
    * join is the scale-safe shape — AQE still picks a broadcast at
    * runtime whenever the set is actually under the threshold, and
    * falls back to a shuffled anti join when it isn't.
    */
  def dropDuplicateMembers(
      df: DataFrame, clusters: DataFrame, idCol: String): DataFrame = {
    val dupIds = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- substring-level dedup
  /** Maximal shared token runs of length >= `minRunLen` between every
    * document pair — the substring-level complement to [[dedupSpans]]
    * (which only catches spans aligned on delimiter boundaries):
    * detects a paragraph pasted mid-document, quote chains, and
    * templated text with novel infill — the overlap that survives
    * document-level AND span-level dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better").
    *
    * EXACT seed-and-extend, never all-pairs:
    *  1. Every document's k-gram start positions are hashed
    *     ([[hash48]] of the k-token slice — engine-portable, so the
    *     DuckDB oracle reproduces the pipeline on gram strings).
    *     Volume: one row per token.
    *  2. ANCHORS: only every `stride`-th gram position
    *     (stride = minRunLen−k+1) enters the probe side of the
    *     candidate join. Any shared run of >= minRunLen tokens covers
    *     `stride` consecutive gram starts in the smaller-id document,
    *     so it contains exactly one anchor position — positional
    *     sampling loses NO qualifying pair (the seed-and-extend
    *     guarantee) while cutting probe volume by the stride factor.
    *  3. The anchor equi-join on the gram hash yields candidate
    *     (id_a, id_b, diag) alignments (diag = pos_a − pos_b); a run
    *     lives on one diagonal.
    *  4. EXTEND: candidate diagonals equi-join back against the gram
    *     frame (keys id_a, then (id_b, h, pos_b = pos_a − diag) — all
    *     hash joins) recovering EVERY matching gram position on the
    *     diagonal; consecutive positions chain into maximal runs via
    *     one collect-sort-posexplode per (pair, diagonal) — per-group
    *     state bounded by document length, no corpus-wide window.
    *
    * Scale shape: shuffles key on the 8-byte gram hash and on
    * (pair, diag) tuples; candidate volume is anchor-hit driven, not
    * |corpus|². One fan-out to know about: the first extension join
    * keys on id_a alone, so a document's gram frame replicates once
    * per candidate (id_b, diag) — a doc sharing runs with MANY
    * partners (a template copied corpus-wide) pays |grams(doc)| ×
    * |partners| intermediate rows before the (id_b, h, pos) join
    * prunes them; results stay exact, and the cap below is the lever
    * when that template fan-out dominates (hot template grams are what
    * seed those partners). `maxGramFreq > 0` makes over-frequent grams invisible
    * to matching ENTIRELY — seeding and extension alike, the identical
    * semantics [[substringRunsAgainst]] applies — so runs through
    * boilerplate grams split/shorten the same way on both paths (same
    * recall tradeoff as the LSH `maxBucketSize` cap; 0 = exact).
    * 48-bit gram-hash collisions can in principle conjure a false
    * matched position — negligible at corpus-scale gram counts, the
    * same tradeoff the shingle pipeline documents.
    *
    * Output: one row per maximal run ≥ minRunLen — (id_a, id_b, pos_a,
    * pos_b, run_len) with id_a < id_b and 1-indexed token starts.
    */
  def substringRuns(df: DataFrame, idCol: String, toksCol: Column,
      minRunLen: Int, k: Int, maxGramFreq: Int = 0): DataFrame =
    CacheScope.withCached(substringGrams(df, idCol, toksCol, k)) { g =>
      substringCore(g, minRunLen, k, maxGramFreq)
    }

  /** The exact plan [[substringRuns]] executes, without the scoped-cache
    * materialization barrier (which collapses the lineage to a
    * LogicalRDD) — so PlanSpec can assert the no-window / no-cartesian
    * contracts on the real operators. Production callers want
    * [[substringRuns]]: the gram frame is scanned four times.
    */
  private[graft] def substringRunsPlan(df: DataFrame, idCol: String,
      toksCol: Column, minRunLen: Int, k: Int,
      maxGramFreq: Int = 0): DataFrame =
    substringCore(substringGrams(df, idCol, toksCol, k), minRunLen, k,
      maxGramFreq)

  /** (id, pos, h) k-gram frame: pos = 1-indexed token start, h =
    * portable 48-bit hash of the space-joined k-token slice. Documents
    * shorter than k emit nothing. Public as the SUBSTRING-INDEX
    * artifact schema: persist the corpus gram frame once (bucketed on
    * `h` — [[graft.sources.IndexStore.Substring]])
    * and serve every future batch with [[substringRunsAgainst]].
    */
  def substringGrams(df: DataFrame, idCol: String,
      toksCol: Column, k: Int): DataFrame =
    df.select(col(idCol).as("id"), toksCol.as("__t"))
      .select(col("id"),
        posexplode(
          when(size(col("__t")) >= k,
            transform(sequence(lit(1), size(col("__t")) - (k - 1)),
              i => hash48(concat_ws(" ", slice(col("__t"), i, lit(k))))))
            .otherwise(array())).as(Seq("p0", "h")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("h"))

  private def substringCore(g: DataFrame, minRunLen: Int, k: Int,
      maxGramFreq: Int): DataFrame = {
    require(k >= 1 && minRunLen >= k,
      s"need 1 <= k <= minRunLen, got k=$k minRunLen=$minRunLen")
    val stride = minRunLen - k + 1
    // ONE cap semantics across both variants (round-12, ADVICE): grams
    // above the cap are invisible to matching ENTIRELY — seeding AND
    // extension — exactly what the against-variant's single join does,
    // so the same corpus+cap reports the same (possibly split) runs
    // either way, and the anchored ≡ against law holds for nonzero
    // caps too (a surviving chain of ≥ stride consecutive positions
    // still contains a surviving anchor — the covering argument is
    // cap-stable). The pre-round-12 shape capped only the seed side,
    // extending runs THROUGH hot grams the serve path would split on.
    val gc = capBuckets(g, Seq("h"), maxGramFreq)
    val full = gc.select(col("id").as("id_b"), col("pos").as("pos_b"),
      col("h").as("h_b"))
    val anchors = gc
      .filter(pmod(col("pos"), lit(stride)) === lit(1 % stride))
      .select(col("id").as("id_a"), col("pos").as("pos_a"), col("h"))
    // candidate DIAGONALS per probe document — deliberately WITHOUT
    // the partner id (round-13 directive: the pre-round-13 extension
    // replicated a document's gram frame once per candidate
    // (id_b, diag) PAIR, so a template shared corpus-wide at the same
    // offset — one diagonal, thousands of partners — paid
    // |grams| × |partners| intermediate rows; keyed on the distinct
    // diagonal alone it pays |grams| × |diags|, and same-position
    // boilerplate has ONE diagonal). Dropping id_b is exact, not a
    // relaxation: the b-side join below recovers every matching
    // partner position, extra (pair, diag) chains it admits are
    // sub-threshold by the covering-anchor argument (any chain of
    // ≥ minRunLen tokens covers stride consecutive gram starts, so it
    // contains an anchor and its pair/diag was a candidate anyway —
    // cap-stable, since both sides of every join read the SAME capped
    // gram frame), and the id_a < id ordering predicate keeps
    // self-matches and reversed duplicates out. Parity with the
    // direct per-candidate extension is law-tested in Round13PropSpec
    // and all nine substring-family oracles are unchanged.
    val diags = anchors.join(full, col("h") === col("h_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), (col("pos_a") - col("pos_b")).as("diag"))
      .distinct()
    // recover ALL matching gram positions on each candidate diagonal:
    // two hash joins, the second keyed on (h, pos_b = pos_a − diag)
    val matched = diags
      .join(gc.select(col("id").as("id_a"), col("pos").as("pos_a"),
        col("h")), Seq("id_a"))
      .join(gc.select(col("id").as("__ib"), col("pos").as("__pb"),
          col("h").as("__hb")),
        col("h") === col("__hb") &&
          col("__pb") === col("pos_a") - col("diag") &&
          col("id_a") < col("__ib"))
      .select(col("id_a"), col("__ib").as("id_b"), col("diag"),
        col("pos_a"))
    chainRuns(matched, "id_a", "id_b", "pos_a", "pos_b", minRunLen, k)
  }

  /** The pre-round-13 extension — one gram-frame replication per
    * candidate (id_b, diag) pair — kept as the parity-law reference
    * and the baseline of PLANS.md round 13's grouped-vs-direct A/B
    * (the fan-out it pays on same-diagonal templates is what
    * [[substringCore]]'s grouped-diagonal shape removes). Not a
    * production path.
    */
  private[graft] def substringRunsDirect(df: DataFrame, idCol: String,
      toksCol: Column, minRunLen: Int, k: Int,
      maxGramFreq: Int = 0): DataFrame = {
    require(k >= 1 && minRunLen >= k,
      s"need 1 <= k <= minRunLen, got k=$k minRunLen=$minRunLen")
    val stride = minRunLen - k + 1
    val gc = capBuckets(substringGrams(df, idCol, toksCol, k),
      Seq("h"), maxGramFreq)
    val full = gc.select(col("id").as("id_b"), col("pos").as("pos_b"),
      col("h").as("h_b"))
    val anchors = gc
      .filter(pmod(col("pos"), lit(stride)) === lit(1 % stride))
      .select(col("id").as("id_a"), col("pos").as("pos_a"), col("h"))
    val diags = anchors.join(full,
        col("h") === col("h_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("diag"))
      .distinct()
    val matched = diags
      .join(gc.select(col("id").as("id_a"), col("pos").as("pos_a"),
        col("h")), Seq("id_a"))
      .join(gc.select(col("id").as("__ib"), col("pos").as("__pb"),
          col("h").as("__hb")),
        col("id_b") === col("__ib") && col("h") === col("__hb") &&
          col("__pb") === col("pos_a") - col("diag"))
      .select(col("id_a"), col("id_b"), col("diag"), col("pos_a"))
    chainRuns(matched, "id_a", "id_b", "pos_a", "pos_b", minRunLen, k)
  }

  /** Chain consecutive matched positions per (pair, diag) into maximal
    * runs ≥ minRunLen: sorted positions minus their rank are constant
    * within a run (no window — per-group array state bounded by
    * document length, the dedupSpans reassembly pattern). `matched` =
    * (aId, bId, diag, aPos); output (aId, bId, aPos, bPos, run_len).
    */
  private[ext] def chainRuns(matched: DataFrame, aId: String, bId: String,
      aPos: String, bPos: String, minRunLen: Int, k: Int): DataFrame =
    matched.groupBy(col(aId), col(bId), col("diag"))
      .agg(sort_array(collect_list(matched(aPos))).as("__ps"))
      .select(col(aId), col(bId), col("diag"),
        posexplode(col("__ps")).as(Seq("__idx", "__p")))
      .groupBy(col(aId), col(bId), col("diag"),
        (col("__p") - col("__idx")).as("__chain"))
      .agg(min(col("__p")).as("__start"), count(lit(1)).as("__glen"))
      .filter(col("__glen") + (k - 1) >= minRunLen)
      .select(col(aId), col(bId),
        col("__start").cast(LongType).as(aPos),
        (col("__start") - col("diag")).cast(LongType).as(bPos),
        (col("__glen") + (k - 1)).cast(LongType).as("run_len"))

  /** Pair-level rollup of [[substringRuns]]: (id_a, id_b, n_runs,
    * max_run, overlap_tokens) — the "how much of b is copied from a"
    * report a corpus audit consumes, one bounded row per overlapping
    * pair.
    */
  def sharedSubstringRuns(df: DataFrame, idCol: String, toksCol: Column,
      minRunLen: Int, k: Int, maxGramFreq: Int = 0): DataFrame =
    substringRuns(df, idCol, toksCol, minRunLen, k, maxGramFreq)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("max_run"),
        sum(col("run_len")).as("overlap_tokens"))

  /** Incremental substring dedup: maximal shared runs between a NEW
    * batch (pre-tokenized `(id, toks)`) and a standing CORPUS GRAM
    * INDEX (`(id, pos, h)` — [[substringGrams]], typically re-read from
    * a bucketed parquet artifact), never corpus × corpus.
    *
    * Unlike the self-join case, NO anchor sampling: the whole point of
    * sampling is to shrink a quadratic probe side, and here the probe
    * is the (small) batch — ONE equi-join of every batch gram against
    * the index on the 8-byte hash `h` alone is already linear in batch
    * size, recovers every matching diagonal position in the same pass
    * (candidate generation and extension collapse into one join), and
    * keys on exactly the index's bucketing column, so the corpus side
    * reads its buckets in place (asserted in BucketingSpec — a
    * composite-key extension join would instead re-shuffle the whole
    * index per batch). Hot grams fan out by their corpus frequency;
    * `maxGramFreq` caps them (the [[hotBuckets]] tradeoff). This is
    * the substring twin of [[nearDuplicatesAgainstIndex]]: at 100 TB
    * the corpus is gram-hashed once at index-build time, never per
    * batch.
    *
    * Output: one row per maximal run — (new_id, corpus_id, pos_new,
    * pos_corpus, run_len).
    */
  def substringRunsAgainst(newDf: DataFrame, corpusGrams: DataFrame,
      minRunLen: Int, k: Int, maxGramFreq: Int = 0): DataFrame =
    // no scoped cache: the batch gram frame feeds exactly one join
    substringAgainstCore(substringGrams(newDf, "id", col("toks"), k),
      corpusGrams, minRunLen, k, maxGramFreq)

  private def substringAgainstCore(gNew: DataFrame, gCorpus: DataFrame,
      minRunLen: Int, k: Int, maxGramFreq: Int): DataFrame = {
    require(k >= 1 && minRunLen >= k,
      s"need 1 <= k <= minRunLen, got k=$k minRunLen=$minRunLen")
    val corpusFull = capBuckets(
      gCorpus.select(col("id").as("corpus_id"), col("pos").as("pos_c"),
        col("h").as("h_c")),
      Seq("h_c"), maxGramFreq)
    // matched rows are unique per (pair, diag, pos_new) by construction:
    // a (new_id, pos_new) gram has one hash, and for a fixed pair and
    // diagonal the corpus position it can meet is pinned to pos_new−diag
    val matched = gNew
      .select(col("id").as("new_id"), col("pos").as("pos_new"), col("h"))
      .join(corpusFull, col("h") === col("h_c"))
      .select(col("new_id"), col("corpus_id"),
        (col("pos_new") - col("pos_c")).as("diag"), col("pos_new"))
    chainRuns(matched, "new_id", "corpus_id", "pos_new", "pos_corpus",
      minRunLen, k)
  }

  /** APPLY step of substring dedup (keep-first, the Lee et al. 2022
    * removal policy): strip from every document the token positions
    * covered by a detected run in which it is the LATER occurrence
    * (the `id_b` side of [[substringRuns]]' ordered pairs — the
    * smaller id keeps its copy), and reassemble the surviving tokens.
    * Documents stripped to zero tokens are dropped (the dedupSpans
    * convention: all-duplicate content disappears, not kept empty).
    *
    * Plan shape: run intervals aggregate per document (sorted array,
    * bounded by run count per doc), ONE equi-join back to the corpus
    * on the doc id, and coverage is O(tokens + intervals) per document
    * (round-12 directive #6): the sorted intervals PRE-MERGE into
    * disjoint blocks with one fold, then a single two-pointer fold
    * walks tokens and blocks together — the token position advances by
    * 1 per step and merged blocks are disjoint-sorted, so the block
    * cursor never needs to move more than one block per step (the next
    * block's end is ≥ the current position by disjointness), which is
    * exactly what a loop-free `aggregate` lambda can express. The old
    * per-token `exists` paid O(tokens × intervals) on heavily-templated
    * documents with thousands of detected runs. Output: (id, text,
    * n_kept, n_removed).
    */
  def stripSubstringRuns(df: DataFrame, idCol: String, toksCol: Column,
      runs: DataFrame): DataFrame = {
    val emptyIvs = array().cast("array<struct<s:long,e:long>>")
    // merge sorted intervals into disjoint blocks (adjacent ones too —
    // s = last.e + 1 covers the same positions as one block). Runs ON
    // THE RUNS-SIDE AGGREGATE, below the join: the token fold's lambda
    // then references a join-output ATTRIBUTE — CollapseProject cannot
    // substitute an expression across the join, so the merge is priced
    // once per document, never once per token (the per-element
    // re-evaluation trap, fourth sighting — caught by a thread dump
    // showing the merge fold NESTED inside the token fold).
    val mergeIvs = (ivs: Column) => aggregate(ivs, emptyIvs,
      (acc, i) => {
        val last = element_at(acc, -1)
        when(size(acc) === 0 || i.getField("s") > last.getField("e") + 1,
          concat(acc, array(i)))
          .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"),
              greatest(last.getField("e"), i.getField("e")).as("e")))))
      })
    val iv = runs.select(col("id_b").as("__sid"),
        struct(col("pos_b").as("s"),
          (col("pos_b") + col("run_len") - 1).as("e")).as("__iv"))
      .groupBy("__sid")
      .agg(sort_array(collect_list(col("__iv"))).as("__ivs0"))
      .select(col("__sid"), mergeIvs(col("__ivs0")).as("__m"))
    // two-pointer fold: state = (1-based block cursor, kept tokens);
    // try_element_at past the last block nulls out and the coalesced
    // comparisons read "not covered". The fold result goes through an
    // explode(array(...)) Generate BARRIER: the filter and all three
    // output columns then consume the __kept attribute, instead of the
    // filter pushdown + CollapseProject re-evaluating the whole fold
    // once per consumer (measured 4× on the old shape).
    val keptFold = aggregate(
      transform(col("__t"), (t, i) =>
        struct((i + 1).cast(LongType).as("p"), t.as("t"))),
      struct(lit(1).as("ci"),
        array().cast("array<string>").as("kept")),
      (acc, pt) => {
        val p = pt.getField("p")
        val ci = when(
          coalesce(p > try_element_at(col("__mm"), acc.getField("ci"))
            .getField("e"), lit(false)),
          acc.getField("ci") + 1).otherwise(acc.getField("ci"))
        val cur = try_element_at(col("__mm"), ci)
        val cov = coalesce(
          p >= cur.getField("s") && p <= cur.getField("e"),
          lit(false))
        struct(ci.as("ci"),
          when(cov, acc.getField("kept"))
            .otherwise(concat(acc.getField("kept"),
              array(pt.getField("t")))).as("kept"))
      }).getField("kept")
    df.select(col(idCol).as("id"), toksCol.as("__t"))
      .join(iv, col("id") === col("__sid"), "left")
      .select(col("id"), col("__t"),
        coalesce(col("__m"), emptyIvs).as("__mm"))
      .select(col("id"), size(col("__t")).as("__n"),
        explode(array(keptFold)).as("__kept"))
      .filter(size(col("__kept")) > 0)
      .select(col("id"),
        concat_ws(" ", col("__kept")).as("text"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        (col("__n") - size(col("__kept"))).cast(LongType)
          .as("n_removed"))
  }

  /** Pair-level rollup of [[substringRunsAgainst]]: (new_id, corpus_id,
    * n_runs, max_run, overlap_tokens).
    */
  def sharedSubstringRunsAgainst(newDf: DataFrame, corpusGrams: DataFrame,
      minRunLen: Int, k: Int, maxGramFreq: Int = 0): DataFrame =
    substringRunsAgainst(newDf, corpusGrams, minRunLen, k, maxGramFreq)
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("max_run"),
        sum(col("run_len")).as("overlap_tokens"))

  /** EXACT Jaccard-threshold similarity self-join via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo, Ma & Srikant, WWW'07;
    * Vernica, Carey & Li's MapReduce formulation, SIGMOD'10): every
    * pair of documents whose distinct-token Jaccard meets τ = tNum/tDen,
    * with NO LSH false negatives — the exact complement to
    * [[nearDuplicates]]' probabilistic candidates.
    *
    * Why it scales where the naive token self-join dies: under ANY
    * global token order, two sets with J ≥ τ MUST collide inside their
    * (|d| − ⌈τ·|d|⌉ + 1)-token prefixes (if all ≥ ⌈τ|d|⌉ shared tokens
    * sat in the suffix of length ⌈τ|d|⌉ − 1, that's a contradiction) —
    * so only PREFIX tokens are joined. Ordering tokens by ASCENDING
    * document frequency makes prefixes the RAREST tokens: the "the"-
    * sized hot keys that explode a naive join by Σ df(w)² land in every
    * document's suffix and never enter the join. The threshold is an
    * exact rational: prefix lengths, the symmetric size filter
    * (τ·|a| ≤ |b| ∧ τ·|b| ≤ |a|), and the final verdict
    * inter·tDen ≥ union·tNum are all integer arithmetic — no float
    * admits a borderline pair on one engine and not the other.
    *
    * Plan: one distinct-(id, token) explode; a token-df agg; one join
    * to order tokens; one prefix equi-join on token (candidates,
    * deduped); two id-keyed joins pulling the full sets back for exact
    * `array_intersect` verification. The token-set frame is scope-
    * cached (three consumers). Output: (id_a, id_b, inter, size_a,
    * size_b, jaccard) with id_a < id_b.
    */
  /** EXACT edit-distance similarity join (PassJoin-style segment
    * pigeonhole; Li/Deng/Feng, VLDB 2011 — public algorithm, original
    * implementation): all pairs with `levenshtein(a, b) <= d`, output
    * `(id_a, id_b, dist)` with `id_a < id_b`. The all-pairs DP a naive
    * join would do is O(n² · len²); this never compares two strings
    * that cannot share an untouched segment.
    *
    * Pigeonhole: split every indexed string of length `ls >= d+1`
    * into d+1 contiguous segments (deterministic even partition — the
    * LAST `ls mod (d+1)` segments get the extra char). An alignment
    * with at most d edits leaves at least one segment untouched, and
    * that segment appears VERBATIM in the partner at a start shifted
    * by at most d (the net indel balance before it). So: index side
    * emits (ls, j, segment), probe side emits, for each candidate
    * indexed length `ls in [max(d+1, lt-d), lt]` and segment slot j,
    * every substring of the probe with that segment's length starting
    * within ±d of the segment's home position — one equi-join on
    * `(ls, j, xxhash64(piece))` yields a candidate superset (probing
    * only `ls <= lt` plus id-ordering at `ls == lt` gives each pair
    * exactly once; hashing the piece keeps the shuffle narrow and can
    * only ADD candidates, never lose one). Strings SHORTER than d+1
    * chars can't feed the pigeonhole (fewer than d+1 non-empty
    * segments); any partner within distance d has length <= 2d, so the
    * short frame equi-joins on exact partner LENGTH instead — still
    * never a cartesian, though inherently dense if billions of
    * near-empty strings share a length (that's the problem, not the
    * plan). Candidates are verified with the codegen'd banded
    * `levenshtein(a, b, d)` (O(d·len) per pair, early-exit -1).
    *
    * Scale shape: explode volumes are (d+1)²·(2d+1) probe rows and
    * d+1 index rows per document — linear in corpus size for fixed d;
    * every join is an equi-join on bounded keys; the only quadratic
    * surface is genuinely-colliding segment buckets (true near-dups,
    * or pathological template corpora — the same lever as the gram
    * caps applies if one ever dominates).
    */
  // Shared even-partition arithmetic of the edit-distance family:
  // segment j of a length-ls string starts at p(j) (0-based), len(j);
  // the LAST (ls mod m) of the m segments carry the extra char.
  private def editSegLen(ls: Column, j: Column, m: Int): Column =
    call_function("div", ls, lit(m)) +
      when(j >= lit(m) - pmod(ls, lit(m)), lit(1L)).otherwise(lit(0L))
  private def editSegPos(ls: Column, j: Column, m: Int): Column =
    j * call_function("div", ls, lit(m)) +
      greatest(lit(0L), j - (lit(m) - pmod(ls, lit(m))))

  /** `(id, len, h)` segment-hash frame of a normalized
    * `(__id, __s, __l)` string frame: one row per segment slot of
    * every string with at least d+1 chars,
    * `h = xxhash64(len, slot, piece)` — folding length and slot into
    * the hash makes the candidate join a SINGLE-column equi-join
    * (collisions only add candidates; the levenshtein verify is the
    * exactness), which is also what lets the persisted index bucket
    * on `h` alone and serve exchange-free.
    */
  private[graft] def editSegmentFrame(b: DataFrame, d: Int): DataFrame = {
    val m = d + 1
    b.filter(col("__l") >= m)
      .select(col("__id").as("id"), col("__l").as("len"), col("__s"),
        explode(sequence(lit(0), lit(d))).as("j"))
      .select(col("id"), col("len"),
        xxhash64(col("len"), col("j"), col("__s").substr(
          (editSegPos(col("len"), col("j"), m) + 1).cast("int"),
          editSegLen(col("len"), col("j"), m).cast("int"))).as("h"))
  }

  /** Probe-hash frame `(id, len, h)`: for each string, every candidate
    * indexed length `ls in [max(d+1, len-d), len+upper]` × segment
    * slot × start position within ±d of the slot's home — `upper = 0`
    * when both roles ride the same frame (self-join: each pair probed
    * from its longer side), `upper = d` when probing an external
    * corpus (a corpus string may be LONGER than the probe). Window
    * bounds are provably non-empty for len ≥ max(1, m−upper).
    */
  private def editProbeFrame(b: DataFrame, d: Int,
      upper: Int): DataFrame = {
    val m = d + 1
    b.filter(col("__l") + upper >= m && col("__l") >= 1)
      .select(col("__id").as("id"), col("__l").as("len"), col("__s"),
        explode(sequence(greatest(lit(m), col("__l") - d),
          col("__l") + upper)).as("ls"))
      .select(col("id"), col("len"), col("ls"), col("__s"),
        explode(sequence(lit(0), lit(d))).as("jp"))
      .select(col("id"), col("len"), col("ls"), col("jp"), col("__s"),
        explode(sequence(
          greatest(lit(0L), editSegPos(col("ls"), col("jp"), m) - d),
          least(col("len") - editSegLen(col("ls"), col("jp"), m),
            editSegPos(col("ls"), col("jp"), m) + d))).as("st"))
      .select(col("id"), col("len"),
        xxhash64(col("ls"), col("jp"), col("__s").substr(
          (col("st") + 1).cast("int"),
          editSegLen(col("ls"), col("jp"), m).cast("int"))).as("h"))
  }

  /** Over-frequent segment filter — the template-corpus lever, same
    * convention as the gram caps (ONE semantics, stated loudly): when
    * `maxSegFreq > 0`, segment hashes carried by more than that many
    * strings are removed from candidate generation ENTIRELY, so a pair
    * is found iff it shares an untouched segment whose corpus
    * frequency is within the cap — a documented-recall SUBSET of the
    * exact answer (reported distances stay exact; the uncapped default
    * is the exact join). At 100 TB this is what stops a boilerplate
    * header shared by millions of documents from generating a
    * quadratic candidate set.
    */
  private def capSegs(segs: DataFrame, maxSegFreq: Long): DataFrame =
    if (maxSegFreq <= 0L) segs
    else {
      val hot = segs.groupBy(col("h")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxSegFreq).select(col("h"))
      segs.join(hot, Seq("h"), "left_anti")
    }

  def editDistancePairs(df: DataFrame, idCol: String, strCol: Column,
      d: Int, maxSegFreq: Long = 0L): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    val bRaw = df.select(col(idCol).as("__id"), strCol.as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__l", length(col("__s")))
    CacheScope.withCached(bRaw) { b =>
      val segs = capSegs(editSegmentFrame(b, d), maxSegFreq)
        .select(col("id").as("id_a"), col("len").as("la"), col("h"))
      val probes = editProbeFrame(b, d, upper = 0)
        .select(col("id").as("id_b"), col("len").as("lb"),
          col("h").as("hp"))
      val candLong = segs.join(probes,
          col("h") === col("hp") &&
            (col("la") < col("lb") || col("id_a") < col("id_b")))
        .select(col("id_a"), col("id_b"))

      // short strings (< d+1 chars): every partner within distance d
      // has length <= ls + d — equi-join on exact partner length
      val shorts = b.filter(col("__l") <= d)
        .select(col("__id").as("id_a"), col("__l").as("la"),
          explode(sequence(greatest(lit(0), col("__l") - d),
            col("__l") + d)).as("lbt"))
      val candShort = shorts.join(
          b.select(col("__id").as("id_b"), col("__l").as("lb")),
          shorts("lbt") === col("lb") &&
            (shorts("la") < col("lb") ||
              (shorts("la") === col("lb") &&
                shorts("id_a") < col("id_b"))))
        .select(col("id_a"), col("id_b"))

      candLong.unionByName(candShort)
        // hash collisions can only ADD candidates — including, in
        // principle, self/reversed pairs; canonicalize and verify
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
        .join(b.select(col("__id").as("id_a"), col("__s").as("__sa")),
          "id_a")
        .join(b.select(col("__id").as("id_b"), col("__s").as("__sb")),
          "id_b")
        .withColumn("dist",
          levenshtein(col("__sa"), col("__sb"), d).cast("long"))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist"))
    }
  }

  /** [[editDistancePairs]] against a STANDING corpus — the
    * incremental-ingest shape of the edit-distance family: the corpus'
    * segment hashes, strings, and length directory are persisted once
    * ([[graft.sources.IndexStore.Edit]]) and every
    * batch probes them in place. `corpusSegs` is the
    * [[editSegmentFrame]] output bucketed on `h` (the candidate
    * join's ONLY key, by the fold-length-and-slot-into-the-hash
    * design); `corpusStr` is `(id, s)` bucketed on `id` (the verify
    * fetch); `corpusByLen` is `(len, id)` bucketed on `len` — the
    * short-string directory: a corpus string under d+1 chars has no
    * segments, but all its partners have length ≤ 2d, so batch
    * strings that short equi-join the directory on exact length.
    * Probes enumerate indexed lengths UP TO len+d (a corpus string
    * may be longer than the batch string — the asymmetry the
    * self-join's longer-side-probes convention hides). Output:
    * (new_id, corpus_id, dist), dist ≤ d, exact.
    */
  def editDistanceAgainst(newDf: DataFrame, idCol: String,
      strCol: Column, corpusSegs: DataFrame, corpusStr: DataFrame,
      corpusByLen: DataFrame, d: Int,
      maxSegFreq: Long = 0L): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    CacheScope.withCached(normalizedStrFrame(newDf, idCol, strCol)) {
      b => editAgainstCore(b, capSegs(corpusSegs, maxSegFreq),
        corpusStr, corpusByLen, d)
    }
  }

  /** [[editDistanceAgainst]] WITHOUT the scoped-cache localCheckpoint —
    * the plan-assertion seam (the checkpoint collapses the returned
    * frame to a LogicalRDD, hiding the scans the contract is about).
    */
  private[graft] def editDistanceAgainstPlan(newDf: DataFrame,
      idCol: String, strCol: Column, corpusSegs: DataFrame,
      corpusStr: DataFrame, corpusByLen: DataFrame, d: Int): DataFrame =
    editAgainstCore(normalizedStrFrame(newDf, idCol, strCol),
      corpusSegs, corpusStr, corpusByLen, d)

  private def normalizedStrFrame(df: DataFrame, idCol: String,
      strCol: Column): DataFrame =
    df.select(col(idCol).as("__id"), strCol.as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__l", length(col("__s")))

  private def editAgainstCore(b: DataFrame, corpusSegs: DataFrame,
      corpusStr: DataFrame, corpusByLen: DataFrame, d: Int)
      : DataFrame = {
    val probes = editProbeFrame(b, d, upper = d)
      .select(col("id").as("new_id"), col("h").as("hp"))
    val candSeg = corpusSegs.join(probes,
        corpusSegs("h") === col("hp"))
      .select(col("new_id"), corpusSegs("id").as("corpus_id"))
    val candShort = b.filter(col("__l") <= 2 * d)
      .select(col("__id").as("new_id"),
        explode(sequence(greatest(lit(0), col("__l") - d), lit(d)))
          .as("cl"))
      .join(corpusByLen, col("cl") === corpusByLen("len"))
      .select(col("new_id"), corpusByLen("id").as("corpus_id"))
    candSeg.unionByName(candShort).distinct()
      .join(b.select(col("__id").as("new_id"), col("__s").as("__sn")),
        "new_id")
      .join(corpusStr.select(col("id").as("corpus_id"),
        col("s").as("__sc")), "corpus_id")
      .withColumn("dist",
        levenshtein(col("__sn"), col("__sc"), d).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("new_id"), col("corpus_id"), col("dist"))
  }

  def jaccardJoinExact(df: DataFrame, idCol: String, toksCol: Column,
      tNum: Long, tDen: Long): DataFrame = {
    require(tNum > 0 && tNum <= tDen,
      s"threshold must satisfy 0 < $tNum/$tDen <= 1")
    val setsRaw = df.select(col(idCol).as("__id"),
        array_distinct(toksCol).as("__ts"))
      .withColumn("__s", size(col("__ts")).cast("long"))
      .where(col("__s") >= 1)
    CacheScope.withCached(setsRaw) { sets =>
      val toks = sets.select(col("__id"), col("__s"),
        explode(col("__ts")).as("__w"))
      val dfreq = toks.groupBy("__w").agg(count(lit(1)).as("__df"))
      // per-doc tokens resorted rarest-first; ⌈τ·s⌉ in exact integers
      val pfx = toks.join(dfreq, "__w")
        .groupBy(col("__id"), col("__s"))
        .agg(sort_array(collect_list(struct(col("__df"), col("__w"))))
          .as("__arr"))
        .select(col("__id"), col("__s"),
          explode(slice(col("__arr"), lit(1),
            (col("__s") - call_function("div",
              lit(tNum) * col("__s") + lit(tDen - 1), lit(tDen))
              + 1).cast("int")))
            .as("__e"))
        .select(col("__id"), col("__s"), col("__e.__w").as("__w"))
      val cand = pfx.select(col("__id").as("id_a"), col("__s").as("sa"),
          col("__w"))
        .join(pfx.select(col("__id").as("id_b"), col("__s").as("sb"),
          col("__w")), "__w")
        .where(col("id_a") < col("id_b") &&
          col("sa") * tNum <= col("sb") * tDen &&
          col("sb") * tNum <= col("sa") * tDen)
        .select("id_a", "id_b", "sa", "sb").distinct()
      cand
        .join(sets.select(col("__id").as("id_a"), col("__ts").as("__ta")),
          "id_a")
        .join(sets.select(col("__id").as("id_b"), col("__ts").as("__tb")),
          "id_b")
        .withColumn("inter",
          size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
        .where(col("inter") * tDen >=
          (col("sa") + col("sb") - col("inter")) * tNum)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("sa").as("size_a"), col("sb").as("size_b"),
          (col("inter").cast("double") /
            (col("sa") + col("sb") - col("inter")).cast("double"))
            .as("jaccard"))
    }
  }
}
