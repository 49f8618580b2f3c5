package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK

/** Similarity search over embedding columns (SURVEY.md §7.6).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     The query side is broadcast (it is small by construction); the
  *     corpus streams, so cost is O(|corpus|·|queries|) with no shuffle
  *     of the corpus.
  *   - [[lshBuckets]] / [[lshCandidatePairs]]: random-hyperplane LSH —
  *     the 100 TB path. Sign-bit signatures bucket the corpus; only
  *     within-bucket pairs are compared. Hyperplanes are generated
  *     deterministically from hashes, so results are reproducible with
  *     no driver-side randomness.
  *
  * All dot products fold left-to-right over the array in doubles —
  * deterministic (same result every run, any partitioning).
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Unit-normalize each vector ONCE per row (`nvec` double array).
    * Array folds are interpreted (higher-order functions don't codegen),
    * so norms must never be recomputed inside a pair join: normalizing
    * up front makes every pairwise cosine a single O(d) dot fold —
    * at n·k candidate pairs that is the difference between O(n·k·d) and
    * O(n·k·d²)-ish work. Zero vectors are dropped (cosine undefined).
    *
    * Two traps shape the implementation (both measured at sf1):
    *   - the norm uses the NATIVE `dot_double` (tight primitive loop,
    *     same left-to-right fold order), not the interpreted HOF fold —
    *     this runs once per corpus row in every index/search build;
    *   - the division puts `nrm` inside `array_repeat` (evaluated once
    *     per ROW) instead of referencing it from a `transform` lambda:
    *     CollapseProject substitutes aliases into lambda bodies, and a
    *     lambda-body reference is re-evaluated once per ELEMENT — the
    *     O(d) norm would silently become O(d²) per row.
    */
  def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nrm", sqrt(dotN(col("vec"), col("vec"))))
      .filter(col("nrm") > 0)
      .select(col("id"),
        zip_with(col("vec"),
          array_repeat(col("nrm"), size(col("vec"))),
          (x, n) => x / n).as("nvec"))

  /** Dot of two pre-normalized double arrays = cosine. Native codegen'd
    * expression (graft.functions.DotProduct) — the HOF fold
    * `aggregate(zip_with(...))` is interpreted and this is the inner
    * loop of every pair-scoring stage. Identical left-to-right
    * summation order, so results are unchanged.
    */
  def dotN(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** Rank a scored (query_id, neighbor_id, sim) frame down to the top
    * `k` per query via the native [[BoundedTopK]] aggregate — NOT a
    * `Window.partitionBy(query_id)` + `row_number`, which would route
    * every scored corpus row for one query to a single reducer and
    * sort it there (at 100 TB corpus × 5 queries: 5 reducers each
    * sorting the whole corpus). The aggregate keeps k entries per
    * map-side partial and k-merges them in the final hash aggregation —
    * O(k) memory per task, no global per-query sort. The order (sim
    * desc, neighbor_id asc) is total, so the output is identical to the
    * window formulation.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(BoundedTopK.topk(col("sim"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact top-k neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank), rank 1..k by cosine
    * descending, neighbor id ascending on ties. Self-matches excluded.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("nvec").as("qvec"))
    val c = normalized(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("nvec").as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotN(col("qvec"), col("cvec")).as("sim"))
    rankTopK(scored, k)
  }

  // ------------------------------------------------------------ quantization
  /** Symmetric per-vector int8 scalar quantization of a pre-normalized
    * double array: scale = max|x|/127, q_i = floor(x_i/scale + 0.5)
    * (floor(+0.5), not round() — identical half-up semantics in every
    * engine). Returns struct(scale double, q array<double>) with q's
    * values integral in [-127, 127]; a production sink packs q to one
    * byte per dim (4× smaller than float32, 8× than double — at 100 TB
    * the difference between an index that fits executor memory and one
    * that spills). The quantized dot is a sum of exact small-integer
    * products — bit-deterministic under any partitioning or fold order.
    * Requires max|x| > 0 (normalized vectors satisfy this).
    *
    * The scale divisor rides in an `array_repeat` column rather than a
    * lambda-body reference — CollapseProject substitutes aliases into
    * lambda bodies, and a per-ELEMENT re-evaluation would turn the O(d)
    * max into O(d²) per row (same trap as [[normalized]]).
    */
  def quantizeInt8(nvec: Column): Column = {
    val scale = array_max(transform(nvec, x => abs(x))) / lit(127.0)
    struct(scale.as("scale"),
      zip_with(nvec, array_repeat(scale, size(nvec)),
        (x, s) => floor(x / s + lit(0.5)).cast("double")).as("q"))
  }

  /** Exact top-k neighbors over the int8-quantized corpus — the recall
    * twin of [[bruteForceTopK]] for measuring what quantization costs.
    * sim = (Σ q_a·q_b)·scale_a·scale_b ≈ cosine; the integer dot reuses
    * the native codegen'd double loop (every partial sum is an exact
    * integer ≤ 127²·d, representable in a double), so ranking ties are
    * engine-stable and the whole query is oracle-checkable.
    */
  /** Reciprocal-rank fusion of two ranked runs (Cormack, Clarke &
    * Büttcher, SIGIR 2009) — the standard hybrid-retrieval merge
    * (sparse BM25 leg + dense ANN leg, or two ANN configurations):
    * each run contributes 1/(kConst + rank) per (query, doc), fused
    * score = the sum, re-ranked per query. Rank fusion needs no score
    * calibration between the legs — only ranks — which is why it is
    * the production default for heterogeneous retrievers.
    *
    * Determinism: each contribution is ONE correctly-rounded division
    * of exact small integers, and the fused score adds the two legs in
    * fixed (a, b) order — bit-identical on any engine; ranking rides
    * `bounded_top_k` ((score desc, doc_id asc) — no window, O(topN)
    * map-side state). A doc absent from one leg contributes 0 from it
    * (full outer join), exactly the RRF paper's convention.
    *
    * Scale: both runs are ≤ k rows per query by the top-k contract, so
    * the join and the re-rank are eval-sized regardless of corpus
    * size. Output: (query_id, doc_id, rrf_score, rank), score rounded
    * to 12.
    */
  def rrfFuse(runA: DataFrame, runB: DataFrame, topN: Int,
      kConst: Long = 60L): DataFrame = {
    require(topN >= 1 && kConst >= 1, s"bad topN $topN / kConst $kConst")
    def leg(df: DataFrame, as: String) =
      df.select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as(as))
    val fused = leg(runA, "__ra")
      .join(leg(runB, "__rb"), Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (col("__ra") + kConst), lit(0.0)) +
          coalesce(lit(1.0) / (col("__rb") + kConst), lit(0.0)))
          .as("__s"))
    fused.groupBy("query_id")
      .agg(BoundedTopK.topk(col("__s"), col("doc_id"), topN).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__p", "__e")))
      .select(col("query_id"), col("__e.id").as("doc_id"),
        round(col("__e.score"), 12).as("rrf_score"),
        (col("__p") + 1).cast("long").as("rank"))
  }

  /** The int8 corpus index frame: (id, q, scale) with q integral in
    * [-127, 127] — the persistable artifact ([[graft.sources
    * .IndexStore.Int8]]): integral doubles and the scale
    * round-trip parquet bit-identically, so a query served from the
    * re-read artifact is hash-equal to the in-memory path.
    */
  def int8Index(df: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    normalized(df, idCol, vecCol)
      .select(col("id"), quantizeInt8(col("nvec")).as("qz"))
      .select(col("id"), col("qz.q").as("q"), col("qz.scale").as("scale"))

  def quantizedTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    quantizedTopKFromIndex(queries,
      int8Index(corpus, idCol, vecCol), k, idCol, vecCol)

  /** [[quantizedTopK]] served from a PREBUILT (id, q, scale) corpus
    * index (typically re-read from parquet): only the small query set
    * is normalized and quantized here; the corpus side is a plain
    * columnar scan of one byte-packable array + one double per vector.
    */
  def quantizedTopKFromIndex(
      queries: DataFrame, corpusIdx: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), quantizeInt8(col("nvec")).as("qz"))
      .select(col("query_id"), col("qz.q").as("qq"), col("qz.scale").as("qs"))
    val c = corpusIdx.select(col("id").as("neighbor_id"),
      col("q").as("cq"), col("scale").as("cs"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotN(col("qq"), col("cq")) * col("qs") * col("cs")).as("sim"))
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane components: portable hash of
    * (plane index, dimension index) mapped into [-0.5, 0.5), derived
    * from [[Dedup.hash48Value]] ONCE at plan-build time and embedded as
    * a constant-folded literal matrix — zero per-row hashing (the md5
    * variant cost ~0.5 ms/row interpreted at 64 dims × 8 planes).
    * Components are rationals with denominator 10^4, so any engine
    * evaluating the same literals gets bit-identical dot products.
    */
  val MaxPlanes = 16
  val MaxDims = 256
  val planeMatrix: IndexedSeq[IndexedSeq[Double]] =
    (0 until MaxPlanes).map { p =>
      (0 until MaxDims).map { i =>
        (Dedup.hash48Value(s"graft_plane_${p}_$i") % 10000L).toDouble /
          10000.0 - 0.5
      }
    }
  private val planeLit: IndexedSeq[Column] =
    planeMatrix.map(row => array(row.map(lit): _*))

  /** Sign-bit LSH bucket id from `nPlanes` hyperplanes (≤ 63). Vectors
    * longer than [[MaxDims]] are truncated against the constant plane
    * (dot over the shorter length). Each plane dot is the native
    * `dot_double` against the constant-folded literal plane array —
    * identical left-to-right fold order as the HOF formulation it
    * replaced (same bucket ids), but a codegen-able primitive loop
    * instead of an interpreted per-element lambda chain.
    */
  def lshBucket(vec: Column, nPlanes: Int = 12): Column =
    lshBucketAt(vec, nPlanes, 0)

  /** [[lshBucket]] over the plane rows [offset, offset + nPlanes) —
    * disjoint offsets give INDEPENDENT hash tables from the same
    * constant-folded matrix (the multi-table recall lever).
    */
  def lshBucketAt(vec: Column, nPlanes: Int, offset: Int): Column = {
    require(nPlanes > 0 && offset >= 0 && offset + nPlanes <= MaxPlanes,
      s"plane range [$offset, ${offset + nPlanes}) outside 0..$MaxPlanes")
    (0 until nPlanes).map { p =>
      val d = dotN(vec, planeLit(offset + p))
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Default per-(table,)bucket size cap for the kNN-graph joins —
    * ON by default (round-4 PLANS recorded a degenerate hub bucket's
    * n² dominating sf1 wall time; an uncapped default is a scale
    * hazard). Cost bound: every bucket contributes ≤ cap² candidate
    * scores. Recall bound: pruning only fires on a bucket holding
    * > cap vectors that agree on EVERY sign bit — i.e. a pathological
    * near-identical hub, which is near-duplicate territory (dedup's
    * job, not ANN's); all other buckets are untouched, so their
    * queries rank identically to the uncapped run. Multi-table runs
    * can still recover hub members through their other tables'
    * buckets. The in-degree/hubness report is the companion
    * diagnostic: capped-away hubs surface there as vectors with zero
    * in-degree (asserted in ExtSpec). Pass `maxBucketSize = 0`
    * explicitly for the uncapped behavior.
    */
  val DefaultBucketCap: Int = 4096

  /** Corpus bucketed by LSH signature — the index build. */
  def lshBuckets(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nPlanes: Int = 12): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lshBucket(col(vecCol), nPlanes).as("bucket"))

  /** Within-bucket near-duplicate pairs above a cosine threshold.
    * Shuffles on the bucket id only; exact cosine runs per candidate.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nPlanes: Int = 12,
      threshold: Double = 0.9): DataFrame =
    // cache (scoped): the normalize+bucket projection is interpreted
    // (HOF) work and both sides of the self-join scan it; CacheScope
    // releases it before returning (no session-lifetime leak)
    CacheScope.withCached(
      normalized(df, idCol, vecCol)
        .withColumn("bucket", lshBucket(col("nvec"), nPlanes))) { b =>
      // disjoint names → guaranteed equi join on bucket (see Dedup note)
      val left = b.select(col("id").as("id_a"), col("nvec").as("nvec_a"),
        col("bucket"))
      val right = b.select(col("id").as("id_b"), col("nvec").as("nvec_b"),
        col("bucket").as("bucket_b"))
      left.join(right, col("bucket") === col("bucket_b") &&
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          dotN(col("nvec_a"), col("nvec_b")).as("sim"))
        .filter(col("sim") >= threshold)
    }

  /** kNN-graph construction at scale: every vector's top-k cosine
    * neighbors among its LSH bucket-mates — the ANN-graph primitive
    * behind dedup canonicalization, graph clustering, and
    * nearest-neighbor features. Cost is Σ per-bucket n² candidate
    * scores (never |corpus|²), shuffled on the bucket id only; ranking
    * is the bounded top-k aggregate (O(k) state per query, no windows).
    * Vectors alone in their bucket produce no rows — the standard LSH
    * recall tradeoff; raise recall with fewer planes (bigger buckets)
    * or a second salted plane set unioned in.
    * Output: (query_id, neighbor_id, rank).
    */
  def knnJoinLsh(df: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", nPlanes: Int = 8,
      maxBucketSize: Int = DefaultBucketCap): DataFrame =
    CacheScope.withCached(
      normalized(df, idCol, vecCol)
        .withColumn("bucket", lshBucket(col("nvec"), nPlanes))) { b =>
      val pruned = Dedup.capBuckets(b, Seq("bucket"), maxBucketSize)
      val left = pruned.select(col("id").as("query_id"),
        col("nvec").as("nvec_a"), col("bucket"))
      val right = pruned.select(col("id").as("neighbor_id"),
        col("nvec").as("nvec_b"), col("bucket").as("bucket_b"))
      val scored = left.join(right, col("bucket") === col("bucket_b") &&
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          dotN(col("nvec_a"), col("nvec_b")).as("sim"))
      rankTopK(scored, k)
    }


  /** Multi-table [[knnJoinLsh]]: `nTables` independent sign-bit plane
    * sets over the same normalized scan; candidates are the UNION of
    * per-table bucket-mates, deduplicated before ranking. The standard
    * LSH recall lever — a true neighbor is missed only if EVERY table
    * splits the pair, so miss probability decays exponentially in
    * `nTables` while cost grows linearly (one (table, bucket) equi-join
    * key per table, still never corpus²). Pairs found by several tables
    * are scored per table (an O(d) dot each) and collapsed by
    * `distinct` on the scored triple — cheaper at scale than
    * deduplicating on the carried vector arrays before scoring.
    */
  def knnJoinLshMulti(df: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", nPlanes: Int = 8,
      nTables: Int = 2,
      maxBucketSize: Int = DefaultBucketCap): DataFrame = {
    require(nTables >= 1 && nTables * nPlanes <= MaxPlanes,
      s"$nTables tables × $nPlanes planes exceeds $MaxPlanes")
    CacheScope.withCached(normalized(df, idCol, vecCol)) { nv =>
      val assigned = Dedup.capBuckets(
        (0 until nTables).map { t =>
          nv.select(col("id"), col("nvec"), lit(t).as("tbl"),
            lshBucketAt(col("nvec"), nPlanes, t * nPlanes).as("bucket"))
        }.reduce(_ unionByName _),
        Seq("tbl", "bucket"), maxBucketSize)
      val left = assigned.select(col("id").as("query_id"),
        col("nvec").as("nvec_a"), col("tbl"), col("bucket"))
      val right = assigned.select(col("id").as("neighbor_id"),
        col("nvec").as("nvec_b"), col("tbl").as("tbl_b"),
        col("bucket").as("bucket_b"))
      val scored = left.join(right,
          col("tbl") === col("tbl_b") &&
            col("bucket") === col("bucket_b") &&
            col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          dotN(col("nvec_a"), col("nvec_b")).as("sim"))
        .distinct()
      rankTopK(scored, k)
    }
  }

  /** Multi-probe [[knnJoinLsh]]: each query probes its own bucket PLUS
    * the `nPlanes` buckets at Hamming distance 1 (each sign bit
    * flipped) — recovering near-miss neighbors that one hyperplane
    * split separated, WITHOUT building more hash tables. The fan-out
    * multiplies only the probe-side keys ((nPlanes+1) rows per query);
    * the index side stays one row per vector — versus multi-table's T
    * full index copies, the classic probe-vs-memory tradeoff. Each
    * neighbor lives in exactly one bucket and probe buckets are
    * distinct, so a candidate pair arises at most once — no dedup
    * stage. Shuffle keys are still (probe, bucket) only.
    */
  def knnJoinLshMultiProbe(df: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 8,
      maxBucketSize: Int = DefaultBucketCap): DataFrame =
    CacheScope.withCached(
      normalized(df, idCol, vecCol)
        .withColumn("bucket", lshBucket(col("nvec"), nPlanes))) { b =>
      val pruned = Dedup.capBuckets(b, Seq("bucket"), maxBucketSize)
      val probes = pruned.select(col("id").as("query_id"),
        col("nvec").as("nvec_a"),
        explode(array((0 to nPlanes).map { i =>
          if (i == 0) col("bucket")
          else col("bucket").bitwiseXOR(lit(1L << (i - 1)))
        }: _*)).as("probe"))
      val right = pruned.select(col("id").as("neighbor_id"),
        col("nvec").as("nvec_b"), col("bucket").as("bucket_b"))
      val scored = probes.join(right,
          col("probe") === col("bucket_b") &&
            col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          dotN(col("nvec_a"), col("nvec_b")).as("sim"))
      rankTopK(scored, k)
    }

  // ------------------------------------------------------- dim reduction
  /** Sign row j of the projection matrix: ±1/√outDims by the parity of
    * the portable hash of (salt, j, i). Exposed so oracle SQL embeds the
    * SAME doubles the engine multiplies by.
    */
  def projectionSigns(inDims: Int, j: Int, scale: Double,
      salt: String = "rp"): Seq[Double] =
    (0 until inDims).map(i =>
      if (Dedup.hash48Value(s"${salt}_${j}_${i}") % 2 == 0) scale else -scale)

  /** Deterministic random projection (the dense ±1 Achlioptas/JL
    * family): out_j = Σ_i vec_i · s_ij with s_ij = ±1/√outDims chosen by
    * hash parity — no driver-side randomness, no fitted model, no
    * shuffle. Each output dim is one native O(d) dot against a LITERAL
    * sign array (constant-folded, codegen'd), so the whole projection is
    * a narrow per-row map: the embedding-compression pass for a 100 TB
    * vector column runs at scan speed and reruns bit-identically on any
    * engine (the sign constants are [[projectionSigns]], embeddable in
    * SQL). Rows whose vector length differs from `inDims` are dropped
    * (a projection against a mismatched sign row would be silently
    * wrong). JL distance preservation holds for outDims = O(log n / ε²).
    *
    * Output: (id, pvec array<double> of outDims).
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int, salt: String = "rp"): DataFrame = {
    require(inDims > 0 && outDims > 0, "dims must be positive")
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val projCols = (0 until outDims).map { j =>
      dotN(col("vec"), typedLit(projectionSigns(inDims, j, scale, salt)))
    }
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(size(col("vec")) === inDims)
      .select(col("id"), array(projCols: _*).as("pvec"))
  }

  // ------------------------------------------------- product quantization
  /** Driver-side PQ model: per-subspace codebooks fitted on the same
    * deterministic md5-ordered sample as [[kmeansCentroids]].
    * `codebooks(j)(c)` is the ds-dim centroid of code c in subspace j;
    * `biases(j)(c) = -||c||²/2`, so nearest-by-L2 assignment and ADC
    * scoring both reduce to argmax of (x_j · c + bias) — dot folds
    * against literals, the only arithmetic the engine (and the oracle)
    * ever runs.
    */
  final case class PqModel(
      m: Int, ks: Int, ds: Int,
      codebooks: Array[Array[Array[Double]]],
      biases: Array[Array[Double]])

  /** Fit PQ codebooks: Lloyd per subspace over the bounded deterministic
    * sample (collected once — sampleN·dims doubles of driver state).
    * Deterministic end to end: md5-ordered sample, fixed iterations,
    * argmin ties to the smaller code, empty cells keep their previous
    * centroid — two fits are bitwise identical, so oracle SQL can embed
    * the codebooks as literals.
    */
  def pqFit(corpus: DataFrame, m: Int = 8, ks: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleN: Int = 256, iters: Int = 5): PqModel = {
    val sample: Array[Array[Double]] =
      normalized(corpus, idCol, vecCol)
        .orderBy(md5(col("id").cast("string")), col("id"))
        .limit(sampleN)
        .select(col("nvec")).collect()
        .map(_.getSeq[Double](0).toArray)
    require(sample.length >= ks, s"need at least $ks sample vectors")
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m subspaces")
    val ds = dims / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * ds,
        (j + 1) * ds))
      var cents: Array[Array[Double]] = sub.take(ks).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ks)(new Array[Double](ds))
        val counts = new Array[Int](ks)
        sub.foreach { s =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ks) {
            var d2 = 0.0; var i = 0
            while (i < ds) {
              val diff = s(i) - cents(c)(i); d2 += diff * diff; i += 1
            }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          var i = 0
          while (i < ds) { sums(best)(i) += s(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      cents
    }
    val biases = codebooks.map(_.map(c => -c.map(x => x * x).sum / 2.0))
    PqModel(m, ks, ds, codebooks, biases)
  }

  /** PQ-encode the corpus: each vector → `m` small codes (argmax of the
    * per-subspace centroid score — min-L2 via the bias trick, ties to
    * the smaller code). ONE narrow projection over the scan: m·ks
    * native dots against literal centroids per row, no shuffle, no
    * fitted state on executors beyond plan literals. Output
    * (id, codes array<int>) — m bytes-ish per vector instead of 4·dims:
    * at 100 TB of float32 embeddings this is the difference between an
    * index that fits executor memory and one that spills (ks=256 packs
    * to exactly m bytes; ks=16 to m/2).
    */
  /** The m-code PQ encoding of an `nvec` column — factored so encode
    * passes can ride along other projections (e.g. the IVF assignment)
    * without a second normalize/scan.
    */
  private def pqCodes(model: PqModel): Column =
    array((0 until model.m).map { j =>
      val sub = slice(col("nvec"), j * model.ds + 1, model.ds)
      val scores = array((0 until model.ks).map { c =>
        dotN(sub, typedLit(model.codebooks(j)(c).toSeq)) +
          lit(model.biases(j)(c))
      }: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }: _*)

  def pqEncode(df: DataFrame, model: PqModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    normalized(df, idCol, vecCol)
      .select(col("id"), pqCodes(model).as("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * full-precision, per-subspace lookup tables are computed ONCE per
    * query on the driver (m·ks doubles — queries are small by the same
    * contract as [[bruteForceTopK]]), and each corpus row scores as m
    * table lookups summed in subspace order — no floating work against
    * the corpus beyond the fold. The scored stream ranks through the
    * bounded-top-k aggregate (no window). Compression error makes this
    * approximate; recall is asserted in tests, exactness by the oracle
    * re-deriving the same tables from the same literal codebooks.
    */
  /** Driver-computed per-query ADC lookup tables: (query_id, tables)
    * with tables(j)(c) = q_j · codebook(j)(c) + bias — m·ks doubles per
    * query, folded in the same left-to-right order the oracle's SQL
    * uses. Queries are small by the [[bruteForceTopK]] contract.
    */
  private def adcTables(queries: DataFrame, model: PqModel,
      idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    normalized(queries, idCol, vecCol).collect().toSeq.map { r =>
      val id = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      val tables = (0 until model.m).map { j =>
        (0 until model.ks).map { c =>
          var s = 0.0; var i = 0
          while (i < model.ds) {
            s += q(j * model.ds + i) * model.codebooks(j)(c)(i); i += 1
          }
          s + model.biases(j)(c)
        }
      }
      (id, tables)
    }.toDF("query_id", "tables")
  }

  /** ADC score of a `codes` row against a `tables` row: m lookups
    * summed in subspace order (zip_with preserves it; aggregate folds
    * left-to-right).
    */
  private def adcSim: Column =
    aggregate(
      zip_with(col("codes"), col("tables"),
        (c, t) => element_at(t, c + 1)),
      lit(0.0), (acc, v) => acc + v)

  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      model: PqModel, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqTopKFromCodes(queries, pqEncode(corpus, model, idCol, vecCol), k,
      model, idCol, vecCol)

  /** [[pqTopK]] served from PREBUILT (id, codes) corpus codes and a
    * (re-read) model — the persisted-index path
    * ([[graft.sources.IndexStore.Pq]]): the corpus is never
    * re-encoded per query batch; per-query ADC tables derive from the
    * model's codebook doubles, which round-trip parquet bit-
    * identically, so the served ranking is hash-equal to in-memory.
    */
  def pqTopKFromCodes(queries: DataFrame, codes: DataFrame, k: Int,
      model: PqModel, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qDf = adcTables(queries, model, idCol, vecCol)
    val scored = codes.crossJoin(broadcast(qDf))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        adcSim.as("sim"))
    rankTopK(scored, k)
  }

  /** IVF-PQ — the composed 100 TB ANN architecture: the corpus is
    * routed into `centroids`' inverted lists AND PQ-encoded in ONE pass
    * over the normalized scan (index state per vector: a list id plus m
    * codes — the index that stays in executor memory when float vectors
    * cannot); queries probe their top-`nProbe` lists (bounded-top-k
    * argmax, no window) and ADC-score ONLY those lists' codes via an
    * equi join on the list id. Work per query is
    * (nProbe/nLists)·|corpus| table lookups; nothing ever scans the
    * full corpus per query. Codes are quantized from the raw normalized
    * vectors (not residuals — a documented simplification that keeps
    * ADC scores identical to [[pqTopK]]'s, probe restriction being the
    * only difference).
    */
  /** The IVF-PQ corpus state built in ONE normalized pass:
    * (id, list_id, codes) — a list id plus m codes per vector, the
    * frame [[ivfPqTopK]] searches and [[graft.sources.IndexStore
    * .IvfPq]] persists.
    */
  def ivfPqIndex(corpus: DataFrame, model: PqModel,
      centroids: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    CacheScope.withCached(normalized(corpus, idCol, vecCol)) { v =>
      assignToLists(v, centroids)
        .select(col("id"), col("list_id"), pqCodes(model).as("codes"))
    }

  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      model: PqModel, centroids: DataFrame, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqTopKFromIndex(queries,
      ivfPqIndex(corpus, model, centroids, idCol, vecCol),
      centroids, model, k, nProbe, idCol, vecCol)

  /** [[ivfPqTopK]] served from a PREBUILT (id, list_id, codes) frame
    * and its (re-read) centroids + model — the fully-persisted ANN
    * serving path: probe routing against the centroid artifact, ADC
    * scoring against the code artifact, nothing recomputed from the
    * float corpus.
    */
  def ivfPqTopKFromIndex(queries: DataFrame, enc: DataFrame,
      centroids: DataFrame, model: PqModel, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("nvec").as("qvec"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("list_id"),
        dotN(col("qvec"), col("cvec")).as("cd"))
      .groupBy(col("query_id"))
      .agg(BoundedTopK.topk(col("cd"), col("list_id"), nProbe).as("pl"))
      .select(col("query_id"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("p.id").as("list_id"))
    val qDf = adcTables(queries, model, idCol, vecCol)
    val scored = enc
      .join(broadcast(probes.join(qDf, "query_id")), Seq("list_id"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        adcSim.as("sim"))
    rankTopK(scored, k)
  }

  // ------------------------------------------------------------------ IVF
  /** Deterministic trivial quantizer: the `nLists` corpus vectors with
    * the smallest ids as centroids — the fully oracle-checkable path
    * (any SQL engine reproduces the pick). [[kmeansCentroids]] is the
    * quality quantizer for real (clustered) data.
    */
  def firstIdCentroids(corpus: DataFrame, nLists: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    normalized(corpus, idCol, vecCol)
      .orderBy(col("id")).limit(nLists)
      .select(col("id").as("list_id"), col("nvec").as("cvec"))

  /** Sampled k-means centroids (Lloyd on a bounded deterministic
    * sample): the `sampleN` vectors with the smallest md5(id) — a
    * seeded, partition-independent pseudo-random sample pulled with
    * `TakeOrderedAndProject` (per-partition top-N, then merge: no global
    * sort) — are collected to the driver (bounded: `sampleN`·dims
    * doubles) and iterated there. First-N-ids centroids put all lists
    * in one corner of id space: on clustered data that means wildly
    * unbalanced lists, i.e. skew exactly where the probe join shuffles.
    * K-means spreads centroids over the data's actual density, bounding
    * list imbalance (asserted in ExtSpec).
    *
    * Deterministic end to end: hash-ordered sample, fixed iteration
    * count, argmax ties to the smaller list id, empty clusters keep
    * their previous centroid. `list_id` is 0..nLists-1.
    */
  def kmeansCentroids(corpus: DataFrame, nLists: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleN: Int = 1024, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Array[Double]] =
      normalized(corpus, idCol, vecCol)
        .orderBy(md5(col("id").cast("string")), col("id"))
        .limit(sampleN)
        .select(col("nvec")).collect()
        .map(_.getSeq[Double](0).toArray)
    require(sample.length >= nLists,
      s"need at least $nLists sample vectors, got ${sample.length}")
    val dims = sample.head.length
    var cents: Array[Array[Double]] = sample.take(nLists).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nLists)(new Array[Double](dims))
      val counts = new Array[Int](nLists)
      sample.foreach { s =>
        var best = 0; var bestD = Double.NegativeInfinity
        var j = 0
        while (j < nLists) {
          var d = 0.0; var i = 0
          while (i < dims) { d += s(i) * cents(j)(i); i += 1 }
          if (d > bestD) { bestD = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += s(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (counts(j) == 0) old
        else {
          val m = sums(j).map(_ / counts(j))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          if (nrm > 0) m.map(_ / nrm) else old
        }
      }
      it += 1
    }
    cents.zipWithIndex
      .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq
      .toDF("list_id", "cvec")
  }

  /** Full-corpus distributed Lloyd iteration — the 100 TB refinement of
    * [[kmeansCentroids]]. The sample fit bootstraps (its centroids seed
    * the loop), then each iteration runs over ALL data:
    *
    *   - assignment: broadcast the current `nLists` centroids and argmax
    *     the dot per vector ([[assignToLists]] — a map-side-combinable
    *     hash aggregate, no window sort);
    *   - update: `posexplode` the assigned vectors and sum per
    *     (list_id, dim). The shuffle after map-side partials carries at
    *     most nLists·dims rows per task — independent of corpus size —
    *     and the collected update is nLists·dims cells (bounded driver
    *     state, e.g. 4096 lists × 1024 dims ≈ 32 MB).
    *
    * Determinism is load-bearing (the harness oracle re-fits and embeds
    * the centroids as SQL literals, so two fits must agree bitwise):
    * double summation is NOT associative, and a distributed `sum(double)`
    * varies with partial-aggregation order. The per-dimension sums are
    * therefore accumulated as decimal(30,18) — exact, order-independent
    * arithmetic (the same trick as the dedup cluster propagation's
    * label-sum convergence check) — and only divided/normalized on the
    * driver in a fixed dimension order. Empty lists keep their previous
    * centroid; argmax ties go to the smaller list id.
    *
    * Returns (list_id, cvec) with unit-norm double centroids, suitable
    * for [[ivfIndexWith]] / [[ivfTopKWith]].
    */
  def kmeansFitFull(corpus: DataFrame, nLists: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      iters: Int = 3, sampleN: Int = 256, sampleIters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents: Array[Array[Double]] =
      kmeansCentroids(corpus, nLists, idCol, vecCol, sampleN, sampleIters)
        .collect().sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
    val dims = cents.head.length
    CacheScope.withCached(normalized(corpus, idCol, vecCol)) { v =>
      var it = 0
      while (it < iters) {
        val centsDf = cents.zipWithIndex
          .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq
          .toDF("list_id", "cvec")
        val update = assignToLists(v, centsDf)
          .select(col("list_id"),
            posexplode(col("nvec")).as(Seq("pos", "x")))
          .groupBy(col("list_id"), col("pos"))
          .agg(sum(col("x").cast("decimal(30,18)")).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val sums = Array.fill(nLists)(new Array[java.math.BigDecimal](dims))
        val counts = new Array[Long](nLists)
        update.foreach { r =>
          val j = r.getLong(0).toInt
          sums(j)(r.getInt(1)) = r.getDecimal(2)
          counts(j) = r.getLong(3)
        }
        cents = cents.zipWithIndex.map { case (old, j) =>
          if (counts(j) == 0L) old
          else {
            val n = new java.math.BigDecimal(counts(j))
            val m = sums(j).map(s =>
              s.divide(n, java.math.MathContext.DECIMAL128).doubleValue())
            val nrm = math.sqrt(m.map(x => x * x).sum)
            if (nrm > 0) m.map(_ / nrm) else old
          }
        }
        it += 1
      }
      cents.zipWithIndex
        .map { case (c, j) => (j.toLong, c.toSeq) }.toSeq
        .toDF("list_id", "cvec")
    }
  }

  /** Nearest-centroid assignment: argmax centroid dot per vector, via
    * the bounded-top-k aggregate with k=1 (hash aggregation with
    * map-side partials — not a per-id window sort). Ties go to the
    * smaller list id, matching the window formulation it replaced.
    */
  private def assignToLists(v: DataFrame, centroids: DataFrame): DataFrame =
    v.crossJoin(broadcast(centroids))
      .select(col("id"), col("nvec"), col("list_id"),
        dotN(col("nvec"), col("cvec")).as("cd"))
      .groupBy(col("id"))
      .agg(BoundedTopK.topk(col("cd"), col("list_id"), 1).as("best"),
        first(col("nvec")).as("nvec"))
      .select(col("id"), col("nvec"),
        element_at(col("best"), 1).getField("id").as("list_id"))

  /** IVF (inverted-file) ANN index build against an explicit centroid
    * frame (`(list_id, cvec)`): each corpus vector is assigned to its
    * nearest centroid list. The index materializes eagerly (it IS the
    * build artifact) and the normalization cache is released before
    * returning. Corpus shuffles once at build time; each query then
    * touches `nProbe / nLists` of the data.
    */
  def ivfIndexWith(df: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CacheScope.withCached(normalized(df, idCol, vecCol)) { v =>
      assignToLists(v, centroids)
    }

  /** [[ivfIndexWith]] under the trivial first-N-ids quantizer — the
    * oracle-checked plumbing path (see [[firstIdCentroids]]).
    */
  def ivfIndex(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nLists: Int = 16): DataFrame =
    ivfIndexWith(df, firstIdCentroids(df, nLists, idCol, vecCol),
      idCol, vecCol)

  /** [[ivfIndexWith]] under sampled k-means — the quality/scale path. */
  def ivfIndexKMeans(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nLists: Int = 16,
      sampleN: Int = 1024, iters: Int = 5): DataFrame =
    ivfIndexWith(df,
      kmeansCentroids(df, nLists, idCol, vecCol, sampleN, iters),
      idCol, vecCol)

  /** Simplified silhouette (Hruschka et al.'s centroid variant of
    * Rousseeuw 1987): per vector, a = cosine distance to its OWN
    * (nearest) centroid, b = distance to the runner-up centroid,
    * s = (b − a) / max(a, b) = (simₐ − sim_b) / (1 − sim_b) on unit
    * vectors — the standard O(n·k) cluster-quality score that replaces
    * the true silhouette's O(n²) pairwise pass, the only form that
    * exists at corpus scale. Returns (list_id, n, silhouette) — the
    * per-cluster mean — s ∈ [0, 1] under nearest-centroid assignment;
    * low clusters are the diffuse/overlapping ones.
    *
    * Determinism: each per-vector score is one fixed IEEE expression
    * over left-to-right dot folds, snapped ONCE to `snap`⁻¹ fixed
    * point; cluster means are exact integer sums (decimal(38,0) — no
    * overflow class) with a single correctly-rounded division at the
    * end — the [[graft.ext.Profile.mutualInfo]] discipline, so two
    * engines agree bitwise. A vector equidistant from two centroids
    * ties to the smaller list id (the [[kmeansCentroids]] rule); its
    * score is 0 either way.
    *
    * Scale: the centroid frame is collected (bounded: nLists·dims
    * cells) and embedded as ONE literal array, so scoring is a narrow
    * map — 16 dots + an in-codegen sort of 16 structs per row, no
    * join, no window — and the only exchange is the final nLists-row
    * hash agg. The two-step projection below is deliberate: `t2` is
    * expensive and referenced three times, which blocks
    * CollapseProject from inlining it into triple evaluation.
    */
  def silhouetteSimplified(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      snap: Long = 1000000000L): DataFrame = {
    require(snap > 0, s"snap must be positive: $snap")
    val cents = centroids
      .select(col("list_id").cast("long"), col("cvec").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cents.length >= 2, "silhouette needs at least 2 centroids")
    val centLit = array(cents.map { case (l, v) =>
      struct(lit(l).as("l"), array(v.map(lit(_)): _*).as("cvec"))
    }: _*)
    val sims = transform(centLit, c =>
      struct(dotN(col("nvec"), c.getField("cvec")).as("sim"),
        (-c.getField("l")).as("nl")))
    normalized(corpus, idCol, vecCol)
      // reverse(sort_array(...)) orders (sim desc, list asc): struct
      // sort is (sim asc, nl asc) and nl = -list
      .select(slice(reverse(sort_array(sims)), 1, 2).as("t2"))
      .select((-element_at(col("t2"), 1).getField("nl")).as("list_id"),
        element_at(col("t2"), 1).getField("sim").as("sa"),
        element_at(col("t2"), 2).getField("sim").as("sb"))
      .select(col("list_id"),
        when(col("sb") < 1.0,
          round((col("sa") - col("sb")) / (lit(1.0) - col("sb"))
            * snap))
          .otherwise(lit(0.0)).cast("long").as("s9"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("s9").cast("decimal(38,0)")).as("__ssum"))
      .select(col("list_id"), col("n"),
        round(col("__ssum").cast("double") /
          (col("n").cast("double") * snap), 9).as("silhouette"))
  }

  /** Probe-restricted top-k search over an IVF index, against the SAME
    * centroid frame the index was built with: each query is routed to
    * its `nProbe` closest centroid lists (bounded-top-k over the
    * broadcast centroids), then exact cosine ranks candidates within
    * those lists only — both rankings are hash aggregations, never a
    * per-query window sort.
    */
  def ivfTopKWith(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("nvec").as("qvec"))
    // route each query to nProbe lists
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("list_id"),
        dotN(col("qvec"), col("cvec")).as("cd"))
      .groupBy(col("query_id"))
      .agg(BoundedTopK.topk(col("cd"), col("list_id"), nProbe).as("pl"),
        first(col("qvec")).as("qvec"))
      .select(col("query_id"), col("qvec"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("qvec"), col("p.id").as("list_id"))
    // search only the probed lists (equi join on list id)
    val scored = probes.join(index.select(col("id").as("neighbor_id"),
        col("nvec").as("cvec2"), col("list_id").as("list_id_i")),
        col("list_id") === col("list_id_i"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotN(col("qvec"), col("cvec2")).as("sim"))
    rankTopK(scored, k)
  }

  /** [[ivfTopKWith]] under the trivial first-N-ids quantizer (must
    * match an [[ivfIndex]]-built index).
    */
  def ivfTopK(queries: DataFrame, index: DataFrame, corpus: DataFrame,
      k: Int, nProbe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", nLists: Int = 16): DataFrame =
    ivfTopKWith(queries, index,
      firstIdCentroids(corpus, nLists, idCol, vecCol), k, nProbe,
      idCol, vecCol)

  /** Exact all-pairs cosine above a threshold on a *bounded* subset —
    * the correctness oracle for the LSH path. Cross join: only for
    * verification at small n.
    */
  def exactPairs(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.9): DataFrame = {
    val v = normalized(df, idCol, vecCol)
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        dotN(col("a.nvec"), col("b.nvec")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Driver-side top-principal-direction fit: the dominant
    * eigenvector of the UNCENTERED gram matrix XᵀX (the top right
    * singular vector of the corpus; mean-center upstream for
    * classical PCA) via power iteration — the spectral primitive
    * behind PCA whitening, spectral hashing, and embedding-collapse
    * diagnostics.
    *
    * Determinism: vector components snap to `scale` fixed point, the
    * d×d gram is EXACT decimal sums over one (d² per row) double-
    * explode pass — bounded collect of d·(d+1)/2 rows, never the
    * corpus — and the power iteration runs sequentially on the driver
    * (deterministic IEEE doubles; the gram's constant scale factor
    * cancels in the normalization). Sign fixed by making the
    * largest-|component| coordinate positive (lowest index on ties).
    *
    * Scale: the corpus pass is one map-side-combinable hash agg on
    * (i, j) keys; everything after runs on d² metadata rows. Fit
    * cost is independent of corpus size beyond that single pass.
    */
  def pcaFit(df: DataFrame, vecCol: String = "embedding",
      iters: Int = 30, scale: Long = 1000000L): Array[Double] = {
    require(iters >= 1 && iters <= 1000, s"bad iters $iters")
    val cents = df.select(transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long")).as("__c"))
    val gram = cents
      .select(col("__c"), posexplode(col("__c")).as(Seq("i", "vi")))
      .select(col("i"), col("vi"),
        posexplode(col("__c")).as(Seq("j", "vj")))
      .where(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum(col("vi").cast("decimal(38,0)") *
        col("vj").cast("decimal(38,0)")).as("g"))
      .collect()
    require(gram.nonEmpty, "pcaFit needs a non-empty vector corpus")
    val d = gram.map(_.getInt(0)).max + 1
    val g = Array.ofDim[Double](d, d)
    gram.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1),
        r.getDecimal(2).doubleValue())
      g(i)(j) = v; g(j)(i) = v
    }
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 1.0 / (i + 1))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).foldLeft(0.0)((acc, j) => acc + g(i)(j) * v(j)))
      val n = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
      require(n > 0, "power iteration collapsed to zero")
      v = w.map(_ / n)
    }
    val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(pivot) < 0) v.map(x => -x) else v
  }

  /** Project every vector onto a fitted direction (the [[pcaFit]]
    * output embedded as literals — the same constants an external
    * engine re-derives): (id, score). One narrow projection, the dot
    * in the native left-to-right fold.
    */
  def pcaScores(df: DataFrame, pc: Array[Double],
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    df.select(col(idCol).as("id"),
      dotN(col(vecCol).cast("array<double>"),
        array(pc.map(lit).toIndexedSeq: _*)).as("score"))

  /** kNN label-disagreement screen (label-noise / mislabeled-example
    * detection — the neighborhood-consistency heuristic of Brodley &
    * Friedl's classification filtering, JAIR 1999, applied to
    * embedding space): for each query point, the fraction of its k
    * nearest neighbors whose label differs from its own; `suspect`
    * marks majority disagreement — the classic "this example is
    * probably mislabeled or lives on a boundary" flag a training-data
    * pipeline routes to review.
    *
    * Takes the (query_id, neighbor_id) frame from ANY kNN backend —
    * [[bruteForceTopK]] for exactness, [[knnJoinLsh]]/[[pqTopK]] at
    * corpus scale — so the screen itself is backend-agnostic: two
    * id-keyed label joins + one bounded hash agg, all exact integer
    * counting (the only float is the final rate division).
    */
  def labelDisagreement(neighbors: DataFrame, labeled: DataFrame,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val lbl = labeled.select(col(idCol).cast("long").as("__lid"),
      col(labelCol).as("__lbl"))
    neighbors
      .join(lbl.select(col("__lid").as("query_id"),
        col("__lbl").as("own_label")), "query_id")
      .join(lbl.select(col("__lid").as("neighbor_id"),
        col("__lbl").as("nb_label")), "neighbor_id")
      .groupBy("query_id", "own_label")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("nb_label") =!= col("own_label"), 1L)
          .otherwise(0L)).as("n_disagree"))
      .select(col("query_id"), col("own_label"), col("n_neighbors"),
        col("n_disagree"),
        (col("n_disagree").cast("double") /
          col("n_neighbors").cast("double")).as("disagree_rate"),
        (col("n_disagree") * 2 > col("n_neighbors")).as("suspect"))
  }

  /** EMBEDDING-SPACE drift monitor (round-16 — the vector sibling of
    * [[graft.ext.TextAnalysis.tokenDrift]]): base-vs-batch
    * centroid-assignment histograms over a SHARED centroid frame,
    * with the same cross-multiplied integer deviation
    * `|base_n × M − batch_n × N|` so the fitted-literal oracle
    * reproduces every value exactly. A shifted embedding distribution
    * — a new content domain, a changed encoder, a broken
    * normalization — shows up as mass moving across the lists, the
    * same signal an IVF index's list balance degrades under. Scale
    * shape: assignment is [[ivfIndexWith]]'s broadcast-centroid
    * argmax (no shuffle beyond the ≤ nLists-key count agg), and
    * everything after the histograms is nLists-row arithmetic.
    */
  def assignmentDrift(base: DataFrame, batch: DataFrame,
      centroids: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def hist(df: DataFrame, as: String): DataFrame =
      ivfIndexWith(df, centroids, idCol, vecCol)
        .groupBy("list_id").agg(count(lit(1)).as(as))
    val joined = centroids.select(col("list_id"))
      .join(hist(base, "base_n"), Seq("list_id"), "left")
      .join(hist(batch, "batch_n"), Seq("list_id"), "left")
      .na.fill(0L, Seq("base_n", "batch_n"))
    // The nLists-row histogram join is materialized ONCE (a bounded
    // collect — nLists rows, the same driver-bounded scale as the
    // centroid frame itself) and re-emitted as a local relation with
    // the totals baked in as literals — deliberately NOT cached for
    // a second totals pass: a per-call cache nobody unpersists
    // accumulates in the block manager across a standing monitor's
    // lifetime (round-16 ADVICE), and the expensive part (both
    // corpus assignment passes) runs exactly once this way.
    val rows = joined.collect()
    val spark = base.sparkSession
    val bIdx = joined.schema.fieldIndex("base_n")
    val cIdx = joined.schema.fieldIndex("batch_n")
    val nBase = rows.map(_.getLong(bIdx)).sum
    val nBatch = rows.map(_.getLong(cIdx)).sum
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        joined.schema)
      .select(col("list_id"), col("base_n"), col("batch_n"),
        abs(col("base_n") * lit(nBatch) -
          col("batch_n") * lit(nBase)).as("dev"),
        lit(nBase).as("n_base"), lit(nBatch).as("n_batch"))
  }
}
