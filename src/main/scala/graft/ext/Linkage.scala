package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK

/** Record linkage: fuzzy (edit-distance) matching between two tables
  * without the cross product — the classic blocking strategy (Fellegi &
  * Sunter 1969 lineage; same candidate-generation shape as the LSH
  * dedup operators, with a user-chosen block key instead of a hash).
  *
  * Scale design (100 TB lens):
  *  - candidates come from an EQUI-join on the block key: work is
  *    Σ_b |L_b|·|R_b| over blocks, never |L|·|R|; the shuffle keys are
  *    the block keys only;
  *  - `maxBlockSize` caps degenerate blocks (the "JOHN SMITH" problem)
  *    with the same [[Dedup.capBuckets]] lever the LSH joins use —
  *    dropped blocks trade recall for a hard candidate bound, exactly
  *    like hot LSH buckets;
  *  - the expensive scalar (levenshtein) runs AFTER blocking, inside
  *    codegen, only on candidates;
  *  - best-match assignment uses the native [[BoundedTopK]] aggregate
  *    (distance ascending, id tiebreak) — O(1) state per left row, no
  *    window, no single-reducer rank stage.
  */
object Linkage {

  /** All cross-table pairs within `maxDist` edits, candidate-generated
    * by block-key equality. Output: (left_id, right_id, dist).
    *
    * The scoring runs on DISTINCT text values, not id rows: each side
    * dedups to its value set, the block-equi join + levenshtein score
    * only distinct value pairs, and two id-fan-out equi-joins restore
    * (left_id, right_id) at the end. On duplicated text (entity names,
    * catalog titles — low-cardinality in practice) this collapses the
    * candidate volume from Σ|L_b|·|R_b| ID pairs to Σ of DISTINCT-value
    * pairs; on unique text it degrades to the same pair count plus two
    * output-sized equi-joins. The levenshtein itself is the THRESHOLD
    * form — banded O(len·maxDist) with early exit, not the full
    * O(len²) matrix. `maxBlockSize` caps blocks of distinct VALUES
    * (the hot-block recall dial, measured in values since dedup).
    */
  def fuzzyJoinBlocked(
      left: DataFrame, right: DataFrame,
      leftId: String, leftText: String,
      rightId: String, rightText: String,
      blockKey: Column => Column, maxDist: Int,
      maxBlockSize: Int = 0): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val l = left.select(col(leftId).as("left_id"),
      col(leftText).as("__lt"))
    val r = right.select(col(rightId).as("right_id"),
      col(rightText).as("__rt"))
    val ld = cap(l.select("__lt").where(col("__lt").isNotNull).distinct()
      .withColumn("__bk", blockKey(col("__lt"))), maxBlockSize)
    val rd = cap(r.select("__rt").where(col("__rt").isNotNull).distinct()
      .withColumn("__bk", blockKey(col("__rt"))), maxBlockSize)
    val valuePairs = ld.join(rd, "__bk")
      .select(col("__lt"), col("__rt"),
        levenshtein(col("__lt"), col("__rt"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    l.join(valuePairs, "__lt")
      .join(r, "__rt")
      .select(col("left_id"), col("right_id"), col("dist"))
  }

  /** The single best match (smallest distance, id ascending on ties)
    * per left row among its block-mates within `maxDist`. Output:
    * (left_id, right_id, dist) — at most one row per left id.
    */
  def bestMatchBlocked(
      left: DataFrame, right: DataFrame,
      leftId: String, leftText: String,
      rightId: String, rightText: String,
      blockKey: Column => Column, maxDist: Int,
      maxBlockSize: Int = 0): DataFrame = {
    require(maxDist <= 255, s"dist packs into 8 bits, got maxDist=$maxDist")
    val pairs = fuzzyJoinBlocked(left, right, leftId, leftText,
      rightId, rightText, blockKey, maxDist, maxBlockSize)
    // rank inside the bounded aggregate: score = -dist gives distance
    // ascending, and the distance rides along packed in the id
    // (dist ≤ maxDist is tiny; right ids stay below 2^48 by contract
    // with the harness tables) so no join-back is needed
    pairs.groupBy(col("left_id"))
      .agg(BoundedTopK.topk(-col("dist").cast("double"),
        shiftleft(col("right_id"), 8)
          .bitwiseOR(col("dist").cast("long")), 1).as("__tk"))
      .select(col("left_id"),
        shiftrightunsigned(element_at(col("__tk"), 1).getField("id"), 8)
          .as("right_id"),
        element_at(col("__tk"), 1).getField("id").bitwiseAND(255L)
          .cast("int").as("dist"))
  }

  /** Survivorship: collapse each duplicate group to ONE golden record —
    * the member with the lexicographically greatest `ordCols` vector
    * (e.g. (completeness, recency, -id)) carries its `payloadCols`
    * forward, alongside the group's member count and any caller-aliased
    * `extraAggs` (distinct-source counts, sums — anything aggregable).
    * The merge-rule half of record linkage: [[fuzzyJoinBlocked]] /
    * [[Dedup.duplicateClusters]] decide WHO is a duplicate; this
    * decides WHICH values survive.
    *
    * ONE hash aggregate: the argmax rides the native
    * [[graft.functions.LatestBy]] TypedImperativeAggregate (O(1) state
    * per group, map-side partials — a 10⁹-member hot group combines
    * before the shuffle; `max_by`/`max(struct)` would silently degrade
    * the whole plan to SortAggregate). `ordCols` must cast to long and
    * totally order each group (append a unique id; ties are
    * first-seen otherwise — the [[graft.ext.Cdc]] contract).
    */
  def goldenRecords(
      df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column],
      payloadCols: Seq[String], extraAggs: Seq[Column] = Nil)
      : DataFrame = {
    val payload = struct(payloadCols.map(col): _*)
    val agged = df.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.LatestBy
        .latestVector(payload, array(ordCols.map(_.cast("long")): _*))
        .as("__graft_g"),
        count(lit(1)).as("n_members") +: extraAggs: _*)
    val kept = agged.columns.filter(_ != "__graft_g")
    agged.select(kept.map(col) ++
      payloadCols.map(c => col(s"__graft_g.$c").as(c)): _*)
  }

  private def cap(b: DataFrame, maxBlockSize: Int): DataFrame =
    if (maxBlockSize <= 0) b
    else Dedup.capBuckets(b, Seq("__bk"), maxBlockSize)

  /** First whitespace token — the default block key for name-like
    * columns.
    */
  def firstTokenKey(c: Column): Column = split(c, "\\s+").getItem(0)
}
