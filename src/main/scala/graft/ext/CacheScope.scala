package graft.ext

import org.apache.spark.sql.DataFrame

/** Scoped cache lifecycle for the dedup/similarity pipelines.
  *
  * These operators cache an intermediate frame (hashed shingles, LSH
  * buckets, normalized vectors) that multiple downstream joins scan. A
  * bare `.cache()` with no unpersist leaks the cached partitions into
  * the caller's long-lived session (the repeated-validation production
  * pattern) until eviction pressure. This helper bounds the cache to
  * the call: the result is eagerly materialized with `localCheckpoint`
  * (consuming the cache exactly as many times as the plan needs it),
  * then the intermediate cache is dropped before returning. The
  * returned frame is a plain materialized artifact — an index/candidate
  * set that callers reuse without recomputation — and its storage is
  * reclaimed automatically by the context cleaner once unreferenced.
  */
private[graft] object CacheScope {

  /** Run `body` with `frame` cached; release the cache before returning
    * the eagerly-materialized result.
    *
    * The cache is populated LAZILY — deliberately, re-measured r17:
    * pre-populating it with an eager count before `body` (tried to
    * stop AQE's concurrent leaf stages from racing the population)
    * lost 20–30% wall on every A/B'd operator
    * (x_dedup_editdist_compact 6.3 → 9.1 s, x_graph_lpa_deep 11.6 →
    * 14.1 s, x_stream_ivf_ingest 5.9 → 7.6 s, x_stream_pipeline_admit
    * 12.4 → 17.4 s): the lazy path overlaps population with the first
    * consumer's real work and costs no extra action per call — which
    * multiplies in foreachBatch loops. Revisit only with wall
    * evidence.
    *
    * What the race actually costs (pinned r18): concurrent consumers
    * of the COLD cache do not recompute the upstream — they serialize
    * on BlockManager partition locks, each blocked task holding an
    * executor slot and billing executorRunTime while it waits (the
    * same mechanism measured on Validate.validateCsv in PLANS.md
    * round 12: cold-cache concurrent checks 28.9 s wall / 75 s task,
    * ~25 s of it lock-wait). So the hazard is specific to bodies that fan out to
    * SEVERAL concurrent first consumers — AQE leaf stages and
    * broadcast-exchange threads — with no intermediate action. The
    * remedy is per-operator, not global: give such a body one cheap
    * serial action it needs anyway (a bounded aggregate,
    * localCheckpoint'ed) whose full scan primes the cache before the
    * fan-out — see Profile.jsDivergence / Profile.mutualInfo. Bodies
    * whose first consumer is already serial (most callers: a `head`
    * guard, an iterative loop, a foreachBatch step) get warm-cache
    * behavior for free and must NOT pay a priming pass.
    */
  def withCached(frame: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val cached = frame.cache()
    try body(cached).localCheckpoint(eager = true)
    finally cached.unpersist(blocking = false)
  }

  /** Two-frame variant: caches both inputs, checkpoints the result
    * ONCE. Nesting two [[withCached]] calls instead would run the
    * inner scope's `localCheckpoint` and then the outer's again on the
    * already-materialized frame — a second persisted copy of the
    * result that clearCache cannot release (it sits until the weak-ref
    * cleaner runs).
    */
  def withCached2(f1: DataFrame, f2: DataFrame)(
      body: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val c1 = f1.cache()
    val c2 = f2.cache()
    try body(c1, c2).localCheckpoint(eager = true)
    finally {
      c1.unpersist(blocking = false)
      c2.unpersist(blocking = false)
    }
  }
}
