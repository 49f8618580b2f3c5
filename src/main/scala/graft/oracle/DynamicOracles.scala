package graft.oracle

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.Similarity

import DuckSql.duckHash48
import Fixtures.{skewedDocs, t}

/** Data-dependent oracles: SQL whose literals come from deterministic
  * model fits (k-means centroids, PQ codebooks, temperature rates) —
  * re-fitted at dump time on the same path the queries take, embedded
  * as literals. Extracted verbatim from SparkEntry (round-5 split).
  */
private[graft] object DynamicOracles {

  /** The names that own a data-dependent oracle (a fit of their own);
    * rows sharing one are resolved through SparkEntry.sharedOracle.
    */
  val names: Set[String] =
    Set("x_sim_ivf_kmeans", "x_sim_kmeans_full", "x_sim_pq",
      "x_sim_pq_delete", "x_sim_ivf_pq", "x_sim_ivf_pq_delete",
      "x_sample_temperature", "x_embed_pca", "x_embed_drift",
      "x_zipf_ppjoin", "x_zipf_bm25", "x_zipf_substring",
      "x_sim_silhouette")

  /** Oracle SQL that depends on the DATA, not just the query — rendered
    * per sfDir by Verify at dump time and merged into oracle_sql.json.
    *
    * x_sim_ivf_kmeans: the k-means centroid FIT is a driver-side Lloyd
    * iteration over a deterministic bounded sample (not
    * SQL-expressible), but the fitted centroids are plain constants —
    * re-fit them here (same deterministic path the query itself takes)
    * and embed them as list literals; the assignment + probe + rank
    * pipeline is then the same SQL as the x_sim_ivf_topk oracle.
    * Double.toString round-trips, so both engines compute dots over
    * bit-identical centroid values.
    */
  def sql(
      spark: SparkSession, sfDir: String,
      only: Set[String] = Set.empty): Map[String, String] = {
    // each entry's FIT is expensive (sample collects, distributed Lloyd
    // iterations) — build only the requested ones under a name filter
    def want(n: String): Boolean = only.isEmpty || only(n)
    def centLits(df: DataFrame): String = df.collect()
      .sortBy(_.getLong(0))
      .map(r => s"(${r.getLong(0)}, " +
        r.getSeq[Double](1).map(_.toString).mkString("[", ",", "]") + ")")
      .mkString(",\n        ")
    val b = Map.newBuilder[String, String]
    // fits shared across branches, run AT MOST ONCE per dump (lazy):
    // the PQ codebooks feed x_sim_pq AND x_sim_ivf_pq; the 16-list
    // k-means centroids feed x_sim_ivf_pq AND x_sim_ivf_kmeans
    lazy val pq = graft.ext.Similarity
      .pqFit(t(spark, sfDir, "embeddings"), m = 16, ks = 16)
    lazy val pqRows = (for (j <- 0 until pq.m; c <- 0 until pq.ks) yield
      s"($j, $c, " +
        pq.codebooks(j)(c).map(_.toString).mkString("[", ",", "]") +
        s", ${pq.biases(j)(c)})")
      .mkString(",\n        ")
    lazy val cents16 = centLits(graft.ext.Similarity
      .kmeansCentroids(t(spark, sfDir, "embeddings"), nLists = 16))
    // x_sim_pq: re-fit the deterministic codebooks, embed (j, code,
    // centroid, bias) literals; codes/tables/score fold re-derive in SQL
    // with the same subspace-ordered arithmetic.
    // templated over a corpus filter so the tombstone-deletion row
    // (x_sim_pq_delete) reuses the identical fitted-literal body with
    // the deleted ids excluded from the ENCODED corpus before ranking
    def pqSql(corpusFilter: String): String =
      s"""WITH v0 AS (
        |  SELECT vec_id AS id, embedding AS vec,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x))) AS nrm
        |  FROM embeddings),
        |v AS (SELECT id,
        |        list_transform(vec, x -> CAST(x AS DOUBLE) / nrm) AS nvec
        |      FROM v0 WHERE nrm > 0),
        |cb AS (SELECT CAST(j AS INTEGER) AS j, CAST(code AS INTEGER)
        |         AS code,
        |         list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec,
        |         CAST(bias AS DOUBLE) AS bias
        |       FROM (VALUES
        |        $pqRows) AS t(j, code, cvec, bias)),
        |sc AS (SELECT vv.id, c.j, c.code,
        |    list_sum(list_transform(range(1, ${pq.ds + 1}),
        |      i -> vv.nvec[c.j * ${pq.ds} + i] * c.cvec[i])) + c.bias AS s
        |  FROM v vv, cb c),
        |enc0 AS (SELECT id, j, code FROM (
        |    SELECT id, j, code,
        |      row_number() OVER (PARTITION BY id, j
        |                         ORDER BY s DESC, code) AS rn
        |    FROM sc) WHERE rn = 1),
        |ec AS (SELECT id, list(code ORDER BY j) AS codes
        |       FROM enc0 GROUP BY id),
        |qt AS (SELECT id AS query_id, j, list(s ORDER BY code) AS tl
        |       FROM sc WHERE id < 5 GROUP BY id, j),
        |qm AS (SELECT query_id, list(tl ORDER BY j) AS tls
        |       FROM qt GROUP BY query_id),
        |scored AS (SELECT qm.query_id, ec.id AS neighbor_id,
        |    list_sum(list_transform(range(1, ${pq.m + 1}),
        |      j -> qm.tls[j][ec.codes[j] + 1])) AS sim
        |  FROM qm, ec WHERE qm.query_id <> ec.id$corpusFilter),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    if (want("x_sim_pq"))
      b += ("x_sim_pq" -> pqSql(""))
    if (want("x_sim_pq_delete"))
      b += ("x_sim_pq_delete" -> pqSql(" AND ec.id % 7 <> 3"))
    // x_sample_temperature: the per-source rates are a deterministic
    // function of the bounded source counts — re-fit and embed them,
    // then replay the same hash-unit filter.
    if (want("x_sample_temperature")) {
      val rates = graft.ext.Sampling
        .temperatureRates(skewedDocs(spark, sfDir), "source",
          alpha = 0.5, maxRate = 0.8)
        .map { case (s, r) => s"('$s', $r)" }
        .mkString(",\n        ")
      b += ("x_sample_temperature" ->
      s"""WITH sk AS (
        |  SELECT doc_id, source FROM documents
        |  WHERE doc_id % 3 = 0 OR source IN ('src0', 'src1', 'src2')),
        |rt AS (SELECT source, CAST(rate AS DOUBLE) AS rate
        |       FROM (VALUES
        |        $rates) AS t(source, rate)),
        |k AS (SELECT sk.doc_id, sk.source
        |      FROM sk JOIN rt ON sk.source = rt.source
        |      WHERE ${duckHash48("('tm1' || CAST(doc_id AS VARCHAR))")}
        |        / 281474976710656.0 < rt.rate)
        |SELECT source, count(*) AS n_kept, min(doc_id) AS min_id
        |FROM k GROUP BY source ORDER BY source""".stripMargin)
    }
    // x_sim_ivf_pq: both literal sets (16 k-means centroids, 16×16 PQ
    // codebooks) re-fit deterministically; list assignment, probe
    // routing, codes, tables and the subspace-ordered ADC fold all
    // re-derive in SQL.
    // templated like pqSql: the tombstone row excludes deleted ids
    // from the ASSIGNED corpus before the probe join
    def ivfPqSql(corpusFilter: String): String = {
      val cents = cents16
      s"""WITH v0 AS (
        |  SELECT vec_id AS id, embedding AS vec,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x))) AS nrm
        |  FROM embeddings),
        |v AS (SELECT id,
        |        list_transform(vec, x -> CAST(x AS DOUBLE) / nrm) AS nvec
        |      FROM v0 WHERE nrm > 0),
        |cents AS (SELECT CAST(list_id AS BIGINT) AS list_id,
        |            list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec
        |          FROM (VALUES
        |        $cents) AS lit(list_id, cvec)),
        |cb AS (SELECT CAST(j AS INTEGER) AS j, CAST(code AS INTEGER)
        |         AS code,
        |         list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec,
        |         CAST(bias AS DOUBLE) AS bias
        |       FROM (VALUES
        |        $pqRows) AS t(j, code, cvec, bias)),
        |assigned AS (SELECT id, list_id FROM (
        |    SELECT vv.id, c.list_id,
        |      row_number() OVER (PARTITION BY vv.id ORDER BY
        |        list_sum(list_transform(range(1, len(vv.nvec) + 1),
        |          i -> vv.nvec[i] * c.cvec[i])) DESC, c.list_id) AS rn
        |    FROM v vv, cents c) WHERE rn = 1),
        |sc AS (SELECT vv.id, c.j, c.code,
        |    list_sum(list_transform(range(1, ${pq.ds + 1}),
        |      i -> vv.nvec[c.j * ${pq.ds} + i] * c.cvec[i])) + c.bias AS s
        |  FROM v vv, cb c),
        |enc0 AS (SELECT id, j, code FROM (
        |    SELECT id, j, code,
        |      row_number() OVER (PARTITION BY id, j
        |                         ORDER BY s DESC, code) AS rn
        |    FROM sc) WHERE rn = 1),
        |ec AS (SELECT id, list(code ORDER BY j) AS codes
        |       FROM enc0 GROUP BY id),
        |probes AS (SELECT query_id, list_id FROM (
        |    SELECT vv.id AS query_id, c.list_id,
        |      row_number() OVER (PARTITION BY vv.id ORDER BY
        |        list_sum(list_transform(range(1, len(vv.nvec) + 1),
        |          i -> vv.nvec[i] * c.cvec[i])) DESC, c.list_id) AS rn
        |    FROM v vv, cents c WHERE vv.id < 5) WHERE rn <= 4),
        |qt AS (SELECT id AS query_id, j, list(s ORDER BY code) AS tl
        |       FROM sc WHERE id < 5 GROUP BY id, j),
        |qm AS (SELECT query_id, list(tl ORDER BY j) AS tls
        |       FROM qt GROUP BY query_id),
        |scored AS (SELECT p.query_id, a.id AS neighbor_id,
        |    list_sum(list_transform(range(1, ${pq.m + 1}),
        |      j -> qm.tls[j][ec.codes[j] + 1])) AS sim
        |  FROM probes p
        |  JOIN assigned a ON p.list_id = a.list_id
        |  JOIN ec ON ec.id = a.id
        |  JOIN qm ON qm.query_id = p.query_id
        |  WHERE p.query_id <> a.id$corpusFilter),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }
    if (want("x_sim_ivf_pq"))
      b += ("x_sim_ivf_pq" -> ivfPqSql(""))
    if (want("x_sim_ivf_pq_delete"))
      b += ("x_sim_ivf_pq_delete" -> ivfPqSql(" AND a.id % 7 <> 3"))
    // x_sim_kmeans_full: identical re-fit (decimal-exact distributed
    // sums make the two fits bitwise equal), centroids as literals, and
    // the assignment argmax becomes a plain row_number pick.
    if (want("x_sim_kmeans_full")) {
      val fullCents = centLits(graft.ext.Similarity
        .kmeansFitFull(t(spark, sfDir, "embeddings"), nLists = 8,
          iters = 2))
      b += ("x_sim_kmeans_full" ->
      s"""WITH v0 AS (
        |  SELECT vec_id AS id, embedding AS vec,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x))) AS nrm
        |  FROM embeddings),
        |v AS (SELECT id,
        |        list_transform(vec, x -> CAST(x AS DOUBLE) / nrm) AS nvec
        |      FROM v0 WHERE nrm > 0),
        |cents AS (SELECT CAST(list_id AS BIGINT) AS list_id,
        |            list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec
        |          FROM (VALUES
        |        $fullCents) AS lit(list_id, cvec))
        |SELECT id, list_id FROM (
        |  SELECT vv.id, c.list_id,
        |    row_number() OVER (PARTITION BY vv.id ORDER BY
        |      list_sum(list_transform(range(1, len(vv.nvec) + 1),
        |        i -> vv.nvec[i] * c.cvec[i])) DESC, c.list_id) AS rn
        |  FROM v vv, cents c) WHERE rn = 1
        |ORDER BY id""".stripMargin)
    }
    // x_embed_drift: re-fit the shared 16-list centroids as literals;
    // assignment (argmax dot, ties to the smaller list), histograms
    // over the centroid spine, and the cross-multiplied integer
    // deviation — every value exact, no float division anywhere
    if (want("x_embed_drift")) {
      val cents = cents16
      b += ("x_embed_drift" ->
      s"""WITH v0 AS (
        |  SELECT vec_id AS id, embedding AS vec,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x))) AS nrm
        |  FROM embeddings),
        |v AS (SELECT id,
        |        list_transform(vec, x -> CAST(x AS DOUBLE) / nrm) AS nvec
        |      FROM v0 WHERE nrm > 0),
        |cents AS (SELECT CAST(list_id AS BIGINT) AS list_id,
        |            list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec
        |          FROM (VALUES
        |        $cents) AS lit(list_id, cvec)),
        |assigned AS (SELECT id, list_id FROM (
        |  SELECT vv.id, c.list_id,
        |    row_number() OVER (PARTITION BY vv.id ORDER BY
        |      list_sum(list_transform(range(1, len(vv.nvec) + 1),
        |        i -> vv.nvec[i] * c.cvec[i])) DESC, c.list_id) AS rn
        |  FROM v vv, cents c) WHERE rn = 1),
        |bh AS (SELECT list_id, CAST(count(*) AS BIGINT) AS base_n
        |  FROM assigned GROUP BY list_id),
        |ch AS (SELECT list_id, CAST(count(*) AS BIGINT) AS batch_n
        |  FROM assigned WHERE id % 3 = 0 GROUP BY list_id),
        |j AS (SELECT s.list_id, COALESCE(bh.base_n, 0) AS base_n,
        |    COALESCE(ch.batch_n, 0) AS batch_n
        |  FROM (SELECT list_id FROM cents) s
        |  LEFT JOIN bh USING (list_id) LEFT JOIN ch USING (list_id)),
        |tot AS (SELECT CAST(sum(base_n) AS BIGINT) AS n_base,
        |  CAST(sum(batch_n) AS BIGINT) AS n_batch FROM j)
        |SELECT j.list_id, j.base_n, j.batch_n,
        |  CAST(abs(j.base_n * tot.n_batch - j.batch_n * tot.n_base)
        |    AS BIGINT) AS dev,
        |  tot.n_base, tot.n_batch
        |FROM j, tot ORDER BY list_id""".stripMargin)
    }
    if (want("x_sim_ivf_kmeans")) {
      val cents = cents16
      b += ("x_sim_ivf_kmeans" ->
      s"""WITH v0 AS (
        |  SELECT vec_id AS id, embedding AS vec,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x))) AS nrm
        |  FROM embeddings),
        |v AS (SELECT id,
        |        list_transform(vec, x -> CAST(x AS DOUBLE) / nrm) AS nvec
        |      FROM v0 WHERE nrm > 0),
        |cents AS (SELECT CAST(list_id AS BIGINT) AS list_id,
        |            list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec
        |          FROM (VALUES
        |        $cents) AS lit(list_id, cvec)),
        |assigned AS (
        |  SELECT id, nvec, list_id FROM (
        |    SELECT vv.id, vv.nvec, c.list_id,
        |      row_number() OVER (PARTITION BY vv.id ORDER BY
        |        list_sum(list_transform(range(1, len(vv.nvec) + 1),
        |          i -> vv.nvec[i] * c.cvec[i])) DESC, c.list_id) AS rn
        |    FROM v vv, cents c) WHERE rn = 1),
        |q AS (SELECT id AS query_id, nvec AS qvec FROM v WHERE id < 5),
        |probes AS (
        |  SELECT query_id, qvec, list_id FROM (
        |    SELECT qq.query_id, qq.qvec, c.list_id,
        |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
        |        list_sum(list_transform(range(1, len(qq.qvec) + 1),
        |          i -> qq.qvec[i] * c.cvec[i])) DESC, c.list_id) AS rn
        |    FROM q qq, cents c) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(p.qvec) + 1),
        |      i -> p.qvec[i] * a.nvec[i])) AS sim
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE p.query_id <> a.id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
    }
    // x_sim_silhouette: re-fit the 8-list sampled centroids, embed as
    // literals; per-vector top-2 sims via row_number with the same
    // (sim desc, list asc) tie-break, the identical snapped score, and
    // exact integer cluster sums divided once at the end
    if (want("x_sim_silhouette")) {
      val cents8 = centLits(graft.ext.Similarity
        .kmeansCentroids(t(spark, sfDir, "embeddings"), nLists = 8))
      b += ("x_sim_silhouette" ->
      s"""WITH v0 AS (
        |  SELECT vec_id AS id, embedding AS vec,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * x))) AS nrm
        |  FROM embeddings),
        |v AS (SELECT id,
        |        list_transform(vec, x -> CAST(x AS DOUBLE) / nrm) AS nvec
        |      FROM v0 WHERE nrm > 0),
        |cents AS (SELECT CAST(list_id AS BIGINT) AS list_id,
        |            list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec
        |          FROM (VALUES
        |        $cents8) AS lit(list_id, cvec)),
        |sc AS (
        |  SELECT vv.id, c.list_id,
        |    list_sum(list_transform(range(1, len(vv.nvec) + 1),
        |      i -> vv.nvec[i] * c.cvec[i])) AS sim
        |  FROM v vv, cents c),
        |r AS (SELECT id, list_id, sim,
        |    row_number() OVER (PARTITION BY id
        |      ORDER BY sim DESC, list_id) AS rn
        |  FROM sc),
        |t AS (SELECT a.id, a.list_id, a.sim AS sa, b.sim AS sb
        |  FROM r a JOIN r b ON a.id = b.id AND a.rn = 1 AND b.rn = 2),
        |s AS (SELECT list_id,
        |    CAST(CASE WHEN sb < 1.0
        |         THEN round((sa - sb) / (1.0 - sb) * 1000000000)
        |         ELSE 0 END AS BIGINT) AS s9
        |  FROM t)
        |SELECT list_id, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(s9) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000000), 9) AS silhouette
        |FROM s GROUP BY 1 ORDER BY list_id""".stripMargin)
    }
    // x_embed_pca: the power-iteration fit is driver-side but
    // deterministic (exact integer gram, sequential doubles) — re-fit
    // on the query's own path and embed the direction as literals;
    // the projection is then the same left-to-right dot both engines
    // compute bitwise.
    if (want("x_embed_pca")) {
      val pc = Similarity.pcaFit(t(spark, sfDir, "embeddings")
        .where(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("embedding")) === 64))
      val pcLit = pc.map(_.toString).mkString("[", ",", "]")
      b += ("x_embed_pca" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE len(embedding) = 64),
        |p AS (SELECT list_transform($pcLit,
        |  x -> CAST(x AS DOUBLE)) AS pc)
        |SELECT vec_id, round(list_sum(list_transform(range(1, 65),
        |    i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * pc[CAST(i AS INTEGER)])), 9) AS score
        |FROM e, p ORDER BY vec_id""".stripMargin)
    }
    // Zipf-fixture rows: "dynamic" only in that the oracle reads the
    // per-sf fixture PATH — the SQL itself is fixed. ensure() is
    // idempotent (the query fns build the same files), so oracle
    // generation never races the dump.
    if (want("x_zipf_ppjoin") || want("x_zipf_bm25") ||
        want("x_zipf_substring")) {
      val path = graft.sources.ZipfFixture.ensure(spark, sfDir)
      val from = s"read_parquet('$path/*.parquet')"
      // brute-force every gram-sharing diagonal over the same subset;
      // the engine must reach the identical run set through anchor
      // sampling (stride 5 at L=12, k=8)
      if (want("x_zipf_substring"))
        b += ("x_zipf_substring" ->
        s"""WITH sub AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(text, '\\s+'),
          |      x -> x <> '') AS toks
          |  FROM $from WHERE doc_id % 10 IN (0, 9)),
          |g AS (SELECT id, i AS pos,
          |        array_to_string(list_slice(toks, i, i + 7), ' ')
          |          AS gram
          |      FROM sub,
          |        unnest(range(1, greatest(len(toks) - 7, 0) + 1)) t(i)),
          |m AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
          |        a.pos - b.pos AS diag, a.pos AS pos
          |      FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id),
          |r AS (SELECT id_a, id_b, diag, pos,
          |        pos - row_number() OVER (PARTITION BY id_a, id_b,
          |          diag ORDER BY pos) AS chain
          |      FROM m),
          |runs AS (SELECT id_a, id_b, diag, chain,
          |           count(*) + 7 AS run_len
          |         FROM r GROUP BY 1, 2, 3, 4
          |         HAVING count(*) + 7 >= 12)
          |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_runs,
          |  CAST(max(run_len) AS BIGINT) AS max_run,
          |  CAST(sum(run_len) AS BIGINT) AS overlap_tokens
          |FROM runs GROUP BY 1, 2
          |ORDER BY id_a, id_b""".stripMargin)
      if (want("x_zipf_bm25"))
        b += ("x_zipf_bm25" ->
          StaticOracles.bm25Oracle(Fixtures.ZipfBm25Terms, 10, from))
      // brute-force every token-sharing pair over the % 10 ∈ {0, 9}
      // subset (keeps every planted replica pair); the engine must
      // reach the SAME pairs through df-ordered prefix filtering
      if (want("x_zipf_ppjoin"))
        b += ("x_zipf_ppjoin" ->
        s"""WITH sub AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(text, '\\s+'),
          |      x -> x <> '') AS toks
          |  FROM $from WHERE doc_id % 10 IN (0, 9)),
          |sets AS (SELECT id, list_distinct(toks) AS ts FROM sub),
          |sz AS (SELECT id, CAST(len(ts) AS BIGINT) AS s FROM sets
          |  WHERE len(ts) >= 1),
          |tok AS (SELECT id, unnest(ts) AS w FROM sets),
          |pair AS (SELECT a.id AS id_a, b.id AS id_b,
          |    CAST(count(*) AS BIGINT) AS inter
          |  FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b, inter, sa.s AS size_a, sb.s AS size_b,
          |  CAST(inter AS DOUBLE)
          |    / CAST(sa.s + sb.s - inter AS DOUBLE) AS jaccard
          |FROM pair
          |JOIN sz sa ON sa.id = pair.id_a
          |JOIN sz sb ON sb.id = pair.id_b
          |WHERE inter * 10 >= (sa.s + sb.s - inter) * 7
          |ORDER BY id_a, id_b""".stripMargin)
    }
    b.result()
  }
}
