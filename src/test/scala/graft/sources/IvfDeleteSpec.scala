package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.Similarity

/** IVF tombstone lifecycle (round-13): live serve ≡
  * rebuild-without-deleted ≡ post-purge serve, tombstones cleared,
  * dead rows physically gone — the dir-artifact twin of the bucketed
  * families' BucketingSpec proofs.
  */
class IvfDeleteSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("IVF tombstones: live serve ≡ rebuild-without-deleted ≡ " +
      "post-purge serve; purge drops vectors physically") {
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val cents = Similarity.firstIdCentroids(e, 16)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfdel_spec").toString
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_ivfdel_ref").toString
    IndexStore.Ivf.plain(idx).write(e, cents)
    // the reference rebuild keeps the SAME centroids (the routing
    // model is not corpus content) but indexes only the survivors
    IndexStore.Ivf.plain(refIdx).write(e.filter(col("vec_id") % 7 =!= 3), cents)
    IndexStore.Ivf.plain(idx)
      .delete(e.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("id")))

    def serve(enc: org.apache.spark.sql.DataFrame,
        cn: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      Similarity.ivfTopKWith(queries, enc, cn, 10, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted

    val (refEnc, refCents) = IndexStore.Ivf.plain(refIdx).read(spark)
    val ref = serve(refEnc, refCents)
    assert(ref.nonEmpty)
    val (live, liveCents) = IndexStore.Ivf.plain(idx).live(spark)
    assert(serve(live, liveCents) === ref,
      "tombstone-excluded serve must equal rebuild-without-deleted")
    // the exclusion must change the ranking vs the undeleted serve
    // (otherwise this test proves nothing)
    val (full, fullCents) = IndexStore.Ivf.plain(idx).read(spark)
    assert(serve(full, fullCents) !== ref,
      "deleted ids must have been in some top-10 for the test to bite")

    IndexStore.Ivf.plain(idx).purge(spark)
    assert(!new java.io.File(s"$idx/dead.parquet").exists(),
      "purge must clear the tombstones")
    assert(spark.read.parquet(s"$idx/ivf.parquet")
      .filter(col("id") % 7 === 3).count() == 0,
      "purge must drop deleted vectors physically")
    val (purged, purgedCents) = IndexStore.Ivf.plain(idx).live(spark)
    assert(serve(purged, purgedCents) === ref,
      "post-purge serve needs no exclusion and keeps the answer")
  }
}
