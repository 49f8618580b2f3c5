package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{SparkSpec, Tables}
import graft.ext.Similarity
import graft.streaming.StreamingValidate

/** The flat similarity artifacts' LSM lifecycle (round-13 closing
  * pass): append ≡ full rebuild for every artifact whose encode is a
  * pure per-vector function of a persisted model (int8: no model; PQ:
  * codebooks; IVF-PQ: centroids + codebooks), file compaction that
  * actually shrinks the file count while folding pending tombstones,
  * and admit-exactly-once across a checkpointed ingest restart — the
  * dir-artifact twins of BucketingSpec's bucketed-family proofs.
  */
class SimArtifactLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_simlc_$tag").toString

  private def partFiles(leaf: String): Int =
    Option(new java.io.File(leaf).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.getName.startsWith("part-"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("int8 append ≡ full rebuild; compaction shrinks files, " +
      "preserves the packed schema, and folds tombstones") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = tmp("int8")
    val ref = tmp("int8ref")
    IndexStore.Int8.plain(idx).write(e.filter(col("vec_id") % 2 === 0), ())
    IndexStore.Int8.plain(idx).append(e.filter(col("vec_id") % 2 === 1))
    IndexStore.Int8.plain(ref).write(e, ())
    assert(rows(IndexStore.Int8.plain(idx).read(spark)) ===
      rows(IndexStore.Int8.plain(ref).read(spark)),
      "append(build(evens), odds) must equal build(all) row-for-row")

    IndexStore.Int8.plain(idx)
      .delete(e.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("id")))
    val before = partFiles(s"$idx/int8.parquet")
    assert(before >= 2, "build + append must leave >= 2 files")
    IndexStore.Int8.plain(idx).compact(spark)
    assert(partFiles(s"$idx/int8.parquet") === 1,
      "compaction must rewrite to one file")
    assert(!new java.io.File(s"$idx/dead.parquet").exists(),
      "compaction must fold and clear pending tombstones")
    val compacted = spark.read.parquet(s"$idx/int8.parquet")
    assert(compacted.schema("q").dataType.simpleString ===
      "array<tinyint>", "the packed schema must survive the rewrite")
    assert(compacted.filter(col("id") % 7 === 3).count() === 0,
      "tombstoned rows must be physically gone after compaction")
  }

  test("PQ append encodes against the artifact's own codebooks " +
      "≡ full rebuild; IVF-PQ likewise with both model halves") {
    val e = Tables.load(spark, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 8, ks = 16)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)

    val pq = tmp("pq")
    val pqRef = tmp("pqref")
    IndexStore.Pq.plain(pq).write(evens, model)
    IndexStore.Pq.plain(pq).append(odds)
    IndexStore.Pq.plain(pqRef).write(e, model)
    assert(rows(IndexStore.Pq.plain(pq).read(spark)) ===
      rows(IndexStore.Pq.plain(pqRef).read(spark)),
      "PQ append(build(evens), odds) must equal build(all)")
    assert(partFiles(s"$pq/codes.parquet") >= 2)
    IndexStore.Pq.plain(pq).compact(spark)
    assert(partFiles(s"$pq/codes.parquet") === 1)

    val cents = Similarity.firstIdCentroids(e, 8)
    val ivfpq = tmp("ivfpq")
    val ivfpqRef = tmp("ivfpqref")
    IndexStore.IvfPq.plain(ivfpq).write(evens, (model, cents))
    IndexStore.IvfPq.plain(ivfpq).append(odds)
    IndexStore.IvfPq.plain(ivfpqRef).write(e, (model, cents))
    assert(rows(IndexStore.IvfPq.plain(ivfpq).read(spark)._1) ===
      rows(IndexStore.IvfPq.plain(ivfpqRef).read(spark)._1),
      "IVF-PQ append(build(evens), odds) must equal build(all)")
    IndexStore.IvfPq.plain(ivfpq).compact(spark)
    assert(partFiles(s"$ivfpq/ivfpq.parquet") === 1)
  }

  test("IVF compaction: file count drops, serve invariant vs the " +
      "appended artifact, pending tombstones purged") {
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val cents = Similarity.firstIdCentroids(e, 16)
    val idx = tmp("ivfcmp")
    IndexStore.Ivf.plain(idx).write(e.filter(col("vec_id") % 2 === 0), cents)
    IndexStore.Ivf.plain(idx).append(e.filter(col("vec_id") % 2 === 1))

    def serve(): Seq[String] = {
      val (enc, cn) = IndexStore.Ivf.plain(idx).live(spark)
      rows(Similarity.ivfTopKWith(queries, enc, cn, 10, nProbe = 4))
    }
    IndexStore.Ivf.plain(idx)
      .delete(e.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("id")))
    val expected = serve()
    assert(partFiles(s"$idx/ivf.parquet") >= 2)
    IndexStore.Ivf.plain(idx).compact(spark)
    assert(partFiles(s"$idx/ivf.parquet") === 1,
      "compaction must rewrite to one file")
    assert(!new java.io.File(s"$idx/dead.parquet").exists())
    assert(serve() === expected,
      "post-compaction serve must equal the tombstone-excluded serve")
  }

  test("ivfIngestRun admits exactly once across a checkpointed " +
      "restart; batch 2's check sees batch 1's admissions") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = tmp("ivfing")
    val src = tmp("ivfing_src")
    val ckpt = tmp("ivfing_ckpt")
    val sink = tmp("ivfing_sink")
    IndexStore.Ivf.plain(idx).write(e.filter(col("vec_id") % 3 === 0),
      Similarity.firstIdCentroids(e, 16))
    e.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Ivf.plain(idx), ckpt,
      sink)((b, st) => Similarity.ivfTopKWith(b, st._1, st._2, 5, 4))
    e.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Ivf.plain(idx), ckpt,
      sink)((b, st) => Similarity.ivfTopKWith(b, st._1, st._2, 5, 4))
    // a re-processed file A would double the % 3 = 1 rows
    val enc = spark.read.parquet(s"$idx/ivf.parquet")
    assert(enc.count() === e.count(),
      "exactly one enc row per corpus vector after the two-run restart")
    assert(enc.groupBy(col("id")).count().filter(col("count") > 1)
      .count() === 0, "no vector admitted twice")
    // the sink saw run 2's batch checked AGAINST run 1's admissions:
    // some % 3 = 2 query must rank a % 3 = 1 neighbor
    val checks = spark.read.parquet(sink)
    assert(checks.filter(col("query_id") % 3 === 2 &&
      col("neighbor_id") % 3 === 1).count() > 0,
      "run 2's checks must see run 1's admitted vectors")
  }

  test("pqIngestRun admits exactly once across a checkpointed " +
      "restart; run 2's checks see run 1's admissions") {
    val e = Tables.load(spark, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 8, ks = 16)
    val idx = tmp("pqing")
    val src = tmp("pqing_src")
    val ckpt = tmp("pqing_ckpt")
    val sink = tmp("pqing_sink")
    IndexStore.Pq.plain(idx).write(e.filter(col("vec_id") % 3 === 0), model)
    e.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Pq.plain(idx), ckpt,
      sink)(Similarity.pqTopKFromCodes(_, _, 5,
        IndexStore.readPqModel(spark, idx)))
    e.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Pq.plain(idx), ckpt,
      sink)(Similarity.pqTopKFromCodes(_, _, 5,
        IndexStore.readPqModel(spark, idx)))
    // a re-processed file A would double the % 3 = 1 code rows
    val codes = IndexStore.Pq.plain(idx).read(spark)
    assert(codes.count() === e.count(),
      "exactly one code row per corpus vector after the restart")
    assert(codes.groupBy(col("id")).count().filter(col("count") > 1)
      .count() === 0, "no vector admitted twice")
    // run 2's batch was checked AGAINST run 1's admissions
    val checks = spark.read.parquet(sink)
    assert(checks.filter(col("query_id") % 3 === 2 &&
      col("neighbor_id") % 3 === 1).count() > 0,
      "run 2's checks must see run 1's admitted vectors")
  }

  test("int8IngestRun admits exactly once across a checkpointed " +
      "restart; run 2's checks see run 1's admissions") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = tmp("i8ing")
    val src = tmp("i8ing_src")
    val ckpt = tmp("i8ing_ckpt")
    val sink = tmp("i8ing_sink")
    IndexStore.Int8.plain(idx).write(e.filter(col("vec_id") % 3 === 0), ())
    e.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Int8.plain(idx), ckpt,
      sink)(Similarity.quantizedTopKFromIndex(_, _, 5))
    e.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Int8.plain(idx), ckpt,
      sink)(Similarity.quantizedTopKFromIndex(_, _, 5))
    // a re-processed file A would double the % 3 = 1 quantized rows
    val q = IndexStore.Int8.plain(idx).read(spark)
    assert(q.count() === e.count(),
      "exactly one quantized row per corpus vector after the restart")
    assert(q.groupBy(col("id")).count().filter(col("count") > 1)
      .count() === 0, "no vector admitted twice")
    // run 2's batch was checked AGAINST run 1's admissions
    val checks = spark.read.parquet(sink)
    assert(checks.filter(col("query_id") % 3 === 2 &&
      col("neighbor_id") % 3 === 1).count() > 0,
      "run 2's checks must see run 1's admitted vectors")
  }

  test("ivfPqIngestRun admits exactly once across a checkpointed " +
      "restart; run 2's checks see run 1's admissions; models never " +
      "re-fitted") {
    val e = Tables.load(spark, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 8, ks = 16)
    val cents = Similarity.firstIdCentroids(e, 16)
    val idx = tmp("ivfpqing")
    val src = tmp("ivfpqing_src")
    val ckpt = tmp("ivfpqing_ckpt")
    val sink = tmp("ivfpqing_sink")
    IndexStore.IvfPq.plain(idx)
      .write(e.filter(col("vec_id") % 3 === 0), (model, cents))
    val modelBytes = Option(new java.io.File(s"$idx/codebooks.parquet")
      .listFiles()).get.filter(_.isFile)
      .map(f => f.getName -> f.length()).toMap
    e.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.IvfPq.plain(idx), ckpt,
      sink)((b, st) => Similarity.ivfPqTopKFromIndex(b, st._1, st._2,
        IndexStore.readPqModel(spark, idx), 5, 4))
    e.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.IvfPq.plain(idx), ckpt,
      sink)((b, st) => Similarity.ivfPqTopKFromIndex(b, st._1, st._2,
        IndexStore.readPqModel(spark, idx), 5, 4))
    val enc = spark.read.parquet(s"$idx/ivfpq.parquet")
    assert(enc.count() === e.count(),
      "exactly one enc row per corpus vector after the restart")
    assert(enc.groupBy(col("id")).count().filter(col("count") > 1)
      .count() === 0, "no vector admitted twice")
    assert(Option(new java.io.File(s"$idx/codebooks.parquet")
      .listFiles()).get.filter(_.isFile)
      .map(f => f.getName -> f.length()).toMap === modelBytes,
      "admission must never re-fit or rewrite the model leaves")
    val checks = spark.read.parquet(sink)
    assert(checks.filter(col("query_id") % 3 === 2 &&
      col("neighbor_id") % 3 === 1).count() > 0,
      "run 2's checks must see run 1's admitted vectors")
  }

  test("versioned ingest arcs for PQ / int8 / IVF-PQ: every admitted " +
      "batch publishes a manifest version; a checkpointed restart " +
      "admits exactly once") {
    val e = Tables.load(spark, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 8, ks = 16)
    val cents = Similarity.firstIdCentroids(e, 16)
    val arcs: Seq[(String, String => Unit, String => String)] = Seq(
      ("pqv", { idx: String =>
        IndexStore.Pq.versioned(idx)
          .write(e.filter(col("vec_id") % 3 === 0), model) },
        (idx: String) => s"$idx/codes"),
      ("i8v", { idx: String =>
        IndexStore.Int8.versioned(idx)
          .write(e.filter(col("vec_id") % 3 === 0), ()) },
        (idx: String) => idx),
      ("ipqv", { idx: String =>
        IndexStore.IvfPq.versioned(idx)
          .write(e.filter(col("vec_id") % 3 === 0), (model, cents)) },
        (idx: String) => s"$idx/enc"))
    for ((tag, build, store) <- arcs) {
      val idx = tmp(s"${tag}_idx")
      val src = tmp(s"${tag}_src")
      val ckpt = tmp(s"${tag}_ckpt")
      val sink = tmp(s"${tag}_sink")
      build(idx)
      assert(VersionedFlat.currentVersion(store(idx)) === 1)
      def run(): Unit = tag match {
        case "pqv" => StreamingValidate.ingestRun(spark, src,
          IndexStore.Pq.versioned(idx), ckpt, sink)(
          Similarity.pqTopKFromCodes(_, _, 5,
            IndexStore.readPqModel(spark, idx)))
        case "i8v" => StreamingValidate.ingestRun(spark, src,
          IndexStore.Int8.versioned(idx), ckpt, sink)(
          Similarity.quantizedTopKFromIndex(_, _, 5))
        case _ => StreamingValidate.ingestRun(spark, src,
          IndexStore.IvfPq.versioned(idx), ckpt, sink)((b, st) =>
          Similarity.ivfPqTopKFromIndex(b, st._1, st._2,
            IndexStore.readPqModel(spark, idx), 5, 4))
      }
      e.filter(col("vec_id") % 3 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      run()
      assert(VersionedFlat.currentVersion(store(idx)) === 2,
        s"$tag: the admitted batch must publish a version")
      e.filter(col("vec_id") % 3 === 2).coalesce(1)
        .write.mode("append").parquet(src)
      run()
      assert(VersionedFlat.currentVersion(store(idx)) === 3,
        s"$tag: the restarted run must admit only the new file")
      val rows = VersionedFlat.read(spark, store(idx))
      assert(rows.count() === e.count(),
        s"$tag: exactly one row per corpus vector after the restart")
      assert(rows.groupBy(col("id")).count().filter(col("count") > 1)
        .count() === 0, s"$tag: no vector admitted twice")
    }
  }

  test("versioned ingest: every admitted batch publishes a version; " +
      "as-of replays the prefix corpus; restart admits exactly once") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = tmp("ivfverstream")
    val src = tmp("ivfverstream_src")
    val ckpt = tmp("ivfverstream_ckpt")
    val sink = tmp("ivfverstream_sink")
    val base = e.filter(col("vec_id") % 3 === 0)
    IndexStore.Ivf.versioned(idx)
      .write(base, Similarity.firstIdCentroids(e, 16))
    e.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Ivf.versioned(idx),
      ckpt, sink)((b, st) => Similarity.ivfTopKWith(b, st._1, st._2, 5, 4))
    e.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src, IndexStore.Ivf.versioned(idx),
      ckpt, sink)((b, st) => Similarity.ivfTopKWith(b, st._1, st._2, 5, 4))
    assert(VersionedFlat.currentVersion(s"$idx/enc") === 3,
      "base + one version per admitted batch")
    // as-of replay: version 2 = base + the first batch, exactly
    val v2 = IndexStore.Ivf.versioned(idx).read(spark, asOf = 2)._1
    assert(v2.count() ===
      base.count() + e.filter(col("vec_id") % 3 === 1).count())
    assert(v2.filter(col("id") % 3 === 2).count() === 0,
      "batch 2's vectors must not exist at version 2")
    // restart admitted exactly once: current has one row per vector
    val cur = IndexStore.Ivf.versioned(idx).read(spark)._1
    assert(cur.count() === e.count())
    assert(cur.groupBy(col("id")).count().filter(col("count") > 1)
      .count() === 0)
  }

  test("versioned ingest with a compaction cadence: manifest roots " +
      "stay bounded while admissions remain exactly-once") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = tmp("ivfvercad")
    val src = tmp("ivfvercad_src")
    val ckpt = tmp("ivfvercad_ckpt")
    val sink = tmp("ivfvercad_sink")
    IndexStore.Ivf.versioned(idx).write(e.filter(col("vec_id") % 3 === 0),
      Similarity.firstIdCentroids(e, 16))
    e.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    e.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(src)
    StreamingValidate.ingestRun(spark, src,
      IndexStore.Ivf.versioned(idx).autoCompacting(1), ckpt, sink)(
      (b, st) => Similarity.ivfTopKWith(b, st._1, st._2, 5, 4))
    assert(VersionedFlat.batchCount(s"$idx/enc") === 1,
      "the cadence must hold the current manifest at one batch root")
    val cur = IndexStore.Ivf.versioned(idx).read(spark)._1
    assert(cur.count() === e.count(),
      "auto-compaction must not drop or double any admission")
    assert(cur.groupBy(col("id")).count().filter(col("count") > 1)
      .count() === 0)
  }

  test("versioned int8: the packed tinyint schema survives every " +
      "version including the compacted merge; decode matches flat") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = tmp("int8ver")
    IndexStore.Int8.versioned(idx).write(e.filter(col("vec_id") % 2 === 0), ())
    IndexStore.Int8.versioned(idx).append(e.filter(col("vec_id") % 2 === 1))
    VersionedFlat.compact(spark, idx)
    (1 to 3).foreach { v =>
      assert(VersionedFlat.readVersion(spark, idx, v)
        .schema("q").dataType.simpleString === "array<tinyint>",
        s"version $v must hold the packed schema")
    }
    val flat = tmp("int8flat")
    IndexStore.Int8.plain(flat).write(e, ())
    assert(rows(IndexStore.Int8.versioned(idx).read(spark)) ===
      rows(IndexStore.Int8.plain(flat).read(spark)),
      "versioned decode must equal the flat artifact's")
  }

  test("versioned PQ: version chain, time travel to the evens " +
      "snapshot, layout-only compact keeps tombstones, purge " +
      "serve-invariant") {
    val e = Tables.load(spark, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 8, ks = 16)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    val pq = tmp("pqver")
    val ref = tmp("pqverref")
    IndexStore.Pq.versioned(pq).write(evens, model)
    IndexStore.Pq.versioned(pq).append(odds)
    assert(VersionedFlat.currentVersion(s"$pq/codes") === 2,
      "build + one version per admitted batch")
    // time travel: version 1 is exactly the evens-only encode
    val v1 = IndexStore.Pq.versioned(pq).read(spark, asOf = 1)
    assert(v1.filter(col("id") % 2 === 1).count() === 0)
    assert(v1.count() === evens.count())
    IndexStore.Pq.versioned(pq).compact(spark) // v3, one batch
    assert(VersionedFlat.currentVersion(s"$pq/codes") === 3)
    IndexStore.Pq.plain(ref).write(e, model)
    assert(rows(IndexStore.Pq.versioned(pq).read(spark)) ===
      rows(IndexStore.Pq.plain(ref).read(spark)),
      "versioned write/append/compact must equal the one-shot build")
    // tombstones mask serving; the default compact is LAYOUT-ONLY
    val dead = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("id"))
    IndexStore.Pq.versioned(pq).delete(dead)
    def liveIds(): Set[Long] = IndexStore
      .Pq.versioned(pq).live(spark)
      .select("id").collect().map(_.getLong(0)).toSet
    val masked = liveIds()
    assert(!masked.exists(_ % 7 == 3))
    IndexStore.Pq.versioned(pq).compact(spark) // layout-only
    assert(new java.io.File(s"$pq/dead.parquet").exists(),
      "the default versioned compact must NOT clear tombstones")
    assert(liveIds() === masked)
    IndexStore.Pq.versioned(pq).compact(spark, purgeTombstones = true)
    assert(!new java.io.File(s"$pq/dead.parquet").exists(),
      "purgeTombstones = true must fold and clear")
    assert(liveIds() === masked, "purge must be serve-invariant")
  }

  test("versioned IVF-PQ: version chain, time travel, delete under " +
      "versioning with exclusion before ranking, purge invariant") {
    val e = Tables.load(spark, dir, "embeddings")
    val model = Similarity.pqFit(e, m = 8, ks = 16)
    val cents = Similarity.firstIdCentroids(e, 8)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    val idx = tmp("ivfpqver")
    val ref = tmp("ivfpqverref")
    IndexStore.IvfPq.versioned(idx).write(evens, (model, cents))
    IndexStore.IvfPq.versioned(idx).append(odds)
    assert(VersionedFlat.currentVersion(s"$idx/enc") === 2)
    val v1 = IndexStore.IvfPq.versioned(idx).read(spark, asOf = 1)._1
    assert(v1.filter(col("id") % 2 === 1).count() === 0)
    IndexStore.IvfPq.versioned(idx).compact(spark)
    IndexStore.IvfPq.plain(ref).write(e, (model, cents))
    assert(rows(IndexStore.IvfPq.versioned(idx).read(spark)._1) ===
      rows(IndexStore.IvfPq.plain(ref).read(spark)._1),
      "versioned write/append/compact must equal the one-shot build")
    val dead = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("id"))
    IndexStore.IvfPq.versioned(idx).delete(dead)
    val queries = e.filter(col("vec_id") < 5)
    def serve(): Seq[String] = {
      val (enc, cn) = IndexStore.IvfPq.versioned(idx).live(spark)
      rows(Similarity.ivfPqTopKFromIndex(queries, enc, cn,
        IndexStore.readPqModel(spark, idx), 10, nProbe = 4))
    }
    val expected = serve()
    IndexStore.IvfPq.versioned(idx).purge(spark)
    assert(!new java.io.File(s"$idx/dead.parquet").exists())
    assert(serve() === expected,
      "post-purge serve must equal the tombstone-excluded serve")
  }

  test("law: int8 and PQ append-folds over ANY batch decomposition " +
      "equal the one-shot build") {
    // random small corpora of integral vectors (normalization and
    // quantization are then deterministic IEEE on both paths), split
    // into 2-4 batches by a random assignment — the even/odd fixture
    // rows are one point of this space
    val corpusGen = for {
      n <- Gen.choose(8, 14)
      d <- Gen.oneOf(4, 6, 8) // pqFit needs dims divisible by m = 2
      vecs <- Gen.listOfN(n,
        Gen.listOfN(d, Gen.choose(-5, 5).map(_.toDouble)))
      nBatches <- Gen.choose(2, 4)
      asg <- Gen.listOfN(n, Gen.choose(0, nBatches - 1))
    } yield (vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      asg, nBatches)
    val p = Prop.forAll(corpusGen) { case (rows, asg, nBatches) =>
      import spark.implicits._
      // drop all-zero vectors (normalized() filters them anyway)
      val live = rows.zip(asg).filter(_._1._2.exists(_ != 0.0))
      val all = live.map(_._1).toDF("vec_id", "embedding")
      val batches = (0 until nBatches).map(b =>
        live.filter(_._2 == b).map(_._1).toDF("vec_id", "embedding"))
      // pqFit needs >= ks live sample vectors; batch 0 seeds the build
      if (live.size < 5 || batches.head.isEmpty) Prop.undecided
      else {
        def slurp(dir: String, leaf: String): Seq[String] =
          spark.read.parquet(s"$dir/$leaf")
            .collect().map(_.toString).toSeq.sorted

        val i8 = tmp("lawint8"); val i8r = tmp("lawint8r")
        IndexStore.Int8.plain(i8).write(batches.head, ())
        batches.tail.filter(!_.isEmpty)
          .foreach(IndexStore.Int8.plain(i8).append(_))
        IndexStore.Int8.plain(i8r).write(all, ())
        val int8Ok =
          slurp(i8, "int8.parquet") == slurp(i8r, "int8.parquet")

        val model = Similarity.pqFit(all, m = 2, ks = 4)
        val pq = tmp("lawpq"); val pqr = tmp("lawpqr")
        IndexStore.Pq.plain(pq).write(batches.head, model)
        batches.tail.filter(!_.isEmpty)
          .foreach(IndexStore.Pq.plain(pq).append(_))
        IndexStore.Pq.plain(pqr).write(all, model)
        val pqOk =
          slurp(pq, "codes.parquet") == slurp(pqr, "codes.parquet")

        Prop.propBoolean(int8Ok && pqOk)
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }
}
