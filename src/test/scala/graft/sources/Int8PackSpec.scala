package graft.sources

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType}

import graft.{SparkSpec, Tables}

/** The int8 artifact must REALIZE its packing claim on disk (round-13
  * directive #3): q persists as one-byte tinyints, reconstructs the
  * in-memory quantized doubles EXACTLY, and the artifact is a small
  * fraction of the float corpus it lets serving skip.
  */
class Int8PackSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def dirBytes(d: File): Long =
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .map(f => if (f.isDirectory) dirBytes(f)
        else if (f.getName.startsWith("_") || f.getName.startsWith("."))
          0L
        else f.length())
      .sum

  test("int8 artifact: tinyint on disk, exact double reconstruction, " +
      "fraction of the float corpus") {
    val e = Tables.load(spark, dir, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_int8_spec").toString
    IndexStore.Int8.plain(idx).write(e, ())

    // on-disk schema: q is array<tinyint> — one byte per dim for any
    // external consumer, not an array of 8-byte doubles
    val onDisk = spark.read.parquet(s"$idx/int8.parquet")
    assert(onDisk.schema("q").dataType === ArrayType(ByteType),
      s"q must persist as array<tinyint>, got ${onDisk.schema("q")}")

    // exact reconstruction: the re-read frame IS the in-memory
    // quantized frame, value for value (doubles compared bitwise —
    // every int in [-127, 127] is exactly representable)
    val mem = graft.ext.Similarity.int8Index(e)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    val back = IndexStore.Int8.plain(idx).read(spark)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    assert(back === mem,
      "tinyint→double round-trip must reconstruct the quantized frame")
    assert(mem.nonEmpty && mem.head._2.nonEmpty)

    // size: the artifact must be a small fraction of the float corpus
    // it replaces at serve time (high-entropy doubles store PLAIN at
    // 8 B/dim; tinyints bit-pack at ≈1 B/dim — assert a conservative
    // 3× so parquet encoding changes don't flake the suite)
    val floatDir = java.nio.file.Files
      .createTempDirectory("graft_float_spec").toString
    e.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(floatDir)
    val packed = dirBytes(new File(idx))
    val corpus = dirBytes(new File(floatDir))
    assert(packed > 0 && corpus > 0)
    assert(packed * 3 < corpus,
      s"int8 artifact ($packed B) must be well under a third of the " +
        s"float corpus ($corpus B)")
  }

  test("int8 tombstones: live serve ≡ rebuild-without-deleted ≡ " +
      "post-purge serve; purge keeps the tinyint schema") {
    import org.apache.spark.sql.DataFrame
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_int8del_spec").toString
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_int8del_ref").toString
    IndexStore.Int8.plain(idx).write(e, ())
    IndexStore.Int8.plain(refIdx).write(e.filter(col("vec_id") % 7 =!= 3), ())
    IndexStore.Int8.plain(idx)
      .delete(e.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("id")))
    def serve(corpusIdx: DataFrame): Seq[(Long, Long, Long)] =
      graft.ext.Similarity.quantizedTopKFromIndex(queries, corpusIdx, 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val ref = serve(IndexStore.Int8.plain(refIdx).read(spark))
    assert(ref.nonEmpty)
    assert(serve(IndexStore.Int8.plain(idx).live(spark)) === ref,
      "tombstone-excluded serve must equal rebuild-without-deleted")
    assert(serve(IndexStore.Int8.plain(idx).read(spark)) !== ref,
      "deleted ids must have been in some top-10 for the test to bite")
    IndexStore.Int8.plain(idx).purge(spark)
    assert(!new java.io.File(s"$idx/dead.parquet").exists(),
      "purge must clear the tombstones")
    assert(spark.read.parquet(s"$idx/int8.parquet").schema("q")
      .dataType === ArrayType(ByteType),
      "the purge rewrite must keep the tinyint schema")
    assert(spark.read.parquet(s"$idx/int8.parquet")
      .filter(col("id") % 7 === 3).count() == 0,
      "purge must drop deleted vectors physically")
    assert(serve(IndexStore.Int8.plain(idx).live(spark)) === ref,
      "post-purge serve needs no exclusion and keeps the answer")
  }
}
