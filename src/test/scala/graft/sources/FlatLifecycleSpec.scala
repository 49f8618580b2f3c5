package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.Similarity

/** The flat similarity artifacts' tombstone lifecycle, one table row
  * per family × store cell with public methods: live serving masks the
  * deleted ids, a purge drops them from the stored rows and clears
  * `dead.parquet` without changing what is served, the plain compact
  * folds pending tombstones, and the versioned compact keeps masking
  * unless `purgeTombstones = true`. The same table pins every cell's
  * unbuilt-store guard, and the versioned IVF rollback is pinned alone.
  */
class FlatLifecycleSpec extends SparkSpec {

  private val data = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_flatlc_$tag").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSet

  private def deadFile(dir: String): Boolean =
    new java.io.File(s"$dir/dead.parquet").exists()

  private lazy val vecs = Tables.load(spark, data, "embeddings")
    .filter(col("vec_id") < 24).cache()
  private lazy val cents = Similarity.firstIdCentroids(vecs, 4)
  private lazy val model = Similarity.pqFit(vecs, m = 4, ks = 4)

  /** One family × store cell. `stored` reads every stored row, tombstoned
    * or not; `compact` is the store's default compact and `fold` the
    * versioned compact under `purgeTombstones = true`.
    */
  private case class Cell(name: String, build: String => Unit,
      append: String => Unit, stored: String => DataFrame,
      live: String => DataFrame, delete: (DataFrame, String) => Unit,
      purge: String => Unit, compact: String => Unit,
      fold: Option[String => Unit] = None)

  private def plain(dir: String, leaf: String): DataFrame =
    spark.read.parquet(s"$dir/$leaf")

  private def cells: Seq[Cell] = Seq(
    Cell("IVF plain", IndexStore.Ivf.plain(_).write(vecs, cents),
      IndexStore.Ivf.plain(_).append(vecs), plain(_, "ivf.parquet"),
      IndexStore.Ivf.plain(_).live(spark)._1,
      (ids, d) => IndexStore.Ivf.plain(d).delete(ids),
      IndexStore.Ivf.plain(_).purge(spark),
      IndexStore.Ivf.plain(_).compact(spark)),
    Cell("int8 plain", IndexStore.Int8.plain(_).write(vecs, ()),
      IndexStore.Int8.plain(_).append(vecs), plain(_, "int8.parquet"),
      IndexStore.Int8.plain(_).live(spark),
      (ids, d) => IndexStore.Int8.plain(d).delete(ids),
      IndexStore.Int8.plain(_).purge(spark),
      IndexStore.Int8.plain(_).compact(spark)),
    Cell("PQ plain", IndexStore.Pq.plain(_).write(vecs, model),
      IndexStore.Pq.plain(_).append(vecs), plain(_, "codes.parquet"),
      IndexStore.Pq.plain(_).live(spark),
      (ids, d) => IndexStore.Pq.plain(d).delete(ids),
      IndexStore.Pq.plain(_).purge(spark),
      IndexStore.Pq.plain(_).compact(spark)),
    Cell("IVF-PQ plain", IndexStore.IvfPq.plain(_).write(vecs, (model, cents)),
      IndexStore.IvfPq.plain(_).append(vecs), plain(_, "ivfpq.parquet"),
      IndexStore.IvfPq.plain(_).live(spark)._1,
      (ids, d) => IndexStore.IvfPq.plain(d).delete(ids),
      IndexStore.IvfPq.plain(_).purge(spark),
      IndexStore.IvfPq.plain(_).compact(spark)),
    Cell("IVF versioned", IndexStore.Ivf.versioned(_).write(vecs, cents),
      IndexStore.Ivf.versioned(_).append(vecs),
      IndexStore.Ivf.versioned(_).read(spark)._1,
      IndexStore.Ivf.versioned(_).live(spark)._1,
      (ids, d) => IndexStore.Ivf.versioned(d).delete(ids),
      IndexStore.Ivf.versioned(_).purge(spark),
      IndexStore.Ivf.versioned(_).compact(spark),
      Some(IndexStore.Ivf.versioned(_).compact(spark, purgeTombstones = true))),
    Cell("PQ versioned", IndexStore.Pq.versioned(_).write(vecs, model),
      IndexStore.Pq.versioned(_).append(vecs),
      IndexStore.Pq.versioned(_).read(spark),
      IndexStore.Pq.versioned(_).live(spark),
      (ids, d) => IndexStore.Pq.versioned(d).delete(ids),
      IndexStore.Pq.versioned(_).purge(spark),
      IndexStore.Pq.versioned(_).compact(spark),
      Some(IndexStore.Pq.versioned(_).compact(spark, purgeTombstones = true))),
    Cell("IVF-PQ versioned",
      IndexStore.IvfPq.versioned(_).write(vecs, (model, cents)),
      IndexStore.IvfPq.versioned(_).append(vecs),
      IndexStore.IvfPq.versioned(_).read(spark)._1,
      IndexStore.IvfPq.versioned(_).live(spark)._1,
      (ids, d) => IndexStore.IvfPq.versioned(d).delete(ids),
      IndexStore.IvfPq.versioned(_).purge(spark),
      IndexStore.IvfPq.versioned(_).compact(spark),
      Some(IndexStore.IvfPq.versioned(_)
        .compact(spark, purgeTombstones = true))))

  private def idFrame(xs: Long*): DataFrame =
    xs.map(x => spark.range(x, x + 1).toDF()).reduce(_ union _)

  test("every flat cell: live masks deletes; purge drops them, clears " +
      "dead.parquet and serves as live; plain compact folds; versioned " +
      "compact masks unless purgeTombstones") {
    cells.foreach { c =>
      val dir = tmp(c.name.replace(' ', '_'))
      c.build(dir)
      val all = ids(c.stored(dir))
      assert(all === (0L until 24L).toSet, c.name)

      c.delete(idFrame(3L, 7L), dir)
      val live = rows(c.live(dir))
      assert(ids(c.live(dir)) === all -- Set(3L, 7L),
        s"${c.name}: the live frame must exclude deleted ids")
      c.purge(dir)
      assert(ids(c.stored(dir)) === all -- Set(3L, 7L),
        s"${c.name}: purge must drop deleted rows from the stored rows")
      assert(!deadFile(dir), s"${c.name}: purge must clear dead.parquet")
      assert(rows(c.live(dir)) === live,
        s"${c.name}: post-purge serve must equal the live serve")

      c.delete(idFrame(11L, 13L), dir)
      val remaining = all -- Set(3L, 7L, 11L, 13L)
      c.compact(dir)
      assert(ids(c.live(dir)) === remaining, c.name)
      c.fold match {
        case None =>
          assert(!deadFile(dir) && ids(c.stored(dir)) === remaining,
            s"${c.name}: the plain compact must fold pending tombstones")
        case Some(fold) =>
          assert(deadFile(dir) && ids(c.stored(dir)) === remaining ++
            Set(11L, 13L),
            s"${c.name}: the versioned compact must keep masking by default")
          fold(dir)
          assert(!deadFile(dir) && ids(c.stored(dir)) === remaining,
            s"${c.name}: purgeTombstones = true must fold and clear")
          assert(ids(c.live(dir)) === remaining, c.name)
      }
      if (c.name == "int8 plain")
        assert(plain(dir, "int8.parquet").schema("q").dataType.simpleString
          === "array<tinyint>",
          "int8's packed q must survive the purge and the compact")
    }
  }

  test("every flat cell: a rebuild starts with no tombstones — delete, " +
      "rebuild, and the live frame is the whole corpus") {
    val stale = cells.filterNot { c =>
      val dir = tmp(c.name.replace(' ', '_'))
      c.build(dir)
      c.delete(idFrame(3L, 7L), dir)
      c.build(dir)
      ids(c.live(dir)) == (0L until 24L).toSet
    }.map(_.name)
    assert(stale.isEmpty,
      s"a rebuild must drop the replaced artifact's tombstones: $stale")
  }

  test("IVF versioned rollback: the head reverts to the rolled-back-to " +
      "version by a new commit; the reverted version stays readable") {
    val dir = tmp("rollback")
    IndexStore.Ivf.versioned(dir).write(vecs, cents)
    IndexStore.Ivf.versioned(dir).append(vecs.filter(col("vec_id") < 4)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding")))
    assert(IndexStore.Ivf.versioned(dir).rollback(1) === 3)
    val v1 = (0L until 24L).toSet
    assert(ids(IndexStore.Ivf.versioned(dir).read(spark)._1) === v1)
    assert(ids(IndexStore.Ivf.versioned(dir).read(spark, asOf = 2)._1)
      === v1 ++ (100L until 104L).toSet)
  }

  test("appending into an unbuilt store fails, names the dir and the " +
      "build method, and writes nothing") {
    val appends = cells.map(c => c.name -> c.append) :+
      ("int8 versioned" -> ((d: String) =>
        IndexStore.Int8.versioned(d).append(vecs)))
    appends.foreach { case (name, append) =>
      val dir = tmp("unbuilt")
      val e = intercept[IllegalArgumentException](append(dir))
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains("build with write"),
        s"$name: ${e.getMessage}")
      assert(new java.io.File(dir).list().isEmpty,
        s"$name: a failed append must create no artifact file")
    }
  }
}
