package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table support — the co-located-join scale path (SURVEY.md
  * §4.3 / builder mandate "co-locate joins via bucketing").
  *
  * A validation package is checked repeatedly (every ingest batch), and
  * its fk/key checks all shuffle on the same key columns. Writing the
  * tables bucketed (+ sorted) by those keys once moves that shuffle to
  * write time: every subsequent key-equi join or aggregation between
  * tables bucketed the same way runs with NO Exchange — at 100 TB the
  * difference between re-shuffling the fact table per check and reading
  * co-located splits. Verified by BucketingSpec: the bucketed fk join
  * plan contains zero shuffles.
  */
object Bucketing {

  /** Write `df` as a parquet managed table bucketed (and sorted) by
    * `keys` into `numBuckets` buckets.
    */
  def writeBucketed(
      df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Read a bucketed table back (bucket metadata comes from the
    * catalog, enabling shuffle-free joins on the bucket keys).
    */
  def readBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    spark.table(table)

  /** Append rows into an EXISTING bucketed table, preserving its
    * layout: only the delta shuffles to the declared bucketing (the
    * spec must match the catalog's — Spark rejects a mismatch, which
    * is the guarantee that an append can never silently break the
    * exchange-free join contract). Each append lands one new file per
    * non-empty bucket; bucketed reads union a bucket's files, so the
    * contract survives any number of appends — at the usual LSM-shaped
    * price of file-count growth until a periodic compaction rewrite.
    */
  def appendBucketed(
      df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode("append")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Bucket count of an existing table, from the catalog. */
  def numBucketsOf(spark: org.apache.spark.sql.SparkSession,
      table: String): Int = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
    require(spec.isDefined, s"table $table is not bucketed")
    spec.get.numBuckets
  }

  /** Rewrite a bucketed table back to ONE data file per non-empty
    * bucket — the compaction half of the LSM trade [[appendBucketed]]
    * documents: each append lands one file per non-empty bucket, so a
    * frequently-ingesting index degrades toward
    * appends × buckets small files (per-file open/footer cost on every
    * serve scan, file-listing pressure on the metastore). Compaction
    * restores the write-once layout without touching the serve
    * contract: the bucket spec (keys, sort, count) is read from the
    * catalog and re-declared verbatim on the rewrite, so post-compact
    * serve joins are the SAME plan (exchange-free on the bucket key —
    * re-asserted in BucketingSpec), and row content is exactly the
    * union of the files it replaced.
    *
    * One file per bucket is forced by repartitioning on the bucket
    * keys into exactly `numBuckets` partitions: Spark's bucket id and
    * its expression-hash repartition use the same
    * pmod(murmur3, n) routing, so every write task holds exactly one
    * bucket's rows. The rewrite lands in a sibling `__compact` table
    * first, then swaps in with the original renamed ASIDE, never
    * dropped early: `table` → `table__old`, `__compact` → `table`,
    * drop `table__old`. At every crash point the full row set exists
    * under at least one durable name (before the first rename: the
    * original; between the renames: `__old` + `__compact`; after:
    * the new `table` + `__old` debris) — the pre-round-13 shape
    * DROPPED the original before renaming the rewrite in, leaving a
    * crash window where `__compact` held the only copy (and, for
    * pid-named scratch indexes, one a later process's [[Scratch]]
    * sweep would then delete).
    *
    * `merge` lets an index give compaction LSM merge semantics (e.g.
    * the key index re-aggregates per-key count rows split across
    * appends); it must preserve the schema and must be a function the
    * table's serve path is already invariant under — identity by
    * default (pure file compaction).
    */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String,
      merge: DataFrame => DataFrame = identity): Unit = {
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec
    require(spec.isDefined, s"table $table is not bucketed")
    val keys = spec.get.bucketColumnNames
    val sorts = spec.get.sortColumnNames
    val n = spec.get.numBuckets
    val tmp = s"${table}__compact"
    val old = s"${table}__old"
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    spark.sql(s"DROP TABLE IF EXISTS `$old`")
    // a crashed prior attempt can leave catalog-less sibling DIRS that
    // would block the managed-table renames below — clear them (the
    // drops above only clear catalog entries they know about)
    if (meta.location.getScheme == null ||
        meta.location.getScheme == "file") {
      val parent = new java.io.File(meta.location).getParentFile
      Seq(tmp, old).foreach { n =>
        val dir = new java.io.File(parent, n.toLowerCase)
        if (dir.exists() && !spark.catalog.tableExists(n))
          Scratch.deleteRecursively(dir)
      }
    }
    // Read the table's files BY PATH, not via the catalog: a catalog
    // read advertises the bucket spec, the optimizer then elides the
    // repartition below as redundant — and DisableUnnecessaryBucketedScan
    // subsequently disables the bucket-aligned scan because nothing
    // left in the plan declares interest (a V1 bucketed WRITE only
    // requires ordering, not distribution). Net effect, observed: the
    // rewrite runs over raw file splits and writes one file per
    // (task × bucket) instead of one per bucket. The path read carries
    // no bucket metadata, so the repartition survives and aligns every
    // task with exactly one writer bucket. The CATALOG schema rides the
    // read explicitly: a merge-compaction can legitimately empty the
    // table (every key tombstoned), and a schema-less parquet read of
    // the then file-less directory fails "Unable to infer schema" —
    // compaction must be idempotent on an emptied index.
    val w = merge(spark.read.schema(meta.schema)
        .parquet(meta.location.toString))
      .repartition(n, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .bucketBy(n, keys.head, keys.tail: _*)
    (if (sorts.nonEmpty) w.sortBy(sorts.head, sorts.tail: _*) else w)
      .format("parquet")
      .saveAsTable(tmp)
    // crash-safe swap: the original survives under SOME name until the
    // rewrite is fully installed (see scaladoc)
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$old`")
  }

  /** SIZE-TIERED compaction (round-13 directive #6):
    * [[compactBucketed]] rewrites every bucket unconditionally — the
    * right tool after a merge/purge, but a 100 TB index whose appends
    * hit a few hot buckets should only rewrite the buckets that
    * actually accumulated files. This variant compacts ONLY buckets
    * holding >= `minFilesPerBucket` data files, at the FILE level:
    * per touched bucket, its files are read (under the catalog
    * schema), re-sorted on the declared sort columns, and rewritten as
    * ONE file that is renamed into the table directory under a name
    * whose `_NNNNN` suffix Spark's bucket-id parser reads back —
    * untouched buckets' files are not opened, moved, or rewritten
    * (byte-identical, asserted in BucketingSpec). Content, bucket
    * layout, and the catalog entry are unchanged, so serving after a
    * tiered compaction is the same plan over the same rows.
    *
    * Crash safety is a per-bucket manifest protocol (no catalog swap
    * to lean on — the table itself stays live): the merged file lands
    * HIDDEN (dot-prefixed — invisible to every reader), a manifest
    * records (originals, hidden, final) BEFORE any original is
    * deleted, then originals are deleted, the hidden file renamed
    * visible, and the manifest removed. [[recoverTiered]] runs first
    * on every invocation and finishes or aborts any crashed attempt:
    * all originals still present → abort (drop hidden + manifest);
    * any original missing → complete (delete the rest, reveal the
    * merged file). At every crash point the bucket's full row set is
    * readable or mechanically recoverable.
    *
    * Local-filesystem tables only (the harness shape); an object-store
    * deployment would swap the File ops for its FileSystem and keep
    * the same protocol.
    */
  def compactBucketedTiered(spark: org.apache.spark.sql.SparkSession,
      table: String, minFilesPerBucket: Int): Unit = {
    require(minFilesPerBucket >= 2,
      s"minFilesPerBucket must be >= 2, got $minFilesPerBucket")
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    require(meta.bucketSpec.isDefined, s"table $table is not bucketed")
    require(meta.location.getScheme == null ||
      meta.location.getScheme == "file",
      s"tiered compaction supports local tables, got ${meta.location}")
    val sorts = meta.bucketSpec.get.sortColumnNames
    val dir = new java.io.File(meta.location)
    recoverTiered(dir)
    val byBucket = Option(dir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .flatMap(f => bucketIdOf(f.getName).map(_ -> f))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var nonce = 0
    byBucket.toSeq.sortBy(_._1).foreach { case (bucket, files) =>
      if (files.length >= minFilesPerBucket) {
        nonce += 1
        // 1. merged file, written to scratch then moved in HIDDEN
        val scratch = java.nio.file.Files
          .createTempDirectory(s"graft_tiered_$table").toFile
        val rows = spark.read.schema(meta.schema)
          .parquet(files.map(_.getPath).toSeq: _*)
          .coalesce(1)
        (if (sorts.nonEmpty)
          rows.sortWithinPartitions(
            sorts.map(org.apache.spark.sql.functions.col): _*)
        else rows)
          .write.mode("overwrite")
          .option("compression", "snappy").parquet(scratch.getPath)
        val produced = Option(scratch.listFiles()).get
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("."))
          .head
        val tag = s"p${ProcessHandle.current().pid()}x$nonce"
        val hidden = new java.io.File(dir, f".graftcompact-$tag%s.tmp")
        val visible = new java.io.File(dir,
          f"part-00000-graftcompact$tag%s_$bucket%05d.c000.snappy.parquet")
        java.nio.file.Files.move(produced.toPath, hidden.toPath)
        Scratch.deleteRecursively(scratch)
        // 2. manifest BEFORE any delete (the recovery pivot)
        val manifest = new java.io.File(dir, s".graftcompact-$tag.manifest")
        java.nio.file.Files.write(manifest.toPath,
          (Seq(hidden.getName, visible.getName) ++ files.map(_.getName))
            .mkString("\n").getBytes("UTF-8"))
        // 3. delete originals, 4. reveal, 5. drop manifest
        files.foreach(f => java.nio.file.Files.delete(f.toPath))
        java.nio.file.Files.move(hidden.toPath, visible.toPath)
        java.nio.file.Files.delete(manifest.toPath)
      }
    }
    // readers must not keep serving the pre-compaction file listing
    spark.catalog.refreshTable(table)
  }

  /** Bucket id parsed from a data file name (Spark's `_NNNNN` suffix
    * convention — the same parse the bucketed scan applies).
    */
  private[graft] def bucketIdOf(name: String): Option[Int] = {
    val m = java.util.regex.Pattern
      .compile(".*_(\\d+)(?:\\..*)?$").matcher(name)
    if (m.matches()) Some(m.group(1).toInt) else None
  }

  /** Finish or abort crashed [[compactBucketedTiered]] attempts in a
    * table directory (see the protocol there). Idempotent.
    */
  private[graft] def recoverTiered(dir: java.io.File): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".manifest")).foreach { manifest =>
        val lines = new String(java.nio.file.Files
          .readAllBytes(manifest.toPath), "UTF-8").split("\n").toSeq
        val hidden = new java.io.File(dir, lines.head)
        val visible = new java.io.File(dir, lines(1))
        val originals = lines.drop(2).map(new java.io.File(dir, _))
        if (hidden.exists() && originals.forall(_.exists())) {
          // crashed before any delete — abort, originals are the truth
          java.nio.file.Files.delete(hidden.toPath)
        } else if (hidden.exists() || visible.exists()) {
          // merged copy present, some original already gone — complete
          originals.filter(_.exists())
            .foreach(f => java.nio.file.Files.delete(f.toPath))
          if (hidden.exists())
            java.nio.file.Files.move(hidden.toPath, visible.toPath)
        }
        // else: no merged copy at all — never touch originals; the
        // manifest is stale bookkeeping either way
        java.nio.file.Files.delete(manifest.toPath)
      }

  /** Data-file count of a managed table's directory (non-hidden files
    * only) — the observable the LSM file-growth/compaction contract is
    * asserted against in BucketingSpec.
    */
  def dataFileCount(spark: org.apache.spark.sql.SparkSession,
      table: String): Int = {
    val loc = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location
    val dir = new java.io.File(loc)
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
  }
}
