package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Version-pointer manifests for the flat (per-vector) artifacts — the
  * missing half of the dir-artifact story at object-store scale.
  *
  * The rename-aside swap of the plain flat store (its purges and
  * compactions, e.g. `IndexStore.Ivf.plain(…).compact`) is crash-safe for
  * the WRITER, but it mutates the artifact in place: between the two
  * renames the leaf briefly has no current directory, and a
  * long-running reader that captured the old file listing has its
  * files deleted out from under it the moment the swap completes. Both
  * are tolerable in a single-process harness and fatal on a 1000-reader
  * cluster. This store removes the mutation entirely:
  *
  *   - `b-NNNNNN/`      immutable batch directories (plain parquet);
  *                      once referenced by any manifest, never rewritten
  *   - `manifest-NNNNNN` one batch-dir name per line — the full file
  *                      listing of version N (no directory listing at
  *                      read time, the Iceberg/Delta lesson: listings
  *                      are slow and racy on object stores)
  *   - `CURRENT`        a monotonic HINT naming a recently committed
  *                      manifest (see the commit protocol below)
  *
  * Readers resolve the current version once and read exactly the named
  * batch dirs: every version is a consistent SNAPSHOT, a reader mid-job
  * keeps its version's files regardless of concurrent appends or
  * compactions, and `readVersion` time-travels to any un-vacuumed
  * version for free.
  *
  * == Commit protocol (multi-writer safe, round-14) ==
  *
  * Until round 13 the store was single-writer by contract: batch names
  * WERE version numbers and the manifest landed under its final name
  * with a plain write, so two concurrent appenders would silently
  * overwrite each other. The protocol is now optimistic concurrency:
  *
  *  1. CLAIM a batch dir: the next `b-NNNNNN` name after the highest
  *     existing one, taken atomically with `createDirectory` (EEXIST
  *     means another writer — or a crashed writer's orphan — holds the
  *     name; take the next). The claim makes batch writes collision-
  *     free without UUIDs: under a contention-free single writer the
  *     names are exactly the old deterministic sequence.
  *  2. WRITE the batch parquet into the claimed dir.
  *  3. COMMIT: write the manifest bytes to a writer-unique dot-tmp
  *     file, then atomically LINK it to `manifest-(cur+1)` — a hard
  *     link creation fails with EEXIST if the name is taken, which is
  *     the create-if-absent primitive POSIX gives (an object-store
  *     deployment uses a conditional PUT / If-None-Match; a store with
  *     neither — bare S3 before 2024 — needs an external lock service,
  *     which is exactly what Delta's S3 LogStore does). Losing the
  *     race costs nothing but a re-read of the winner's manifest and a
  *     retry at the next version; the batch is never rewritten.
  *  4. ADVANCE the `CURRENT` hint (forward-only; losing THIS race is
  *     harmless — see below).
  *
  * A manifest file therefore EXISTS only if it is complete — the tmp's
  * bytes are fsynced before the link and the directory entry after it
  * (round-14 ADVICE: without the force, a power loss could surface a
  * committed manifest NAME over truncated bytes) — so
  * manifest-existence IS
  * commit: the committed chain is dense (every winner extends it by
  * exactly one), and `currentVersion` probes forward from the CURRENT
  * hint until the chain ends. CURRENT may lag — a writer crashed
  * between link and advance, or two advancers raced — but it can only
  * name a committed version, and the probe recovers the true head in
  * O(lag) existence checks, never a directory listing.
  *
  * Crash anatomy: before the link, a writer leaves at worst an orphan
  * claimed batch dir and a dot-tmp file — invisible to every reader,
  * collected by [[vacuum]]. After the link the version is committed
  * regardless of what else the writer meant to do. There is no state
  * in between (the link is atomic), so "a truncated batch list behind
  * a live manifest name" — the round-13 hazard of the plain-write
  * publish — cannot exist.
  *
  * [[replace]] (and [[compact]] through it) does NOT auto-retry: its
  * frame was computed from a specific base version, and blindly
  * re-committing it after a concurrent append would silently erase
  * that append's rows. It fails loudly with the base version in the
  * message; the caller re-reads and re-runs — the Iceberg rewrite
  * semantics.
  *
  * Local File ops are the harness shape (same note as
  * [[Bucketing.compactBucketedTiered]]); an object-store deployment
  * swaps them for its FileSystem and keeps the protocol — immutable
  * puts, conditional put, last-writer-wins put for the hint.
  */
object VersionedFlat {

  private def manifestName(v: Int): String = f"manifest-$v%06d"
  private def batchName(n: Int): String = f"b-$n%06d"

  private val ManifestRe = "manifest-(\\d{1,9})".r
  private val BatchRe = "b-(\\d{1,9})".r

  /** Per-process tmp-name uniquifier (two threads of one process
    * racing a commit must not share a tmp file either).
    */
  private val tmpNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  private def listNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq.map(_.getName)

  /** The live version number (0 if the store is uninitialized).
    * CURRENT is a hint, not truth: probe forward along the dense
    * committed chain until it ends (a crashed or raced hint advance
    * lags by a bounded number of commits, each one existence check).
    */
  def currentVersion(dir: String): Int = {
    val cur = new java.io.File(dir, "CURRENT")
    var v =
      if (!cur.exists()) 0
      else new String(java.nio.file.Files.readAllBytes(cur.toPath),
        "UTF-8").trim.stripPrefix("manifest-").toInt
    while (new java.io.File(dir, manifestName(v + 1)).exists()) v += 1
    v
  }

  private[sources] def readManifest(dir: String, v: Int): Seq[String] = {
    val m = new java.io.File(dir, manifestName(v))
    require(m.exists(),
      s"version $v of $dir does not exist (never written, or vacuumed)")
    new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Atomically claim the next free `prefix`-numbered marker dir
    * (EEXIST — a concurrent writer or a crashed claim — skips to the
    * next; the loop is bounded by the number of live contenders plus
    * orphans). Shared protocol primitive: [[VersionedFlat]] claims
    * batch dirs with it ("b-"), [[BucketedManifest]] claims generation
    * numbers ("g-").
    */
  private[sources] def claimMarker(dir: String, prefix: String)
      : (Int, java.io.File) = {
    val re = (java.util.regex.Pattern.quote(prefix) + "(\\d{1,9})").r
    var n = listNames(dir)
      .collect { case re(d) => d.toInt }
      .foldLeft(0)(math.max) + 1
    while (true) {
      val f = new java.io.File(dir, f"$prefix$n%06d")
      try {
        java.nio.file.Files.createDirectory(f.toPath)
        return (n, f)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => n += 1
      }
    }
    sys.error("unreachable")
  }

  private def claimBatchDir(dir: String): java.io.File =
    claimMarker(dir, "b-")._2

  /** fsync a file or directory so its bytes (file) or entries (dir)
    * are durable before the next protocol step — the power-loss half
    * of "manifest existence IS commit" (round-14 ADVICE: without the
    * force, a committed manifest NAME could surface over truncated
    * bytes after a crash).
    */
  private def fsync(p: java.nio.file.Path): Unit = {
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  /** Try to commit `batches` as version `v`: manifest bytes land fully
    * in a writer-unique tmp and are FORCED to stable storage (file
    * fsync) before the atomic link claims the version name
    * (create-if-absent); the directory is then fsynced so the link
    * entry itself is durable, and the CURRENT hint advances. False =
    * lost the race (another writer committed `v`); the tmp is cleaned
    * up.
    */
  private[sources] def tryCommit(dir: String, v: Int,
      batches: Seq[String]): Boolean = {
    val tmp = new java.io.File(dir,
      s".${manifestName(v)}.p${ProcessHandle.current().pid()}" +
        s"t${tmpNonce.incrementAndGet()}.tmp")
    java.nio.file.Files.write(tmp.toPath,
      (batches.mkString("\n") + "\n").getBytes("UTF-8"))
    fsync(tmp.toPath)
    try {
      java.nio.file.Files.createLink(
        new java.io.File(dir, manifestName(v)).toPath, tmp.toPath)
      fsync(new java.io.File(dir).toPath)
      advanceCurrent(dir, v)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.toPath): Unit
    }
  }

  /** Move the CURRENT hint forward to `v` if it lags (forward-only:
    * overwriting a HIGHER hint would point readers at extra probe
    * work, not wrong data, but there is no reason to). Two advancers
    * can still interleave read-then-move so that the final hint is
    * the smaller v — that race is accepted: the hint only ever names
    * a committed manifest and [[currentVersion]]'s probe closes any
    * lag. Writer-unique tmp names keep the racers from corrupting
    * each other's bytes.
    */
  private[sources] def advanceCurrent(dir: String, v: Int): Unit =
    advanceHint(dir, "CURRENT", v)

  /** The chain's checkpoint FLOOR (default 1): the lowest version
    * whose manifest can still exist — everything below is expired,
    * deleted history. The floor is the Iceberg snapshot-log-
    * compaction idea reduced to this store's shape (round-16 verdict
    * item #1): the manifest CHAIN grows by one flat file per commit
    * forever, and without a floor every whole-chain metadata walk
    * (purge/attach-style audits) is O(all-time commits) in existence
    * probes even after vacuum deleted the files. [[vacuum]] advances
    * the floor as it expires manifests, so those walks read
    * O(retained). Like CURRENT it is a forward-only, last-writer-wins
    * HINT, conservative by construction: it may LAG the true lowest
    * manifest (a crash between manifest deletion and the advance),
    * never overshoot it, so a scan from the floor sees every retained
    * manifest and at worst re-probes a few deleted names.
    */
  def floorVersion(dir: String): Int = {
    val f = new java.io.File(dir, "FLOOR")
    if (!f.exists()) 1
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").trim.stripPrefix("manifest-").toInt
  }

  /** Move the FLOOR hint forward to `v` if it lags ([[floorVersion]];
    * same forward-only LWW discipline as [[advanceCurrent]]).
    */
  private[sources] def advanceFloor(dir: String, v: Int): Unit =
    advanceHint(dir, "FLOOR", v)

  private def advanceHint(dir: String, name: String, v: Int): Unit = {
    val cur = new java.io.File(dir, name)
    val pointed =
      if (!cur.exists()) 0
      else new String(java.nio.file.Files.readAllBytes(cur.toPath),
        "UTF-8").trim.stripPrefix("manifest-").toInt
    if (v > pointed) {
      val tmp = new java.io.File(dir,
        s".$name.p${ProcessHandle.current().pid()}" +
          s"t${tmpNonce.incrementAndGet()}.tmp")
      java.nio.file.Files.write(tmp.toPath,
        (manifestName(v) + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, cur.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write `df`'s parquet into an already-claimed (empty) batch dir —
    * append mode adds files without deleting the dir, preserving the
    * claim.
    */
  private def writeBatch(df: DataFrame, claimed: java.io.File): String = {
    df.write.mode("append").parquet(claimed.getPath)
    claimed.getName
  }

  /** Initialize the store with `df` as version 1 (wipes `dir`).
    * Initialization is the one single-writer operation by contract —
    * concurrent writers join at [[append]] time.
    */
  def write(df: DataFrame, dir: String): Unit = {
    Scratch.deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val ok = tryCommit(dir, 1, Seq(writeBatch(df, claimBatchDir(dir))))
    require(ok, s"init of $dir raced a concurrent writer — " +
      "initialization is single-writer by contract")
  }

  /** Admit `df` as a new version: one new immutable batch dir, a
    * manifest referencing the winner-at-commit-time's batches plus it
    * — O(batch) data written, standing batches untouched. Safe under
    * concurrent appenders: the batch is written ONCE, and a lost
    * manifest CAS costs only a re-read of the winner's (now current)
    * manifest and a retry at the next version number.
    */
  def append(df: DataFrame, dir: String, maxRetries: Int = 20): Unit = {
    require(currentVersion(dir) > 0,
      s"$dir is not an initialized VersionedFlat store")
    val b = claimBatchDir(dir)
    val name = writeBatch(df, b)
    var attempts = 0
    while (attempts < maxRetries) {
      val cur = currentVersion(dir)
      if (tryCommit(dir, cur + 1, readManifest(dir, cur) :+ name)) return
      attempts += 1
    }
    throw new IllegalStateException(
      s"append to $dir lost the manifest CAS $maxRetries times — " +
        "pathological contention; raise maxRetries or serialize writers")
  }

  /** Publish `df` as the next version's SOLE content — the
    * compaction/purge primitive (the caller decides what survives:
    * everything for a plain compact, the tombstone-excluded frame for
    * a purge). `df` may freely read the current version's batches: the
    * merged batch lands in a NEW dir, nothing is rewritten in place.
    *
    * Unlike [[append]] this does NOT auto-retry a lost CAS: `df` was
    * computed from `basedOn` (default: the current version at entry),
    * and re-committing it after a concurrent append would silently
    * erase that append's rows. A concurrent commit raises
    * [[java.util.ConcurrentModificationException]]; recompute from the
    * new current version and retry the whole operation.
    */
  def replace(df: DataFrame, dir: String, targetFiles: Int = 1,
      basedOn: Int = 0): Unit = {
    val base = if (basedOn > 0) basedOn else currentVersion(dir)
    require(base > 0, s"$dir is not an initialized VersionedFlat store")
    val b = claimBatchDir(dir)
    val name = writeBatch(
      df.coalesce(math.max(1, targetFiles)), b)
    if (!tryCommit(dir, base + 1, Seq(name)))
      throw new java.util.ConcurrentModificationException(
        s"version ${base + 1} of $dir was committed concurrently — " +
          "the replacement frame is stale; recompute and retry")
  }

  /** Compact the current version's batches into ONE merged batch dir
    * (`targetFiles` files) and publish it as the next version's sole
    * content. Readers on older versions are untouched — their batch
    * dirs remain until [[vacuum]]. Fails loudly if a concurrent
    * commit lands mid-compaction (see [[replace]]).
    */
  def compact(spark: SparkSession, dir: String,
      targetFiles: Int = 1): Unit = {
    val v = currentVersion(dir)
    require(v > 0, s"$dir is not an initialized VersionedFlat store")
    replace(readVersion(spark, dir, v), dir, targetFiles, basedOn = v)
  }

  /** ROLLBACK: publish version `v`'s exact batch list as the NEXT
    * version — the undo operation (round-16; the flat-store twin of
    * [[BucketedManifest.rollback]], Iceberg's rollback-to-snapshot
    * semantics): a poisoned append or mistaken replace is reverted by
    * REFERENCE — no batch is copied, rewritten, or deleted; the bad
    * versions stay time-travelable until [[vacuum]] ages them out,
    * and the rollback itself is an ordinary auditable commit. Fails
    * loudly when `v` was vacuumed or never existed; CAS-retried like
    * [[append]]. Returns the committed version.
    */
  def rollback(dir: String, v: Int, maxRetries: Int = 20): Int = {
    require(currentVersion(dir) > 0,
      s"$dir is not an initialized VersionedFlat store")
    require(v > 0 && new java.io.File(dir, manifestName(v)).exists(),
      s"version $v of $dir does not exist (never committed, or " +
        "vacuumed) — cannot roll back to it")
    val lines = readManifest(dir, v)
    var attempts = 0
    while (attempts < maxRetries) {
      val cur = currentVersion(dir)
      if (tryCommit(dir, cur + 1, lines)) return cur + 1
      attempts += 1
    }
    throw new IllegalStateException(
      s"rollback of $dir to version $v lost the manifest CAS " +
        s"$maxRetries times — pathological contention")
  }

  /** [[compact]] only when the current manifest references more than
    * `maxBatches` batch dirs — the cadence policy that bounds manifest
    * growth (round-14 directive #6): N appends otherwise leave a
    * manifest of N batch roots and a read plan whose multi-path scan
    * carries N roots; planning cost grows with the root count (the
    * measured table lives in PLANS.md §Round 14). Ingest loops call
    * this after admitting; the cap trades one merged-batch write per
    * `maxBatches` admits for O(1) read-plan roots. Returns whether a
    * compaction ran.
    */
  def maybeCompact(spark: SparkSession, dir: String, maxBatches: Int,
      targetFiles: Int = 1): Boolean = {
    require(maxBatches >= 1, s"bad maxBatches $maxBatches")
    val v = currentVersion(dir)
    require(v > 0, s"$dir is not an initialized VersionedFlat store")
    if (readManifest(dir, v).size <= maxBatches) false
    else { compact(spark, dir, targetFiles); true }
  }

  /** Batch-dir count of version `v` (0 = current) — the observable the
    * manifest-growth cadence contract is asserted against.
    */
  def batchCount(dir: String, v: Int = 0): Int =
    readManifest(dir, if (v > 0) v else currentVersion(dir)).size

  /** The current snapshot. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, currentVersion(dir))

  /** Time travel: the exact row set of version `v`. Fails loudly if
    * `v` was vacuumed or never existed — a silent fallback to another
    * version would un-pin every downstream reproducibility claim.
    * (An existing manifest is complete by the commit protocol — the
    * link happens only after the bytes are fully written — so there is
    * no "orphan version above CURRENT" to guard against.)
    */
  def readVersion(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val paths = readManifest(dir, v)
      .map(b => new java.io.File(dir, b).getPath)
    spark.read.parquet(paths: _*)
  }

  /** Drop manifests older than the `retain` most recent versions, then
    * every batch dir no retained manifest references — including
    * orphan claims and dot-tmp files crashed writers left. The current
    * version always survives (`retain` is clamped to 1+); the CURRENT
    * hint is refreshed to the true head first, so retention windows
    * are measured from the real current.
    *
    * Orphan collection is AGE-GATED (round-14 ADVICE): an unreferenced
    * batch dir or a dot-tmp is indistinguishable from a LIVE writer's
    * in-flight claim, so only debris whose mtime is older than
    * `orphanMinAgeMs` is collected — set it above the longest
    * plausible write and vacuum is safe to run concurrently with
    * appenders (committed batches are referenced the instant their
    * manifest links, so only claims-in-progress are at stake). The
    * default keeps the old quiesced-housekeeping semantics (collect
    * everything), which remains correct only when no writer is
    * in flight — callers that cannot guarantee quiescence must pass an
    * age. Superseded MANIFESTS need no gate: a manifest older than the
    * retention window is committed history, never in-flight state.
    */
  def vacuum(dir: String, retain: Int = 1,
      orphanMinAgeMs: Long = 0L): Unit = {
    val cur = currentVersion(dir)
    require(cur > 0, s"$dir is not an initialized VersionedFlat store")
    advanceCurrent(dir, cur)
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanMinAgeMs)
    def oldEnough(f: java.io.File): Boolean = f.lastModified() <= cutoff
    val keepMin = math.max(1, cur - math.max(1, retain) + 1)
    val kept = (keepMin to cur)
      .filter(v => new java.io.File(dir, manifestName(v)).exists())
    val referenced = kept.flatMap(readManifest(dir, _)).toSet
    val top = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    // strict manifest-\d+ match (ADVICE round-13: a stray editor
    // backup like manifest-000002~ must not abort housekeeping)
    top.filter(f => f.getName match {
      case ManifestRe(d) => d.toInt < keepMin
      case _ => false
    }).foreach(f => java.nio.file.Files.delete(f.toPath))
    // checkpoint the chain: everything below keepMin is now deleted
    // history, so whole-chain walks can start at the floor
    advanceFloor(dir, keepMin)
    // crashed commits' dot-tmp debris (age-gated: a live committer's
    // tmp only exists between write and link — milliseconds)
    top.filter(f => f.isFile && f.getName.startsWith(".") &&
        f.getName.endsWith(".tmp") && oldEnough(f))
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    top.filter(f => f.isDirectory && oldEnough(f) && (f.getName match {
        case BatchRe(_) => !referenced(f.getName)
        case _ => false
      }))
      .foreach(Scratch.deleteRecursively)
  }
}
