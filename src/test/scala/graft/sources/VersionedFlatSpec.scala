package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{SparkSpec, Tables}
import graft.ext.Similarity

/** The version-pointer store's whole contract: snapshot isolation for
  * readers across appends/compactions (the property the rename-aside
  * swap cannot give), time travel, crash tolerance of a half-finished
  * publish, and vacuum that keeps exactly the retained versions.
  */
class VersionedFlatSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vflat_$tag").toString

  private def frame(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "s")
  }

  private def idSet(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("append publishes a new version; every older version stays " +
      "readable unchanged (time travel)") {
    val dir = tmp("tt")
    VersionedFlat.write(frame(0 until 10), dir)
    assert(VersionedFlat.currentVersion(dir) === 1)
    VersionedFlat.append(frame(10 until 25), dir)
    assert(VersionedFlat.currentVersion(dir) === 2)
    assert(idSet(VersionedFlat.read(spark, dir)) ===
      (0L until 25L).toSet)
    assert(idSet(VersionedFlat.readVersion(spark, dir, 1)) ===
      (0L until 10L).toSet,
      "version 1 must still serve exactly its own snapshot")
  }

  test("rollback republishes a prior version's batch list by " +
      "reference: head reverts, bad versions stay time-travelable, " +
      "later appends continue from the reverted state, vacuum keeps " +
      "the re-referenced batches") {
    val dir = tmp("rb")
    VersionedFlat.write(frame(0 until 10), dir)
    VersionedFlat.append(frame(10 until 20), dir) // v2, the good state
    VersionedFlat.append(frame(90 until 99), dir) // v3, the poison
    VersionedFlat.replace(frame(500 until 510), dir) // v4, worse still
    assert(VersionedFlat.rollback(dir, 2) === 5)
    assert(idSet(VersionedFlat.read(spark, dir))
      === (0L until 20L).toSet, "the head must revert to v2's content")
    assert(idSet(VersionedFlat.readVersion(spark, dir, 3))
      === (0L until 20L).toSet ++ (90L until 99L).toSet,
      "the poisoned version stays time-travelable")
    VersionedFlat.append(frame(30 until 35), dir)
    assert(idSet(VersionedFlat.read(spark, dir))
      === ((0L until 20L) ++ (30L until 35L)).toSet)
    intercept[IllegalArgumentException] {
      VersionedFlat.rollback(dir, 77)
    }
    VersionedFlat.vacuum(dir, retain = 1)
    assert(idSet(VersionedFlat.read(spark, dir))
      === ((0L until 20L) ++ (30L until 35L)).toSet,
      "vacuum must keep batches the rolled-back head re-references")
  }

  test("a reader's captured snapshot survives a concurrent compaction " +
      "(no rename-aside gap); compaction content-invariant, one file") {
    val dir = tmp("snap")
    VersionedFlat.write(frame(0 until 10), dir)
    VersionedFlat.append(frame(10 until 20), dir)
    // a long-running reader captures version 2 BEFORE the compaction
    val captured = VersionedFlat.read(spark, dir)
    VersionedFlat.compact(spark, dir)
    assert(VersionedFlat.currentVersion(dir) === 3)
    assert(idSet(captured) === (0L until 20L).toSet,
      "the pre-compaction snapshot must still collect after it")
    assert(idSet(VersionedFlat.read(spark, dir)) ===
      (0L until 20L).toSet, "compaction must not change content")
    val merged = new java.io.File(dir, "b-000003")
    assert(Option(merged.listFiles()).get
      .count(_.getName.startsWith("part-")) === 1,
      "the compacted version must hold one merged file")
  }

  test("a crash BEFORE the manifest link (orphan batch + tmp) is " +
      "invisible; a retry commits around the orphans; vacuum sweeps") {
    val dir = tmp("crash")
    VersionedFlat.write(frame(0 until 5), dir)
    // simulate the pre-link crash state: a claimed batch dir with data
    // and a manifest dot-tmp, no manifest — nothing is committed
    frame(5 until 9).write.mode("overwrite")
      .parquet(new java.io.File(dir, "b-000002").getPath)
    java.nio.file.Files.write(
      new java.io.File(dir, ".manifest-000002.p0t0.tmp").toPath,
      "b-000001\nb-000002\n".getBytes("UTF-8"))
    assert(VersionedFlat.currentVersion(dir) === 1)
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 5L).toSet,
      "readers must still see version 1")
    // the retry claims PAST the orphan (b-000003) and commits v2
    VersionedFlat.append(frame(5 until 8), dir)
    assert(VersionedFlat.currentVersion(dir) === 2)
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 8L).toSet,
      "the retry's commit must not include the crashed orphan's rows")
    VersionedFlat.vacuum(dir, retain = 2)
    val left = Option(new java.io.File(dir).listFiles()).get
      .map(_.getName).toSet
    assert(!left.contains("b-000002"),
      "vacuum must collect the orphan claimed batch dir")
    assert(!left.exists(_.endsWith(".tmp")),
      "vacuum must collect crashed writers' dot-tmp debris")
  }

  test("a crash AFTER the manifest link (CURRENT hint not advanced) " +
      "IS committed: the probe finds the version past the stale hint") {
    val dir = tmp("crashpost")
    VersionedFlat.write(frame(0 until 5), dir)
    VersionedFlat.append(frame(5 until 8), dir)
    // regress the hint to v1 — the state after a writer crashed (or
    // lost the advance race) between link and hint advance
    java.nio.file.Files.write(new java.io.File(dir, "CURRENT").toPath,
      "manifest-000001\n".getBytes("UTF-8"))
    assert(VersionedFlat.currentVersion(dir) === 2,
      "manifest existence IS commit — the probe must pass the hint")
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 8L).toSet)
    // and the next append extends the true head, not the hint
    VersionedFlat.append(frame(8 until 9), dir)
    assert(VersionedFlat.currentVersion(dir) === 3)
  }

  test("two concurrent appenders interleave safely: both batches " +
      "survive, versions linearize into a dense chain") {
    val dir = tmp("mw")
    VersionedFlat.write(frame(0 until 4), dir)
    val writers = (0 until 2).map { w =>
      new Thread(() =>
        (0 until 3).foreach { i =>
          val lo = 100 * (w + 1) + 10 * i
          VersionedFlat.append(frame(lo until (lo + 4)), dir)
        })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(VersionedFlat.currentVersion(dir) === 7,
      "6 appends over v1 must linearize into versions 2..7")
    val expect = (0L until 4L).toSet ++
      (for (w <- 0 until 2; i <- 0 until 3; d <- 0 until 4)
        yield (100 * (w + 1) + 10 * i + d).toLong)
    assert(idSet(VersionedFlat.read(spark, dir)) === expect,
      "every writer's every batch must survive the interleaving")
    // each version is a strict superset chain (one batch per commit)
    (1 to 7).foreach { v =>
      assert(VersionedFlat.readVersion(spark, dir, v).columns
        .contains("id"))
    }
  }

  test("replace/compact fail loudly when a concurrent commit lands " +
      "(stale frame must not erase the interleaved append)") {
    val dir = tmp("occ")
    VersionedFlat.write(frame(0 until 5), dir)
    val stale = VersionedFlat.read(spark, dir) // computed from v1
    VersionedFlat.append(frame(5 until 9), dir) // concurrent commit: v2
    intercept[java.util.ConcurrentModificationException] {
      VersionedFlat.replace(stale, dir, basedOn = 1)
    }
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 9L).toSet,
      "the concurrent append must survive the rejected stale replace")
  }

  test("maybeCompact honors the batch-count cadence: no-op at or " +
      "under the cap, one merged batch above it") {
    val dir = tmp("cad")
    VersionedFlat.write(frame(0 until 3), dir)
    VersionedFlat.append(frame(3 until 6), dir)
    VersionedFlat.append(frame(6 until 9), dir)
    assert(VersionedFlat.batchCount(dir) === 3)
    assert(!VersionedFlat.maybeCompact(spark, dir, maxBatches = 3),
      "at the cap: no compaction")
    assert(VersionedFlat.currentVersion(dir) === 3)
    assert(VersionedFlat.maybeCompact(spark, dir, maxBatches = 2),
      "above the cap: compaction must run")
    assert(VersionedFlat.batchCount(dir) === 1)
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 9L).toSet)
  }

  test("vacuum keeps the retained versions' batches, drops the rest, " +
      "and time travel to a vacuumed version fails loudly") {
    val dir = tmp("vac")
    VersionedFlat.write(frame(0 until 4), dir)
    VersionedFlat.append(frame(4 until 8), dir)
    VersionedFlat.compact(spark, dir) // v3 = one merged batch
    VersionedFlat.vacuum(dir, retain = 1)
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 8L).toSet,
      "the current version must be untouched by vacuum")
    val dirs = Option(new java.io.File(dir).listFiles())
      .get.filter(_.getName.startsWith("b-")).map(_.getName).toSet
    assert(dirs === Set("b-000003"),
      "only the retained version's batch dirs may survive")
    intercept[IllegalArgumentException] {
      VersionedFlat.readVersion(spark, dir, 1).collect()
    }
  }

  test("age-gated vacuum: a young in-flight claim and tmp survive, " +
      "aged debris is collected (round-14 ADVICE)") {
    val dir = tmp("age")
    VersionedFlat.write(frame(0 until 4), dir)
    VersionedFlat.append(frame(4 until 8), dir)
    VersionedFlat.compact(spark, dir) // v3; b-000001/2 now unreferenced
    // a LIVE writer's in-flight state: claimed batch dir + commit tmp,
    // both with fresh mtimes
    val claim = new java.io.File(dir, "b-000999")
    java.nio.file.Files.createDirectory(claim.toPath)
    val inflight = new java.io.File(dir, ".manifest-000009.p1t1.tmp")
    java.nio.file.Files.write(inflight.toPath, "b-000999\n".getBytes)
    VersionedFlat.vacuum(dir, retain = 1, orphanMinAgeMs = 3600000L)
    assert(claim.exists(),
      "a claim younger than the age gate must survive vacuum")
    assert(inflight.exists(),
      "a commit tmp younger than the age gate must survive vacuum")
    assert(new java.io.File(dir, "b-000001").exists(),
      "the gate is conservative: young unreferenced batches survive " +
        "too (in a real deployment superseded history has aged past " +
        "any plausible write and is collected)")
    assert(!new java.io.File(dir, "manifest-000001").exists(),
      "superseded manifests are committed history, never in-flight — " +
        "no age gate applies")
    // quiesced-mode vacuum (no gate) collects everything unreferenced
    VersionedFlat.vacuum(dir, retain = 1)
    assert(!claim.exists() && !inflight.exists(),
      "ungated vacuum keeps the old quiesced semantics")
    assert(idSet(VersionedFlat.read(spark, dir)) === (0L until 8L).toSet)
  }

  test("versioned IVF tombstones: purge publishes the excluded frame, " +
      "time travel still holds the bytes, vacuum erases them; " +
      "re-pending tombstones over purged rows are a no-op") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = tmp("ivfverdel")
    IndexStore.Ivf.versioned(idx).write(e, Similarity.firstIdCentroids(e, 16))
    val dead = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("id"))
    IndexStore.Ivf.versioned(idx).delete(dead)
    def liveIds(): Set[Long] =
      idSet(IndexStore.Ivf.versioned(idx).live(spark)._1)
    val masked = liveIds()
    assert(!masked.exists(_ % 7 == 3), "tombstones must mask serving")
    IndexStore.Ivf.versioned(idx).purge(spark)
    assert(liveIds() === masked, "purge must be serve-invariant")
    assert(!new java.io.File(s"$idx/dead.parquet").exists())
    // time travel is HONEST: version 1 still holds the dead bytes
    assert(idSet(IndexStore.Ivf.versioned(idx).read(spark, asOf = 1)._1)
      .exists(_ % 7 == 3))
    VersionedFlat.vacuum(s"$idx/enc", retain = 1)
    intercept[IllegalArgumentException] {
      IndexStore.Ivf.versioned(idx).read(spark, asOf = 1)._1.collect()
    }
    // a crash between publish and tombstone-clear leaves pending
    // tombstones over already-purged rows — must be a no-op
    IndexStore.Ivf.versioned(idx).delete(dead)
    assert(liveIds() === masked)
  }

  test("law: any append/compact/vacuum sequence — with crashed " +
      "writers' orphan claims injected anywhere — serves the model's " +
      "content, and every retained version time-travels exactly") {
    sealed trait Op
    final case class Append(n: Int) extends Op
    case object Compact extends Op
    final case class Vacuum(retain: Int) extends Op
    case object Orphan extends Op // a crashed writer's claimed batch dir
    val opGen: Gen[Op] = Gen.frequency(
      (4, Gen.choose(1, 5).map(Append(_))),
      (2, Gen.const(Compact)),
      (1, Gen.choose(1, 3).map(Vacuum(_))),
      (1, Gen.const(Orphan)))
    val opsGen = Gen.choose(1, 6).flatMap(Gen.listOfN(_, opGen))
    val p = Prop.forAll(opsGen) { ops =>
      val dir = tmp("law")
      var next = 0L
      def mk(n: Int): Seq[Long] = {
        val ids = next until (next + n); next += n; ids
      }
      import spark.implicits._
      def fr(ids: Seq[Long]): DataFrame =
        ids.map(i => (i, s"v$i")).toDF("id", "s")
      VersionedFlat.write(fr(mk(3)), dir)
      var versions = Vector((0L until 3L).toSet)
      var keepMin = 1
      ops.foreach {
        case Append(n) =>
          val ids = mk(n)
          VersionedFlat.append(fr(ids), dir)
          versions :+= (versions.last ++ ids)
        case Compact =>
          VersionedFlat.compact(spark, dir)
          versions :+= versions.last
        case Vacuum(r) =>
          VersionedFlat.vacuum(dir, r)
          keepMin = math.max(keepMin, versions.size - math.max(1, r) + 1)
        case Orphan =>
          // simulate a writer that claimed a batch dir, wrote into it,
          // and died before its commit — invisible to the model
          val claimed = Option(new java.io.File(dir).listFiles()).get
            .collect { case f if f.getName.matches("b-\\d+") =>
              f.getName.stripPrefix("b-").toInt }
            .foldLeft(0)(math.max) + 1
          fr(Seq(999999L)).write.mode("overwrite").parquet(
            new java.io.File(dir, f"b-$claimed%06d").getPath)
      }
      idSet(VersionedFlat.read(spark, dir)) == versions.last &&
        (keepMin to versions.size).forall(v =>
          idSet(VersionedFlat.readVersion(spark, dir, v)) ==
            versions(v - 1))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }
}
