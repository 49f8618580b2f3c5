package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession

/** Age-out for per-process scratch artifacts (round-12, ADVICE): the
  * `graft_*_p<pid>` bucketed tables in spark-warehouse and the
  * `*_p<pid>` parquet dirs under tmp `graft_index` are rebuilt per process
  * and never re-read by a later one, so every harness run used to
  * leave its dead scratch behind (hundreds of MB per round of Verify +
  * Bench + tests). The first scratch write of a process sweeps prior
  * processes' leftovers: a name's embedded pid that is NOT alive marks
  * the artifact dead (the pid check, not age, is the guard — a
  * concurrent live Verify/Bench pair never touches each other's
  * scratch). Plain file deletion suffices: a dead process's managed
  * tables were registered only in its own in-memory catalog.
  */
object Scratch {

  private val swept = new java.util.concurrent.atomic.AtomicBoolean(false)

  // the pid segment may be FOLLOWED by an artifact suffix: bucketed
  // index tables are named graft_<kind>_<hash>_p<pid>_<part> (_keys,
  // _sh, _bands, _grams, _segs, _meta, …, plus __compact siblings) —
  // the original end-anchored pattern silently skipped all of them
  // (observed: 130 dead dirs / 40 MB surviving several harness runs)
  private val PidName = ".*_p([0-9]+)(?:_.*)?$".r

  /** Sweep once per process; safe to call from every scratch writer. */
  def sweepOnce(spark: SparkSession): Unit =
    if (swept.compareAndSet(false, true)) sweepNow(spark)

  /** The actual sweep, no once-guard (test seam). */
  private[graft] def sweepNow(spark: SparkSession): Unit = {
    val warehouse = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    val whDir = if (warehouse.getScheme == null ||
        warehouse.getScheme == "file")
      new File(Option(warehouse.getPath).getOrElse("spark-warehouse"))
    else null // non-local warehouse: cluster retention owns it
    if (whDir != null)
      sweepDir(whDir, prefix = "graft_")
    sweepDir(new File(
      s"${System.getProperty("java.io.tmpdir")}/graft_index"),
      prefix = "")
    // streaming sinks land under graft_stream_sink with the same
    // _p<pid> keying (round-13, ADVICE: dead-process sink dirs leaked
    // forever — the exact class the pid sweep exists for)
    sweepDir(new File(
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_sink"),
      prefix = "")
  }

  private def sweepDir(dir: File, prefix: String): Unit = {
    val self = ProcessHandle.current().pid()
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName match {
        case PidName(p) if f.getName.startsWith(prefix) &&
            p.toLong != self && !pidAlive(p.toLong) =>
          deleteRecursively(f)
        case _ => ()
      }
    }
  }

  private def pidAlive(pid: Long): Boolean =
    try ProcessHandle.of(pid).isPresent
    catch { case _: Throwable => true } // unsure → keep

  /** Recursive delete: children via `listFiles`, then the path itself;
    * a missing path is a no-op.
    */
  private[graft] def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File])
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
