package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Copy-rename commit markers and the cross-process maintenance lease —
  * the commit scheme of the two artifacts that are NOT index logs: the
  * token ledger's rollup dirs and the persisted BPE model. Indexes
  * commit through [[IndexMaintenance]]'s log instead.
  *
  * COMMIT MARKERS survive filesystems where rename is copy+delete (S3A):
  * the marker is created AFTER the stage→target rename returns, so a
  * crash mid-copy leaves a marker-less dir that readers treat as
  * incomplete instead of adopting partial content. The marker cannot
  * ride inside the staging dir — a copy-rename copies files in
  * unspecified order, so it could land before the data it vouches for.
  * Underscore-prefixed marker names keep parquet scans blind to it.
  *
  * THE LEASE makes a second maintenance PROCESS fail loudly instead of
  * racing a rollup: each maintenance op create-if-absent's a lease file
  * stamped with this process's id (`create(overwrite = false)`). A LIVE
  * foreign lease (younger than [[leaseStaleMs]]) aborts the op; a stale
  * one — a crashed holder — is broken and re-taken. The lease is
  * reentrant per PROCESS (threads are serialized by the in-JVM lock)
  * and its file is a sibling of the scope dir (`.{dir}.lease`).
  */
object Lease {

  def commitMarkerPresent(f: FileSystem, dir: Path, marker: String): Boolean =
    f.exists(new Path(dir, marker))

  /** Create the marker, optionally carrying a small payload — content
    * written at creation is part of the same commit point, which lets a
    * committed artifact pin bounded summary stats (the ledger's
    * per-source totals) without a second read of its data. An empty
    * payload is a stats-less marker: readers fall back to the data. */
  def commitMarkerCreate(f: FileSystem, dir: Path, marker: String, content: String = ""): Unit = {
    val out = f.create(new Path(dir, marker), true)
    try if (content.nonEmpty) out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  /** The marker's payload — None for an absent or empty marker. */
  def commitMarkerContent(f: FileSystem, dir: Path, marker: String): Option[String] =
    try {
      val in = f.open(new Path(dir, marker))
      try Some(new String(in.readAllBytes(), "UTF-8")).filter(_.nonEmpty)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** A foreign lease younger than this is LIVE; older is a crashed
    * holder's leftover and is broken. */
  val leaseStaleMs: Long = 15L * 60 * 1000

  private[graft] val processId: String = java.util.UUID.randomUUID().toString

  private val held = scala.collection.mutable.Map[String, Int]()
  private val gate = new Object
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def leasePath(scope: Path): Path =
    new Path(Option(scope.getParent).getOrElse(scope), s".${scope.getName}.lease")

  private def qualified(s: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (f, f.makeQualified(p))
  }

  /** True when the lease covering `dir` exists and is younger than
    * [[leaseStaleMs]] — a maintenance writer is live on it (or crashed
    * less than a stale-window ago). Listing-only health probes use it to
    * tell an in-flight rollup's staging from a crashed one's: lease
    * FILES carry reliable mtimes everywhere, where directory mtimes on
    * object stores are synthetic. */
  def liveLeasePresent(s: SparkSession, dir: String): Boolean = {
    val (f, scope) = qualified(s, dir)
    try System.currentTimeMillis() -
      f.getFileStatus(leasePath(scope)).getModificationTime < leaseStaleMs
    catch { case _: java.io.FileNotFoundException => false }
  }

  private def owner(f: FileSystem, lp: Path): Option[String] =
    try {
      val in = f.open(lp)
      try Some(new String(in.readNBytes(64), "UTF-8")) finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Run `body` holding the in-JVM lock and the cross-process lease of
    * `dir`. */
  def withMaintenance[T](s: SparkSession, dir: String)(body: => T): T = {
    val (f, scope) = qualified(s, dir)
    val key = scope.toString
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      val lp = leasePath(scope)
      gate.synchronized {
        val n = held.getOrElse(key, 0)
        if (n > 0) held(key) = n + 1
        else {
          def tryAcquire(): Boolean =
            try {
              val out = f.create(lp, false)
              out.write(processId.getBytes("UTF-8")); out.close(); true
            } catch { case _: java.io.IOException => false }
          if (!tryAcquire()) {
            val live = try System.currentTimeMillis() -
                f.getFileStatus(lp).getModificationTime < leaseStaleMs
              catch { case _: java.io.FileNotFoundException => false }
            val who = owner(f, lp).getOrElse("")
            if (live && who != processId)
              throw new IllegalStateException(
                s"maintenance lease on $scope is held by process $who — a concurrent " +
                s"maintenance writer; refusing to race it (lease $lp, stale after " +
                s"${leaseStaleMs / 1000} s)")
            f.delete(lp, false)
            if (!tryAcquire()) throw new IllegalStateException(
              s"maintenance lease on $scope: lost the acquire race after breaking a stale lease ($lp)")
          }
          held(key) = 1
        }
      }
      try body
      finally gate.synchronized {
        val n = held.getOrElse(key, 1)
        if (n > 1) held(key) = n - 1
        else {
          held.remove(key)
          // release only our own lease: a process that judged us stale
          // and re-took it owns the file now
          if (owner(f, lp).forall(_ == processId)) f.delete(lp, false)
        }
      }
    }
  }
}
