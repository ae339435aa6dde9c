package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one registry of state derived from immutable corpus files or an
  * index generation: cached frames, eager decisions and codebooks,
  * table read plans, and standing on-disk artifacts (demo indexes,
  * tokenizer models, replay prototypes) built into local temp dirs.
  *
  * An entry is keyed by SCOPE (a Spark session, or the whole JVM for
  * temp-dir artifacts), a key string (conventionally `"$dir|what"`),
  * and, for generation-keyed entries, the index GENERATION it was
  * built at — the version of the index's [[IndexMaintenance]] log,
  * which every append/compact/delete/retrain moves by committing. A
  * generation-keyed lookup re-derives when the version has moved.
  *
  * LOCKING: the map itself is a concurrent map; each entry carries its
  * own monitor and `build` runs under it, so consumers of the same key
  * wait for its result while unrelated keys never do. A build may
  * look up another key (the encoded vocabulary reads the merge table)
  * — the key graph is acyclic, so nested entry monitors cannot
  * deadlock. The fill is one atomic step against the map: an entry
  * dropped while it was building is not filled, and a frame it built
  * is unpersisted instead of orphaned in the cache.
  *
  * RELEASE is one path for every entry: a frame the registry cached
  * (or an `Option` of one) is unpersisted, a temp dir is deleted —
  * local `java.io` deletion is right by construction, the dirs come
  * from `Files.createTempDirectory`, never a deployment filesystem.
  * Two drains: [[reset]] drops derived results and keeps standing
  * entries (temp-dir artifacts, table read plans) — what a benchmark
  * needs between timed rounds, so served keys still price an artifact
  * READ; [[clear]] drops everything — call it after replacing corpus
  * files at the same path. Entries of a stopped session are swept on
  * the next lookup.
  */
private[graft] object Artifacts {

  private sealed trait Kind
  private case object Plain extends Kind
  private case object Frame extends Kind
  private case object TempDir extends Kind

  /** `scope == null` is the JVM scope. Sessions compare by identity. */
  private final case class Slot(scope: SparkSession, key: String)

  private final class Entry(val kind: Kind, val standing: Boolean) {
    @volatile var filled = false
    @volatile var gen: String = _
    @volatile var value: Any = _
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Slot, Entry]()

  /** Lookup counters across every key — a hit must not re-run the
    * build's Spark actions, and an index mutation must force a miss. */
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val misses = new java.util.concurrent.atomic.AtomicLong()

  /** A derived value for (session, key), built once. `standing` entries
    * survive [[reset]] (only [[graft.Tables]]' read plans use it). */
  def memo[T](s: SparkSession, key: String, standing: Boolean = false)(build: => T): T =
    lookup(Slot(s, key), Plain, standing, null)(build)

  /** A derived frame, `.cache()`d lazily at build — constructing it
    * runs no job; it is unpersisted when the entry goes. */
  def frame(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    lookup(Slot(s, key), Frame, standing = false, null)(build.cache())

  /** A decision derived from the index snapshot `snap`, served to every
    * lookup at the same generation. `build` must read only `snap`, and
    * `key` must carry every parameter the value depends on. Keyed on
    * the caller's snapshot, not a fresh one: a serve that plans one
    * snapshot's files gets that snapshot's decision even when a commit
    * lands mid-construction. */
  def atGeneration[T](s: SparkSession, snap: IndexMaintenance.Snapshot, key: String)(
      build: => T): T =
    lookup(Slot(s, s"${snap.root}|$key"), Plain, standing = false, snap.generation)(build)

  /** [[atGeneration]] for a frame: cached AND materialised inside the
    * build, so the frame holds the generation it is stored under even
    * if the index changes before a caller consumes it. */
  def frameAtGeneration(s: SparkSession, snap: IndexMaintenance.Snapshot, key: String)(
      build: => DataFrame): DataFrame =
    lookup(Slot(s, s"${snap.root}|$key"), Frame, standing = false, snap.generation)(pinned(build))

  /** [[frameAtGeneration]] for a decision that may conclude "no frame"
    * (the `None` is itself the memoised decision). */
  def frameOptAtGeneration(s: SparkSession, snap: IndexMaintenance.Snapshot, key: String)(
      build: => Option[DataFrame]): Option[DataFrame] =
    lookup(Slot(s, s"${snap.root}|$key"), Frame, standing = false, snap.generation)(
      build.map(pinned))

  /** A standing on-disk artifact for the whole JVM: `build` creates a
    * local temp dir, fills it and returns its path. Kept by [[reset]],
    * deleted by [[clear]]. */
  def tempDir(key: String)(build: => String): String =
    lookup(Slot(null, key), TempDir, standing = true, null)(build)

  private def pinned(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  private def lookup[T](slot: Slot, kind: Kind, standing: Boolean,
      gen: => String)(build: => T): T = {
    sweepStopped()
    val e = entries.computeIfAbsent(slot, _ => new Entry(kind, standing))
    e.synchronized {
      // taken BEFORE the build: a writer racing it commits a version
      // past the stored generation, so the next probe misses
      val g = gen
      if (e.filled && e.gen == g) {
        hits.incrementAndGet()
        return e.value.asInstanceOf[T]
      }
      misses.incrementAndGet()
      val v = build
      var previous: Option[Any] = None
      val kept = entries.computeIfPresent(slot, (_, cur) => {
        if (cur eq e) {
          if (e.filled) previous = Some(e.value)
          e.value = v; e.gen = g; e.filled = true
        }
        cur
      }) eq e
      // dropped mid-build: a frame is released rather than orphaned in
      // the cache (the caller's copy recomputes from lineage); a temp dir
      // is left to the caller, who is about to read it
      if (kept) previous.foreach(release(kind, _))
      else if (kind == Frame) release(kind, v)
      v
    }
  }

  private def release(kind: Kind, value: Any): Unit = scala.util.Try {
    (kind, value) match {
      case (Frame, df: Dataset[_]) => df.unpersist()
      case (Frame, Some(df: Dataset[_])) => df.unpersist()
      case (TempDir, dir: String) =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      case _ => ()
    }
  }

  /** Remove (atomically against a concurrent fill) and release every
    * entry `drop` selects. */
  private def drain(drop: (Slot, Entry) => Boolean): Unit =
    entries.forEach { (slot, e) =>
      if (drop(slot, e) && entries.remove(slot, e) && e.filled) release(e.kind, e.value)
    }

  private def sweepStopped(): Unit =
    drain((slot, _) => slot.scope != null && slot.scope.sparkContext.isStopped)

  /** Drop every derived result; standing entries stay. */
  def reset(): Unit = drain((_, e) => !e.standing)

  /** Drop everything, temp-dir artifacts included (corpus swap). */
  def clear(): Unit = drain((_, _) => true)

  /** Drop this session's entries whose key starts with `prefix` — index
    * maintenance calls it when it swaps an index's files out from
    * under a memoised read of them. */
  def invalidate(s: SparkSession, prefix: String): Unit =
    drain((slot, _) => (slot.scope eq s) && slot.key.startsWith(prefix))

  /** Live keys, all scopes (the growth pin reads it). */
  private[graft] def keys: Seq[String] = {
    val out = Seq.newBuilder[String]
    entries.forEach((slot, _) => out += slot.key)
    out.result()
  }
}
