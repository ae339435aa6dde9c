package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, element_at, typedLit}
import org.apache.spark.sql.types.{DataType, StructType}

/** The transaction log of the persisted indexes.
  *
  * Every directory this object writes — a text, dedup signature,
  * LSH/IVF/IVF-PQ, decontamination or ingest index, or an ingest
  * verdict sink — carries ONE log at `<dir>/_log/<version>.json`. The
  * directory's tables are its subdirectories (`postings`, `lists`, …;
  * a sink is the single table `""`, the directory itself); data files
  * are plain parquet files directly inside their table directory. The
  * log, not the directory listing, says which files a table holds: a
  * file nobody committed (a crashed writer's leftover) is invisible to
  * every read, and the next rewrite of its directory deletes it once it
  * is older than [[orphanRetentionMs]] — a younger one may be a live
  * writer's staged file.
  *
  * ACTIONS. A version file is JSON lines, one action per line:
  *  - `add` — a data file: path relative to the directory, table, size,
  *    the SEQUENCE its rows are valid from (the committing version for
  *    an append, [[baseSeq]] — below every version — for a
  *    build/compaction/retrain output), and the table schema;
  *  - `remove` — a data file leaves its table;
  *  - `tombstone` — an id of a table is deleted as of this version: it
  *    masks the id's rows in files whose sequence is BELOW the version,
  *    so a later append of the same id serves;
  *  - `consume` — a rewrite dropped a tombstone's rows physically;
  *  - `batch` — the high-water mark of a streaming lineage's batch ids;
  *  - `prop` — a small `table.key` fact (bloom counters, a text
  *    index's corpus statistics); a rewrite of the table drops the
  *    facts it does not restate.
  *
  * COMMIT RULE. A write stages its parquet files under fresh names,
  * refreshes their mtimes (failing loudly if one is gone), then creates
  * version `v + 1` with `create(overwrite = false)`, where `v` is the
  * snapshot it read; the version file appearing is the commit. Writers
  * of one directory serialize on an in-JVM lock, so within a process
  * the race is never lost; readers in the process never see a version
  * half-written. Files a commit removes are deleted before
  * the call returns, so a plain parquet read of a quiescent table
  * equals its snapshot.
  *
  * CONFLICT RULE. A commit that finds its version taken (a writer in
  * another process) re-reads the snapshot and tries the next version.
  * So does a commit whose create succeeded on a version a checkpoint
  * had already retired: a later version or checkpoint in `_log` exposes
  * it, and the stray file is deleted before anything else happens. A
  * rewrite of a table whose file set changed since the snapshot it read
  * (a concurrent build, rewrite or append won) fails loudly, its staged
  * files are deleted and the table is untouched. A batch whose mark the
  * new snapshot already holds is dropped, not landed twice.
  *
  * CHECKPOINT. Every [[checkpointInterval]] versions the full state is
  * written as `<version>.checkpoint.json`; a reader replays from the
  * newest checkpoint, and versions older than the previous checkpoint
  * are deleted, so replay and the `_log` listing stay bounded.
  *
  * Rewrites sort on the serve key and size files at [[targetFileBytes]]:
  * row-group min/max on the sort key is what lets a pushed predicate
  * (`term IN (...)`, the probed `c_id` set) skip row groups as the
  * table grows. Serve results are identical before and after a
  * compaction — it changes layout, not content (pinned in
  * `AnnIndexSpec`).
  */
object IndexMaintenance {

  /** Target output file size. 128 MB ≈ one HDFS block / one scan task
    * per file — the conventional operating point. */
  val targetFileBytes: Long = 128L * 1024 * 1024

  /** The sequence of a build/compaction/retrain output: below every
    * version, so an append — even at version 0 — is always above it. */
  val baseSeq: Long = -1L

  /** A checkpoint is written at every positive version divisible by this. */
  val checkpointInterval: Long = 10L

  /** An uncommitted data file younger than this may be staged by a live
    * writer in another process; only older ones are deleted as orphans.
    * The Delta Lake VACUUM retention idea. */
  val orphanRetentionMs: Long = 15L * 60 * 1000

  /** Run `f` with a thread-local Spark job description (guide §1.5 —
    * label your jobs): every action inside shows up in listeners/UI
    * under `desc` instead of the enclosing stream's run id, restoring
    * the previous label after. Pure observability; no plan change. */
  def labeledJob[T](s: SparkSession, desc: String)(f: => T): T = {
    val sc = s.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(old)
  }

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def qualify(s: SparkSession, dir: String): Path = {
    val p = new Path(dir)
    fsOf(s, p).makeQualified(p)
  }

  private def tableDir(root: Path, table: String): Path =
    if (table.isEmpty) root else new Path(root, table)

  // ---------------------------------------------------------- snapshot

  /** One committed data file. `path` is relative to the directory. */
  final case class DataFile(path: String, table: String, size: Long, seq: Long, schema: String) {
    def name: String = path.substring(path.lastIndexOf('/') + 1)
  }

  final case class Tombstone(table: String, id: Long, seq: Long)

  /** The state of a directory as of `version`. `stamp` identifies the
    * version file itself (length and mtime), so a directory deleted and
    * rebuilt at the same path is never served from a stale cache. */
  final case class Snapshot(root: Path, version: Long, stamp: String,
      files: Map[String, DataFile], tombstones: Set[Tombstone],
      batches: Map[String, Long], props: Map[String, String]) {

    def filesOf(table: String): Seq[DataFile] =
      files.values.filter(_.table == table).toSeq.sortBy(_.path)

    def hasTable(table: String): Boolean = files.values.exists(_.table == table)

    def tombstonesOf(table: String): Seq[Tombstone] = tombstones.toSeq.filter(_.table == table)

    /** Distinct ids with a pending delete. */
    def pendingTombstones(table: String): Int = tombstonesOf(table).map(_.id).distinct.size

    /** Distinct append commits since the table's last rewrite. */
    def appendedBatches(table: String): Int =
      filesOf(table).map(_.seq).filter(_ > baseSeq).distinct.size

    def batchSeen(lineage: String, batchId: Long): Boolean =
      batches.get(lineage).exists(_ >= batchId)

    /** The generation key of derived results: moves with every commit. */
    def generation: String = s"$version:$stamp"

    /** The table's rows as of this snapshot, no tombstone mask — for
      * tables without an id column (metadata rows, dictionaries, sinks). */
    def read(s: SparkSession, table: String): DataFrame = frame(s, table, filesOf(table))

    /** The table's rows minus those a pending tombstone masks. */
    def scan(s: SparkSession, table: String, idCol: String): DataFrame =
      masked(s, table, filesOf(table), idCol)

    /** [[scan]] over the appended TAIL only (files landed since the
      * last rewrite); None when there is none. */
    def tail(s: SparkSession, table: String, idCol: String): Option[DataFrame] = {
      val t = filesOf(table).filter(_.seq > baseSeq)
      if (t.isEmpty) None else Some(masked(s, table, t, idCol))
    }

    /** Build the scan straight from the logged file statuses and
      * schema: no listing, no schema inference, no Spark job. */
    private def frame(s: SparkSession, table: String, fs: Seq[DataFile]): DataFrame = {
      val schema = files.values.find(_.table == table).map(_.schema).getOrElse(
        throw new IllegalArgumentException(s"no table '$table' in the index log at $root"))
      val statuses = fs.map(d =>
        new FileStatus(d.size, false, 1, targetFileBytes, 0L, new Path(root, d.path)))
      val location = new SnapshotFiles(tableDir(root, table), statuses, s"$root@v$version")
      s.baseRelationToDataFrame(HadoopFsRelation(location, new StructType(),
        DataType.fromJson(schema).asInstanceOf[StructType], None,
        new ParquetFileFormat, Map.empty)(s))
    }

    /** A row survives iff its file's sequence is at or above every
      * pending delete of its id. Identity when nothing is pending. */
    private def masked(s: SparkSession, table: String, fs: Seq[DataFile],
        idCol: String): DataFrame = {
      val base = frame(s, table, fs)
      val tombs = tombstonesOf(table)
      if (tombs.isEmpty) base
      else {
        import s.implicits._
        val dels = tombs.groupMapReduce(_.id)(_.seq)(math.max).toSeq.toDF(idCol, "_del_seq")
        val seqOf = typedLit(fs.map(d => d.name -> d.seq).toMap)
        val cols = base.columns.toSeq.map(col)
        base.select(element_at(seqOf, col("_metadata.file_name")).as("_fseq") +: cols: _*)
          // gated, not forced: a mass takedown must not be hint-collected
          // onto the driver past the broadcast threshold
          .join(JoinHints.broadcastIfSmall(dels), Seq(idCol), "left")
          .filter(col("_del_seq").isNull || col("_fseq") >= col("_del_seq"))
          .select(cols: _*)
      }
    }
  }

  /** The file set of one table as of one snapshot. `refresh` is a no-op:
    * a snapshot never changes. */
  private final class SnapshotFiles(root: Path, statuses: Seq[FileStatus], label: String)
      extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
    override def toString: String = s"IndexSnapshot[$label]"
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val versionRe = """^(\d{20})\.json$""".r
  private val checkpointRe = """^(\d{20})\.checkpoint\.json$""".r
  private def logDir(root: Path) = new Path(root, "_log")
  private def versionFile(root: Path, v: Long) = new Path(logDir(root), f"$v%020d.json")
  private def checkpointFile(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.checkpoint.json")

  private def empty(root: Path) = Snapshot(root, -1L, "", Map.empty, Set.empty, Map.empty, Map.empty)

  /** Latest snapshot per qualified directory, advanced incrementally. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  /** The current snapshot of `dir`. One listing of `_log` when nothing
    * changed; otherwise the new versions are replayed onto the cached
    * state (or the newest checkpoint). A directory without a log is an
    * error: there is no listing fallback. */
  def snapshot(s: SparkSession, dir: String): Snapshot =
    load(s, qualify(s, dir)).getOrElse(throw noLog(dir))

  private def noLog(dir: Any) =
    new IllegalStateException(s"$dir has no index log (_log); build the index first")

  /** [[snapshot]], or None for a directory without a log. */
  def snapshotIfAny(s: SparkSession, dir: String): Option[Snapshot] = load(s, qualify(s, dir))

  /** The in-JVM lock on a directory's version FILES: a commit creates,
    * writes and closes its version under it, and a load lists and reads
    * versions under it, so no reader in this JVM replays a version that
    * is still being written. Held for log file I/O only. */
  private val logLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def logLock(root: Path): Object = logLocks.computeIfAbsent(root.toString, _ => new Object)

  private def load(s: SparkSession, root: Path, attempt: Int = 0): Option[Snapshot] =
    logLock(root).synchronized(loadLog(s, root, attempt))

  private def loadLog(s: SparkSession, root: Path, attempt: Int): Option[Snapshot] = {
    val f = fsOf(s, root)
    val listed = try f.listStatus(logDir(root)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val stamps = listed.flatMap(st => st.getPath.getName match {
      case versionRe(v) => Some(v.toLong -> s"${st.getLen}:${st.getModificationTime}")
      case _ => None
    }).toMap
    if (stamps.isEmpty) return None
    val latest = stamps.keys.max
    val cached = Option(cache.get(root.toString))
      .filter(c => c.version <= latest && stamps.get(c.version).contains(c.stamp))
    try {
      val from = cached.filter(c => (c.version + 1 to latest).forall(stamps.contains)).getOrElse {
        listed.flatMap(st => st.getPath.getName match {
          case checkpointRe(v) if v.toLong <= latest => Some(v.toLong)
          case _ => None
        }).maxOption.map(v => replay(empty(root), v, stamps.getOrElse(v, ""),
          readText(f, checkpointFile(root, v))))
          .getOrElse(empty(root))
      }
      val snap = (from.version + 1 to latest).foldLeft(from)((st, v) =>
        replay(st, v, stamps(v), readText(f, versionFile(root, v))))
      cache.put(root.toString, snap)
      Some(snap)
    } catch {
      // a checkpoint retired the versions this listing named: list again
      case _: java.io.FileNotFoundException if attempt < 3 => load(s, root, attempt + 1)
    }
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def replay(base: Snapshot, version: Long, stamp: String, text: String): Snapshot = {
    var files = base.files
    var tombs = base.tombstones
    var batches = base.batches
    var props = base.props
    text.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
      val e = json.readTree(line).properties().iterator().next()
      val a = e.getValue
      def str(k: String) = a.get(k).asText()
      def num(k: String) = a.get(k).asLong()
      e.getKey match {
        case "add" => files += str("path") ->
          DataFile(str("path"), str("table"), num("size"), num("seq"), str("schema"))
        case "remove" => files -= str("path")
        case "tombstone" => tombs += Tombstone(str("table"), num("id"), num("seq"))
        case "consume" => tombs -= Tombstone(str("table"), num("id"), num("seq"))
        case "batch" => batches += str("lineage") ->
          math.max(batches.getOrElse(str("lineage"), -1L), num("id"))
        case "prop" =>
          props = if (str("value").isEmpty) props - str("key") else props + (str("key") -> str("value"))
        case other => throw new IllegalStateException(
          s"unknown action '$other' in version $version of ${base.root}")
      }
    }
    Snapshot(base.root, version, stamp, files, tombs, batches, props)
  }

  private def action(kind: String, fields: (String, Any)*): String = {
    val n = json.createObjectNode()
    val a = n.putObject(kind)
    fields.foreach {
      case (k, v: String) => a.put(k, v)
      case (k, v: Long) => a.put(k, v)
      case (k, v) => throw new IllegalArgumentException(s"action field $k: $v")
    }
    json.writeValueAsString(n)
  }

  private def addAction(d: DataFile) = action("add", "path" -> d.path, "table" -> d.table,
    "size" -> d.size, "seq" -> d.seq, "schema" -> d.schema)
  private def tombAction(kind: String, t: Tombstone) =
    action(kind, "table" -> t.table, "id" -> t.id, "seq" -> t.seq)

  // ------------------------------------------------------------ commit

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The in-JVM writer lock of a directory (reentrant). */
  private def withLock[T](root: Path)(body: => T): T =
    locks.computeIfAbsent(root.toString, _ => new Object).synchronized(body)

  /** A staged file: written under its final name, not yet committed.
    * `base` files carry [[baseSeq]], appended ones their version. */
  private final case class Staged(path: String, table: String, size: Long,
      schema: String, base: Boolean)

  /** What `commit` writes on top of the snapshot it read: the staged
    * files, the tables they replace wholesale (each loses every file and
    * pending tombstone the read snapshot held), tombstones, the batch
    * mark and props. */
  private final case class Actions(adds: Seq[Staged], replaced: Set[String],
      deletes: Seq[(String, Long)], mark: Option[(String, Long)], props: Map[String, String])

  /** Write `df` through an invisible staging dir and move its parts into
    * the table directory under fresh names. */
  private def stage(s: SparkSession, root: Path, table: String, df: DataFrame,
      base: Boolean): Seq[Staged] = {
    val f = fsOf(s, root)
    val dir = tableDir(root, table)
    val id = java.util.UUID.randomUUID().toString
    val staging = new Path(dir, s"_staging_$id")
    df.write.mode("overwrite").parquet(staging.toString)
    val schema = org.apache.spark.sql.GraftBridge.asNullable(df.schema).json
    val parts = f.listStatus(staging).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val out = parts.zipWithIndex.map { case (st, i) =>
      val name = f"part-$i%05d-$id.parquet"
      if (!f.rename(st.getPath, new Path(dir, name)))
        throw new java.io.IOException(s"stage: rename ${st.getPath} into $dir failed")
      Staged(if (table.isEmpty) name else s"$table/$name", table, st.getLen, schema, base)
    }
    f.delete(staging, true)
    out
  }

  /** Commit `a` on top of `read`, retrying on a lost version race (see
    * the conflict rule). None when the batch mark was already there. */
  private def commit(s: SparkSession, read: Snapshot, a: Actions): Option[Snapshot] = {
    val root = read.root
    val f = fsOf(s, root)
    def dropStaged(): Unit = a.adds.foreach(st => f.delete(new Path(root, st.path), false))
    val removes = a.replaced.toSeq.flatMap(read.filesOf)
    var snap = read
    while (true) {
      val moved = a.replaced.filter(t => snap.filesOf(t) != read.filesOf(t))
      if (moved.nonEmpty) {
        dropStaged()
        throw new IllegalStateException(s"commit on $root: table(s) ${moved.mkString(", ")} " +
          s"changed between version ${read.version} and ${snap.version}; a concurrent rewrite " +
          "or append won the race, this rewrite is abandoned and the table is untouched")
      }
      if (a.mark.exists { case (l, b) => snap.batchSeen(l, b) }) { dropStaged(); return None }
      // a rewrite's orphan sweep spares files younger than the retention
      a.adds.foreach { st =>
        try f.setTimes(new Path(root, st.path), System.currentTimeMillis(), -1L)
        catch { case e: java.io.FileNotFoundException =>
          dropStaged()
          throw new IllegalStateException(s"commit on $root: staged file ${st.path} is gone " +
            s"(swept as an orphan after ${orphanRetentionMs / 1000} s?); nothing committed", e)
        }
      }
      val v = snap.version + 1
      val lines =
        a.adds.map(st => addAction(DataFile(st.path, st.table, st.size,
          if (st.base) baseSeq else v, st.schema))) ++
        removes.map(r => action("remove", "path" -> r.path)) ++
        a.deletes.map { case (t, id) => tombAction("tombstone", Tombstone(t, id, v)) } ++
        a.replaced.toSeq.flatMap(read.tombstonesOf).map(tombAction("consume", _)) ++
        a.mark.map { case (l, b) => action("batch", "lineage" -> l, "id" -> b) } ++
        a.props.map { case (k, value) => action("prop", "key" -> k, "value" -> value) }
      val won =
        try {
          logLock(root).synchronized {
            val out = f.create(versionFile(root, v), false)
            try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
          }
          true
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      // a create can succeed on a version a checkpoint retired: a later
      // version or checkpoint exposes it, and it must not stand
      val retired = won && f.listStatus(logDir(root)).exists(st => st.getPath.getName match {
        case versionRe(n) => n.toLong > v
        case checkpointRe(n) => n.toLong >= v
        case _ => false
      })
      if (retired) f.delete(versionFile(root, v), false)
      if (won && !retired) {
        val next = snapshot(s, root.toString)
        removes.foreach(r => f.delete(new Path(root, r.path), false))
        if (v > 0 && v % checkpointInterval == 0) checkpoint(f, next)
        return Some(next)
      }
      snap = snapshot(s, root.toString)
    }
    None
  }

  private def checkpoint(f: FileSystem, snap: Snapshot): Unit = {
    val lines = snap.files.values.toSeq.sortBy(_.path).map(addAction) ++
      snap.tombstones.toSeq.map(tombAction("tombstone", _)) ++
      snap.batches.map { case (l, b) => action("batch", "lineage" -> l, "id" -> b) } ++
      snap.props.map { case (k, v) => action("prop", "key" -> k, "value" -> v) }
    val p = checkpointFile(snap.root, snap.version)
    val tmp = new Path(logDir(snap.root), s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, p)) f.delete(tmp, false)
    val keepFrom = snap.version - checkpointInterval
    f.listStatus(logDir(snap.root)).foreach { st =>
      st.getPath.getName match {
        case versionRe(v) if v.toLong < keepFrom => f.delete(st.getPath, false)
        case checkpointRe(v) if v.toLong < keepFrom => f.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** What one transaction changes: `append` lands new files next to the
    * standing ones; `replace` rewrites tables wholesale (a build,
    * compaction or retrain), removing every file they held and
    * consuming their pending tombstones — the replacement must be
    * derived from the snapshot handed to the body; `deletes` tombstones
    * (table, id) pairs; `written` adds props read off the tables once
    * they are staged (the metrics of an observed frame,
    * `Dataset.observe`), so a fact about the written rows commits with
    * them at no extra Spark job. */
  final case class Change(append: Seq[(String, DataFrame)] = Nil,
      replace: Seq[(String, DataFrame)] = Nil, props: Map[String, String] = Map.empty,
      deletes: Seq[(String, Long)] = Nil, written: () => Map[String, String] = () => Map.empty)

  /** One write transaction on the log at `dir`, under its writer lock:
    * `body` derives the change from the snapshot it is handed; its
    * tables are staged and commit as ONE version, together with the
    * batch mark. None (and `body` never runs) when `mark` is already
    * committed. After a rewrite commits, orphan files in the directory's
    * tables — written but never committed, older than
    * [[orphanRetentionMs]] — are deleted. */
  def transact(s: SparkSession, dir: String, mark: Option[(String, Long)] = None)(
      body: Snapshot => Change): Option[Snapshot] = {
    val root = qualify(s, dir)
    withLock(root) {
      val snap = load(s, root).getOrElse(empty(root))
      if (mark.exists { case (l, b) => snap.batchSeen(l, b) }) None
      else {
        val c = body(snap)
        val replaced = c.replace.map(_._1).toSet
        val staged = c.replace.flatMap { case (t, df) => stage(s, root, t, df, base = true) } ++
          c.append.flatMap { case (t, df) => stage(s, root, t, df, base = false) }
        // a replaced table's facts go with it unless restated
        val cleared = snap.props.keys.filter(k => replaced.exists(t => k.startsWith(s"$t.")))
        val out = commit(s, snap, Actions(staged, replaced, c.deletes, mark,
          cleared.map(_ -> "").toMap ++ c.props ++ c.written()))
        if (replaced.nonEmpty)
          out.foreach(next => next.files.values.map(_.table).toSet.foreach(deleteOrphans(s, next, _)))
        out
      }
    }
  }

  private def deleteOrphans(s: SparkSession, snap: Snapshot, table: String): Unit = {
    val f = fsOf(s, snap.root)
    orphans(s, snap, table).foreach(f.delete(_, false))
  }

  /** The data files in `table`'s directory that `snap` does not name and
    * that are older than [[orphanRetentionMs]]: exactly what the next
    * rewrite of the table deletes. */
  def orphans(s: SparkSession, snap: Snapshot, table: String): Seq[Path] = {
    val live = snap.filesOf(table).map(_.name).toSet
    val cutoff = System.currentTimeMillis() - orphanRetentionMs
    val listed = try fsOf(s, snap.root).listStatus(tableDir(snap.root, table)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".") && !live.contains(n) &&
        st.getModificationTime < cutoff
    }.map(_.getPath)
  }

  // ------------------------------------------------- the write surface

  /** Append `tables` (name -> rows) in one commit, optionally with a
    * streaming batch mark: false when the mark was already committed
    * (an at-least-once retry) and nothing landed. */
  def append(s: SparkSession, dir: String, tables: Seq[(String, DataFrame)],
      mark: Option[(String, Long)] = None): Boolean =
    transact(s, dir, mark)(_ => Change(append = tables)).isDefined

  /** Build (or rebuild) `tables` from scratch in one commit. */
  def replace(s: SparkSession, dir: String, tables: Seq[(String, DataFrame)],
      props: Map[String, String] = Map.empty): Unit =
    transact(s, dir)(_ => Change(replace = tables, props = props))

  /** The compaction rewrite of one table as of `snap`: tombstoned rows
    * dropped (with `idCol`), range-partitioned and sorted on `sortCols`
    * into ceil(bytes / 128 MB) files. */
  def rewrite(s: SparkSession, snap: Snapshot, table: String, sortCols: Seq[String],
      idCol: Option[String]): DataFrame = {
    val bytes = snap.filesOf(table).map(_.size).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val keys = sortCols.map(col)
    idCol.fold(snap.read(s, table))(snap.scan(s, table, _))
      .repartitionByRange(nOut, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** Compact one table: one commit removes its files and consumed
    * tombstones and adds the sorted rewrite. Returns (files before,
    * files after). After it, the table IS sorted. */
  def compact(s: SparkSession, dir: String, table: String, sortCols: Seq[String],
      idCol: Option[String] = None): (Int, Int) = {
    var before = 0
    val after = transact(s, dir) { snap =>
      before = snap.filesOf(table).size
      require(before > 0, s"compact: nothing to compact at $dir table '$table'")
      Change(replace = Seq(table -> rewrite(s, snap, table, sortCols, idCol)))
    }
    (before, after.map(_.filesOf(table).size).getOrElse(0))
  }

  /** Tombstone `ids` in every one of `tables`, one commit. Serving masks
    * them at once; the next rewrite drops the rows. Idempotent. */
  def delete(s: SparkSession, dir: String, tables: Seq[String], ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "delete: empty id list")
    transact(s, dir) { snap =>
      if (snap.version < 0) throw noLog(dir)
      Change(deletes = for (t <- tables; id <- ids.distinct) yield (t, id))
    }
  }

  // -------------------------------------------------- the read surface

  def read(s: SparkSession, dir: String, table: String): DataFrame =
    snapshot(s, dir).read(s, table)

  def scan(s: SparkSession, dir: String, table: String, idCol: String): DataFrame =
    snapshot(s, dir).scan(s, table, idCol)

  def hasTable(s: SparkSession, dir: String, table: String): Boolean =
    snapshotIfAny(s, dir).exists(_.hasTable(table))

  /** Has (lineage, batchId) been committed to the index at `dir`? */
  def batchSeen(s: SparkSession, dir: String, lineage: String, batchId: Long): Boolean =
    snapshotIfAny(s, dir).exists(_.batchSeen(lineage, batchId))

  /** Stable tag for a checkpoint lineage: batch ids restart at 0 under
    * a new checkpoint, so a reprocessing run must not be masked by a
    * previous lineage's marks. */
  def lineageTag(checkpointDir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
    d.take(4).map("%02x".format(_)).mkString
  }

  /** The invariant the batch marks guarantee: every servable id appears
    * at most once under `keyCols`. Raises loudly on violation (a
    * duplicate row would double-score in every probe). Run at the
    * compaction cadence, not per batch. */
  def checkUnique(s: SparkSession, dir: String, table: String, keyCols: Seq[String],
      idCol: String): Unit = {
    import org.apache.spark.sql.functions.{count, lit}
    val dup = scan(s, dir, table, idCol)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    require(dup == 0L,
      s"checkUnique($dir/$table): duplicate ${keyCols.mkString("(", ",", ")")} rows — " +
      "a batch was folded twice")
  }
}
