package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.IndexMaintenance
import graft.streaming.TextIngest

/** The index log under its crash windows and races, property by
  * property: files written with no commit, a lost version race, a
  * crash after a commit but before the removed files are deleted, a
  * retry of a committed batch after a compaction or a retrain, a delete
  * that races a rewrite, an append after a delete after a cold start, a
  * token-ledger rollup racing a foreign or a sibling rollup. A
  * writer in another process is simulated by creating the next log
  * version directly, without this JVM's writer lock.
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import MaintenanceSpec._

  private def rows(ids: Seq[Long], tag: String = "v"): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"$tag$i")).toDF("id", "v")
  }

  private def served(dir: String): Set[(Long, String)] =
    IndexMaintenance.scan(spark, dir, "t", "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet

  private def expected(ids: Seq[Long], tag: String = "v") = ids.map(i => i -> s"$tag$i").toSet

  test("lost version race: a commit whose version another writer took lands on top of it") {
    val dir = tmpDir("race-append")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    IndexMaintenance.transact(spark, dir) { snap =>
      foreignCommit(dir, snap.version + 1,
        s"""{"tombstone":{"table":"t","id":3,"seq":${snap.version + 1}}}""")
      IndexMaintenance.Change(append = Seq("t" -> rows(11L to 12L)))
    }
    assert(IndexMaintenance.snapshot(spark, dir).version == 2L,
      "the append did not retry at the next version")
    assert(served(dir) == expected((1L to 12L).filter(_ != 3L)),
      "one of the two racing commits was lost")
  }

  test("lost version race against a rewrite: the loser fails loudly and leaves the table untouched") {
    val dir = tmpDir("race-rewrite")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    IndexMaintenance.append(spark, dir, Seq("t" -> rows(11L to 12L)))
    var victim: IndexMaintenance.DataFile = null
    val err = intercept[IllegalStateException] {
      IndexMaintenance.transact(spark, dir) { snap =>
        // the other writer rewrites first: one file this compaction also
        // removes moves to a new name in its commit
        victim = snap.filesOf("t").head
        val moved = victim.path.replace("part-", "part-moved-")
        java.nio.file.Files.copy(java.nio.file.Paths.get(dir, victim.path),
          java.nio.file.Paths.get(dir, moved))
        foreignCommit(dir, snap.version + 1,
          s"""{"remove":{"path":"${victim.path}"}}""",
          s"""{"add":{"path":"$moved","table":"t","size":${victim.size},"seq":0,""" +
            s""""schema":${quote(victim.schema)}}}""")
        IndexMaintenance.Change(replace = Seq("t" -> IndexMaintenance.rewrite(spark, snap,
          "t", Seq("id"), Some("id"))))
      }
    }
    assert(err.getMessage.contains("concurrent rewrite"), err.getMessage)
    // the other writer deletes what it removed once its commit is in
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, victim.path))
    assert(served(dir) == expected(1L to 12L), "the losing rewrite changed the table")
    val committed = IndexMaintenance.snapshot(spark, dir).filesOf("t").map(_.name).toSet
    assert(parquetNames(s"$dir/t") == committed, "the loser's staged files were left behind")
  }

  test("append after a delete serves at once, also after a cold start") {
    val dir = tmpDir("delete-reappend")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    IndexMaintenance.delete(spark, dir, Seq("t"), Seq(5L))
    IndexMaintenance.append(spark, dir, Seq("t" -> rows(Seq(5L), "re")))
    val want = expected((1L to 10L).filter(_ != 5L)) + (5L -> "re5")
    assert(served(dir) == want, "the re-append was masked by the earlier delete")
    // cold start: a byte copy is a directory no process has read yet
    val cold = tmpDir("delete-reappend-cold") + "/idx"
    copyTree(dir, cold)
    assert(served(cold) == want, "replay of the copied log changed the served rows")
    IndexMaintenance.delete(spark, cold, Seq("t"), Seq(6L))
    IndexMaintenance.append(spark, cold, Seq("t" -> rows(Seq(6L), "re")))
    val want2 = want - (6L -> "v6") + (6L -> "re6")
    assert(served(cold) == want2, "append after delete after a cold start was masked")
    IndexMaintenance.compact(spark, cold, "t", Seq("id"), Some("id"))
    assert(served(cold) == want2, "compaction changed the served rows")
    assert(spark.read.parquet(s"$cold/t").count() == want2.size,
      "compaction left masked rows on disk")
  }

  private def smallTextIndex(root: String): Unit = {
    import spark.implicits._
    Seq((1L, "alpha beta", "en", "s"), (2L, "beta gamma", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$root/c/documents.parquet")
    ops.TextAnalysis.textIndexWrite(spark, s"$root/c", s"$root/idx")
  }

  private def textBatch(id: Long, text: String): DataFrame = {
    import spark.implicits._
    Seq((id, text, "en", "s")).toDF("doc_id", "text", "lang", "source")
  }

  test("a text batch commits to both tables at one version; compacting one table keeps the other's rows") {
    val root = tmpDir("text-commit")
    smallTextIndex(root)
    ops.TextAnalysis.textIndexAppendBatch(spark, textBatch(3L, "gamma delta"), s"$root/idx",
      Some("L" -> 8L))
    ops.TextAnalysis.textIndexAppendBatch(spark, textBatch(4L, "epsilon"), s"$root/idx",
      Some("L" -> 9L))
    val v = IndexMaintenance.snapshot(spark, s"$root/idx")
    assert(v.filesOf("doclen").exists(_.seq == v.version) &&
      v.filesOf("postings").exists(_.seq == v.version), "the two tables did not share a commit")
    val postingsBefore = IndexMaintenance.scan(spark, s"$root/idx", "postings", "doc_id").count()
    // a pass that compacted doc-values alone, then the full compaction
    IndexMaintenance.compact(spark, s"$root/idx", "doclen", Seq("doc_id"), Some("doc_id"))
    assert(IndexMaintenance.batchSeen(spark, s"$root/idx", "L", 8L) &&
      IndexMaintenance.batchSeen(spark, s"$root/idx", "L", 9L),
      "compacting one table forgot a committed batch")
    ops.TextAnalysis.textIndexCompact(spark, s"$root/idx")
    val postings = IndexMaintenance.scan(spark, s"$root/idx", "postings", "doc_id")
    assert(postings.count() == postingsBefore, "a committed batch's postings rows were lost")
    assert(postings.filter(col("doc_id") === 3L).count() == 2L, "gamma+delta rows must survive")
    IndexMaintenance.checkUnique(spark, s"$root/idx", "postings", Seq("term", "doc_id"), "doc_id")
  }

  test("retry of a committed batch after a compaction lands nothing") {
    val root = tmpDir("text-retry")
    smallTextIndex(root)
    val batch = textBatch(3L, "gamma delta")
    ops.TextAnalysis.textIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 0L))
    ops.TextAnalysis.textIndexCompact(spark, s"$root/idx")
    assert(IndexMaintenance.batchSeen(spark, s"$root/idx", "L", 0L),
      "the compaction forgot the committed batch")
    ops.TextAnalysis.textIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 0L))
    assert(IndexMaintenance.scan(spark, s"$root/idx", "doclen", "doc_id").count() == 3L,
      "the retried batch re-landed its doc-values rows")
    IndexMaintenance.checkUnique(spark, s"$root/idx", "postings", Seq("term", "doc_id"), "doc_id")
  }

  test("corpus statistics are log facts: a build commits them, appends and deletes leave them frozen, compaction and a rebuild recompute them") {
    import spark.implicits._
    val root = tmpDir("text-facts")
    smallTextIndex(root) // docs 1, 2 — two tokens each
    val idx = s"$root/idx"
    def facts: (Long, Long) = {
      val p = IndexMaintenance.snapshot(spark, idx).props
      (p("doclen.n_docs").toLong, p("doclen.dl_sum").toLong)
    }
    // what the hybrid serve scores with: the facts while the index is
    // fresh, the live doclen aggregate under a tail or tombstones
    def served: (Long, Double) = {
      val (_, withStats) = ops.TextAnalysis.textIndexDoclenStats(spark,
        ops.IndexMaintenance.snapshot(spark, idx))
      val r = withStats(Seq(1).toDF("one")).select(col("n_docs"), col("avgdl")).head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(facts == (2L, 4L), s"the build committed $facts")
    assert(!IndexMaintenance.snapshot(spark, idx).hasTable("stats"), "the build wrote a stats table")
    assert(ops.TextAnalysis.corpusStats(IndexMaintenance.snapshot(spark, idx)) == (2L, 2.0))
    assert(served == (2L, 2.0))
    ops.TextAnalysis.textIndexAppendBatch(spark, textBatch(3L, "gamma delta epsilon"), idx)
    assert(facts == (2L, 4L), "an append re-estimated the frozen statistics")
    assert(served == (3L, 7.0 / 3.0), "the live statistics missed the appended tail")
    ops.TextAnalysis.textIndexDelete(spark, idx, Seq(1L))
    assert(facts == (2L, 4L), "a delete re-estimated the frozen statistics")
    assert(served == (2L, 2.5), "the live statistics counted a deleted doc")
    ops.TextAnalysis.textIndexCompact(spark, idx)
    assert(facts == (2L, 5L), "compaction did not recompute the statistics over the survivors")
    assert(served == (2L, 2.5))
    Seq((7L, "one two three four", "en", "s")).toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$root/c2/documents.parquet")
    ops.TextAnalysis.textIndexWrite(spark, s"$root/c2", idx)
    assert(facts == (1L, 4L), "the rebuild kept the old corpus's statistics")
    assert(served == (1L, 4.0))
  }

  test("retry of a committed batch after a retrain lands nothing") {
    val root = tmpDir("retrain-retry")
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    emb.filter(col("vec_id") % 2 === 0).write.parquet(s"$root/a/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 1).write.parquet(s"$root/b/embeddings.parquet")
    ops.AnnIndex.lshIndexWrite(spark, s"$root/a", s"$root/idx")
    val batch = Tables(spark, s"$root/b", "embeddings")
    ops.AnnIndex.lshIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 4L))
    ops.AnnIndex.lshIndexRetrain(spark, s"$root/idx", Seq(s"$root/a", s"$root/b"))
    val n = IndexMaintenance.read(spark, s"$root/idx", "buckets").count()
    ops.AnnIndex.lshIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 4L))
    assert(IndexMaintenance.read(spark, s"$root/idx", "buckets").count() == n,
      "the retried batch re-landed after the retrain")
    assert(IndexMaintenance.batchSeen(spark, s"$root/idx", "L", 4L))
  }

  test("files written with no commit are never served; the next compaction deletes them") {
    val dir = tmpDir("uncommitted")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    // a crashed append: its files stand in the table dir, no version
    // names them, and they are older than the orphan retention
    rows(11L to 20L).coalesce(1).write.parquet(s"$dir/crashed")
    parquetNames(s"$dir/crashed").foreach(n => age(java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "crashed", n), java.nio.file.Paths.get(dir, "t", s"crash-$n"))))
    assert(served(dir) == expected(1L to 10L), "uncommitted rows were served")
    IndexMaintenance.compact(spark, dir, "t", Seq("id"), Some("id"))
    assert(!parquetNames(s"$dir/t").exists(_.startsWith("crash-")),
      "compaction left the uncommitted files")
    assert(spark.read.parquet(s"$dir/t").count() == 10L)
  }

  test("a foreign writer's staged file survives a compaction; its later commit serves its rows") {
    val dir = tmpDir("foreign-staged")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    IndexMaintenance.append(spark, dir, Seq("t" -> rows(11L to 12L)))
    // the other writer has staged its file in the table dir, not yet committed
    rows(21L to 25L).coalesce(1).write.parquet(s"$dir/foreign")
    val n = parquetNames(s"$dir/foreign").head
    val staged = java.nio.file.Files.move(java.nio.file.Paths.get(dir, "foreign", n),
      java.nio.file.Paths.get(dir, "t", s"foreign-$n"))
    IndexMaintenance.compact(spark, dir, "t", Seq("id"), Some("id"))
    assert(java.nio.file.Files.exists(staged), "the compaction deleted a live writer's staged file")
    assert(served(dir) == expected(1L to 12L), "uncommitted rows were served")
    val snap = IndexMaintenance.snapshot(spark, dir)
    foreignCommit(dir, snap.version + 1,
      s"""{"add":{"path":"t/foreign-$n","table":"t","size":${java.nio.file.Files.size(staged)},""" +
        s""""seq":${snap.version + 1},"schema":${quote(snap.filesOf("t").head.schema)}}}""")
    assert(served(dir) == expected((1L to 12L) ++ (21L to 25L)), "the foreign commit lost rows")
    assert(spark.read.parquet(s"$dir/t").count() == 17L)
  }

  test("a commit on a version a checkpoint retired retries at the head instead of landing below it") {
    val dir = tmpDir("retired-version")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    IndexMaintenance.transact(spark, dir) { snap =>
      // other writers run two checkpoints past this long rewrite, one of
      // them a delete: the version it tries first is retired, so the
      // create of that version succeeds
      IndexMaintenance.delete(spark, dir, Seq("t"), Seq(3L))
      for (b <- 0L until 2 * IndexMaintenance.checkpointInterval)
        IndexMaintenance.append(spark, dir, Seq("u" -> rows(Seq(b))), Some("L" -> b))
      assert(!new java.io.File(f"$dir/_log/${snap.version + 1}%020d.json").exists())
      IndexMaintenance.Change(replace = Seq("t" -> IndexMaintenance.rewrite(spark, snap,
        "t", Seq("id"), Some("id"))))
    }
    val head = IndexMaintenance.snapshot(spark, dir).version
    assert(head == 2 * IndexMaintenance.checkpointInterval + 2, s"the rewrite landed at $head")
    assert(served(dir) == expected((1L to 10L).filter(_ != 3L)),
      "the rewrite lost the delete that raced it")
    assert(spark.read.parquet(s"$dir/t").count() == 10L, "a committed file was deleted")
    val vs = new java.io.File(s"$dir/_log").list().toSeq.collect {
      case n if n.endsWith(".json") && !n.endsWith(".checkpoint.json") => n.take(20).toLong
    }
    assert(vs.size == vs.max - vs.min + 1, s"a stray version stands below the head: ${vs.sorted}")
    assert(IndexMaintenance.scan(spark, dir, "u", "id").count() ==
      2 * IndexMaintenance.checkpointInterval)
  }

  test("two first builds race: the loser fails loudly instead of landing beside the winner") {
    val dir = tmpDir("race-build")
    val err = intercept[IllegalStateException] {
      IndexMaintenance.transact(spark, dir) { _ =>
        // the other writer's build commits first
        IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
        IndexMaintenance.Change(replace = Seq("t" -> rows(1L to 10L, "w")))
      }
    }
    assert(err.getMessage.contains("concurrent rewrite"), err.getMessage)
    assert(served(dir) == expected(1L to 10L), "the losing build landed")
    val committed = IndexMaintenance.snapshot(spark, dir).filesOf("t").map(_.name).toSet
    assert(parquetNames(s"$dir/t") == committed, "the loser's staged files were left behind")
  }

  /** A token ledger with a seed and one batch. */
  private def ledger(root: String): String = {
    import spark.implicits._
    val dir = s"$root/ledger"
    IndexMaintenance.replace(spark, dir, Seq(TextIngest.ledgerTable ->
      Seq(("s1", 2L, 10L)).toDF("source", "n_docs", "n_tokens").coalesce(1)))
    IndexMaintenance.append(spark, dir, Seq(TextIngest.ledgerTable ->
      Seq(("s1", 1L, 5L), ("s2", 1L, 7L)).toDF("source", "n_docs", "n_tokens").coalesce(1)),
      mark = Some("L" -> 0L))
    dir
  }

  private def ledgerTotals(dir: String): Seq[(String, Long, Long)] =
    TextIngest.ledgerTotals(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private val ledgerWant = Seq(("s1", 3L, 15L), ("s2", 1L, 7L))

  test("ledger rollup race: a foreign rollup that commits first makes ours fail loudly; the ledger is untouched") {
    val dir = ledger(tmpDir("ledger-race"))
    val counts = s"$dir/${TextIngest.ledgerTable}"
    var removed: Seq[IndexMaintenance.DataFile] = Nil
    val err = intercept[IllegalStateException] {
      IndexMaintenance.transact(spark, dir) { snap =>
        // the other process's rollup commits first: its one aggregate
        // file replaces every file this rollup also replaces
        removed = snap.filesOf(TextIngest.ledgerTable)
        TextIngest.ledgerTotals(spark, dir).coalesce(1).write.parquet(s"$dir/foreign")
        val n = parquetNames(s"$dir/foreign").head
        val theirs = java.nio.file.Files.move(java.nio.file.Paths.get(dir, "foreign", n),
          java.nio.file.Paths.get(counts, s"foreign-$n"))
        foreignCommit(dir, snap.version + 1, removed.map(d => s"""{"remove":{"path":"${d.path}"}}""") :+
          (s"""{"add":{"path":"${TextIngest.ledgerTable}/foreign-$n","table":"${TextIngest.ledgerTable}",""" +
            s""""size":${java.nio.file.Files.size(theirs)},"seq":0,"schema":${quote(removed.head.schema)}}}"""): _*)
        TextIngest.ledgerRollupChange(spark, snap)
      }
    }
    assert(err.getMessage.contains("concurrent rewrite"), err.getMessage)
    // the other process deletes what it removed once its commit is in
    removed.foreach(d => java.nio.file.Files.delete(java.nio.file.Paths.get(dir, d.path)))
    assert(ledgerTotals(dir) == ledgerWant, "the losing rollup changed the ledger")
    val committed = IndexMaintenance.snapshot(spark, dir).filesOf(TextIngest.ledgerTable).map(_.name).toSet
    assert(committed.size == 1 && committed.head.startsWith("foreign-"), s"not the winner's table: $committed")
    assert(parquetNames(counts) == committed, "the loser's staged files were left behind")
  }

  test("ledger rollup race: a sibling thread's rollup waits on the writer lock, then commits on top of ours") {
    val dir = ledger(tmpDir("ledger-sibling"))
    val v0 = IndexMaintenance.snapshot(spark, dir).version
    @volatile var threadErr: Option[Throwable] = None
    val t = new Thread(() => try TextIngest.ledgerRollup(spark, dir)
      catch { case e: Throwable => threadErr = Some(e) })
    IndexMaintenance.transact(spark, dir) { snap =>
      // a second thread of this process rolls up while ours runs: it
      // queues on the in-JVM writer lock instead of racing our commit
      t.start()
      t.join(1000L)
      assert(t.isAlive && threadErr.isEmpty, s"the sibling rollup ran inside ours: $threadErr")
      TextIngest.ledgerRollupChange(spark, snap)
    }
    t.join(60000L)
    assert(threadErr.isEmpty, s"sibling rollup failed: $threadErr")
    val snap = IndexMaintenance.snapshot(spark, dir)
    assert(snap.version == v0 + 2, s"both rollups should commit, one after the other: v${snap.version}")
    assert(ledgerTotals(dir) == ledgerWant, "the sibling rollups changed the ledger")
    val committed = snap.filesOf(TextIngest.ledgerTable).map(_.name).toSet
    assert(committed.size == 1 && parquetNames(s"$dir/${TextIngest.ledgerTable}") == committed,
      "a rollup's replaced or staged files were left behind")
  }

  test("a reader racing commits in the same process never replays a half-written version") {
    val dir = tmpDir("half-written")
    // ~40 files per commit: each version's add lines outgrow one write buffer
    def batch(b: Long) = rows((b * 1000L) until (b * 1000L + 200L)).repartition(40)
    // the file count of each version, as its writer saw it committed
    val committed = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    def record(): Unit = {
      val snap = IndexMaintenance.snapshot(spark, dir)
      committed.put(snap.version, snap.filesOf("t").size)
    }
    IndexMaintenance.replace(spark, dir, Seq("t" -> batch(0L)))
    record()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try while (!stop.get()) {
        val snap = IndexMaintenance.snapshot(spark, dir)
        seen.add(snap.version -> snap.filesOf("t").size)
      } catch { case t: Throwable => readerErr.set(t) }
    })
    reader.start()
    try (1L to 12L).foreach { b =>
      IndexMaintenance.append(spark, dir, Seq("t" -> batch(b)))
      record()
    } finally { stop.set(true); reader.join(60000) }
    assert(readerErr.get() == null, s"a reader failed on a half-written version: ${readerErr.get()}")
    import scala.jdk.CollectionConverters._
    val torn = seen.asScala.toSeq.distinct.filter { case (v, n) => committed.get(v) != n }
    assert(torn.isEmpty, s"(version, files) replayed from half-written versions: $torn; " +
      s"committed: ${committed.asScala.toSeq.sorted}")
  }

  test("a text batch crashed before its commit is never served and its retry lands once") {
    import spark.implicits._
    val root = tmpDir("text-crash")
    Seq((1L, "alpha beta", "en", "s")).toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$root/c/documents.parquet")
    ops.TextAnalysis.textIndexWrite(spark, s"$root/c", s"$root/idx")
    // the crash left the batch's doclen file, never committed
    Seq((2L, 2L, "en", "s")).toDF("doc_id", "dl", "lang", "source")
      .coalesce(1).write.parquet(s"$root/crashed")
    parquetNames(s"$root/crashed").foreach(n => java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "crashed", n), java.nio.file.Paths.get(root, "idx", "doclen", n)))
    assert(IndexMaintenance.scan(spark, s"$root/idx", "doclen", "doc_id").count() == 1L)
    val batch = Seq((2L, "beta gamma", "en", "s")).toDF("doc_id", "text", "lang", "source")
    ops.TextAnalysis.textIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 0L))
    ops.TextAnalysis.textIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 0L))
    assert(IndexMaintenance.scan(spark, s"$root/idx", "doclen", "doc_id").count() == 2L,
      "the retried batch is not in doc-values exactly once")
    assert(IndexMaintenance.scan(spark, s"$root/idx", "postings", "doc_id")
      .filter(col("doc_id") === 2L).count() == 2L, "the batch's postings are not there once")
  }

  test("a delete committed after a batch masks that batch across a later retry") {
    val dir = tmpDir("delete-retry")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 10L)))
    val batch = rows(11L to 20L)
    assert(IndexMaintenance.append(spark, dir, Seq("t" -> batch), Some("L" -> 0L)))
    IndexMaintenance.delete(spark, dir, Seq("t"), Seq(15L))
    assert(!IndexMaintenance.append(spark, dir, Seq("t" -> batch), Some("L" -> 0L)),
      "the retry of a committed batch landed again")
    assert(served(dir) == expected((1L to 20L).filter(_ != 15L)), "the takedown was undone")
  }

  test("checkpoint: replay from the newest checkpoint equals the full history; old versions go") {
    val dir = tmpDir("checkpoint")
    IndexMaintenance.replace(spark, dir, Seq("t" -> rows(1L to 3L)))
    for (b <- 0L until 24L)
      IndexMaintenance.append(spark, dir, Seq("t" -> rows(Seq(100L + b))), Some("L" -> b))
    IndexMaintenance.delete(spark, dir, Seq("t"), Seq(2L))
    val live = IndexMaintenance.snapshot(spark, dir)
    val names = new java.io.File(s"$dir/_log").list().toSeq
    assert(names.exists(_.endsWith(".checkpoint.json")), s"no checkpoint in $names")
    assert(!names.contains(f"${0}%020d.json"), "versions before the previous checkpoint kept")
    val cold = tmpDir("checkpoint-cold") + "/idx"
    copyTree(dir, cold)
    val replayed = IndexMaintenance.snapshot(spark, cold)
    assert(replayed.version == live.version && replayed.files == live.files &&
      replayed.tombstones == live.tombstones && replayed.batches == live.batches)
    assert(served(cold) == served(dir))
  }
}

object MaintenanceSpec {
  def tmpDir(tag: String): String = java.nio.file.Files.createTempDirectory(tag).toString

  def parquetNames(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet

  /** Set a file's mtime past the orphan retention: a crashed writer's
    * leftover, not a live writer's staged file. */
  def age(p: java.nio.file.Path): Unit =
    java.nio.file.Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - IndexMaintenance.orphanRetentionMs - 60000L))

  def quote(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  /** A commit by a writer in another process: version `v` of `dir`'s
    * log, created without this JVM's writer lock. */
  def foreignCommit(dir: String, v: Long, actions: String*): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_log", f"$v%020d.json"),
      actions.mkString("", "\n", "\n").getBytes("UTF-8"))

  /** Byte copy of a directory tree, as an operator's `cp -r` makes it. */
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val w = java.nio.file.Files.walk(src)
    try w.forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(to).resolve(src.relativize(p).toString))
    } finally w.close()
  }
}
