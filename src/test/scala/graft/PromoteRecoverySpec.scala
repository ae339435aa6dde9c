package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, IndexMaintenance, Similarity}

/** Crash and race windows of a REWRITE (compaction or retrain) under the
  * index log: a crash after its commit but before the removed files are
  * deleted, a crash before its commit, and a delete committed by another
  * writer while the rewrite runs. Each test fabricates the window on
  * disk and then runs normal index calls. */
class PromoteRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001
  import MaintenanceSpec._

  private def ids(dir: String, table: String, idCol: String): Set[Long] =
    IndexMaintenance.scan(spark, dir, table, idCol).select(col(idCol)).distinct()
      .collect().map(_.getLong(0)).toSet

  test("crash after a compaction commit, before its removed files go: an append lands, leftovers never serve") {
    import spark.implicits._
    val dir = tmpDir("commit-crash")
    IndexMaintenance.replace(spark, dir, Seq("t" -> (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")))
    IndexMaintenance.append(spark, dir, Seq("t" -> (101L to 105L).map(i => (i, s"v$i")).toDF("id", "v")))
    // keep byte copies of the files the compaction will remove, and put
    // them back after it: the state a crash right after the commit leaves,
    // as the next rewrite finds it once the orphan retention has passed
    val before = IndexMaintenance.snapshot(spark, dir).filesOf("t").map(_.path)
    val saved = tmpDir("commit-crash-saved")
    before.foreach(p => java.nio.file.Files.copy(java.nio.file.Paths.get(dir, p),
      java.nio.file.Paths.get(saved, p.replace('/', '_'))))
    IndexMaintenance.compact(spark, dir, "t", Seq("id"), Some("id"))
    before.foreach(p => age(java.nio.file.Files.copy(
      java.nio.file.Paths.get(saved, p.replace('/', '_')), java.nio.file.Paths.get(dir, p))))
    IndexMaintenance.append(spark, dir, Seq("t" -> (106L to 110L).map(i => (i, s"v$i")).toDF("id", "v")))
    assert(IndexMaintenance.read(spark, dir, "t").count() == 110L,
      "leftover files of the committed compaction were served")
    assert(ids(dir, "t", "id") == (1L to 110L).toSet)
    IndexMaintenance.compact(spark, dir, "t", Seq("id"), Some("id"))
    assert(spark.read.parquet(s"$dir/t").count() == 110L, "the next compaction kept the leftovers")
  }

  test("a delete that races a compaction stays pending and masks the rewritten rows") {
    import spark.implicits._
    val dir = tmpDir("race-delete-compact")
    IndexMaintenance.replace(spark, dir, Seq("t" -> (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")))
    IndexMaintenance.delete(spark, dir, Seq("t"), Seq(5L))
    IndexMaintenance.transact(spark, dir) { snap =>
      // another process deletes id 7 after this rewrite read its snapshot
      foreignCommit(dir, snap.version + 1,
        s"""{"tombstone":{"table":"t","id":7,"seq":${snap.version + 1}}}""")
      IndexMaintenance.Change(replace = Seq("t" ->
        IndexMaintenance.rewrite(spark, snap, "t", Seq("id"), Some("id"))))
    }
    val snap = IndexMaintenance.snapshot(spark, dir)
    assert(snap.tombstonesOf("t").map(_.id) == Seq(7L), "the racing delete was consumed or lost")
    val served = ids(dir, "t", "id")
    assert(!served.contains(7L), "the racing delete was lost — a lost takedown")
    assert(!served.contains(5L) && served.contains(6L))
    IndexMaintenance.delete(spark, dir, Seq("t"), Seq(99L))
    assert(ids(dir, "t", "id") == (1L to 100L).toSet -- Seq(5L, 7L, 99L))
  }

  test("uncommitted rows are never served, and a delete committed after a batch masks it across a retry") {
    import spark.implicits._
    val root = tmpDir("batch-delete-retry")
    Seq((1L, "alpha beta", "en", "s")).toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$root/c/documents.parquet")
    ops.TextAnalysis.textIndexWrite(spark, s"$root/c", s"$root/idx")
    // an attempt that crashed before its commit left a postings file
    Seq(("gamma", 15L, 1L, Seq(0L))).toDF("term", "doc_id", "tf", "positions")
      .coalesce(1).write.parquet(s"$root/crashed")
    parquetNames(s"$root/crashed").foreach(n => java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "crashed", n), java.nio.file.Paths.get(root, "idx", "postings", n)))
    assert(!ids(s"$root/idx", "postings", "doc_id").contains(15L), "uncommitted rows were served")
    val batch = (11L to 20L).map(i => (i, s"gamma w$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    ops.TextAnalysis.textIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 0L))
    ops.TextAnalysis.textIndexDelete(spark, s"$root/idx", Seq(15L))
    ops.TextAnalysis.textIndexAppendBatch(spark, batch, s"$root/idx", Some("L" -> 0L))
    val want = (1L to 20L).toSet -- (2L to 10L) - 15L
    assert(ids(s"$root/idx", "doclen", "doc_id") == want, "the retry undid the takedown")
    assert(ids(s"$root/idx", "postings", "doc_id") == want)
  }

  test("a retrain that crashes before its commit leaves the index and its batch marks as they were") {
    val tmp = tmpDir("retrain-crash")
    Tables(spark, sf0001, "embeddings").write.parquet(s"$tmp/corpus/embeddings.parquet")
    AnnIndex.lshIndexWrite(spark, s"$tmp/corpus", s"$tmp/idx")
    IndexMaintenance.append(spark, s"$tmp/idx", Nil, Some("aa" -> 0L))
    val q = Similarity.normed(spark, s"$tmp/corpus")
      .filter(col("vec_id") % 9 === 1)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val served = AnnIndex.lshIndexServe(spark, s"$tmp/idx", Seq(s"$tmp/corpus"), q).collect().toSeq
    // the crashed retrain staged its meta and bucket files, no commit,
    // longer ago than the orphan retention
    for (t <- Seq("meta", "buckets"); p <- IndexMaintenance.snapshot(spark, s"$tmp/idx").filesOf(t))
      age(java.nio.file.Files.copy(java.nio.file.Paths.get(tmp, "idx", p.path),
        java.nio.file.Paths.get(tmp, "idx", t, s"retrain-${p.name}")))
    ops.Artifacts.clear()
    assert(AnnIndex.lshIndexServe(spark, s"$tmp/idx", Seq(s"$tmp/corpus"), q).collect().toSeq
      == served, "the crashed retrain's files changed serving")
    assert(IndexMaintenance.batchSeen(spark, s"$tmp/idx", "aa", 0L), "batch mark lost")
    AnnIndex.lshIndexRetrain(spark, s"$tmp/idx", Seq(s"$tmp/corpus"))
    assert(IndexMaintenance.batchSeen(spark, s"$tmp/idx", "aa", 0L),
      "batch mark lost across the retrain — redelivery would double-fold")
    assert(!Seq("meta", "buckets").exists(t => parquetNames(s"$tmp/idx/$t").exists(_.startsWith("retrain-"))),
      "the re-run retrain left the crashed one's files")
    assert(AnnIndex.lshIndexServe(spark, s"$tmp/idx", Seq(s"$tmp/corpus"), q).count() > 0,
      "the retrained index does not serve")
  }

  test("a delete that races a retrain stays pending and masks the rebuilt rows") {
    val tmp = tmpDir("race-delete-retrain")
    Tables(spark, sf0001, "embeddings").write.parquet(s"$tmp/corpus/embeddings.parquet")
    AnnIndex.lshIndexWrite(spark, s"$tmp/corpus", s"$tmp/idx")
    val victim = ids(s"$tmp/idx", "buckets", "vec_id").min
    // a rebuild from the snapshot's servable rows, committed after
    // another process deleted `victim`
    IndexMaintenance.transact(spark, s"$tmp/idx") { snap =>
      foreignCommit(s"$tmp/idx", snap.version + 1,
        s"""{"tombstone":{"table":"buckets","id":$victim,"seq":${snap.version + 1}}}""")
      IndexMaintenance.Change(replace = Seq("buckets" -> snap.scan(spark, "buckets", "vec_id")))
    }
    assert(!ids(s"$tmp/idx", "buckets", "vec_id").contains(victim),
      "a delete racing the retrain was discarded — a lost takedown")
    AnnIndex.lshIndexRetrain(spark, s"$tmp/idx", Seq(s"$tmp/corpus"))
    assert(IndexMaintenance.snapshot(spark, s"$tmp/idx").tombstonesOf("buckets").isEmpty)
    assert(spark.read.parquet(s"$tmp/idx/buckets").filter(col("vec_id") === victim).isEmpty,
      "the retrain kept the deleted vector's rows")
  }
}
