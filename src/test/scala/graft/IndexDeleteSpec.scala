package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Curation, Dedup, Similarity, TextAnalysis}

/** Document delete/retraction across the five persisted index families
  * (takedown/opt-out — routine at training-data scale). The strongest
  * invariant each family can honor is APPEND-THEN-DELETE ROUND-TRIP:
  * because quantizers/thresholds are frozen at build time, an index
  * that appends a landing batch and then retracts exactly that batch
  * must serve byte-identically to the never-appended original — before
  * compaction (tombstone anti-join) and after it (physical drop). Plus
  * an idempotent double-delete case per family. */
class IndexDeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  private def shape(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))

  private def splitEmb(tag: String): (String, String, Seq[Long]) = {
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    val emb = Tables(spark, sf0001, "embeddings")
    emb.filter(col("vec_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpus/embeddings.parquet")
    emb.filter(col("vec_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$tmp/batch/embeddings.parquet")
    val batchIds = spark.read.parquet(s"$tmp/batch/embeddings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    (tmp, s"$tmp/corpus", batchIds)
  }

  // NOT the registered queryStride: the split corpus excludes
  // vec_id % 10 == 0 and every % 50 == 0 id is one of those — stride-50
  // queries over it are EMPTY, which made the round-7 serve comparisons
  // vacuous (caught round 8; the nonEmpty asserts below pin it open)
  private def queriesOf(dir: String) = Similarity.normed(spark, dir)
    .filter(col("vec_id") % 9 === 1)
    .select(col("vec_id").as("q_id"), col("embedding"))

  test("LSH delete: append-then-retract round-trips to the original index") {
    val (tmp, corpus, batchIds) = splitEmb("lsh-del")
    AnnIndex.lshIndexWrite(spark, corpus, s"$tmp/index")
    val q = queriesOf(corpus)
    val original = AnnIndex.lshIndexServe(spark, s"$tmp/index", Seq(corpus), q)
      .collect().map(shape).toSeq
    assert(original.nonEmpty, "query set must not be empty (vacuous comparison)")
    AnnIndex.lshIndexAppend(spark, s"$tmp/batch", s"$tmp/index")
    AnnIndex.lshIndexDelete(spark, s"$tmp/index", batchIds)
    // corpusDirs still carries the batch dir: a tombstoned vector must
    // not serve even though its embedding remains readable
    val afterDelete = AnnIndex.lshIndexServe(spark, s"$tmp/index",
      Seq(corpus, s"$tmp/batch"), q).collect().map(shape).toSeq
    assert(afterDelete === original, "tombstoned members leaked into serving")
    AnnIndex.lshIndexDelete(spark, s"$tmp/index", batchIds) // idempotent
    AnnIndex.lshIndexCompact(spark, s"$tmp/index")
    val remaining = spark.read.parquet(s"$tmp/index/buckets")
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(batchIds.forall(!remaining.contains(_)),
      "compaction left physically deleted rows")
    assert(graft.ops.IndexMaintenance.snapshot(spark, s"$tmp/index").tombstonesOf("buckets").isEmpty,
      "compaction should consume the pending tombstones")
    val afterCompact = AnnIndex.lshIndexServe(spark, s"$tmp/index",
      Seq(corpus, s"$tmp/batch"), q).collect().map(shape).toSeq
    assert(afterCompact === original, "post-compact serving diverged")
  }

  test("IVF and IVF-PQ delete: append-then-retract round-trips (frozen quantizer)") {
    val (tmp, corpus, batchIds) = splitEmb("ivf-del")
    val q = queriesOf(corpus)
    for ((name, write, append, delete, compact, serve) <- Seq(
      ("ivf",
        AnnIndex.ivfIndexWrite _, AnnIndex.ivfIndexAppend _,
        AnnIndex.ivfIndexDelete _, AnnIndex.ivfIndexCompact _,
        (i: String, d: Seq[String]) => AnnIndex.ivfIndexServe(spark, i, d, q)),
      ("ivfpq",
        AnnIndex.ivfPqIndexWrite _, AnnIndex.ivfPqIndexAppend _,
        AnnIndex.ivfPqIndexDelete _, AnnIndex.ivfPqIndexCompact _,
        (i: String, d: Seq[String]) => AnnIndex.ivfPqIndexServe(spark, i, d, q)))) {
      val idx = s"$tmp/index-$name"
      write(spark, corpus, idx)
      val original = serve(idx, Seq(corpus)).collect().map(shape).toSeq
      assert(original.nonEmpty, s"[$name] query set must not be empty (vacuous comparison)")
      append(spark, s"$tmp/batch", idx)
      delete(spark, idx, batchIds)
      delete(spark, idx, batchIds) // idempotent double delete
      val afterDelete = serve(idx, Seq(corpus, s"$tmp/batch"))
        .collect().map(shape).toSeq
      assert(afterDelete === original, s"[$name] tombstoned members leaked")
      compact(spark, idx)
      val remaining = spark.read.parquet(s"$idx/lists")
        .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
      assert(batchIds.forall(!remaining.contains(_)), s"[$name] rows not dropped")
      val afterCompact = serve(idx, Seq(corpus, s"$tmp/batch"))
        .collect().map(shape).toSeq
      assert(afterCompact === original, s"[$name] post-compact serving diverged")
    }
  }

  test("IVF persisted-serve mass budget covers only the SERVABLE corpus") {
    // round-10 What's wrong #3: the probe budget counted tombstoned rows,
    // so a heavily-retracted index over-budgeted probes until compaction
    val (tmp, corpus, _) = splitEmb("ivf-budget")
    val idx = s"$tmp/index"
    AnnIndex.ivfIndexWrite(spark, corpus, idx)
    val raw = spark.read.parquet(s"$idx/lists").count()
    // tombstone-free: masked and raw budgets are identical
    val (_, b0) = AnnIndex.ivfServableBudget(spark, idx)
    assert(b0 == raw * Similarity.ivfProbeFraction,
      s"tombstone-free budget $b0 != raw ${raw * Similarity.ivfProbeFraction}")
    // mass-delete half the index: the budget must shrink with the
    // servable corpus BEFORE compaction sweeps the rows
    val dropIds = spark.read.parquet(s"$idx/lists")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(dropIds.nonEmpty)
    AnnIndex.ivfIndexDelete(spark, idx, dropIds)
    val (_, b1) = AnnIndex.ivfServableBudget(spark, idx)
    assert(b1 == (raw - dropIds.size) * Similarity.ivfProbeFraction,
      s"post-delete budget $b1 still counts tombstoned rows (raw-based: $b0)")
    // compaction changes nothing the budget can see
    AnnIndex.ivfIndexCompact(spark, idx)
    val (_, b2) = AnnIndex.ivfServableBudget(spark, idx)
    assert(b2 == b1, s"budget moved across compaction: $b1 -> $b2")
  }

  test("simhash delete: a retracted doc stops masking near-dups immediately") {
    import spark.implicits._
    val mk = (i: Long) => (i, (0 until 40).map(w => s"sd${i}w$w").mkString(" "))
    val tmp = java.nio.file.Files.createTempDirectory("sim-del").toString
    Seq(mk(1), mk(2), mk(3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/corpus/documents.parquet")
    // batch doc 10 is an exact copy of corpus doc 2
    Seq((10L, mk(2)._2), mk(11)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/batch/documents.parquet")
    Dedup.dedupIndexWrite(spark, s"$tmp/corpus", s"$tmp/index")
    def check() = Dedup.dedupIncrementalIndexed(spark, s"$tmp/batch", s"$tmp/index")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(check() == Map(10L -> true, 11L -> false), "baseline flags wrong")
    Dedup.dedupIndexDelete(spark, s"$tmp/index", Seq(2L))
    assert(check() == Map(10L -> false, 11L -> false),
      "deleted doc 2 still masks its twin before compaction")
    Dedup.dedupIndexDelete(spark, s"$tmp/index", Seq(2L)) // idempotent
    Dedup.dedupIndexCompact(spark, s"$tmp/index")
    assert(spark.read.parquet(s"$tmp/index/simhash")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet == Set(1L, 3L),
      "compaction did not drop the retracted signature")
    assert(check() == Map(10L -> false, 11L -> false), "post-compact flags wrong")
  }

  test("text index delete: absent from ranking at once, stats catch up at compact") {
    val tmp = java.nio.file.Files.createTempDirectory("text-del").toString
    val docs = Tables(spark, sf0001, "documents")
    docs.filter(col("doc_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/keep/documents.parquet")
    val dropIds = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    TextAnalysis.textIndexWrite(spark, sf0001, s"$tmp/index")
    TextAnalysis.textIndexDelete(spark, s"$tmp/index", dropIds)
    TextAnalysis.textIndexDelete(spark, s"$tmp/index", dropIds) // idempotent
    val preCompact = TextAnalysis.textBm25Served(spark, s"$tmp/index").collect()
    assert(preCompact.forall(r => r.getLong(0) % 10 != 0),
      "deleted docs surfaced in the ranking before compaction")
    TextAnalysis.textIndexCompact(spark, s"$tmp/index")
    // from-scratch identity: the text index has no trained component,
    // and compact recomputed n_docs/avgdl from the survivors — so the
    // compacted index must serve BYTE-IDENTICALLY to one built from a
    // corpus that never contained the deleted docs
    TextAnalysis.textIndexWrite(spark, s"$tmp/keep", s"$tmp/scratch")
    val compacted = TextAnalysis.textBm25Served(spark, s"$tmp/index")
      .collect().map(_.toSeq).toSeq
    val scratch = TextAnalysis.textBm25Served(spark, s"$tmp/scratch")
      .collect().map(_.toSeq).toSeq
    assert(compacted.nonEmpty && compacted === scratch,
      "delete+compact diverged from the never-indexed baseline")
    val phraseA = TextAnalysis.textPhraseServed(spark, s"$tmp/index")
      .collect().map(_.getLong(0)).toSeq
    val phraseB = TextAnalysis.textPhraseServed(spark, s"$tmp/scratch")
      .collect().map(_.getLong(0)).toSeq
    assert(phraseA === phraseB, "positional serving diverged after delete+compact")
  }

  test("sequenced tombstones: delete-then-re-append serves immediately, without a compact") {
    // takedown-then-restored-license: the SAME ids retract and then
    // re-land. The delete's file-set watermark masks only the copies
    // folded before it — the re-appended rows serve at once, exactly
    // one servable copy exists, and compaction preserves the result.
    val (tmp, corpus, batchIds) = splitEmb("readd")
    val q = queriesOf(corpus)
    // LSH
    AnnIndex.lshIndexWrite(spark, corpus, s"$tmp/lsh")
    AnnIndex.lshIndexAppend(spark, s"$tmp/batch", s"$tmp/lsh")
    def lshServe() = AnnIndex.lshIndexServe(spark, s"$tmp/lsh",
      Seq(corpus, s"$tmp/batch"), q).collect().map(shape).toSeq
    val lshWith = lshServe()
    assert(lshWith.nonEmpty, "query set must not be empty (vacuous comparison)")
    AnnIndex.lshIndexDelete(spark, s"$tmp/lsh", batchIds)
    AnnIndex.lshIndexAppend(spark, s"$tmp/batch", s"$tmp/lsh") // re-admission
    assert(lshServe() === lshWith, "[lsh] re-appended ids did not serve pre-compact")
    graft.ops.IndexMaintenance.checkUnique(spark, s"$tmp/lsh", "buckets",
      Seq("vec_id", "tbl"), "vec_id") // masked original is not double-counted
    AnnIndex.lshIndexCompact(spark, s"$tmp/lsh")
    assert(lshServe() === lshWith, "[lsh] compaction changed the re-admitted serve")
    assert(graft.ops.IndexMaintenance.snapshot(spark, s"$tmp/lsh").tombstonesOf("buckets").isEmpty)
    // IVF + IVF-PQ
    for ((name, write, append, delete, compact, serve) <- Seq(
      ("ivf",
        AnnIndex.ivfIndexWrite _, AnnIndex.ivfIndexAppend _,
        AnnIndex.ivfIndexDelete _, AnnIndex.ivfIndexCompact _,
        (i: String) => AnnIndex.ivfIndexServe(spark, i, Seq(corpus, s"$tmp/batch"), q)),
      ("ivfpq",
        AnnIndex.ivfPqIndexWrite _, AnnIndex.ivfPqIndexAppend _,
        AnnIndex.ivfPqIndexDelete _, AnnIndex.ivfPqIndexCompact _,
        (i: String) => AnnIndex.ivfPqIndexServe(spark, i, Seq(corpus, s"$tmp/batch"), q)))) {
      val idx = s"$tmp/readd-$name"
      write(spark, corpus, idx)
      append(spark, s"$tmp/batch", idx)
      val withBatch = serve(idx).collect().map(shape).toSeq
      assert(withBatch.nonEmpty, s"[$name] query set must not be empty (vacuous comparison)")
      delete(spark, idx, batchIds)
      append(spark, s"$tmp/batch", idx) // re-admission, no compact between
      assert(serve(idx).collect().map(shape).toSeq === withBatch,
        s"[$name] re-appended ids did not serve pre-compact")
      graft.ops.IndexMaintenance.checkUnique(spark, s"$idx", "lists",
        Seq("vec_id"), "vec_id")
      compact(spark, idx)
      assert(serve(idx).collect().map(shape).toSeq === withBatch,
        s"[$name] compaction changed the re-admitted serve")
    }
    // simhash: the retracted doc's re-admission resumes masking dups
    import spark.implicits._
    val mk = (i: Long) => (i, (0 until 40).map(w => s"rs${i}w$w").mkString(" "))
    val sroot = java.nio.file.Files.createTempDirectory("sim-readd").toString
    Seq(mk(1), mk(2), mk(3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$sroot/corpus/documents.parquet")
    Seq((10L, mk(2)._2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$sroot/probe/documents.parquet")
    Seq(mk(2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$sroot/readd/documents.parquet")
    Dedup.dedupIndexWrite(spark, s"$sroot/corpus", s"$sroot/index")
    def flags() = Dedup.dedupIncrementalIndexed(spark, s"$sroot/probe", s"$sroot/index")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    Dedup.dedupIndexDelete(spark, s"$sroot/index", Seq(2L))
    assert(flags() == Map(10L -> false), "retracted doc still masks")
    Dedup.dedupIndexAppend(spark, s"$sroot/readd", s"$sroot/index") // re-admitted
    assert(flags() == Map(10L -> true),
      "re-admitted doc 2 does not mask its twin before compaction")
    Dedup.dedupIndexCompact(spark, s"$sroot/index")
    assert(flags() == Map(10L -> true), "post-compact re-admitted masking lost")
  }

  test("compaction crash window: files removed by a commit but not yet deleted never serve a delete") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("commit-crash").toString
    graft.ops.IndexMaintenance.replace(spark, tmp,
      Seq("t" -> (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")))
    // a crash right after the compaction's commit leaves the removed
    // files in place: simulated by restoring byte copies of them, aged
    // past the orphan retention
    val removed = graft.ops.IndexMaintenance.snapshot(spark, tmp).filesOf("t").map(_.path)
    val saved = removed.map(p => p -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tmp, p)))
    graft.ops.IndexMaintenance.compact(spark, tmp, "t", Seq("id"))
    saved.foreach { case (p, b) =>
      MaintenanceSpec.age(java.nio.file.Files.write(java.nio.file.Paths.get(tmp, p), b)) }
    assert(graft.ops.IndexMaintenance.read(spark, tmp, "t").count() == 100L,
      "the leftover files were served next to the rewrite")
    // a delete after the crash masks every served copy of the id
    graft.ops.IndexMaintenance.delete(spark, tmp, Seq("t"), Seq(1L))
    val served = graft.ops.IndexMaintenance.scan(spark, tmp, "t", "id")
    assert(served.count() == 99L, "delete after the crash did not mask")
    graft.ops.IndexMaintenance.compact(spark, tmp, "t", Seq("id"), Some("id"))
    assert(spark.read.parquet(s"$tmp/t").count() == 99L, "the next compaction kept the leftovers")
  }

  test("decontam delete: retired eval doc stops flagging at once; compact rebuilds bloom") {
    import spark.implicits._
    val root = ManifestFixture.corpusDir(spark)
    val idx = java.nio.file.Files.createTempDirectory("bloom-del").toString
    Dedup.ingestManifestIndexInit(spark, idx, root)
    // doc 15 shares eval doc 0's 10-token run but is no near/exact dup
    // of anything (unique tail), and its md5 bucket is train-side
    def probe(id: Long): (String, Long) = {
      val out = java.nio.file.Files.createTempDirectory("bloom-del-out").toString
      Dedup.ingestManifestBatch(spark,
        Seq((id, ManifestFixture.text(9L).replace("w9x", s"w${id}x")))
          .toDF("doc_id", "text"), idx, out, 0L)
      val r = spark.read.parquet(out).head()
      (r.getString(7), r.getLong(4))
    }
    assert(probe(15L) == ("contaminated", 3L), "planted overlap must flag")
    Curation.decontamIndexDelete(spark, idx, Seq(0L))
    Curation.decontamIndexDelete(spark, idx, Seq(0L)) // idempotent
    // the bloom still screens the doc in on stale bits, but the exact
    // tier no longer confirms: correct IMMEDIATELY, without a rebuild
    val (reason2, shared2) = probe(16L)
    assert(shared2 == 0L && reason2 != "contaminated",
      s"retracted eval doc still flags: $reason2/$shared2")
    Curation.decontamIndexCompact(spark, idx)
    assert(spark.read.parquet(s"$idx/eval_shingles")
      .filter(col("eval_id") === 0L).count() == 0,
      "compaction left retracted eval shingles")
    val (reason3, shared3) = probe(17L)
    assert(shared3 == 0L && reason3 != "contaminated",
      s"rebuilt bloom still flags: $reason3/$shared3")
  }
}
