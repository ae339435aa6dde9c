package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Curation, IndexMaintenance}

/** The contamination index: one write commits both tiers at once, the
  * grown index serves bit-identically to the exact shingle join,
  * redelivery folds nothing twice, and retracting the streamed eval
  * docs rolls the verdicts back to the seed's. */
class DecontamIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  test("decontamIndexWrite commits the bloom and the eval shingle table in one log version") {
    val idx = java.nio.file.Files.createTempDirectory("decontam-write").toString
    def versions(): Seq[java.io.File] = new java.io.File(s"$idx/_log").listFiles()
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName).toSeq
    def tablesOf(v: java.io.File): Set[String] = {
      val src = scala.io.Source.fromFile(v)
      try src.getLines().filter(_.contains("\"add\""))
        .flatMap("\"table\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(_).map(_.group(1))).toSet
      finally src.close()
    }
    Curation.decontamIndexWrite(spark, sf0001, idx)
    assert(versions().size == 1, s"a fresh write committed ${versions().size} log versions")
    assert(tablesOf(versions().head) == Set("bloom", "eval_shingles"),
      s"the one version holds ${tablesOf(versions().head)}")
    // a rewrite over a standing index is one more version replacing both
    val before = IndexMaintenance.snapshot(spark, idx)
    Curation.decontamIndexWrite(spark, sf0001, idx)
    val after = IndexMaintenance.snapshot(spark, idx)
    assert(versions().size == 2 && after.version == before.version + 1,
      s"a rewrite moved the log from v${before.version} to v${after.version}")
    assert(tablesOf(versions().last) == Set("bloom", "eval_shingles"))
    Seq("bloom", "eval_shingles").foreach(t => assert(
      after.filesOf(t).nonEmpty && after.filesOf(t).toSet.intersect(before.filesOf(t).toSet).isEmpty,
      s"the rewrite did not replace $t"))
  }

  test("streaming eval ingest: grown index == exact shingle join; redelivery appends nothing; retraction rolls back") {
    val dir = sf0001
    val r = java.nio.file.Files.createTempDirectory("decontam-ingest-spec").toString
    val eval = Tables(spark, dir, "documents")
      .filter(col("doc_id") % Curation.evalStride === 0)
    // seed = the mod-1 third of the eval slice; land the other two
    // thirds, which hold every eval doc a train doc of this corpus
    // shares a shingle with — the streamed batches, not the seed, carry
    // the contamination verdicts under test
    eval.filter(pmod(col("doc_id"), lit(3)) === 1)
      .write.mode("overwrite").parquet(s"$r/seed/documents.parquet")
    Curation.decontamIndexWrite(spark, s"$r/seed", s"$r/index")
    val streamedIds = new scala.collection.mutable.ArrayBuffer[Long]()
    Seq(1 -> 0, 2 -> 2).foreach { case (b, third) =>
      val slice = eval.filter(pmod(col("doc_id"), lit(3)) === third)
      streamedIds ++= slice.select(col("doc_id")).collect().map(_.getLong(0))
      val tmp = s"$r/stage_$b"
      slice.coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/batch_$b.parquet"))
        new java.io.File(s"$r/landing/batch_$b.parquet")
          .setLastModified(1600000000000L + b * 60000L)
      }
    }
    graft.streaming.DecontamIngest.streamDecontamIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    def serveOf(idx: String) = Curation.decontamServeTwoTier(spark, idx, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2))).toSeq
    val grown = serveOf(s"$r/index")
    // the independent reference: the exact train x eval shingle join
    val exact = Curation.decontaminateNgram(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(1) > 0)).toSeq
    assert(grown.nonEmpty && exact.exists(_._3) && grown === exact,
      "grown contamination index diverged from the exact shingle join")

    // TRUE redelivery: marker skips the re-presented batch in BOTH tiers
    val before = spark.read.parquet(s"$r/index/eval_shingles").count()
    val bloomBytes = spark.read.parquet(s"$r/index/bloom").head()
      .getAs[Array[Byte]]("bloom").toSeq
    val commits = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits.getParentFile, s".${commits.getName}.crc").delete()
    assert(commits.delete(), "could not remove the last commit marker")
    graft.streaming.DecontamIngest.streamDecontamIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    assert(spark.read.parquet(s"$r/index/eval_shingles").count() == before,
      "redelivered batch appended duplicate shingle rows")
    assert(spark.read.parquet(s"$r/index/bloom").head()
      .getAs[Array[Byte]]("bloom").toSeq == bloomBytes,
      "redelivered batch re-merged the bloom")
    assert(serveOf(s"$r/index") === grown, "redelivery changed serving")
    IndexMaintenance.checkUnique(spark, s"$r/index", "eval_shingles",
      Seq("eval_id", "h"), "eval_id")

    // retracting every STREAMED eval doc rolls verdicts back to the
    // seed-only index's (exact tier immediately; the stale bloom bits
    // are absorbed by the confirm join)
    Curation.decontamIndexDelete(spark, s"$r/index", streamedIds.toSeq)
    Curation.decontamIndexWrite(spark, s"$r/seed", s"$r/seedidx")
    assert(serveOf(s"$r/seedidx") != grown,
      "the seed alone already yields the grown verdicts: the retraction is vacuous")
    assert(serveOf(s"$r/index") === serveOf(s"$r/seedidx"),
      "retracting the streamed eval docs did not roll back to the seed verdicts")
  }

  test("alarm-driven cadence: a saturating bloom fires its rebuild MID-STREAM, before the floor") {
    import spark.implicits._
    // round-12 lifecycle: the fixed every-10th-batch cadence cannot see
    // capacity debt — a 2-batch stream would have ended with a saturated
    // seed bloom (share > 1.0, FP decay) and no compaction. The
    // per-trigger alarm (Autopilot.maintenanceDue) must fire the rebuild
    // the moment the accounting crosses capacity.
    val r = java.nio.file.Files.createTempDirectory("decontam-alarm").toString
    def evalDoc(i: Long, tag: String) =
      (i, (0 until 20).map(w => s"$tag${i}w$w").mkString(" "), "en", "s")
    // tiny seed: 4 docs x 20 distinct shingle words -> 1024-slot bloom
    (1L to 4L).map(i => evalDoc(i * Curation.evalStride, "seed"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$r/seed/documents.parquet")
    Curation.decontamIndexWrite(spark, s"$r/seed", s"$r/index")
    def bloomMeta(): (Long, Long) = {
      val m = spark.read.parquet(s"$r/index/bloom")
        .select(col("n_items"), col("total_items")).head()
      (m.getLong(0), m.getLong(1))
    }
    val (seedCap, seedTotal) = bloomMeta()
    assert(seedTotal <= seedCap, s"seed must start within capacity: $seedTotal/$seedCap")
    // two landed batches of 60 docs (~13 distinct 8-gram shingles each):
    // the capacity accounting crosses 1.0 inside the stream, far before
    // the every-10th floor could ever fire
    (1 to 2).foreach { b =>
      val tmp = s"$r/stage_$b"
      (1L to 60L).map(i => evalDoc(10000L * b + i, s"b$b"))
        .toDF("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/batch_$b.parquet"))
        new java.io.File(s"$r/landing/batch_$b.parquet")
          .setLastModified(1600000000000L + b * 60000L)
      }
    }
    graft.streaming.DecontamIngest.streamDecontamIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    val (cap, total) = bloomMeta()
    assert(cap > seedCap,
      s"bloom still at seed geometry ($cap slots) after a saturating 2-batch stream — " +
      "the alarm never fired (fixed cadence needs 10 batches)")
    assert(total.toDouble / cap <= 1.0,
      s"post-stream saturation ${total.toDouble / cap} — the mid-stream rebuild did not refresh capacity")
    // the rebuilt index still serves exactly: a train doc quoting a
    // streamed eval doc flags through the two-tier check
    val quoted = (0 until 20).map(w => s"b2${10000L * 2 + 1}w$w").mkString(" ")
    (1L to 2L).map(i => (i, if (i == 1L) quoted else "clean doc nothing shared here at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$r/train/documents.parquet")
    val verdicts = Curation.decontamServeTwoTier(spark, s"$r/index", s"$r/train")
      .collect().map(x => (x.getLong(0), x.getBoolean(2))).toMap
    assert(verdicts == Map(1L -> true, 2L -> false),
      s"post-rebuild serve verdicts wrong: $verdicts")
  }
}
