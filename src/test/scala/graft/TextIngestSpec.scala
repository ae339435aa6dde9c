package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{IndexMaintenance, TextAnalysis}

/** Streaming lexical-index ingest: the grown postings equal a one-shot
  * full-corpus build, global stats stay frozen until compaction catches
  * them up, and redelivery appends nothing. */
class TextIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def land(r: String, slice: Int, name: String): Unit = {
    val tmp = s"$r/stage_$name"
    spark.read.parquet(s"$r/slice_$slice/documents.parquet").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
    new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$r/landing/$name.parquet"))
    }
  }

  test("streaming text ingest: grown postings == one-shot build; stats frozen until compact; redelivery appends nothing") {
    val r = java.nio.file.Files.createTempDirectory("graft-text-ingest-spec").toString
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    (0 until 3).foreach { b =>
      docs.filter(pmod(col("doc_id"), lit(3)) === b)
        .write.mode("overwrite").parquet(s"$r/slice_$b/documents.parquet")
    }
    docs.write.mode("overwrite").parquet(s"$r/full/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$r/slice_0", s"$r/index")
    land(r, 1, "batch_1"); land(r, 2, "batch_2")
    graft.streaming.TextIngest.streamTextIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")

    // postings + doc-values of the grown index match a one-shot build
    // over the full corpus (append order is content-invariant)
    TextAnalysis.textIndexWrite(spark, s"$r/full", s"$r/oneshot")
    def postingsOf(idx: String) = spark.read.parquet(s"$idx/postings")
      .select(col("term"), col("doc_id"), col("tf"),
        concat_ws(",", col("positions").cast("array<string>")).as("ps"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .sorted.toSeq
    def doclenOf(idx: String) = spark.read.parquet(s"$idx/doclen")
      .select(col("doc_id"), col("dl")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val grownPostings = postingsOf(s"$r/index")
    assert(grownPostings.nonEmpty && grownPostings === postingsOf(s"$r/oneshot"),
      "grown postings diverged from the one-shot full-corpus build")
    assert(doclenOf(s"$r/index") === doclenOf(s"$r/oneshot"),
      "grown doc-values diverged from the one-shot full-corpus build")

    // n_docs/avgdl stay FROZEN at the seed build after appends...
    val seedStats = spark.read.parquet(s"$r/index/stats").collect().head
    val seedDocs = spark.read.parquet(s"$r/slice_0/documents.parquet")
      .filter(size(graft.functions.TextFns.tokens(col("text"))) >= 1).count()
    assert(seedStats.getLong(0) == seedDocs,
      s"stats n_docs ${seedStats.getLong(0)} != seed corpus $seedDocs — " +
        "appends must not re-estimate global stats")

    // ...and the serve under frozen stats differs from fresh-stats
    // serving only through n_docs/avgdl (df is postings-derived, so
    // current); after compaction the stats catch up and the grown
    // index serves byte-identically to the fresh full-corpus build
    def serveOf(idx: String) = TextAnalysis.textBm25Served(spark, idx).collect()
      .map(_.toSeq).toSeq
    val frozen = serveOf(s"$r/index")
    assert(frozen.nonEmpty)
    TextAnalysis.textIndexCompact(spark, s"$r/index")
    val caught = serveOf(s"$r/index")
    assert(caught === serveOf(s"$r/oneshot"),
      "post-compact serve diverged from the fresh full-corpus build")
    val statsAfter = spark.read.parquet(s"$r/index/stats").collect().head
    assert(statsAfter.getLong(0) == doclenOf(s"$r/oneshot").size,
      "compaction did not recompute n_docs over the grown corpus")

    // TRUE redelivery (same batch id re-presented after the commit
    // marker is lost): the per-batch marker skips it — nothing appended
    val before = spark.read.parquet(s"$r/index/postings").count()
    val commits = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits.getParentFile, s".${commits.getName}.crc").delete()
    assert(commits.delete(), "could not remove the last commit marker")
    graft.streaming.TextIngest.streamTextIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    assert(spark.read.parquet(s"$r/index/postings").count() == before,
      "redelivered batch appended duplicate posting rows")
    assert(serveOf(s"$r/index") === caught, "redelivery changed serving")
    IndexMaintenance.checkUnique(spark, s"$r/index", "postings",
      Seq("term", "doc_id"), "doc_id")
  }

  test("streaming token ledger: batch-by-batch totals == one whole-corpus encode under the frozen seed model; redelivery double-counts nothing") {
    val r = java.nio.file.Files.createTempDirectory("graft-ledger-spec").toString
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    (0 until 3).foreach { b =>
      docs.filter(pmod(col("doc_id"), lit(3)) === b)
        .write.mode("overwrite").parquet(s"$r/slice_$b/documents.parquet")
    }
    TextAnalysis.bpeModelWrite(spark, s"$r/slice_0", s"$r/model")
    val merges = TextAnalysis.bpeModelMerges(spark, s"$r/model")
    val form = TextAnalysis.bpeModelApplyForm(spark, s"$r/model")
    assert(merges.nonEmpty && form.contains("two_pass"))
    // seed's own ledger rows, stamped at deployment — counted under the
    // model's recorded apply form like every streamed batch
    TextAnalysis.bpeSourceCounts(
        spark.read.parquet(s"$r/slice_0/documents.parquet"), merges, form)
      .withColumn("batch_id", lit(-1L))
      .coalesce(1).write.mode("overwrite").parquet(s"$r/ledger/seed")
    land(r, 1, "batch_1"); land(r, 2, "batch_2")
    graft.streaming.TextIngest.streamTokenLedgerToFiles(spark, s"$r/landing",
      s"$r/model", s"$r/ledger", s"$r/checkpoint")
    def totals(): Seq[(String, Long, Long)] =
      graft.streaming.TextIngest.ledgerTotals(spark, s"$r/ledger")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    val got = totals()
    // batch-by-batch accounting under FROZEN merges == one whole-corpus
    // encode under the same merges (bpeSourceCounts' exactness contract)
    val want = TextAnalysis.bpeSourceCounts(docs, merges, form).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(got.nonEmpty && got === want,
      s"ledger totals diverged from the whole-corpus encode:\n got: $got\nwant: $want")
    // redelivery: lose the last commit marker and re-run — the
    // deterministic per-batch overwrite replaces rows, never adds
    val commits = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits.getParentFile, s".${commits.getName}.crc").delete()
    assert(commits.delete(), "could not remove the last commit marker")
    graft.streaming.TextIngest.streamTokenLedgerToFiles(spark, s"$r/landing",
      s"$r/model", s"$r/ledger", s"$r/checkpoint")
    assert(totals() === want, "redelivered batch double-counted ledger rows")

    // ROLLUP: compacting seed + all committed batches into one c<hwm>
    // dir changes nothing observable and bounds the dir count
    graft.streaming.TextIngest.ledgerCompact(spark, s"$r/ledger", upTo = 2L)
    def dirs(): Seq[String] = new java.io.File(s"$r/ledger").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs() === Seq("c1"), s"rollup left uncovered dirs: ${dirs()}")
    assert(totals() === want, "rollup changed the ledger totals")
    // crashed-sweep window: a covered batch dir reappearing next to the
    // rollup (rename done, sweep pending) must be IGNORED by the reader
    spark.read.parquet(s"$r/ledger/c1").limit(1)
      .selectExpr("source", "CAST(999999 AS BIGINT) AS n_docs",
        "CAST(999999 AS BIGINT) AS n_tokens", "CAST(0 AS BIGINT) AS batch_id")
      .write.mode("overwrite").parquet(s"$r/ledger/b0")
    assert(totals() === want, "reader counted a batch dir the rollup already covers")
    // redelivery AFTER the rollup: the re-presented batch rewrites its
    // b dir below the high-water mark; the reader ignores it (already
    // in the rollup) — no double count from the compact/retry interplay
    val commits2 = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits2.getParentFile, s".${commits2.getName}.crc").delete()
    assert(commits2.delete(), "could not remove the last commit marker")
    graft.streaming.TextIngest.streamTokenLedgerToFiles(spark, s"$r/landing",
      s"$r/model", s"$r/ledger", s"$r/checkpoint")
    assert(totals() === want, "post-rollup redelivery double-counted")
    // and the next compact invocation sweeps the stale rewrites even
    // with nothing new to roll up (the every-invocation sweep)
    graft.streaming.TextIngest.ledgerCompact(spark, s"$r/ledger", upTo = 3L)
    assert(dirs() === Seq("c1"), s"sweep left stale dirs: ${dirs()}")
    assert(totals() === want, "sweep changed the ledger totals")

    // CONCURRENT READ DURING COMPACT (r14): totals and rollups share
    // the index-scoped maintenance lock+lease, so a reader that listed
    // live parts can never have them swept mid-read. Churn the ledger
    // (new live dirs + covering rollups + sweeps) while a reader loops;
    // the zero-row batch dirs keep the expected totals constant.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try while (!stop.get()) assert(totals() === want)
      catch { case t: Throwable => readerErr.set(t) }
    })
    // zero-row batch dirs (materialized schema — the churn sweeps the
    // dir a lazy frame would re-read) keep the expected totals constant
    val zero = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      spark.read.parquet(s"$r/ledger/c1").schema)
    reader.start()
    try (4L to 13L).foreach { i =>
      zero.write.mode("overwrite").parquet(s"$r/ledger/b$i")
      graft.streaming.TextIngest.ledgerCompact(spark, s"$r/ledger", upTo = i + 1)
    } finally { stop.set(true); reader.join(60000) }
    assert(readerErr.get() == null,
      s"concurrent ledgerTotals failed during compaction churn: ${readerErr.get()}")
    assert(dirs() === Seq("c13"), s"churn left uncovered dirs: ${dirs()}")
    assert(totals() === want, "churn changed the ledger totals")
  }

  test("ledger rollup commit marker (r15): an uncommitted c dir never shadows the batches it claims; health + autopilot see and clear it") {
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft-ledger-marker").toString
    def row(src: String, d: Long, t: Long, b: Long) = (src, d, t, b)
    Seq(row("s1", 2L, 10L, -1L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.parquet(s"$r/ledger/seed")
    Seq(row("s1", 1L, 5L, 0L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.parquet(s"$r/ledger/b0")
    Seq(row("s2", 1L, 7L, 1L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.parquet(s"$r/ledger/b1")
    def totals(): Seq[(String, Long, Long)] =
      graft.streaming.TextIngest.ledgerTotals(spark, s"$r/ledger")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    val want = Seq(("s1", 3L, 15L), ("s2", 1L, 7L))
    assert(totals() === want)
    // a crashed copy-rename's PARTIAL rollup: complete-looking rows at
    // a mark that claims to cover b0/b1, but NO commit marker — the
    // pre-r15 grammar adopted it as hwm and silently undercounted
    Seq(row("s1", 1L, 1L, 1L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.parquet(s"$r/ledger/c1")
    assert(totals() === want,
      "an uncommitted rollup shadowed the live batch dirs — silent undercount")
    // health names the debt: the garbage dir is counted, nothing live
    // is lost, and no hwm is adopted
    def health(): Map[String, Double] =
      graft.streaming.TextIngest.ledgerHealth(spark, s"$r/ledger")
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val h = health()
    assert(h("covered_garbage") == 1.0 && h("rollup_hwm") == -1.0 &&
      h("unrolled_batches") == 2.0 && h("live_parts") == 3.0 &&
      h("n_docs_total") == 4.0 && h("n_tokens_total") == 22.0 && h("n_sources") == 2.0,
      s"health misread the torn state: $h")
    // the autopilot detects the ledger family, fires on the garbage,
    // and the rollup-all pass commits a REAL rollup + sweeps the junk
    val dec = graft.ops.Autopilot.indexAutopilot(spark, s"$r/ledger").collect()
      .map(x => (x.getString(0), x.getString(1), x.getDouble(2), x.getString(4), x.getBoolean(5)))
    assert(dec.exists(d => d._1 == "ledger" && d._2 == "covered_garbage" &&
      d._3 == 1.0 && d._4 == "rollup" && d._5),
      s"autopilot did not fire the rollup on garbage debt: ${dec.toSeq}")
    assert(totals() === want, "the autopilot rollup changed the totals")
    val h2 = health()
    assert(h2("covered_garbage") == 0.0 && h2("rollup_hwm") == 1.0 &&
      h2("unrolled_batches") == 0.0 && h2("live_parts") == 1.0,
      s"rollup-all did not converge the listing state: $h2")
    // and the committed rollup dir carries the marker file
    assert(new java.io.File(s"$r/ledger/c1",
      graft.streaming.TextIngest.ledgerCommitMarker).exists(),
      "the committed rollup is missing its commit marker")
    // STEADY-STATE health is LISTING-ONLY (r16): the marker's payload
    // carries the rolled-up per-source totals (persisted inside the
    // _LEDGER_COMMITTED transaction), so with every live part under
    // the rollup the whole report — totals included — executes ZERO
    // Spark jobs. The sentinel job flushes the async listener bus:
    // events are ordered, so a count of exactly 1 proves the health
    // call contributed none.
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val h3 = health()
      assert(h3("n_docs_total") == 4.0 && h3("n_tokens_total") == 22.0 &&
        h3("n_sources") == 2.0 && h3("rollup_hwm") == 1.0,
        s"marker-served totals diverged from the rolled-up stats: $h3")
      // RDD sentinel: exactly ONE job by construction (an SQL count
      // under AQE materializes per-stage and posts two)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(jobs.get() == 1,
        s"steady-state ledgerHealth ran ${jobs.get() - 1} Spark job(s) — " +
        "totals must serve listing-only from the committed rollup marker")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a second autopilot pass is a no-op (nothing fires)
    val dec2 = graft.ops.Autopilot.indexAutopilot(spark, s"$r/ledger").collect()
    assert(dec2.forall(!_.getBoolean(5)), "a clean ledger re-fired the autopilot")
  }

  test("ledger snapshot read (r15 review): a data-file-less live part is TORN (loud after patience), staging is workspace not garbage, crashed staging is swept") {
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft-ledger-torn").toString
    Seq(("s1", 2L, 10L, -1L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.parquet(s"$r/ledger/seed")
    Seq(("s1", 1L, 5L, 0L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.parquet(s"$r/ledger/b0")
    // a crashed mid-overwrite b dir: Spark deleted the old files and
    // died before the job committed — only an underscore entry remains.
    // A non-recursive name fingerprint would read it as a STABLE empty
    // listing (zero rows, no error) and silently undercount; the
    // data-file rule must classify it TORN and fail loudly instead.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/ledger/b1/_temporary"))
    val e = intercept[IllegalStateException](
      graft.streaming.TextIngest.ledgerTotals(spark, s"$r/ledger", patienceMs = 1200L))
    assert(e.getMessage.contains("no data files"),
      s"wrong failure for a torn live part: ${e.getMessage}")
    // a `.cstage` under a LIVE maintenance lease is an in-flight
    // compact's WORKSPACE: health must not page on it, and the
    // autopilot must not fire a rollup into the running compact's
    // lease because of it. The probe is the lease FILE's mtime (r16,
    // every compact holds it heartbeated) — the staging DIRECTORY's
    // own mtime is synthetic (commonly 0) on object stores and would
    // misread every fresh in-flight compact as stale garbage.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/ledger/.cstage"))
    val lease = new java.io.File(s"$r/.ledger.lease")
    assert(lease.createNewFile(), "could not plant the in-flight compact's lease")
    // the dir's own mtime is IRRELEVANT now — even an mtime-0 dir (the
    // S3A synthetic-status shape) must read as workspace under a live lease
    assert(new java.io.File(s"$r/ledger/.cstage").setLastModified(0L))
    val (_, unrolled, _, garbage) =
      graft.streaming.TextIngest.ledgerListingStats(spark, s"$r/ledger")
    assert(garbage == 0 && unrolled == 2,
      s"staging under a live lease counted as reader-visible garbage: unrolled=$unrolled garbage=$garbage")
    // ...but once the lease is a crashed holder's (stale mtime — the
    // same signal withLeaseScope breaks leases on), the staging is a
    // CRASHED compact's leftover, and it must surface as debt or an
    // autopilot-only deployment would never collect it
    assert(lease.setLastModified(
      System.currentTimeMillis() - graft.ops.Lease.leaseStaleMs - 60000L))
    val (_, _, _, garbage2) =
      graft.streaming.TextIngest.ledgerListingStats(spark, s"$r/ledger")
    assert(garbage2 == 1, s"staging with no live lease not counted as debt: $garbage2")
    // the autopilot fires on it — and the rollup pass must REFUSE to
    // absorb the still-torn b1 (rolling it up as zero rows would
    // permanently drop batch 1 once the stream's retry rewrite lands
    // below the new high-water mark) while its sweep collects the
    // crashed staging. The decision log must SAY it refused (r16 —
    // ADVICE: `performed` rows claiming absorbs that never ran hide
    // persisting unrolled_batches debt).
    val refusedDec = graft.ops.Autopilot.indexAutopilot(spark, s"$r/ledger").collect()
      .filter(_.getString(0) == "ledger")
      .map(x => (x.getString(1), x.getString(4), x.getBoolean(5)))
    assert(refusedDec.nonEmpty && refusedDec.forall(_._2 == "rollup_refused_torn_part"),
      s"refused rollup not reported in the decision log: ${refusedDec.toSeq}")
    assert(!refusedDec.exists(d => d._1 == "unrolled_batches" && d._3),
      s"a refused absorb read as performed: ${refusedDec.toSeq}")
    assert(!new java.io.File(s"$r/ledger/.cstage").exists(),
      "crashed staging dir survived the autopilot's sweep")
    assert(!new java.io.File(s"$r/ledger").listFiles().exists(_.getName.startsWith("c")),
      "the rollup absorbed a torn part as zero rows — batch 1 would be dropped forever")
    // heal the torn dir (the stream's retry path): the next compact
    // rolls up normally and totals are whole
    Seq(("s2", 1L, 7L, 1L)).toDF("source", "n_docs", "n_tokens", "batch_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$r/ledger/b1")
    graft.streaming.TextIngest.ledgerCompact(spark, s"$r/ledger", upTo = 2L)
    assert(new java.io.File(s"$r/ledger/c1").exists(), "post-heal rollup did not run")
    val got = graft.streaming.TextIngest.ledgerTotals(spark, s"$r/ledger")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(got === Seq(("s1", 3L, 15L), ("s2", 1L, 7L)))
  }

  test("token ledger cadence: alarm fires off the floor, and a 12-batch stream keeps the dir count bounded") {
    // the wiring: alarmCadenceAt runs the compaction on the floor OR
    // when the extra debt probe trips, and passes the batch id through
    val fired = scala.collection.mutable.ArrayBuffer[Long]()
    var debt = false
    val cadence = graft.streaming.IngestDedup.alarmCadenceAt(spark, Seq.empty,
      due = () => debt)(fired += _)
    cadence(3L); assert(fired.isEmpty, "compaction ran with no floor and no debt")
    debt = true; cadence(4L)
    assert(fired.toSeq == Seq(4L), "debt alarm did not fire the compaction off the floor")
    debt = false
    cadence(graft.streaming.IngestDedup.ingestCompactEvery - 1L)
    assert(fired.size == 2, "floor boundary did not fire the compaction")

    // end to end: 12 streamed batches cross the floor once; the live
    // dir count afterwards is bounded by the cadence, not the stream
    // length, and totals still equal one whole-corpus encode
    val r = java.nio.file.Files.createTempDirectory("graft-ledger-alarm").toString
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val nB = 12
    graft.ops.TextAnalysis.bpeModelWrite(spark, TestSpark.sf0001, s"$r/model")
    val merges = graft.ops.TextAnalysis.bpeModelMerges(spark, s"$r/model")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
    (0 until nB).foreach { b =>
      val tmp = s"$r/stage_$b"
      docs.filter(pmod(col("doc_id"), lit(nB.toLong)) === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/batch_$b.parquet"))
      }
    }
    graft.streaming.TextIngest.streamTokenLedgerToFiles(spark, s"$r/landing",
      s"$r/model", s"$r/ledger", s"$r/checkpoint")
    val nDirs = new java.io.File(s"$r/ledger").listFiles().count(_.isDirectory)
    assert(nDirs <= graft.streaming.IngestDedup.ingestCompactEvery,
      s"$nB streamed batches left $nDirs ledger dirs — the cadence is not bounding the count")
    val got = graft.streaming.TextIngest.ledgerTotals(spark, s"$r/ledger")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    val want = graft.ops.TextAnalysis.bpeSourceCounts(docs, merges,
        graft.ops.TextAnalysis.bpeModelApplyForm(spark, s"$r/model")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(got === want, "bounded-dir ledger totals diverged from the whole-corpus encode")
  }
}
