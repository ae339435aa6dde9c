package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{IndexMaintenance, TextAnalysis}
import graft.streaming.TextIngest

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
    TextIngest.streamTextIngestToFiles(spark, s"$r/landing",
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
    def statsOf(idx: String) = org.apache.spark.sql.Row.fromTuple(
      TextAnalysis.corpusStats(IndexMaintenance.snapshot(spark, idx)))
    val seedStats = statsOf(s"$r/index")
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
    val statsAfter = statsOf(s"$r/index")
    assert(statsAfter.getLong(0) == doclenOf(s"$r/oneshot").size,
      "compaction did not recompute n_docs over the grown corpus")

    // TRUE redelivery (same batch id re-presented after the commit
    // marker is lost): the per-batch marker skips it — nothing appended
    val before = spark.read.parquet(s"$r/index/postings").count()
    val commits = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits.getParentFile, s".${commits.getName}.crc").delete()
    assert(commits.delete(), "could not remove the last commit marker")
    TextIngest.streamTextIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    assert(spark.read.parquet(s"$r/index/postings").count() == before,
      "redelivered batch appended duplicate posting rows")
    assert(serveOf(s"$r/index") === caught, "redelivery changed serving")
    IndexMaintenance.checkUnique(spark, s"$r/index", "postings",
      Seq("term", "doc_id"), "doc_id")
  }

  /** A token ledger of hand-written rows: the seed (s1: 2 docs, 10
    * tokens), then batches 0 (s1: 1, 5) and 1 (s2: 1, 7) of lineage `L`. */
  private def smallLedger(tag: String): String = {
    import spark.implicits._
    val dir = s"${java.nio.file.Files.createTempDirectory(tag)}/ledger"
    def rows(src: String, d: Long, t: Long) =
      Seq((src, d, t)).toDF("source", "n_docs", "n_tokens").coalesce(1)
    IndexMaintenance.replace(spark, dir, Seq(TextIngest.ledgerTable -> rows("s1", 2L, 10L)))
    IndexMaintenance.append(spark, dir, Seq(TextIngest.ledgerTable -> rows("s1", 1L, 5L)),
      mark = Some("L" -> 0L))
    IndexMaintenance.append(spark, dir, Seq(TextIngest.ledgerTable -> rows("s2", 1L, 7L)),
      mark = Some("L" -> 1L))
    dir
  }
  private val smallLedgerTotals = Seq(("s1", 3L, 15L), ("s2", 1L, 7L))

  private def totalsOf(ledger: String): Seq[(String, Long, Long)] =
    TextIngest.ledgerTotals(spark, ledger)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq

  private def healthOf(ledger: String): Map[String, Double] =
    TextIngest.ledgerHealth(spark, ledger)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap

  /** The ledger table's data files on disk, committed or not. */
  private def countFiles(ledger: String): Set[String] =
    MaintenanceSpec.parquetNames(s"$ledger/${TextIngest.ledgerTable}")

  private def committedFiles(ledger: String): Set[String] =
    IndexMaintenance.snapshot(spark, ledger).filesOf(TextIngest.ledgerTable).map(_.name).toSet

  /** An uncommitted copy of a committed ledger file, as a crashed or a
    * live writer leaves it in the table dir. */
  private def plantCopy(ledger: String, tag: String): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(ledger, TextIngest.ledgerTable, committedFiles(ledger).head)
    java.nio.file.Files.copy(src, src.resolveSibling(s"$tag-${src.getFileName}"))
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
    val ledger = s"$r/ledger"
    // seed's own ledger rows, committed at deployment — counted under
    // the model's recorded apply form like every streamed batch
    IndexMaintenance.replace(spark, ledger, Seq(TextIngest.ledgerTable -> TextAnalysis.bpeSourceCounts(
      spark.read.parquet(s"$r/slice_0/documents.parquet"), merges, form).coalesce(1)))
    land(r, 1, "batch_1"); land(r, 2, "batch_2")
    def stream(): Unit = TextIngest.streamTokenLedgerToFiles(spark, s"$r/landing",
      s"$r/model", ledger, s"$r/checkpoint")
    stream()
    // batch-by-batch accounting under FROZEN merges == one whole-corpus
    // encode under the same merges (bpeSourceCounts' exactness contract)
    val want = TextAnalysis.bpeSourceCounts(docs, merges, form).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(totalsOf(ledger).nonEmpty && totalsOf(ledger) === want,
      s"ledger totals diverged from the whole-corpus encode:\n got: ${totalsOf(ledger)}\nwant: $want")
    // redelivery: lose the last checkpoint commit and re-run — the batch
    // finds its mark in the ledger's log and lands nothing
    def redeliver(): Unit = {
      val commits = new java.io.File(s"$r/checkpoint/commits")
        .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
      new java.io.File(commits.getParentFile, s".${commits.getName}.crc").delete()
      assert(commits.delete(), "could not remove the last commit marker")
      val v = IndexMaintenance.snapshot(spark, ledger).version
      stream()
      assert(IndexMaintenance.snapshot(spark, ledger).version == v,
        "the redelivered batch committed again")
    }
    redeliver()
    assert(totalsOf(ledger) === want, "redelivered batch double-counted ledger rows")

    // ROLLUP: one commit replaces seed + batches with one file; nothing
    // observable changes
    TextIngest.ledgerRollup(spark, ledger)
    assert(committedFiles(ledger).size == 1 && countFiles(ledger) == committedFiles(ledger),
      s"rollup left more than its one file: ${countFiles(ledger)}")
    assert(totalsOf(ledger) === want, "rollup changed the ledger totals")
    // redelivery AFTER the rollup: the rollup carried the batch marks,
    // so the re-presented batch still lands nothing
    redeliver()
    assert(totalsOf(ledger) === want, "post-rollup redelivery double-counted")

    // CONCURRENT READ DURING ROLLUP CHURN: a reader takes no lock, and
    // every rollup deletes the file a running read may have listed.
    // Zero-row batches keep the expected totals constant.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try while (!stop.get()) assert(totalsOf(ledger) === want)
      catch { case t: Throwable => readerErr.set(t) }
    })
    val zero = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      TextIngest.ledgerTotals(spark, ledger).schema)
    reader.start()
    try (4L to 13L).foreach { i =>
      IndexMaintenance.append(spark, ledger, Seq(TextIngest.ledgerTable -> zero),
        mark = Some("churn" -> i))
      TextIngest.ledgerRollup(spark, ledger)
    } finally { stop.set(true); reader.join(60000) }
    assert(readerErr.get() == null,
      s"concurrent ledgerTotals failed during rollup churn: ${readerErr.get()}")
    assert(committedFiles(ledger).size == 1 && countFiles(ledger) == committedFiles(ledger),
      s"churn left more than one file: ${countFiles(ledger)}")
    assert(totalsOf(ledger) === want, "churn changed the ledger totals")
  }

  test("ledger rollup: aged uncommitted files never count; health and the autopilot see and clear them; steady-state health runs no Spark job") {
    val ledger = smallLedger("graft-ledger-orphan")
    // a crashed writer's leftover: a copy of committed rows that no
    // version names, older than the orphan retention
    val orphan = plantCopy(ledger, "crashed")
    MaintenanceSpec.age(orphan)
    assert(totalsOf(ledger) === smallLedgerTotals, "an uncommitted file was counted")
    // health names the debt; nothing live is lost, no rollup mark yet
    val h = healthOf(ledger)
    assert(h("covered_garbage") == 1.0 && h("rollup_hwm") == -1.0 &&
      h("unrolled_batches") == 2.0 && h("live_parts") == 3.0 &&
      h("n_docs_total") == 4.0 && h("n_tokens_total") == 22.0 && h("n_sources") == 2.0,
      s"health misread the ledger: $h")
    // the autopilot detects the ledger by its table, fires on the
    // garbage, and its rollup deletes the orphan
    val dec = graft.ops.Autopilot.indexAutopilot(spark, ledger).collect()
      .map(x => (x.getString(0), x.getString(1), x.getDouble(2), x.getString(4), x.getBoolean(5)))
    assert(dec.exists(d => d._1 == "ledger" && d._2 == "covered_garbage" &&
      d._3 == 1.0 && d._4 == "rollup" && d._5),
      s"autopilot did not fire the rollup on garbage debt: ${dec.toSeq}")
    assert(!java.nio.file.Files.exists(orphan), "the rollup left the aged orphan")
    assert(totalsOf(ledger) === smallLedgerTotals, "the autopilot rollup changed the totals")
    val h2 = healthOf(ledger)
    assert(h2("covered_garbage") == 0.0 && h2("rollup_hwm") == 1.0 &&
      h2("unrolled_batches") == 0.0 && h2("live_parts") == 1.0,
      s"the rollup did not converge the ledger state: $h2")
    // STEADY-STATE health serves its totals from the rollup commit's
    // props, so the whole report runs ZERO Spark jobs. The sentinel job
    // flushes the async listener bus: events are ordered, so a count of
    // exactly 1 proves the health call contributed none.
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val h3 = healthOf(ledger)
      assert(h3("n_docs_total") == 4.0 && h3("n_tokens_total") == 22.0 &&
        h3("n_sources") == 2.0 && h3("rollup_hwm") == 1.0,
        s"prop-served totals diverged from the rolled-up rows: $h3")
      // RDD sentinel: exactly ONE job by construction (an SQL count
      // under AQE materializes per-stage and posts two)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(jobs.get() == 1,
        s"steady-state ledgerHealth ran ${jobs.get() - 1} Spark job(s) — " +
        "totals must serve from the rollup commit's props")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a second autopilot pass is a no-op (nothing fires)
    val dec2 = graft.ops.Autopilot.indexAutopilot(spark, ledger).collect()
    assert(dec2.forall(!_.getBoolean(5)), "a clean ledger re-fired the autopilot")
  }

  test("ledger health: a live writer's young staged file is not debt and survives a rollup; a committed file gone missing fails totals loudly") {
    val ledger = smallLedger("graft-ledger-staged")
    // another process has staged its batch file and not yet committed:
    // younger than the retention, it is that writer's, not garbage
    val staged = plantCopy(ledger, "staged")
    assert(healthOf(ledger)("covered_garbage") == 0.0, "a live writer's staged file counted as debt")
    val dec = graft.ops.Autopilot.indexAutopilot(spark, ledger).collect()
    assert(dec.forall(!_.getBoolean(5)), s"the autopilot fired on a live writer's staged file: ${dec.toSeq}")
    TextIngest.ledgerRollup(spark, ledger)
    assert(java.nio.file.Files.exists(staged), "the rollup deleted a live writer's staged file")
    assert(totalsOf(ledger) === smallLedgerTotals, "an uncommitted file was counted")
    // once past the retention it is a crashed writer's, and the next rollup deletes it
    MaintenanceSpec.age(staged)
    assert(healthOf(ledger)("covered_garbage") == 1.0, "an aged orphan was not reported")
    TextIngest.ledgerRollup(spark, ledger)
    assert(!java.nio.file.Files.exists(staged), "the rollup left the aged orphan")
    // a committed file deleted by hand, with no newer commit, is damage:
    // the read fails instead of returning a silent undercount
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ledger, TextIngest.ledgerTable, committedFiles(ledger).head))
    intercept[Exception](totalsOf(ledger))
  }

  test("an unseeded ledger counts its first marked append as an appended batch, so 11 appends pass the alarm floor") {
    import spark.implicits._
    // no seed replace: the first append lands at version 0
    val ledger = s"${java.nio.file.Files.createTempDirectory("graft-ledger-unseeded")}/ledger"
    val one = Seq(("s1", 1L, 1L)).toDF("source", "n_docs", "n_tokens").coalesce(1)
    (0L until 11L).foreach(b =>
      IndexMaintenance.append(spark, ledger, Seq(TextIngest.ledgerTable -> one), mark = Some("L" -> b)))
    assert(IndexMaintenance.snapshot(spark, ledger).appendedBatches(TextIngest.ledgerTable) == 11,
      "the version-0 append was not counted as an appended batch")
    assert(healthOf(ledger)("unrolled_batches") == 11.0, s"health misread the ledger: ${healthOf(ledger)}")
    var fired = 0
    graft.streaming.IngestDedup.alarmCadence(spark, Seq(ledger))(fired += 1)(3L)
    assert(fired == 1, "11 appended batches did not fire the debt alarm off the floor")
  }

  test("token ledger cadence: the appended-batch alarm fires off the floor, and a 12-batch stream keeps the file count bounded") {
    import spark.implicits._
    // the wiring: the shared alarm cadence rolls up on the floor OR when
    // the ledger's appended batch commits pass the floor
    val ledger = s"${java.nio.file.Files.createTempDirectory("graft-ledger-debt")}/ledger"
    val one = Seq(("s1", 1L, 1L)).toDF("source", "n_docs", "n_tokens").coalesce(1)
    IndexMaintenance.replace(spark, ledger, Seq(TextIngest.ledgerTable -> one))
    (0L until graft.streaming.IngestDedup.ingestCompactEvery).foreach(b =>
      IndexMaintenance.append(spark, ledger, Seq(TextIngest.ledgerTable -> one), mark = Some("L" -> b)))
    var fired = 0
    val cadence = graft.streaming.IngestDedup.alarmCadence(spark, Seq(ledger)) {
      fired += 1
      TextIngest.ledgerRollup(spark, ledger)
    }
    cadence(3L); assert(fired == 0, "rollup ran with no floor and no debt")
    IndexMaintenance.append(spark, ledger, Seq(TextIngest.ledgerTable -> one),
      mark = Some("L" -> graft.streaming.IngestDedup.ingestCompactEvery.toLong))
    cadence(4L); assert(fired == 1, "debt alarm did not fire the rollup off the floor")
    cadence(4L); assert(fired == 1, "the debt alarm stayed latched after the rollup")
    cadence(graft.streaming.IngestDedup.ingestCompactEvery - 1L)
    assert(fired == 2, "floor boundary did not fire the rollup")

    // end to end: 12 streamed batches cross the floor once; the ledger's
    // file count afterwards is bounded by the cadence, not the stream
    // length, and totals still equal one whole-corpus encode
    val r = java.nio.file.Files.createTempDirectory("graft-ledger-alarm").toString
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val nB = 12
    TextAnalysis.bpeModelWrite(spark, TestSpark.sf0001, s"$r/model")
    val merges = TextAnalysis.bpeModelMerges(spark, s"$r/model")
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
    TextIngest.streamTokenLedgerToFiles(spark, s"$r/landing",
      s"$r/model", s"$r/ledger", s"$r/checkpoint")
    val nFiles = countFiles(s"$r/ledger").size
    assert(nFiles <= graft.streaming.IngestDedup.ingestCompactEvery,
      s"$nB streamed batches left $nFiles ledger files — the cadence is not bounding the count")
    val want = TextAnalysis.bpeSourceCounts(docs, merges,
        TextAnalysis.bpeModelApplyForm(spark, s"$r/model")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(totalsOf(s"$r/ledger") === want, "bounded-file ledger totals diverged from the whole-corpus encode")
  }
}
