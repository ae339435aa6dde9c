package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Structured Streaming ≡ batch: the streaming tumbling-window counts
  * must equal the batch aggregation over the same parquet. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stream_hour_counts equals the batch hourly histogram") {
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.streamHourCounts(spark, TestSpark.sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables(spark, TestSpark.sf0001, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("watermark drops late data in append mode (MemoryStream, manual batches)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val name = "wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      input.addData((t(0), "a"), (t(1), "a"))   // window [10:00,10:10)
      q.processAllAvailable()
      input.addData((t(31), "a"))               // watermark -> 10:21, closes [10:00,10:10)
      q.processAllAvailable()
      input.addData((t(2), "late"))             // far behind watermark: dropped
      input.addData((t(45), "a"))               // push watermark further
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select(col("window.start").cast("string"), col("k"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("2024-01-01 10:00:00", "a", 2L)), s"closed window missing: $rows")
    assert(!rows.exists(_._2 == "late"), s"late row leaked into results: $rows")
  }

  /** sf0.001 events in the production feed shape (real TimestampType ts),
    * ts-ordered — the raw material every file-sink test stages. */
  private def feedRowsAndSchema() = {
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, TestSpark.sf0001, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts"))
    (ev.collect().toSeq, ev.schema)
  }

  /** Stage row chunks as individual parquet files with ascending
    * mod-times (=> oldest-first admission by the streaming file source);
    * returns the source dir. */
  private def stageEventFiles(base: java.nio.file.Path,
      chunks: Seq[Seq[org.apache.spark.sql.Row]],
      schema: org.apache.spark.sql.types.StructType): String = {
    import scala.jdk.CollectionConverters._
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val stage = base.resolve(s"stage$i")
      spark.createDataFrame(chunk.asJava, schema).coalesce(1)
        .write.parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = src.resolve(f"events-$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    src.toString
  }

  test("production file-sink append stream equals the batch hourly histogram") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("fsink")
    // several ts-ordered files plus a far-future sentinel event whose
    // watermark advance closes every real window — append mode only
    // emits a window once the watermark passes its end
    val (rows, schema) = feedRowsAndSchema()
    val maxTs = rows.last.getTimestamp(1)
    val chunks = rows.grouped(rows.length / 3 + 1).map(_.toSeq).toSeq
    val sentinel = org.apache.spark.sql.Row(
      -1L, new java.sql.Timestamp(maxTs.getTime + 3 * 3600 * 1000L), -1L, "sentinel", 0.0)
    val src = stageEventFiles(base, chunks :+ Seq(sentinel), schema)
    graft.streaming.EventStreams.streamHourCountsToFiles(
      spark, src, base.resolve("out").toString, base.resolve("ckpt").toString)
    val got = spark.read.parquet(base.resolve("out").toString)
      .filter(col("event_type") =!= "sentinel")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables(spark, TestSpark.sf0001, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("production landing-zone dedup sink: doubled input lands exactly-once") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("dsink")
    val (rows, schema) = feedRowsAndSchema()
    // every chunk staged TWICE — each event provably arrives duplicated
    // (and the duplicate arrives in a LATER file, exercising cross-batch
    // dedup state, not just within-batch distinct)
    val chunks = rows.grouped(rows.length / 3 + 1).map(_.toSeq).toSeq
    val src = stageEventFiles(base, chunks ++ chunks, schema)
    graft.streaming.EventStreams.streamDedupToFiles(
      spark, src, base.resolve("out").toString, base.resolve("ckpt").toString)
    val landed = spark.read.parquet(base.resolve("out").toString)
    assert(landed.count() === rows.length.toLong)
    assert(landed.select("event_id").distinct().count() === rows.length.toLong)
    val gotCounts = landed.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables(spark, TestSpark.sf0001, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotCounts === want)
  }

  test("production stream-stream join sink equals the batch range join") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("jsink")
    val (rows, schema) = feedRowsAndSchema()
    val chunks = rows.grouped(rows.length / 3 + 1).map(_.toSeq).toSeq
    val src = stageEventFiles(base, chunks, schema)
    graft.streaming.EventStreams.streamStreamJoinToFiles(
      spark, src, base.resolve("out").toString, base.resolve("ckpt").toString)
    val got = spark.read.parquet(base.resolve("out").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ev = Tables(spark, TestSpark.sf0001, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"), col("ts").as("e_ts"))
    val want = c.join(e, col("user_id") === col("e_user") &&
        (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).between(0L, 300000000L))
      .select(col("user_id"), col("click_id"), col("err_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("production stateful-counts changelog sink reconstructs batch counts") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("ssink")
    val (rows, schema) = feedRowsAndSchema()
    val chunks = rows.grouped(rows.length / 3 + 1).map(_.toSeq).toSeq
    val src = stageEventFiles(base, chunks, schema)
    graft.streaming.EventStreams.streamStatefulCountsToFiles(
      spark, src, base.resolve("out").toString, base.resolve("ckpt").toString)
    val changelog = spark.read.parquet(base.resolve("out").toString)
    // multiple micro-batches => multiple changelog updates per key
    assert(changelog.select("batch_id").distinct().count() > 1)
    val got = graft.streaming.EventStreams
      .statefulCountsFromChangelog(spark, base.resolve("out").toString)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables(spark, TestSpark.sf0001, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want)
  }

  /** Peak state rows, summed over the stateful operators, of the one
    * streaming query `run` starts and drains. Waits for the query's
    * terminated event: the listener bus delivers events in order, so
    * every progress event has landed by then. */
  private def peakStateRows(run: => Unit): Long = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val peak = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        peak.accumulateAndGet(e.progress.stateOperators.map(_.numRowsTotal).sum, math.max(_, _))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        done.countDown()
    }
    spark.streams.addListener(l)
    try {
      run
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "no terminated event")
    } finally spark.streams.removeListener(l)
    peak.get()
  }

  test("production stateful sinks: state stays within the watermark span, not the replay length") {
    import org.apache.spark.sql.Row
    // 16 event-time-ordered files of 2 hours each (a 32-hour replay),
    // 200 events per hour over 40 users and 5 types; the dedup feed
    // carries every row twice inside its file
    val files = 16
    val fileHours = 2
    val perHour = 200
    val types = Seq("view", "click", "purchase", "signup", "error")
    val day0 = 1704067200000L // 2024-01-01 UTC, ms
    val chunks = (0 until files).map { f =>
      (0 until perHour * fileHours).map { k =>
        val id = f.toLong * perHour * fileHours + k
        Row(id, new java.sql.Timestamp(day0 + f * fileHours * 3600000L + k * 18000L),
          id % 40, types(((id * 7 + 3) % 5).toInt), (id % 100) / 10.0)
      }
    }
    val (_, schema) = feedRowsAndSchema()
    val feed = chunks.flatten.size.toLong
    def stage(tag: String, doubled: Boolean): java.nio.file.Path = {
      val base = java.nio.file.Files.createTempDirectory(tag)
      stageEventFiles(base, if (doubled) chunks.map(c => c ++ c) else chunks, schema)
      base
    }
    def peakOf(tag: String, doubled: Boolean)(
        sink: (String, String, String) => Unit): (Long, java.nio.file.Path) = {
      val base = stage(tag, doubled)
      (peakStateRows(sink(base.resolve("src").toString, base.resolve("out").toString,
        base.resolve("ckpt").toString)), base)
    }
    val (aggPeak, _) = peakOf("state-hour", doubled = false)(
      EventStreams.streamHourCountsToFiles(spark, _, _, _))
    val (dedupPeak, dedupBase) = peakOf("state-dedup", doubled = true)(
      EventStreams.streamDedupToFiles(spark, _, _, _))
    val (joinPeak, _) = peakOf("state-join", doubled = false)(
      EventStreams.streamStreamJoinToFiles(spark, _, _, _))
    val (countsPeak, _) = peakOf("state-counts", doubled = false)(
      EventStreams.streamStatefulCountsToFiles(spark, _, _, _))
    // the doubled feed still lands once per event
    assert(spark.read.parquet(dedupBase.resolve("out").toString).count() == feed)
    // the 1-hour watermark trails the newest event by an hour and a
    // trigger evicts against the previous trigger's watermark, so state
    // can hold the events of the watermark plus two file spans; an
    // unbounded operator holds the whole replay (6.4x that)
    val spanHours = 1 + 2 * fileHours
    val rowBound = perHour * spanHours
    assert(feed > 6 * rowBound, "replay too short to tell a bound from growth")
    info(s"peak state rows: hour counts $aggPeak, dedup $dedupPeak, join $joinPeak, " +
      s"stateful counts $countsPeak; replay $feed events, bound $rowBound")
    assert(dedupPeak > 0 && dedupPeak < rowBound, s"dedup state ($dedupPeak rows) not watermark-bounded")
    assert(joinPeak > 0 && joinPeak < rowBound, s"join state ($joinPeak rows) not watermark-bounded")
    // the hourly histogram keys state by (window, type): only windows
    // inside the span stay open, against 32 x 5 over the whole replay
    assert(aggPeak > 0 && aggPeak <= types.size * spanHours,
      s"hour-count state ($aggPeak rows) not watermark-bounded")
    // the changelog counts keep one row per key, whatever the replay
    assert(countsPeak > 0 && countsPeak <= types.size,
      s"stateful-counts state ($countsPeak rows) exceeds O(keys)")
  }

  test("streaming ingest dedup: planted dups flagged; restart resumes index + checkpoint") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IngestDedup
    // 9 docs, ingestBatches=3 (batch = doc_id % 3): 4 copies 1 (same
    // batch — intra-batch mask), 5 copies 0 (cross-batch vs admitted
    // index), 8 copies 4 (its match was itself flagged — must still be
    // caught via admitted doc 1's signature)
    def text(i: Long): String = i match {
      case 4 | 8 => text(1)
      case 5 => text(0)
      case _ => (0 until 12).map(w => s"w${i}x$w unique$i token$w").mkString(" ")
    }
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-spec").toString
    import spark.implicits._
    (0L until 9L).map(i => (i, text(i))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/documents.parquet")
    val verdicts = IngestDedup.streamIngestDedup(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(verdicts.map(_._1).toSeq == (0L until 9L).toSeq)
    verdicts.foreach { case (doc, batch, _, _) => assert(batch == doc % 3) }
    val dupOf = verdicts.map(v => v._1 -> (v._3, v._4)).toMap
    assert(dupOf(4) == (true, 1L), s"intra-batch dup: ${dupOf(4)}")
    assert(dupOf(5) == (true, 0L), s"cross-batch dup vs index: ${dupOf(5)}")
    assert(dupOf(8) == (true, 1L), s"dup of a flagged doc resolves to its admitted twin: ${dupOf(8)}")
    Seq(0L, 1L, 2L, 3L, 6L, 7L).foreach(d => assert(!dupOf(d)._1, s"doc $d wrongly flagged"))

    // restart-resume: land batches 0-1, run to completion, then land
    // batch 2 and run AGAIN with the same checkpoint/index/out — the
    // file-source log skips processed files, the index carries the
    // admitted signatures, and the combined verdicts match the one-shot
    val r2 = java.nio.file.Files.createTempDirectory("graft-ingest-resume").toString
    val docs = spark.read.parquet(s"$root/documents.parquet")
    def land(b: Int): Unit = {
      val tmp = s"$r2/stage_$b"
      docs.filter(pmod(col("doc_id"), lit(3)) === b).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r2/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r2/landing/batch_$b.parquet"))
        new java.io.File(s"$r2/landing/batch_$b.parquet")
          .setLastModified(1600000000000L + b * 60000L)
      }
    }
    land(0); land(1)
    graft.ops.Dedup.ingestIndexInit(spark, s"$r2/index")
    IngestDedup.streamIngestDedupToFiles(spark, s"$r2/landing", s"$r2/index",
      s"$r2/out", s"$r2/checkpoint")
    val afterTwo = spark.read.parquet(s"$r2/out").count()
    assert(afterTwo == 6L, s"expected 6 verdicts after two batches, got $afterTwo")
    land(2)
    IngestDedup.streamIngestDedupToFiles(spark, s"$r2/landing", s"$r2/index",
      s"$r2/out", s"$r2/checkpoint")
    val resumed = spark.read.parquet(s"$r2/out")
      .select("doc_id", "batch", "is_dup", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1)
    assert(resumed.toSeq == verdicts.map(v => (v._1, v._2, v._3, v._4)).toSeq,
      "resumed two-phase replay diverged from the one-shot replay")

    // maintenance mid-stream: compact the landing appends (3 batches →
    // small-file pileup), then land a 4th batch against the compacted
    // index — a copy of admitted doc 0 must flag, a fresh doc must not
    val (before, after) = graft.ops.Dedup.dedupIndexCompact(spark, s"$r2/index")
    assert(after <= before, s"compaction grew files: $before -> $after")
    val extra = Seq((9L, text(0)), (10L, (0 until 12).map(w => s"w10x$w unique10 tok$w").mkString(" ")))
    extra.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$r2/stage_3")
    new java.io.File(s"$r2/stage_3").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r2/landing/batch_3.parquet"))
        new java.io.File(s"$r2/landing/batch_3.parquet")
          .setLastModified(1600000000000L + 3 * 60000L)
      }
    IngestDedup.streamIngestDedupToFiles(spark, s"$r2/landing", s"$r2/index",
      s"$r2/out", s"$r2/checkpoint")
    val last = spark.read.parquet(s"$r2/out").filter(col("batch") === 3)
      .select("doc_id", "is_dup", "dup_of").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(last.toSeq == Seq((9L, true, 0L), (10L, false, -1L)),
      s"post-compaction batch verdicts wrong: ${last.toSeq}")
  }

  test("streaming ANN ingest: grown index == one-shot appends; redelivery appends nothing") {
    import org.apache.spark.sql.functions._
    import graft.ops.{AnnIndex, Similarity}
    val r = java.nio.file.Files.createTempDirectory("graft-ann-ingest-spec").toString
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    (0 until 3).foreach { b =>
      emb.filter(pmod(col("vec_id"), lit(3)) === b)
        .write.mode("overwrite").parquet(s"$r/slice_$b/embeddings.parquet")
    }
    def land(b: Int, name: String): Unit = {
      val tmp = s"$r/stage_$name"
      spark.read.parquet(s"$r/slice_$b/embeddings.parquet").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/$name.parquet"))
      }
    }
    AnnIndex.lshIndexWrite(spark, s"$r/slice_0", s"$r/index")
    // restart-resume: batch 1 first, then batch 2 on the same checkpoint
    land(1, "batch_1")
    graft.streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    land(2, "batch_2")
    graft.streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    val q = Similarity.normed(spark, TestSpark.sf0001)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    def serveOf(idx: String) = AnnIndex.lshIndexServe(spark, idx,
        Seq(TestSpark.sf0001), q).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))).toSeq
    val streamed = serveOf(s"$r/index")
    // one-shot reference: same seed training, dir-based appends
    AnnIndex.lshIndexWrite(spark, s"$r/slice_0", s"$r/oneshot")
    AnnIndex.lshIndexAppend(spark, s"$r/slice_1", s"$r/oneshot")
    AnnIndex.lshIndexAppend(spark, s"$r/slice_2", s"$r/oneshot")
    assert(streamed.nonEmpty && streamed === serveOf(s"$r/oneshot"),
      "streamed ANN index diverged from one-shot appends")
    // TRUE redelivery: foreachBatch re-presents an ALREADY-COMMITTED
    // batch id after a crash-before-checkpoint-commit — simulated by
    // deleting the checkpoint's last commit marker and re-running the
    // stream. The per-batch marker must skip it: zero appended rows,
    // and the skip must read O(1), not the standing bucket table (the
    // round-7 anti-join's O(index)-per-trigger scan).
    val before = spark.read.parquet(s"$r/index/buckets").count()
    val bucketsBytes = graft.ops.IndexMaintenance
      .snapshot(spark, s"$r/index").filesOf("buckets").map(_.size).sum
    def lastCommit(): java.io.File = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    // the local checksummed FS keeps a .N.crc sibling per commit file;
    // it must go with the commit or the re-commit's rename fails
    def uncommit(c: java.io.File): Boolean = {
      new java.io.File(c.getParentFile, s".${c.getName}.crc").delete()
      c.delete()
    }
    assert(uncommit(lastCommit()), "could not remove the last commit marker")
    val redelBytes = TestSpark.fsBytesRead {
      graft.streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$r/landing",
        s"$r/index", s"$r/checkpoint")
    }
    assert(spark.read.parquet(s"$r/index/buckets").count() == before,
      "redelivered batch appended duplicate bucket rows")
    assert(serveOf(s"$r/index") === streamed, "redelivery changed serving")
    assert(redelBytes < bucketsBytes / 2,
      s"redelivery skip read $redelBytes B — O(index) ($bucketsBytes B) not O(1)")
    // CRASH WINDOW before the log commit: the batch's files were
    // written but never committed (a byte copy of a committed bucket
    // file under a fresh name stands in for them) — the orphan is never
    // served and the retry must not duplicate rows.
    val lineage = graft.ops.IndexMaintenance.lineageTag(s"$r/checkpoint")
    val lastId = lastCommit().getName.toInt
    assert(graft.ops.IndexMaintenance.batchSeen(spark, s"$r/index", lineage, lastId),
      s"expected batch $lastId of lineage $lineage in the index log")
    val committed = graft.ops.IndexMaintenance.snapshot(spark, s"$r/index")
      .filesOf("buckets").last.path
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$r/index/$committed"),
      java.nio.file.Paths.get(s"$r/index/buckets/part-orphan-$lastId.parquet"))
    assert(uncommit(lastCommit()))
    graft.streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    assert(graft.ops.IndexMaintenance.read(spark, s"$r/index", "buckets").count() == before,
      "crash-window retry duplicated the batch's bucket rows")
    assert(serveOf(s"$r/index") === streamed, "crash-window retry changed serving")
    // the standing-id invariant the retired anti-join enforced inline
    graft.ops.IndexMaintenance.checkUnique(spark, s"$r/index", "buckets",
      Seq("vec_id", "tbl"), "vec_id")
  }

  test("streaming ANN ingest: a late batch of fresh ids folds in O(batch) bytes; its redelivery skip reads O(1)") {
    import org.apache.spark.sql.functions._
    import graft.ops.{AnnIndex, IndexMaintenance}
    val r = java.nio.file.Files.createTempDirectory("graft-ann-late-spec").toString
    // the standing corpus: sf0.001's vectors under four id ranges, so the
    // index outweighs the fixed per-trigger reads (footers, checkpoint)
    val base = Tables(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    (0 until 4).map(k => base.withColumn("vec_id", col("vec_id") + k * 1000000L))
      .reduce(_ union _).write.parquet(s"$r/corpus/embeddings.parquet")
    val emb = spark.read.parquet(s"$r/corpus/embeddings.parquet")
    val n = emb.count()
    AnnIndex.lshIndexWrite(spark, s"$r/corpus", s"$r/index")
    // a LATE batch, 5% of the corpus under fresh ids, lands against the
    // standing index: folding it must read the batch, not the index
    val fresh = 10000000L
    emb.filter(col("vec_id") < n / 20)
      .select((col("vec_id") + fresh).as("vec_id"), col("embedding"), col("label"))
      .coalesce(1).write.parquet(s"$r/stage")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
    new java.io.File(s"$r/stage").listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$r/landing/batch_late.parquet"))
    }
    val lateRows = spark.read.parquet(s"$r/landing").count()
    val batchBytes = new java.io.File(s"$r/landing").listFiles().map(_.length).sum
    val bucketsBytes = IndexMaintenance.snapshot(spark, s"$r/index").filesOf("buckets").map(_.size).sum
    def ingest(): Unit = graft.streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    def freshIds(): Long = IndexMaintenance.read(spark, s"$r/index", "buckets")
      .filter(col("vec_id") >= fresh).select(col("vec_id")).distinct().count()
    // what one pass over the standing ids reads: the per-trigger cost
    // of the anti-join guard the batch marks replaced
    val idScanBytes = TestSpark.fsBytesRead {
      IndexMaintenance.read(spark, s"$r/index", "buckets").select(col("vec_id")).distinct()
        .write.mode("overwrite").format("noop").save()
    }
    val lateBytes = TestSpark.fsBytesRead(ingest())
    assert(lateRows > 0 && freshIds() == lateRows, s"late batch did not fold: ${freshIds()} of $lateRows ids")
    // TRUE redelivery of the late batch: drop the checkpoint's last
    // commit (and its checksum sibling) so the same batch id re-runs
    val commits = new java.io.File(s"$r/checkpoint/commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits, s".${last.getName}.crc").delete()
    assert(last.delete(), "could not remove the last commit marker")
    val before = IndexMaintenance.read(spark, s"$r/index", "buckets").count()
    val redelBytes = TestSpark.fsBytesRead(ingest())
    assert(IndexMaintenance.read(spark, s"$r/index", "buckets").count() == before,
      "redelivered late batch appended duplicate bucket rows")
    info(s"late fold read $lateBytes B (the landed batch file is $batchBytes B), redelivery skip " +
      s"$redelBytes B, standing buckets $bucketsBytes B, one pass over their ids $idScanBytes B")
    // every byte counts, the landed batch's own included: what the fold
    // reads beyond the batch file must stay under half the standing
    // index (the batch's embeddings alone outweigh half of the narrow
    // bucket rows here), and all of it under one pass over their ids
    assert(lateBytes - batchBytes < bucketsBytes / 2,
      s"late batch fold read O(index): $lateBytes B, $batchBytes B of it the batch, vs $bucketsBytes B standing")
    assert(lateBytes < idScanBytes, s"late batch fold read $lateBytes B, more than a pass over the standing ids")
    assert(redelBytes < bucketsBytes / 10, s"redelivery skip read O(index): $redelBytes B")
  }

  test("streaming IVF ingest: grown lists == one-shot appends; redelivery appends nothing") {
    import org.apache.spark.sql.functions._
    import graft.ops.{AnnIndex, Similarity}
    val r = java.nio.file.Files.createTempDirectory("graft-ivf-ingest-spec").toString
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    // seed = the ~90% standing corpus (must contain the stride-init
    // centroids, vec_id % 100 == 1); landing batch = the % 10 == 0 rest
    emb.filter(col("vec_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$r/slice_0/embeddings.parquet")
    emb.filter(col("vec_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$r/slice_1/embeddings.parquet")
    def land(b: Int, name: String): Unit = {
      val tmp = s"$r/stage_$name"
      spark.read.parquet(s"$r/slice_$b/embeddings.parquet").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/$name.parquet"))
      }
    }
    AnnIndex.ivfIndexWrite(spark, s"$r/slice_0", s"$r/index")
    AnnIndex.ivfIndexWrite(spark, s"$r/slice_0", s"$r/oneshot")
    land(1, "batch_1")
    graft.streaming.AnnIngest.streamIvfIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    AnnIndex.ivfIndexAppend(spark, s"$r/slice_1", s"$r/oneshot")
    def listsOf(idx: String) = spark.read.parquet(s"$idx/lists")
      .select(col("vec_id"), col("c_id")).collect()
      .map(row => (row.getLong(0), row.getLong(1))).sorted.toSeq
    val streamed = listsOf(s"$r/index")
    assert(streamed.nonEmpty && streamed === listsOf(s"$r/oneshot"),
      "streamed IVF assignment diverged from the one-shot append")
    // true redelivery (same batch id re-presented): marker skips it
    val commits = new java.io.File(s"$r/checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(commits.getParentFile, s".${commits.getName}.crc").delete()
    assert(commits.delete(), "could not remove the last commit marker")
    graft.streaming.AnnIngest.streamIvfIngestToFiles(spark, s"$r/landing",
      s"$r/index", s"$r/checkpoint")
    assert(listsOf(s"$r/index") === streamed,
      "redelivered batch changed the inverted lists")
    graft.ops.IndexMaintenance.checkUnique(spark, s"$r/index", "lists",
      Seq("vec_id"), "vec_id")
  }

  test("compaction cadence inside the ingest loop bounds the index file count") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IngestDedup
    import spark.implicits._
    // 30 one-file batches (the small-file pileup shape): batch b lands
    // docs (2b: unique 70-token text, 2b+1: copy of doc 0's text). The
    // cadence (every 10th batch) compacts mid-stream three times.
    val uniq = (i: Long) => (0 until 70).map(w => s"cc${i}w$w").mkString(" ")
    val r = java.nio.file.Files.createTempDirectory("graft-cadence-spec").toString
    (0 until 30).foreach { b =>
      val tmp = s"$r/stage_$b"
      Seq((2L * b, uniq(2L * b)), (2L * b + 1, uniq(0L)))
        .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/batch_$b.parquet"))
        new java.io.File(s"$r/landing/batch_$b.parquet")
          .setLastModified(1600000000000L + b * 60000L)
      }
    }
    graft.ops.Dedup.ingestIndexInit(spark, s"$r/index")
    IngestDedup.streamIngestCurateToFiles(spark, s"$r/landing", s"$r/index",
      s"$r/out", s"$r/checkpoint")
    // verdicts: every even doc admitted; every odd doc > 1 dups doc 0
    // (doc 1 is the copy in doc 0's own batch, masked against it)
    val v = spark.read.parquet(s"$r/out").select("doc_id", "verdict", "dup_of")
      .distinct().collect()
      .map(row => row.getLong(0) -> (row.getString(1),
        if (row.isNullAt(2)) -1L else row.getLong(2))).toMap
    (0 until 30).foreach { b =>
      assert(v(2L * b) == ("admitted", -1L), s"doc ${2 * b}: ${v(2L * b)}")
      assert(v(2L * b + 1) == ("dup", 0L), s"doc ${2 * b + 1}: ${v(2L * b + 1)}")
    }
    // file-count bound: 30 appends would leave ≥30 file groups per
    // store; the cadence's last firing was batch 29, so at most the
    // post-compaction files remain (vs 30+ uncompacted)
    val sigFiles = graft.ops.IndexMaintenance.snapshot(spark, s"$r/index").filesOf("simhash").size
    val cleanFiles = graft.ops.IndexMaintenance.snapshot(spark, s"$r/index").filesOf("clean").size
    assert(sigFiles <= 4, s"simhash file pileup: $sigFiles files after 30 batches")
    assert(cleanFiles <= 4, s"clean-store file pileup: $cleanFiles files after 30 batches")
    // serve-identity after mid-stream compactions: the index still
    // masks a copy of an admitted doc and passes a fresh one
    Seq((1000L, uniq(4L)), (1001L, uniq(999L))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$r/probe/documents.parquet")
    val probe = graft.ops.Dedup.dedupIncrementalIndexed(spark, s"$r/probe", s"$r/index")
      .collect().map(row => row.getLong(0) -> row.getBoolean(1)).toMap
    assert(probe == Map(1000L -> true, 1001L -> false), s"post-cadence serve: $probe")
  }

  test("ingest batch retry is value-idempotent: duplicate appends change no verdict") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mk = (i: Long) => (i, (0 until 20).map(w => s"r${i}w$w").mkString(" "))
    val r = java.nio.file.Files.createTempDirectory("graft-retry-spec").toString
    graft.ops.Dedup.ingestIndexInit(spark, s"$r/index")
    val b0 = Seq(mk(0), mk(3)).toDF("doc_id", "text")
    graft.ops.Dedup.ingestBatch(spark, b0, s"$r/index", s"$r/out", 0L)
    // simulate an at-least-once retry: the SAME batch processed again
    graft.ops.Dedup.ingestBatch(spark, b0, s"$r/index", s"$r/out", 0L)
    // a later batch containing a copy of doc 0 must still resolve the
    // same way against the doubled index (min-aggregation absorbs dups)
    graft.ops.Dedup.ingestBatch(spark,
      Seq((1L, mk(0)._2), mk(4)).toDF("doc_id", "text"), s"$r/index", s"$r/out", 1L)
    val v = spark.read.parquet(s"$r/out")
      .select("doc_id", "batch", "is_dup", "dup_of").distinct().collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getBoolean(2),
        if (row.isNullAt(3)) -1L else row.getLong(3))).sortBy(_._1)
    assert(v.toSeq == Seq((0L, 0L, false, -1L), (1L, 1L, true, 0L),
      (3L, 0L, false, -1L), (4L, 1L, false, -1L)), s"got ${v.toSeq}")
  }

  test("ingest curate retry: clean store and signature index stay single-copy") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mk = (i: Long) => (i, (0 until 70).map(w => s"c${i}w$w").mkString(" "))
    val r = java.nio.file.Files.createTempDirectory("graft-curetry-spec").toString
    graft.ops.Dedup.ingestIndexInit(spark, s"$r/index")
    val b0 = Seq(mk(0), mk(3), (6L, "a a a")).toDF("doc_id", "text")
    graft.ops.Dedup.ingestCurateBatch(spark, b0, s"$r/index", s"$r/out", 0L)
    // at-least-once retry: the SAME curated batch processed again. The
    // clean store is the corpus artifact — a doubled row there is real
    // data corruption, not consumer-absorbable like a verdict row.
    graft.ops.Dedup.ingestCurateBatch(spark, b0, s"$r/index", s"$r/out", 0L)
    val clean = spark.read.parquet(s"$r/index/clean")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n")).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(clean == Map(0L -> 1L, 3L -> 1L), s"clean store after retry: $clean")
    val sigs = spark.read.parquet(s"$r/index/simhash")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n")).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(sigs == Map(0L -> 1L, 3L -> 1L), s"signature index after retry: $sigs")
    // a later batch carrying a copy of doc 0's text still dedupes
    graft.ops.Dedup.ingestCurateBatch(spark,
      Seq((1L, mk(0)._2), mk(4)).toDF("doc_id", "text"), s"$r/index", s"$r/out", 1L)
    val v = spark.read.parquet(s"$r/out")
      .select("doc_id", "batch", "verdict", "dup_of").distinct().collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getString(2),
        if (row.isNullAt(3)) -1L else row.getLong(3))).sortBy(_._1)
    assert(v.toSeq == Seq((0L, 0L, "admitted", -1L), (1L, 1L, "dup", 0L),
      (3L, 0L, "admitted", -1L), (4L, 1L, "admitted", -1L),
      (6L, 0L, "rejected", -1L)), s"got ${v.toSeq}")
  }

  test("streaming ingest manifest: all five signals at admission; restart resumes") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IngestDedup
    val root = ManifestFixture.corpusDir(spark)
    val rows = IngestDedup.streamIngestManifest(spark, root).collect()
    val got = rows.map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(got == ManifestFixture.expected, s"reasons diverged: $got")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) % 3, s"batch order broke: $r")
      assert((r.getLong(8) == 1L) == (r.getString(7) == "train"), s"include flag: $r")
    }
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(7L).getLong(2) == 4L, "exact canon should be the admitted twin")
    assert(byId(13L).getLong(3) == 10L, "near rep should be the admitted neighbor")
    assert(byId(9L).getLong(4) == 3L, s"planted 10-token run = 3 shared 8-shingles")

    // restart-resume with inspectable dirs: land batches 0-1, run, then
    // land batch 2 and run again on the same checkpoint/index/out — the
    // combined verdicts must match the one-shot replay, and the clean
    // store must hold exactly the include=1 docs with single copies
    val r2 = java.nio.file.Files.createTempDirectory("graft-manifest-resume").toString
    val docs = spark.read.parquet(s"$root/documents.parquet")
      .filter(col("doc_id") % graft.ops.Curation.evalStride =!= 0)
    def land(b: Int): Unit = {
      val tmp = s"$r2/stage_$b"
      docs.filter(pmod(col("doc_id"), lit(3)) === b).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r2/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r2/landing/batch_$b.parquet"))
        new java.io.File(s"$r2/landing/batch_$b.parquet")
          .setLastModified(1600000000000L + b * 60000L)
      }
    }
    land(0); land(1)
    graft.ops.Dedup.ingestManifestIndexInit(spark, s"$r2/index", root)
    IngestDedup.streamIngestManifestToFiles(spark, s"$r2/landing", s"$r2/index",
      s"$r2/out", s"$r2/checkpoint")
    land(2)
    IngestDedup.streamIngestManifestToFiles(spark, s"$r2/landing", s"$r2/index",
      s"$r2/out", s"$r2/checkpoint")
    val resumed = spark.read.parquet(s"$r2/out")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(resumed == ManifestFixture.expected,
      s"resumed two-phase replay diverged: $resumed")
    val clean = spark.read.parquet(s"$r2/index/clean")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantClean = ManifestFixture.expected.filter(_._2 == "train").keySet
    assert(clean.keySet == wantClean && clean.values.forall(_ == 1L),
      s"clean store should hold exactly the include docs once: $clean")
    // the index admits every non-dup doc — including the contaminated,
    // heldout and low-quality ones (their text still guards later dups)
    val idx = spark.read.parquet(s"$r2/index/simhash")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val wantIdx = ManifestFixture.expected
      .filter(e => e._2 != "dup_exact" && e._2 != "near_dup").keySet
    assert(idx == wantIdx, s"index admission: $idx != $wantIdx")
  }

  test("ingest manifest retry: clean store and signature index stay single-copy") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = ManifestFixture.corpusDir(spark)
    val r = java.nio.file.Files.createTempDirectory("graft-manretry-spec").toString
    graft.ops.Dedup.ingestManifestIndexInit(spark, s"$r/index", root)
    val b0 = Seq(3L, 6L, 9L, 12L).map(i => (i, ManifestFixture.text(i)))
      .toDF("doc_id", "text")
    graft.ops.Dedup.ingestManifestBatch(spark, b0, s"$r/index", s"$r/out", 0L)
    graft.ops.Dedup.ingestManifestBatch(spark, b0, s"$r/index", s"$r/out", 0L)
    val idx = spark.read.parquet(s"$r/index/simhash")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n")).collect()
      .map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    assert(idx == Map(3L -> 1L, 6L -> 1L, 9L -> 1L, 12L -> 1L),
      s"index after retry: $idx")
    val clean = spark.read.parquet(s"$r/index/clean")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n")).collect()
      .map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    assert(clean == Map(3L -> 1L, 6L -> 1L, 12L -> 1L), // 9 is contaminated
      s"clean store after retry: $clean")
    val v = spark.read.parquet(s"$r/out").select("doc_id", "reason").distinct()
      .collect().map(r0 => r0.getLong(0) -> r0.getString(1)).toMap
    assert(v == Map(3L -> "train", 6L -> "train", 9L -> "contaminated", 12L -> "train"),
      s"verdicts after retry: $v")
  }

  test("streaming ingest curate: scrub before hashing, quality gate, clean store") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IngestDedup
    import spark.implicits._
    // 70 unique words: uniq 0.4 + length 0.4 = 0.8 >= the floor
    val base = (0 until 70).map(w => s"base$w").mkString(" ")
    def doc(i: Long): String = i match {
      case 1 => s"mail alice@x.io $base"   // batch 1, admitted (scrubbed)
      case 5 => s"mail bob@y.org $base"    // batch 2: IDENTICAL after scrub -> dup of 1
      case 8 => s"mail c@z.net $base"      // batch 2: also dup of 1 via the index
      case 2 => "a a a"                    // low quality -> rejected
      case i => (0 until 70).map(w => s"u${i}w$w").mkString(" ")
    }
    val r = java.nio.file.Files.createTempDirectory("graft-curate-spec").toString
    (0 until 3).foreach { b =>
      val tmp = s"$r/stage_$b"
      (0L until 9L).filter(_ % 3 == b).map(i => (i, doc(i))).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$r/landing"))
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$r/landing/batch_$b.parquet"))
        new java.io.File(s"$r/landing/batch_$b.parquet")
          .setLastModified(1600000000000L + b * 60000L)
      }
    }
    graft.ops.Dedup.ingestIndexInit(spark, s"$r/index")
    IngestDedup.streamIngestCurateToFiles(spark, s"$r/landing", s"$r/index",
      s"$r/out", s"$r/checkpoint")
    val v = spark.read.parquet(s"$r/out").collect()
      .map(row => row.getLong(0) -> (row.getString(2),
        if (row.isNullAt(3)) -1L else row.getLong(3))).toMap
    assert(v(1) == ("admitted", -1L), s"doc 1: ${v(1)}")
    assert(v(5) == ("dup", 1L), s"post-scrub twin not deduped: ${v(5)}")
    assert(v(8) == ("dup", 1L), s"index dup missed: ${v(8)}")
    assert(v(2)._1 == "rejected", s"low-quality doc not rejected: ${v(2)}")
    Seq(0L, 3L, 4L, 6L, 7L).foreach(i => assert(v(i)._1 == "admitted", s"doc $i: ${v(i)}"))
    // the clean store holds ONLY admitted docs, with PII already scrubbed
    val clean = spark.read.parquet(s"$r/index/clean").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(clean.keySet == Set(0L, 1L, 3L, 4L, 6L, 7L), s"clean store: ${clean.keySet}")
    assert(clean(1L) == s"mail <EMAIL> $base", "clean store carries unscrubbed text")
  }

  test("stateful flatMapGroupsWithState final counts equal batch counts") {
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.streamStatefulCounts(spark, TestSpark.sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = Tables(spark, TestSpark.sf0001, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed === batch)
  }
}
