package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events table.
  *
  * The reference is strictly batch (upload → run → download,
  * `/root/reference/master/.../Master.java:158-167`; SURVEY.md §2 lists
  * streaming as absent) — this is pure north-star surface: the same
  * tumbling-window aggregation as the batch `ev_hour_histogram`, run
  * through `readStream` → windowed agg → memory sink, so one pipeline
  * definition serves both batch backfill and live ingestion.
  *
  * In production the source is a stream (Kafka/files arriving); here the
  * static parquet file drives the query to completion with
  * `processAllAvailable`, which makes the result deterministic and
  * oracle-checkable like any batch query.
  */
object EventStreams {

  /** Streaming source over the testdata events table, normalized to µs
    * TimestampType `ts`. The streaming file source needs an explicit
    * schema; the ts physical type has varied across driver testdata
    * generations (int64 nanos vs TIMESTAMP_NTZ µs), so take the schema
    * from a batch footer read of the same file and reuse
    * [[graft.Tables.normalizeEventTs]] — one normalization for batch and
    * stream. The footer read is a tiny driver-side job, paid once per
    * query construction. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = s.read.parquet(s"$dir/events.parquet").schema
    graft.Tables.normalizeEventTs(
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** State partitions for the memory-sink oracle-harness queries.
    *
    * A stateful micro-batch pays one state-store commit (delta write +
    * fsync into the checkpoint) PER PARTITION PER STORE, and an interval
    * join runs FOUR stores per partition — at the session's 32 shuffle
    * partitions that is 128 fsync'd commits per micro-batch to hold
    * ~40k state rows, and the commit overhead dominates the data work
    * (measured on sf0.1: the join harness spent 81 s of summed commit
    * time per batch at 32 partitions vs 5 s at 8; wall clock 13.9 s →
    * 7.5 s). State partitioning is LOCKED at the first micro-batch by
    * `spark.sql.shuffle.partitions` (AQE never re-plans stateful
    * streams), so it must be sized to peak STATE volume up front — tiny
    * here, hence 8. The production `*ToFiles` paths inherit the
    * session's `spark.sql.shuffle.partitions`: their operators own their
    * checkpoint lifecycle, so a deployment sizes that setting to ITS
    * peak state before the first start. */
  private val harnessStatePartitions = 8

  /** Pin `spark.sql.shuffle.partitions` for the duration of a streaming
    * query's lifetime (planning happens on the stream thread after
    * `start()`, so the conf must hold through `processAllAvailable`). */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** Streaming tumbling-window counts per (hour, event_type). */
  def streamHourCounts(s: SparkSession, dir: String): DataFrame = {
    val name = "stream_hour_counts_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the streaming file source requires a directory: scan the sf dir,
    // glob-filtered to the events table
    val stream = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    withStatePartitions(s, harnessStatePartitions) {
      val q = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    materializeAndDrop(s, name,
      s.table(name)
        .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
        .orderBy(col("hour"), col("event_type")))
  }

  /** Collect a memory-sink result and drop its temp view — memory-sink
    * tables otherwise accumulate full result copies in the driver for the
    * session lifetime (one per invocation). Results here are small
    * aggregates; the returned local DataFrame preserves row order. */
  private def materializeAndDrop(s: SparkSession, name: String, df: DataFrame): DataFrame = {
    val rows = df.collect()
    val schema = df.schema
    val out = s.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
      .coalesce(1)
    s.catalog.dropTempView(name)
    out
  }

  /** Production feed row (real TimestampType ts; see feedSchema). */
  final case class FeedEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Stateful streaming: running per-type event counts via
    * `flatMapGroupsWithState` (arbitrary keyed state, the building block
    * for custom streaming operators). The final state after draining the
    * source equals the batch count — deterministic regardless of
    * micro-batch boundaries, hence oracle-checkable. */
  def streamStatefulCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val name = "stream_stateful_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val updates = eventsStream(s, dir)
      .select(col("event_type")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[String], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((key, n))
        })
      .toDF("event_type", "n_events")
    withStatePartitions(s, harnessStatePartitions) {
      val q = updates.writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // the last update per key IS the final count
    materializeAndDrop(s, name,
      s.table(name)
        .groupBy(col("event_type"))
        .agg(max(col("n_events")).as("n_events"))
        .orderBy(col("event_type")))
  }

  /** Streaming ingest-dedup — the landing-zone pattern of a training
    * pipeline: duplicates are dropped ON THE STREAM with
    * watermark-bounded state (`dropDuplicatesWithinWatermark`), not in a
    * later batch pass over the landed data. The source is read twice and
    * unioned so every event provably arrives duplicated; the deduped
    * append stream must restore exact batch per-type counts. State holds
    * only keys younger than the watermark — bounded, unlike a plain
    * `dropDuplicates` whose key state grows forever. */
  def streamDedupCounts(s: SparkSession, dir: String): DataFrame = {
    val name = "stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def src = eventsStream(s, dir)
    val deduped = src.union(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
    withStatePartitions(s, harnessStatePartitions) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    materializeAndDrop(s, name,
      s.table(name)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("event_type")))
  }

  /** Stream-stream interval join — the streaming counterpart of the
    * batch `ev_range_join`: a clicks stream joined to an errors stream
    * on user_id with the error inside (click, click + 5 min], both sides
    * watermarked so the join STATE is bounded (a side's buffered rows
    * are dropped once the watermark proves no future match can arrive —
    * the property that makes stream-stream joins viable at all). Inner
    * join ⇒ matches emit as found, and draining the static source makes
    * the result equal to the batch range join, hence oracle-checkable.
    * The time arithmetic stays in native µs timestamps on both engines
    * (a ms-rounded oracle would disagree at window edges). */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val name = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    def src = eventsStream(s, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val errors = src.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = clicks.join(errors,
      expr("c_user = e_user AND e_ts >= c_ts AND e_ts <= c_ts + interval 5 minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("err_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    withStatePartitions(s, harnessStatePartitions) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    materializeAndDrop(s, name,
      s.table(name).orderBy(col("click_id"), col("err_id")))
  }

  /** Run `body` (a production `*ToFiles` query lifetime) on the RocksDB
    * state store provider with changelog checkpointing.
    *
    * The default HDFS-backed provider is the wrong engine for
    * production state twice over: state lives ON-HEAP (a hard wall once
    * join/dedup state exceeds executor memory — exactly what a 100 TB
    * ingest's watermark-window of state does), and every micro-batch
    * commit writes + fsyncs a full delta file per store per partition —
    * the measured floor that put the round-5 interval-join replay at
    * 357 s on trivial data volume (PLANS.md). RocksDB moves state
    * off-heap onto local SSD (bounded only by disk), and changelog
    * checkpointing ships just the per-batch change set to the
    * checkpoint instead of snapshotting sst files on the commit path —
    * snapshot upload happens async in the background maintenance task.
    *
    * Conf-scoped rather than session-global: the memory-sink oracle
    * harness above deliberately stays on the default provider (its
    * determinism story is pinned and its state is trivial), and the
    * provider is locked into a checkpoint at first start anyway — a
    * restart of an existing checkpoint keeps whatever provider created
    * it. */
  private def withRocksDbState[T](s: SparkSession)(body: => T): T = {
    val pairs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val olds = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally olds.foreach { case (k, o) => o.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Schema of a production events feed (real TimestampType ts — the
    * int64-nanos quirk is testdata-specific; a data lake lands proper
    * timestamps). */
  private val feedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The PRODUCTION shape of the hourly histogram — the memory-sink
    * variants above are the deterministic oracle harness, not a
    * deployment path (round-2 verdict): `complete` mode holds every
    * window in driver memory forever. This one runs watermarked APPEND
    * into a parquet file sink with a checkpoint: each (hour, event_type)
    * row is written exactly once when the watermark passes its window
    * end, state is bounded by the watermark, output lands as files, and
    * a crash resumes from the checkpoint. `Trigger.AvailableNow` drains
    * whatever is in `srcDir` in rate-limited micro-batches
    * (`maxFilesPerTrigger`) and stops — the same code with the default
    * continuous trigger is the live-ingestion deployment. */
  def streamHourCountsToFiles(s: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit = {
    val agg = s.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
    withRocksDbState(s) {
      val q = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** PRODUCTION landing-zone ingest-dedup: the deduped APPEND stream
    * lands as parquet files (checkpointed, exactly-once within the sink
    * contract) and downstream consumers batch-read the landed corpus.
    * First occurrence of each event_id is emitted immediately; the
    * watermark only bounds the dedup key state, so no window-close
    * sentinel is needed. Counterpart of the memory-sink
    * `streamDedupCounts` oracle harness above. */
  def streamDedupToFiles(s: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit = {
    val deduped = s.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    withRocksDbState(s) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** PRODUCTION stream-stream interval join: click→error matches land
    * as parquet files. Inner joins emit a match the micro-batch both
    * sides are present, so the file sink sees rows without waiting for
    * window closure; the two watermarks exist to BOUND the buffered
    * join state (rows older than watermark − interval are evicted).
    * Counterpart of the memory-sink `streamStreamJoin` harness. */
  def streamStreamJoinToFiles(s: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit = {
    def src = s.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val errors = src.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = clicks.join(errors,
      expr("c_user = e_user AND e_ts >= c_ts AND e_ts <= c_ts + interval 5 minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("err_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    withRocksDbState(s) {
      val q = joined.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** PRODUCTION stateful counts: `flatMapGroupsWithState` emits keyed
    * UPDATE rows, which a bare file sink cannot take (append-only) — the
    * standard pattern is `foreachBatch` writing each micro-batch's
    * updates as a CHANGELOG (batch_id column, idempotent per-batch
    * overwrite via partitionBy(batch_id)+dynamic overwrite, so a replayed
    * batch after crash-recovery rewrites its own partition instead of
    * duplicating it). The serving view is the latest update per key —
    * `statefulCountsFromChangelog` below. With a Delta/Iceberg sink the
    * foreachBatch body would MERGE instead; parquet is what this
    * container has. */
  def streamStatefulCountsToFiles(s: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val updates = s.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcDir)
      .as[FeedEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[FeedEvent], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((key, n))
        })
      .toDF("event_type", "n_events")
    withRocksDbState(s) {
      val q = updates.writeStream
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outDir)
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Serving view over the changelog `streamStatefulCountsToFiles`
    * writes: the latest (max batch_id) update per key is the current
    * state. One shuffle on the key — the same query a downstream
    * dashboard would run. */
  def statefulCountsFromChangelog(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
      .groupBy(col("event_type"))
      .agg(max_by(col("n_events"), col("batch_id")).as("n_events"))
      .orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_hour_counts" -> streamHourCounts _,
    "stream_stateful_counts" -> streamStatefulCounts _,
    "stream_dedup_counts" -> streamDedupCounts _,
    "stream_stream_join" -> streamStreamJoin _,
  )

  val oracles: Map[String, String] = Map(
    "stream_hour_counts" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "stream_stateful_counts" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the doubled stream deduped on event_id (unique in the source)
    // must equal the plain batch counts
    "stream_dedup_counts" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // drained stream-stream interval join == batch range join, in µs
    "stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
        |  epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id AND c.event_type = 'click' AND e.event_type = 'error'
        |  AND epoch_us(e.ts) - epoch_us(c.ts) BETWEEN 0 AND 300000000
        |ORDER BY click_id, err_id""".stripMargin,
  )
}
