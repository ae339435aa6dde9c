package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver testdata layout (TESTDATA.md):
  * one parquet file per table under a scale-factor directory, e.g.
  * `/root/testdata/sf0.01/lineitem.parquet`.
  *
  * Reads stay fully declarative (`spark.read.parquet`) so Catalyst can
  * push filters and prune columns into the vectorized parquet scan —
  * the Spark-native replacement for the reference's manual chunk
  * splitter (`/root/reference/.../Master.java:226-247`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loaded table plans are memoised per (session, dir, table) in
    * [[ops.Artifacts]]: `spark.read.parquet` re-lists files and re-reads
    * footers (a small Spark job) on every call, so composing many
    * queries over one corpus would pay schema inference once per
    * construction instead of once per table. The plans are lazy, not
    * persisted data; they stand across `Artifacts.reset()` and go with
    * `Artifacts.clear()` after a corpus swap. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    ops.Artifacts.memo(spark, s"$dir/$name", standing = true)(load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // nanosAsLong is session-global (no per-read form); GraftSession sets
      // it at build time so a TIMESTAMP(NANOS) file reads uniformly rather
      // than order-dependently — the set here only covers sessions built
      // elsewhere. The actual ts physical type has varied across driver
      // testdata generations, so normalization is schema-adaptive (below).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** SCALE-ADAPTIVE SCAN SPREAD for compute-dense one-pass text scans
    * (optimization round 16, guide §2). Parquet splits at ROW-GROUP
    * boundaries and the driver testdata ships single-row-group files,
    * so however small `maxPartitionBytes` is, a documents scan runs as
    * ONE task and the per-doc heavy paths (tokenize/scrub/shingle)
    * serialize on one core — measured 1.5–1.8 s single-task tokenize
    * stages at sf0.1. When the table's EFFECTIVE split count (min of
    * byte-range splits and row groups) is below the session's
    * parallelism, one hash repartition on the key spreads the rows;
    * the shuffle is bounded by the `cores × maxPartitionBytes` cap
    * below, and on a production layout (row groups at
    * `maxPartitionBytes` or better) the condition never fires — the
    * knob derives from input size and session parallelism, not a
    * local constant. Hash (not round-robin) partitioning: no
    * sort-before-repartition pass, deterministic in the key. Opt-in
    * PER CALL SITE: a blanket spread in [[apply]] measurably LOST —
    * one-pass scan+aggregate queries got 3–4× faster, but join/
    * broadcast pipelines (whose heavy frames are memoized anyway)
    * paid the extra exchange and 32-way tiny stages for nothing — so
    * only the profiled winners call this. */
  def spreadIfTiny(spark: SparkSession, dir: String, name: String,
      key: String): DataFrame = {
    val df = apply(spark, dir, name)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = p.getFileSystem(conf).getFileStatus(p).getLen
    val mpb = spark.sessionState.conf.filesMaxPartitionBytes
    val cores = spark.sparkContext.defaultParallelism
    if (bytes >= mpb * cores.toLong) return df
    val rowGroups =
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      } catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
    val effective = math.min(
      math.max(1L, (bytes + mpb - 1) / mpb), rowGroups.toLong)
    if (effective >= cores) df
    else df.repartition(cores, df.col(key))
  }

  /** Normalize `events.ts` to µs TimestampType regardless of how the file
    * stores it — the driver's testdata generations have shipped it as
    * int64 TIMESTAMP(NANOS) (read as raw longs under nanosAsLong) and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ):
    *  - long nanos → `timestamp_micros(ts div 1000)`; integer `div`, not
    *    `/` — a double round-trip loses precision at epoch-nano magnitude.
    *    The testdata is µs-aligned so the division is lossless.
    *  - TIMESTAMP_NTZ → cast to TimestampType. The session timezone is
    *    pinned to UTC ([[GraftSession]]), so the cast re-labels the same
    *    µs value — identical to DuckDB's view of the column.
    * Downstream operators and oracles always see µs TimestampType. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
