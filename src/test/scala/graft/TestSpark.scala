package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** The correctness-gate scale — for pins that must hold on the SAME
    * corpus the DuckDB oracle compare runs against (e.g. "the lowcut
    * MaxScore twins really take the pruned path there"). */
  val sf001 = "/root/testdata/sf0.01"

  /** Deterministic pseudo-noise in (-1, 1) from an id and a dimension
    * column: the hash the generated vector corpora are built from. */
  def noise(id: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, sin}
    sin(id * 12.9898 + d * 78.233) * lit(43758.5453) % 1.0
  }

  /** Sum of one input metric over every task `f` runs (bytes or
    * records read by its scans). */
  def inputRead(metric: org.apache.spark.executor.InputMetrics => Long)(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) acc.addAndGet(metric(te.taskMetrics.inputMetrics))
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  /** Bytes `f` reads through Hadoop FileSystems: every scheme's
    * `GlobalStorageStatistics` `bytesRead`, the source of perfbench's
    * `fs.read_mb`. It counts every byte a task or the driver reads:
    * landed files, footers, checksums, logs and checkpoints. Parquet's
    * vectored column-chunk reads bypass these statistics on the local
    * filesystem (and with them the task input metrics, which read the
    * same per-thread counters), so they are off while `f` runs: with
    * them on, a fold of a 27 KB landed batch counted 3.6 KB. */
  def fsBytesRead(f: => Unit): Long = {
    import scala.jdk.CollectionConverters._
    def total(): Long = org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.iterator().asScala
      .map(st => Option(st.getLong("bytesRead")).fold(0L)(_.longValue)).sum
    val key = "parquet.hadoop.vectored.io.enabled"
    val hconf = spark.sparkContext.hadoopConfiguration
    val (oldConf, oldHconf) = (spark.conf.getOption(key), Option(hconf.get(key)))
    spark.conf.set(key, "false")
    hconf.set(key, "false")
    try {
      val before = total()
      f
      total() - before
    } finally {
      oldConf.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      oldHconf.fold(hconf.unset(key))(hconf.set(key, _))
    }
  }

  /** Spark jobs `f` runs: a labelled sentinel job after it flushes the
    * async listener bus, so every job posted before has been counted. */
  def jobsRun(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          sentinelSeen.set(true)
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      graft.ops.IndexMaintenance.labeledJob(spark, "sentinel")(
        spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000L
      while (!sentinelSeen.get() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      require(sentinelSeen.get(), "the sentinel job never reached the listener")
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}
