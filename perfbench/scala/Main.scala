package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.jobs.ReferenceJobs
import graft.mr.Pipe
import graft.ops.{Dedup, TextAnalysis}
import graft.streaming.{IngestDedup, TextIngest}

/** One op of a workload. `ingest` (ingest workload only) lands and
  * drains a file before the read; `construct` is the public call that
  * builds the result; the timed action collects it (every result is at
  * most about a thousand rows), and the rows are kept for the untimed
  * correctness check. */
final case class OpRun(kind: String, construct: () => DataFrame,
    ingest: Option[() => Map[String, Any]] = None,
    info: Map[String, Any] = Map.empty)

trait Workload {
  /** Build the standing artifacts (setup). */
  def artifacts(): Unit = ()
  def warm(): Unit
  def op(i: Int): OpRun
  /** Ops are run in whole rounds of this many (batch: one of each job). */
  def roundSize: Int
  /** A round's timed wall time on a quiet 4-core host: a run times
    * ceil(seconds / roundSeconds) rounds, a fixed amount of work, so a
    * slow host stretches the run instead of changing what it measures. */
  def roundSeconds: Double
  /** Untimed dumps after the last op, for the end-of-run check. */
  def finish(): Map[String, Any] = Map.empty
  /** Directories whose files the traced run counts after each op. */
  def indexDirs: Seq[String] = Seq.empty
}

/** The benchmark's JVM side. It drives the engine only through its
  * public entry points and writes one JSON record of the run (setup
  * times, per-op timings and kept outputs, and in a traced run the raw
  * listener events) for `run.py` to check and summarise.
  *
  * Usage: perfbench.Main --workload batch|ingest --seconds S
  *   --trace 0|1 --inputs DIR --work DIR --out FILE --cpus N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val inputs = o("inputs")
    val work = o("work")
    val cpus = o("cpus")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // configured as graft.Bench configures its session
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = workload match {
      case "batch" => new Batch(spark, inputs)
      case "ingest" => new Ingest(spark, inputs, work)
    }
    val artifactS = timed(wl.artifacts())
    val warmS = timed(wl.warm())
    val firstOpMs = System.currentTimeMillis()

    val trace = new Trace
    val snap = new Snapshots(spark, wl.indexDirs)
    var nextId = 0
    def round(withSnaps: Boolean): Seq[Map[String, Any]] =
      (1 to wl.roundSize).map { _ =>
        nextId += 1
        runOp(nextId - 1, wl.op(nextId - 1), if (withSnaps) Some(snap) else None)
      }
    val rounds = math.max(1, math.ceil(seconds / wl.roundSeconds - 1e-9).toInt)
    // a traced run alternates traced and untraced rounds, starting with a
    // traced one (a lone traced round gets an untraced one before it), so
    // it measures what the listeners cost at the same stage of warm-up
    val (ops, untraced) =
      if (!traced) ((1 to rounds).flatMap(_ => round(withSnaps = false)), Seq.empty)
      else {
        val on, off = ArrayBuffer[Map[String, Any]]()
        if (rounds == 1) off ++= round(withSnaps = false)
        (1 to rounds).foreach { i =>
          if (i % 2 == 0) off ++= round(withSnaps = false)
          else {
            trace.install(spark)
            on ++= round(withSnaps = true)
            trace.remove(spark)
          }
        }
        (on.toSeq, off.toSeq)
      }
    val finish = wl.finish()
    val constants = Map(
      "stop_en" -> TextAnalysis.stopEn, "quality_min" -> Dedup.ingestQualityMin,
      "pii_email" -> TextAnalysis.piiEmailRe, "pii_ip" -> TextAnalysis.piiIpRe,
      "pii_num" -> TextAnalysis.piiNumRe, "bm25_query" -> TextAnalysis.bm25Query,
      "bm25_k1" -> TextAnalysis.bm25K1, "bm25_b" -> TextAnalysis.bm25B,
      "bm25_topk" -> TextAnalysis.bm25TopK, "compact_every" -> IngestDedup.ingestCompactEvery)
    val oracles = wl match {
      case b: Batch => b.pipelineKeys.map(k => k -> SparkEntry.oracleSql(k)).toMap
      case _ => Map.empty[String, String]
    }
    val rssKb = Snapshots.procStatus("VmHWM")
    spark.stop() // drains the listener bus before the events are read
    val record = Map(
      "workload" -> workload, "cpus" -> cpus.toInt, "traced" -> traced,
      "setup" -> Map("session_s" -> sessionS, "artifacts_s" -> artifactS, "warm_s" -> warmS,
        "first_op_ms" -> firstOpMs),
      "ops" -> ops, "untraced_ops" -> untraced, "finish" -> finish,
      "constants" -> constants, "oracles" -> oracles, "rss_hwm_kb" -> rssKb,
      "events" -> (if (traced) trace.events else Map.empty))
    Files.write(Paths.get(o("out")), Json.encode(record).getBytes("UTF-8"))
  }

  def timed(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  private def runOp(id: Int, op: OpRun, snap: Option[Snapshots]): Map[String, Any] = {
    val before = snap.map(_.take())
    val cpu0 = Snapshots.cpuTicks()
    val start = System.currentTimeMillis()
    var rec = Map[String, Any]("id" -> id, "kind" -> op.kind, "start_ms" -> start) ++ op.info
    try {
      val t = System.nanoTime()
      op.ingest.foreach(f => rec ++= f())
      val readStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = op.construct()
      val t1 = System.nanoTime()
      val constructEnd = System.currentTimeMillis()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val end = System.currentTimeMillis()
      rec ++= Map("read_start_ms" -> readStart, "construct_end_ms" -> constructEnd,
        "end_ms" -> end, "construct_s" -> (t1 - t0) / 1e9, "latency_s" -> (t2 - t0) / 1e9)
      // an ingest op's time runs from landing until its first read returned
      if (op.ingest.nonEmpty) rec ++= Map("ingest_s" -> (t2 - t) / 1e9, "ingest_end_ms" -> readStart)
      val cpu1 = Snapshots.cpuTicks()
      // host noise while the op ran: the share of CPU ticks the hypervisor stole
      rec += "steal_frac" -> (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1)
      val after = snap.map(_.take())
      rec ++= Main.rows(df.columns.toSeq, rows)
      rec ++= Map("ok" -> true, "check_end_ms" -> System.currentTimeMillis())
      for (b <- before; a <- after) rec += "snap" -> Snapshots.delta(b, a)
    } catch {
      case e: Throwable =>
        val end = System.currentTimeMillis()
        rec ++= Map("ok" -> false, "error" -> String.valueOf(e.getMessage).take(500),
          "end_ms" -> rec.getOrElse("end_ms", end))
        System.err.println(s"[perfbench] op $id ${op.kind} failed: $e")
    }
    rec
  }

  def rows(cols: Seq[String], rows: Array[Row]): Map[String, Any] =
    Map("cols" -> cols, "rows" -> rows.toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toSeq
      case a: Array[_] => a.toSeq
      case v => v
    }))

  def lines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
}

/** The paper's jobs, the user-program path and the CPU-heavy pipeline
  * keys, each a whole job over seeded inputs with no standing artifacts. */
final class Batch(s: SparkSession, in: String) extends Workload {
  val pipelineKeys = Seq("text_bigram_lm")
  private val corpus = s"$in/corpus"
  private val mapper = s"$in/mr/mapper.py"
  private val reducer = s"$in/mr/reducer.py"
  private val order = Main.lines(s"$in/batch_order.txt")
  def roundSize: Int = order.head.split(" ").length
  def roundSeconds: Double = 4.5

  private def jobs(kind: String): OpRun = kind match {
    case "w1_word_count" => OpRun(kind, () => ReferenceJobs.wordCount(s, s"$in/names.txt"))
    case "w2_char_count" => OpRun(kind, () => ReferenceJobs.charCount(s, s"$in/names.txt"))
    case "w3_peak_numbers" => OpRun(kind, () => ReferenceJobs.peakNumbers(s, s"$in/calls.txt"))
    case "w4_suspects" => OpRun(kind, () => ReferenceJobs.suspects(s, s"$in/suspects.txt"))
    case "pipe_word_count" => OpRun(kind,
      () => Pipe.argvMapReduce(s.read.textFile(s"$in/names.txt"), mapper, reducer).toDF("value"))
    case key => OpRun(kind, () => SparkEntry.queries(key)(s, corpus))
  }

  /** Two rounds: one pass still leaves the JIT warming up. */
  def warm(): Unit = order.take(2).flatMap(_.split(" ")).foreach { k =>
    jobs(k).construct().collect()
  }

  def op(i: Int): OpRun = {
    val round = order((i / roundSize) % order.size).split(" ")
    jobs(round(i % roundSize))
  }
}

/** Landing files admitted into a text index and a curated dedup index
  * while reads run against the growing index. */
final class Ingest(s: SparkSession, in: String, work: String) extends Workload {
  private val seedCorpus = s"$in/ingest_seed"
  private val pool = Main.lines(s"$in/landing_files.txt")
  private val reads = Main.lines(s"$in/ingest_reads.txt")
  private val art = s"$work/index"
  private val out = s"$work/verdicts"
  private var landed = 0
  override def indexDirs: Seq[String] = Seq(art, out)

  /** The timed index, and a byte copy of it for the warm-up to grow. */
  override def artifacts(): Unit = {
    TextAnalysis.textIndexWrite(s, seedCorpus, s"$art/text")
    Dedup.dedupIndexWrite(s, seedCorpus, s"$art/dedup")
    val from = Paths.get(art)
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      Files.copy(p, Paths.get(s"$work/warm_index").resolve(from.relativize(p).toString))
    } finally w.close()
  }

  /** Copy pool file `k` into `landing` the way an uploader would: write
    * a hidden temp file, then rename it into place. */
  private def land(k: Int, landing: String): Unit = {
    Files.createDirectories(Paths.get(landing))
    val tmp = Paths.get(landing, s".${pool(k)}.tmp")
    Files.copy(Paths.get(s"$in/landing_pool/${pool(k)}"), tmp, StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.setLastModified(1600000000000L + k * 60000L)
    Files.move(tmp, Paths.get(landing, pool(k)), StandardCopyOption.ATOMIC_MOVE)
  }

  private def drain(index: String, landing: String, sink: String, ckpt: String): Seq[Seq[Long]] =
    Seq(
      span(TextIngest.streamTextIngestToFiles(s, landing, s"$index/text", s"$ckpt/text")),
      span(IngestDedup.streamIngestCurateToFiles(s, landing, s"$index/dedup", sink,
        s"$ckpt/curate")))

  private def span(f: => Unit): Seq[Long] = {
    val a = System.currentTimeMillis(); f; Seq(a, System.currentTimeMillis())
  }

  /** One round on the warm copy with the last pool file. */
  def warm(): Unit = {
    land(pool.size - 1, s"$work/landing_warm")
    drain(s"$work/warm_index", s"$work/landing_warm", s"$work/verdicts_warm", s"$work/ckpt_warm")
    (1 to readsPerFile).foreach(i => read(reads.size - i, s"$work/warm_index").collect())
  }

  private def read(i: Int, index: String = art): DataFrame =
    TextAnalysis.textBm25Served(s, s"$index/text",
      memberPred = Some(col("lang") === reads(i % reads.size)))

  /** A round lands one file, drains it and reads the grown index (the
    * ingest op, whose read is the first after the append), then runs
    * `readsPerFile` standalone reads. On a quiet 4-core host a landing
    * takes about 3.5 s to be queryable and a read about 0.5 s, so two
    * rounds of 1 + 11 reads give the 24 read samples the tail needs.
    * Landing times track host noise more than reads do (3.6 to 6.4 s over
    * ten runs while read medians moved 0.51 to 0.71 s), so more landings
    * per run made ops_per_s spread more than the run-to-run bound. */
  private val readsPerFile = 11
  def roundSize: Int = 1 + readsPerFile
  def roundSeconds: Double = 9.5

  def op(i: Int): OpRun = {
    val info = Map[String, Any]("read" -> i % reads.size)
    if (i % roundSize != 0) OpRun("bm25_read", () => read(i), info = info)
    else OpRun("ingest_read", () => read(i), info = info, ingest = Some { () =>
      require(landed < pool.size, "landing pool exhausted")
      val k = landed
      land(k, s"$work/landing")
      landed += 1
      Map("file" -> pool(k), "calls" -> drain(art, s"$work/landing", out, s"$work/ckpt"))
    })
  }

  override def finish(): Map[String, Any] = {
    val dest = s"$work/out"
    s.read.parquet(s"$art/text/postings").select("term", "doc_id", "tf")
      .write.mode("overwrite").parquet(s"$dest/postings")
    s.read.parquet(out).select("doc_id", "batch", "verdict", "dup_of", "score").distinct()
      .write.mode("overwrite").parquet(s"$dest/verdicts")
    s.read.parquet(s"$art/dedup/simhash").select("doc_id")
      .write.mode("overwrite").parquet(s"$dest/simhash_ids")
    Dedup.cleanStore(s, s"$art/dedup").select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dest/clean")
    Map("landed" -> pool.take(landed), "dumps" -> dest)
  }
}

/** Per-op layer counters a traced run reads before and after each op:
  * user-process CPU from `/proc/self/stat`, Hadoop filesystem bytes,
  * the Spark cache footprint, and the files under the workload's own
  * index and output directories. */
final class Snapshots(s: SparkSession, dirs: => Seq[String]) {
  def take(): Map[String, Double] = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      .split("\\) ", 2)(1).split(" ")
    val fs = org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.iterator().asScala.toSeq
    def fsLong(k: String) = fs.map(st => Option(st.getLong(k)).map(_.longValue).getOrElse(0L)).sum
    val (files, bytes) = dirs.filter(_.nonEmpty).map(Paths.get(_)).filter(Files.exists(_))
      .flatMap { d =>
        val w = Files.walk(d)
        try w.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
          .map(p => Files.size(p)).toList
        finally w.close()
      }.foldLeft((0L, 0L)) { case ((n, b), sz) => (n + 1, b + sz) }
    Map(
      // cutime + cstime: CPU of waited-for child processes, in clock ticks
      "child_ticks" -> (stat(13).toLong + stat(14).toLong).toDouble,
      "fs_read" -> fsLong("bytesRead").toDouble,
      "fs_write" -> fsLong("bytesWritten").toDouble,
      "cache_rdds" -> s.sparkContext.getPersistentRDDs.size.toDouble,
      "cache_mem" -> s.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble,
      "index_files" -> files.toDouble, "index_bytes" -> bytes.toDouble)
  }
}

object Snapshots {
  private val levels = Set("cache_rdds", "cache_mem", "index_files", "index_bytes")

  /** Counters become per-op differences; levels keep the after-op value
    * and the before-op value beside it. */
  def delta(b: Map[String, Double], a: Map[String, Double]): Map[String, Double] =
    a.flatMap { case (k, v) =>
      if (levels(k)) Seq(k -> v, s"${k}_before" -> b(k)) else Seq(k -> (v - b(k)))
    }

  /** (all, steal) CPU ticks of the host from the first line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val v = Main.lines("/proc/stat").head.split("\\s+").drop(1).map(_.toLong)
    (v.sum, if (v.length > 7) v(7) else 0L)
  }

  def procStatus(key: String): Long =
    Main.lines("/proc/self/status").find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** Minimal JSON encoder for the run record. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case a: Array[_] => encode(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
