package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR.
  *
  * Each query is materialized through the noop sink — unlike `count()`,
  * this keeps sorts and all projected expressions in the plan (count()
  * would let Catalyst eliminate ORDER BY and prune the very expressions
  * being benchmarked). One untimed warmup pass amortizes JVM/codegen
  * warmup and OS page cache; then SPARK_GRAFT_REPS (default 3) timed
  * rounds run, and the headline per-query numbers are the PER-QUERY
  * MINIMA across rounds — the standard defense against host-load noise
  * (a single co-scheduled compile inflated round-2 totals by 50%+). Raw
  * per-round totals ship alongside so the noise itself is visible.
  *
  * The FULL result JSON (per-query minima + medians) is written to
  * `bench_out.json` in the working directory; stdout carries exactly ONE
  * compact JSON line sized to survive the driver's bounded (2000-char)
  * log-tail capture (rounds 3 and 5-7 each lost their machine artifact
  * to a truncated full JSON on stdout).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the sf dirs are single ~1-20 MB parquet files; the 128 MB default
      // would scan each on one thread. On a real cluster leave the default.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MPB", "2097152"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()

    // SPARK_GRAFT_ONLY: comma-separated name PREFIXES restricting the
    // run (dev iteration and the per-family scale sweeps). Unset — the
    // driver's canonical run — benches every registered query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // warmup: one untimed pass
    names.foreach { n =>
      try materialize(n)
      catch { case e: Throwable => System.err.println(s"[bench][warmup] $n: ${e.getMessage}") }
    }
    // Derived results are dropped before EVERY timed round, so per-query
    // minima price the declared computation rather than a memo read left
    // by the warmup. Standing artifacts (text/LSH indexes, BPE models,
    // replay prototypes) survive the reset: a served query's declared
    // computation is an artifact READ, and rebuilding them per round
    // would misprice every serve as a rebuild. Queries sharing an eager
    // derived memo (BPE merge training, k-means centroids, PQ codebooks,
    // shingle caches) pay that derivation once per round, in whichever
    // query hits it first.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val rounds: Seq[Map[String, Double]] = (1 to reps).map { r =>
      graft.ops.Artifacts.reset()
      names.map { n =>
        val t0 = System.nanoTime()
        try materialize(n)
        catch { case e: Throwable =>
          failed += n
          System.err.println(s"[bench][round $r] $n FAILED: ${e.getMessage}")
        }
        n -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val minima = names.map(n => n -> rounds.map(_(n)).min)
    // medians ride alongside the headline minima (round-6 verdict: a
    // median is robust to one co-loaded rep, a minimum to all-but-one —
    // publishing both makes cross-round deltas interpretable)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val medians = names.map(n => n -> medianOf(rounds.map(_(n))))
    // locale-pinned decimal formatting: f"%.3f" uses the JVM default
    // locale, and a comma-decimal host would emit invalid JSON
    def num3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = minima.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val medJson = medians.map { case (k, v) => "\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    val total = minima.map(_._2).sum
    val rawTotals = rounds.map(_.values.sum)
    val rawJson = rawTotals.mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // median_total is the median of the per-rep totals (comparable to
    // raw_totals by inspection); the sum of per-query medians — a
    // different, also-useful robustness statistic — ships under its own
    // honest name so readers never reconcile the two
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"raw_totals":$rawJson,"median_total":${num3(medianOf(rawTotals))},"sum_of_query_medians":${num3(medians.map(_._2).sum)},"queries":$qs,"queries_median":$medJson,"failed":$failedJson,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}") }
    System.err.println(f"[bench] per-query minima total ${total}%.1fs over $reps rounds (raw: ${rawTotals.map(t => f"$t%.1f").mkString(", ")})")
    // STDOUT carries ONE compact JSON line and nothing else brace-shaped.
    // The driver's round artifact keeps only the LAST 2000 chars of
    // stdout and parses from the first '{' it finds there — so the full
    // ~5 KB per-query JSON must never hit stdout (its truncated tail is
    // what made BENCH_r05..r07.json unparseable; sbt's own "[success]
    // ..." trailer is brace-free and tolerated by a raw_decode). The
    // full record lives in bench_out.json, which the line names. The
    // per-query dict rides along only if the line stays under budget.
    val compactQs = minima.map { case (k, v) => "\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    val head =
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","reps":$reps,"raw_totals":$rawJson,"median_total":${num3(medianOf(rawTotals))},"failed":$failedJson,"sf":"$sfDir","full":"bench_out.json""""
    val tailLine =
      if (head.length + compactQs.length + 12 <= 1800) s"""$head,"queries":$compactQs}"""
      else s"""$head}"""
    println(tailLine)
    System.out.flush()
    spark.stop()
  }
}
