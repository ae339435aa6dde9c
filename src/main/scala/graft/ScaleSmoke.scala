package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up experiment main: generates a synthetic corpus ~100× the
  * sf0.1 testdata (250k 64-dim vectors with 2.5k planted near-dups,
  * 100k documents with 1k planted near-dups) and drives the SCALE paths
  * of the similarity / dedup / sketch operators against it, printing one
  * flushed line per measurement. The small-SF oracle suite proves
  * correctness; this main answers "does the plan SHAPE survive two
  * orders of magnitude", which is where the round-4 experiment found
  * (and fixed) three real defects:
  *
  *  - generate-and-rank centroid assignment materialized a 625M-row
  *    window sort → replaced by the fused `nearest_centroid_ids` fold;
  *  - blocked-dedup verification re-joined the vector table into ~50M
  *    candidate pairs (~27 GB shuffle) → verification moved inside the
  *    block arrays (vectors ride with the assignment);
  *  - fixed-depth LSH kept 256 buckets at any corpus size → ~90k
  *    candidates/query at 250k rows, 60 GB of shuffle spill → the
  *    auto-depth serving path (`simLshAnnAuto`) sizes bits from the
  *    corpus statistic so bucket occupancy stays constant.
  *
  * Usage: runMain graft.ScaleSmoke [dir] — corpus is generated under
  * `dir` (default /tmp/scale) if absent; pass a fresh dir to regenerate.
  */
object ScaleSmoke {
  private def say(msg: String): Unit = { println(s"SCALE $msg"); Console.flush() }

  private def time[A](tag: String)(f: => A): A = timed(tag)(f)._1

  /** As [[time]], but returns the elapsed seconds alongside — for rows
    * whose ASSERTION is about the time itself (the clustered auto-IVF
    * vs brute-force race). */
  private def timed[A](tag: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    say(f"$tag%-52s $sec%8.1f s")
    (r, sec)
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  val nVec = 250000L
  val nVecDup = 2500L
  val nDoc = 100000L
  val nDocDup = 1000L
  private val dim = 64
  val stopwords = Seq("the", "of", "and", "to", "in")

  def generate(s: SparkSession, dir: String): Unit = {
    val noise = (idc: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =>
      sin(idc * 12.9898 + d * 78.233) * lit(43758.5453) % 1.0
    val emb = s.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)), d => {
        val src = when(col("id") >= nVec - nVecDup, col("id") - nVecDup).otherwise(col("id"))
        (noise(src, d) + when(col("id") >= nVec - nVecDup, noise(col("id"), d) * 0.02)
          .otherwise(lit(0.0))).cast("float")
      }).as("embedding"),
      // same label layout as the driver testdata (10 roughly-uniform
      // classes) — exercises the filtered-ANN member predicate at 250k
      pmod(col("id"), lit(10)).cast("int").as("label"))
    emb.repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // 10k-word Zipf-ish vocabulary: a tiny vocab makes every shingle
    // corpus-common, which turns ANY prefix-filtered similarity join
    // into all-pairs — real corpora are Zipfian, where rare shingles
    // exist and prefix filtering works (the 30-word first draft of this
    // generator filled 70 GB of spill in dedup_ngram_jaccard)
    // …plus a Zipf head: every 7th position draws from 5 stopwords, so
    // each carries ~2.9% of the token stream — far above the sketch
    // serving threshold (0.5%) while every tail word stays far below it
    // (~0.009% + eps·N ≈ 0.06%). Gives text_heavy_hitters_sketch exactly
    // 5 true heavy hitters to find at 100×; without them the corpus has
    // none and the scale check is vacuous.
    val docs = s.range(nDoc).select(col("id").as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(1), lit(60) + pmod(col("id"), lit(40)).cast("int")), w => {
          val src = when(col("id") >= nDoc - nDocDup, col("id") - nDocDup).otherwise(col("id"))
          val nudge = when(col("id") >= nDoc - nDocDup,
            (w.cast("long") % 29 === 0).cast("long")).otherwise(lit(0L))
          when(w.cast("long") % 7 === 0, element_at(
            array(stopwords.map(lit): _*),
            (pmod(hash(src * 31 + w.cast("long")), lit(stopwords.length)) + 1).cast("int")))
            .otherwise(concat(lit("w"), pmod(hash(src * 31 + w.cast("long") + nudge), lit(10000))))
        })).as("text"),
      element_at(array(lit("en"), lit("fr"), lit("de"), lit("es")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(8))).as("source"))
    docs.withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).appName("graft-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$dir/embeddings.parquet").exists() ||
        !new java.io.File(s"$dir/documents.parquet").exists())
      time("generate corpus")(generate(spark, dir))
    say(s"corpus: $nVec vectors ($nVecDup planted dups), $nDoc docs ($nDocDup planted dups)")

    def bytesRead(f: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) acc.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(1000) } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }

    // 1. the exact all-pairs ground truth must REFUSE this corpus
    try {
      ops.Dedup.dedupEmbeddingCosine(spark, dir).count()
      say("exact-cosine DID NOT refuse — GUARD BROKEN")
    } catch { case _: Exception => say("exact-cosine refused the 250k corpus as designed") }

    // 2. blocked embedding dedup, both quantizers (trained pays one
    //    training on first call, memoized after)
    val blocked = time("dedup_embedding_blocked (stride)") {
      val r = ops.Dedup.dedupEmbeddingBlocked(spark, dir).count(); r
    }
    say(s"  -> $blocked verified pairs (planted: $nVecDup)")
    val blockedT = time("dedup_embedding_blocked_trained (incl. training)") {
      ops.Dedup.dedupEmbeddingBlockedTrained(spark, dir).count()
    }
    say(s"  -> $blockedT verified pairs")
    // SemDeDup keep-decision: 1-probe assignment + the same tiled pair
    // kernel, then a corpus-wide left join on the (few) dropped ids
    val sem = time("dedup_semantic (SemDeDup keep decision, 250k)") {
      val r = ops.Dedup.dedupSemantic(spark, dir)
        .agg(count(lit(1)), sum(lit(1L) - col("kept"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    say(s"  -> ${sem._1} decisions, ${sem._2} dropped (planted: $nVecDup)")
    val semT = time("dedup_semantic_trained (shared k-means, 250k)") {
      val r = ops.Dedup.dedupSemanticTrained(spark, dir)
        .agg(count(lit(1)), sum(lit(1L) - col("kept"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    say(s"  -> ${semT._1} decisions, ${semT._2} dropped")

    // 3-5. ANN paths timed ONCE each (collect top-k pairs in the timed
    //      pass and reuse them for recall — a noop-then-rerun shape would
    //      pay every query twice), then recall vs brute-force ground truth
    def topkPairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfStride = time("sim_ivf_topk (stride)") {
      topkPairs(ops.Similarity.simIvfTopk(spark, dir))
    }
    val ivfTrained = time("sim_ivf_topk_trained (memoized quantizer)") {
      topkPairs(ops.Similarity.simIvfTopkTrained(spark, dir))
    }
    val ivfAuto = time("sim_ivf_topk_auto (constant-fraction probes, tiled)") {
      topkPairs(ops.Similarity.simIvfTopkAuto(spark, dir))
    }
    val lshAuto = time("sim_lsh_ann_auto (depth from stats, hot buckets tiled)") {
      topkPairs(ops.Similarity.simLshAnnAuto(spark, dir))
    }
    // persisted-index path: build once at auto depth, then serve the
    // same stride query set from the on-disk artifact — the split a
    // deployment actually pays (build per corpus generation, serve per
    // query batch)
    val idxDir = s"$dir/lsh_index"
    time("lsh_index_write (auto depth, 250k vectors)") {
      ops.AnnIndex.lshIndexWrite(spark, dir, idxDir,
        ops.Similarity.lshTables, ops.Similarity.lshBitsFor(nVec.toDouble))
    }
    val served = time("lsh_index_serve (5k queries from persisted index)") {
      val queries = ops.Similarity.normed(spark, dir)
        .filter(col("vec_id") % ops.Similarity.queryStride === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      topkPairs(ops.AnnIndex.lshIndexServe(spark, idxDir, Seq(dir), queries))
    }
    // filtered ANN from the SAME persisted index: members restricted to
    // one label slice (~10% of the corpus) at the parquet scan — pays
    // the same probe structure over ~1/10 the member rows; recall is
    // measured against an exact IN-SLICE top-k below, not `exact`
    val servedFiltered = time("lsh_index_serve FILTERED (label slice, same index)") {
      val queries = ops.Similarity.normed(spark, dir)
        .filter(col("vec_id") % ops.Similarity.queryStride === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      topkPairs(ops.AnnIndex.lshIndexServe(spark, idxDir, Seq(dir), queries,
        memberPred = Some(col("label") === ops.Similarity.annFilterLabel)))
    }
    // the IVF sibling: persist the trained quantizer + lists, serve from
    // the artifact (probe count derived from the index's own list count)
    val ivfIdxDir = s"$dir/ivf_index"
    time("ivf_index_write (trained quantizer, 250k vectors)") {
      ops.AnnIndex.ivfIndexWrite(spark, dir, ivfIdxDir)
    }
    val ivfServed = time("ivf_index_serve (5k queries from persisted index)") {
      val queries = ops.Similarity.normed(spark, dir)
        .filter(col("vec_id") % ops.Similarity.queryStride === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      topkPairs(ops.AnnIndex.ivfIndexServe(spark, ivfIdxDir, Seq(dir), queries))
    }
    // vector-serve BYTES (round 8, verdict #6): the point-lookup shape —
    // a 3-query batch probes ~18% of the 2.5k lists — with the probed
    // c_id set pushed into the list scan (pushProbedCells). A FRESH
    // index's list table is assignment output (c_id hash-scattered:
    // every row group spans the id range, the pushed IN prunes
    // nothing); compaction's c_id sort is what turns the same predicate
    // into row-group skipping — the posting-table result (round 7, 16x)
    // replayed for the vector family. The LIST-SCAN component is
    // measured in isolation because at this corpus the serve's member
    // join reads the full embeddings table (~25x the list table) and
    // would drown the delta; the structure, not the ratio, is what
    // scales.
    val q3 = ops.Similarity.normed(spark, dir)
      .filter(col("vec_id") % (ops.Similarity.queryStride * 2000) === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    // the probe set where pushdown PAYS is a small ABSOLUTE count — the
    // pinned-nProbe point-lookup shape (3 queries x 2 probes = <=6
    // lists). A constant-FRACTION probe set (156/query here) scatters
    // across every row group at any granularity and saturates the skip;
    // that regime keeps the default full-scan serve.
    val probedCells = ops.AnnIndex.probedCellsOf(spark, ivfIdxDir, q3,
      probeOverride = Some(ops.Similarity.nProbe))
    say(s"  point-lookup batch: ${q3.count()} queries probing ${probedCells.length} of " +
      s"${spark.read.parquet(s"$ivfIdxDir/centroids").count()} lists at nProbe=${ops.Similarity.nProbe}")
    // both layouts rewritten at 256 KB row groups (the 2.7 MB demo
    // table is ONE row group at the 128 MB default; at 10B vectors the
    // table is thousands of row groups — the granularity, not the
    // ratio, is what the demo reproduces). Every measurement uses the
    // SAME pushed-predicate code path (full = c_id >= 0): a
    // predicate-free local-FS scan under-reports inputMetrics through a
    // different reader path, measured 24 KB for a 1.7 MB table.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("parquet.block.size", 256 * 1024)
    hconf.setInt("parquet.page.size", 64 * 1024)
    val freshDemo = s"$dir-lists-hashscattered"
    val sortedDemo = s"$dir-lists-cidsorted"
    spark.read.parquet(s"$ivfIdxDir/lists").repartition(8)
      .write.mode("overwrite").parquet(freshDemo)
    spark.read.parquet(s"$ivfIdxDir/lists")
      .repartitionByRange(8, col("c_id")).sortWithinPartitions(col("c_id"))
      .write.mode("overwrite").parquet(sortedDemo)
    hconf.setInt("parquet.block.size", 128 * 1024 * 1024)
    hconf.setInt("parquet.page.size", 1024 * 1024)
    def listScanBytes(tag: String, path: String, push: Boolean): Long =
      bytesRead {
        time(s"ivf list scan $tag") {
          val base = spark.read.parquet(path)
          (if (push) base.filter(col("c_id").isin(probedCells: _*))
           else base.filter(col("c_id") >= 0L))
            .agg(sum(col("vec_id") + col("c_id"))).collect(); ()
        }
      }
    val freshFull = listScanBytes("hash-scattered, full", freshDemo, push = false)
    val freshPush = listScanBytes("hash-scattered, probed-cell pushdown", freshDemo, push = true)
    val compFull = listScanBytes("c_id-sorted, full", sortedDemo, push = false)
    val compPush = listScanBytes("c_id-sorted, probed-cell pushdown", sortedDemo, push = true)
    say(f"  -> list-scan bytes (256 KB row groups, ${probedCells.length} probed lists): " +
      f"hash-scattered full ${freshFull / 1e3}%.0f KB = +push ${freshPush / 1e3}%.0f KB (no skip); " +
      f"c_id-sorted full ${compFull / 1e3}%.0f KB (sort also compresses), " +
      f"+push ${compPush / 1e3}%.0f KB — sorted+push reads " +
      f"${freshPush.toDouble / math.max(1L, compPush)}%.1fx less than unsorted+push")
    assert(compPush < freshPush / 2,
      s"c_id sort did not enable pruning: sorted+push $compPush B vs unsorted+push $freshPush B")
    time("ivf_index_compact (c_id-sorted row groups)") {
      ops.AnnIndex.ivfIndexCompact(spark, ivfIdxDir)
    }
    // end-to-end: the pushed serve must return the identical result
    ops.Artifacts.invalidate(spark, s"$ivfIdxDir|")
    val servedPushed = time("ivf_index_serve 3q (pushProbedCells, compacted)") {
      topkPairs(ops.AnnIndex.ivfIndexServe(spark, ivfIdxDir, Seq(dir), q3,
        pushProbedCells = true))
    }
    ops.Artifacts.invalidate(spark, s"$ivfIdxDir|")
    val servedFull3 = topkPairs(ops.AnnIndex.ivfIndexServe(spark, ivfIdxDir, Seq(dir), q3))
    assert(servedPushed == servedFull3, "probed-cell pushdown changed the serve result")
    // the compressed-scan path: corpus ships as 8-byte PQ codes, queries
    // as 128-entry LUTs — the shuffle narrowing (~32x vs raw vectors)
    // is exactly what 250k rows is meant to exercise; the trained
    // codebook pays its per-subspace Lloyd on first call (memoized)
    // the public pinned variants REFUSE 250k rows (pqPinnedMaxRows guard,
    // round 6) — the experiment deliberately lifts the bound to keep
    // measuring the recall collapse the guard exists to prevent
    val pqAdc = time("sim_pq_topk (prefix codebook, pure ADC; guard lifted)") {
      topkPairs(ops.Similarity.simPqTopkBounded(spark, dir, Long.MaxValue))
    }
    val pqTrained = time("sim_pq_topk_trained (incl. subspace training; guard lifted)") {
      topkPairs(ops.Similarity.simPqTopkTrainedBounded(spark, dir, Long.MaxValue))
    }
    val pqRescore = time("sim_pq_rescore (ADC shortlist + exact rescore; guard lifted)") {
      topkPairs(ops.Similarity.simPqRescoreBounded(spark, dir, Long.MaxValue))
    }
    val pqRescoreAuto = time("sim_pq_rescore_auto (constant-fraction shortlist)") {
      topkPairs(ops.Similarity.simPqRescoreAuto(spark, dir))
    }
    // the composed index: IVF pruning over PQ codes + exact rescore —
    // scans ~1/16 of code rows, rescores ~1/128 of the corpus (half of
    // pq_rescore_auto's budget on an already-pruned scan)
    val ivfPq = time("sim_ivfpq_topk (IVF pruning over PQ codes + rescore)") {
      topkPairs(ops.Similarity.simIvfPqTopk(spark, dir))
    }
    val exact = time("sim_topk_bruteforce (ground truth, 5k queries x 250k)") {
      topkPairs(ops.Similarity.simTopkBruteforce(spark, dir))
    }
    def recallOf(tag: String, got: Set[(Long, Long)]): Unit =
      say(f"  recall@5 $tag: ${(exact intersect got).size.toDouble / exact.size}%.3f")
    recallOf("ivf stride", ivfStride)
    recallOf("ivf trained", ivfTrained)
    recallOf("ivf auto", ivfAuto)
    recallOf("lsh auto", lshAuto)
    recallOf("lsh served (persisted index)", served)
    recallOf("ivf served (persisted index)", ivfServed)
    recallOf("pq adc (prefix)", pqAdc)
    recallOf("pq adc (trained)", pqTrained)
    recallOf("pq rescore", pqRescore)
    recallOf("pq rescore auto", pqRescoreAuto)
    recallOf("ivf-pq composed", ivfPq)
    // filtered ANN is judged against the exact IN-SLICE top-k — the
    // unfiltered ground truth legitimately lacks most slice neighbors
    val exactSlice = time("in-slice brute force (filtered ground truth, ~25k members)") {
      topkPairs(ops.Similarity.simTopkBruteforceOver(spark, dir,
        ops.Similarity.normed(spark, dir)
          .join(Tables(spark, dir, "embeddings")
            .filter(col("label") === ops.Similarity.annFilterLabel)
            .select(col("vec_id")), "vec_id")))
    }
    say(f"  recall@5 lsh served FILTERED (vs in-slice exact): " +
      f"${(exactSlice intersect servedFiltered).size.toDouble / exactSlice.size}%.3f")

    // 6. text dedup + sketch heavy hitters on 100k docs
    val mh = time("dedup_minhash_lsh (100k docs)") {
      ops.Dedup.dedupMinhashLsh(spark, dir).count()
    }
    say(s"  -> $mh minhash near-dup pairs (planted: $nDocDup)")
    time("dedup_ngram_jaccard (100k docs)")(noop(ops.Dedup.dedupNgramJaccard(spark, dir)))
    val hh = time("text_heavy_hitters_sketch (100k docs)") {
      ops.TextAnalysis.textHeavyHittersSketch(spark, dir)
        .select(col("word")).collect().map(_.getString(0)).toSet
    }
    val missedStops = stopwords.toSet -- hh
    say(s"  -> ${hh.size} served heavy hitters (planted: ${stopwords.length}, missed: ${missedStops.size})")
    assert(missedStops.isEmpty, s"sketch serving missed planted heavy hitters: $missedStops")

    // 7. lexical search at 100k docs: the inverted index (one token
    //    subtree, bounded heads) and shuffle-free BM25 must stay flat —
    //    the failure mode here would be a posting-list aggregation
    //    buffering a stopword's full list (the vocab is 10k words over
    //    ~8M tokens, so common terms hit tens of thousands of docs)
    val terms = time("text_inverted_index (100k docs, ~8M tokens)") {
      ops.TextAnalysis.textInvertedIndex(spark, dir).count()
    }
    say(s"  -> $terms indexed terms")
    time("text_bm25_search (100k docs)")(noop(ops.TextAnalysis.textBm25Search(spark, dir)))
    val phrased = time("text_phrase_search (100k docs, positional scan)") {
      ops.TextAnalysis.textPhraseSearch(spark, dir).count()
    }
    val textIdxDir = s"$dir-textindex"
    time("text_index_write (positional postings, 100k docs)") {
      ops.TextAnalysis.textIndexWrite(spark, dir, textIdxDir)
    }
    val phrasedServed = time("text_phrase_served (persisted positional postings)") {
      ops.TextAnalysis.textPhraseServed(spark, textIdxDir).count()
    }
    say(s"  -> $phrased phrase-matching docs (scan) = $phrasedServed (served)")

    // 7b. retrieval serving at 100k: the posting-pruning claim measured
    //     as BYTES READ — the served paths must touch only the query
    //     terms' posting row groups, not the corpus or the full posting
    //     table (the linear scan reads the whole documents table)
    val scanBytes = bytesRead {
      time("text_bm25_search AGAIN (linear scan, bytes-read baseline)")(
        noop(ops.TextAnalysis.textBm25Search(spark, dir)))
    }
    val servedBytes = bytesRead {
      time("text_bm25_served (persisted postings, 100k docs)")(
        noop(ops.TextAnalysis.textBm25Served(spark, textIdxDir)))
    }
    val filteredBytes = bytesRead {
      time("text_bm25_filtered (served, lang='en' slice, 100k docs)")(
        noop(ops.TextAnalysis.textBm25Served(spark, textIdxDir,
          Some(col("lang") === ops.TextAnalysis.bm25FilterLang))))
    }
    val phraseBytes = bytesRead {
      time("text_phrase_served AGAIN (bytes-read)")(
        { ops.TextAnalysis.textPhraseServed(spark, textIdxDir).count(); () })
    }
    say(f"  -> bytes read: linear-scan BM25 ${scanBytes / 1e6}%.1f MB, " +
      f"served BM25 ${servedBytes / 1e6}%.1f MB, filtered ${filteredBytes / 1e6}%.1f MB, " +
      f"phrase served ${phraseBytes / 1e6}%.1f MB")
    // a fresh index's posting table is groupBy output — hash-scattered,
    // so term min/max spans the vocab in every row group and the pushed
    // `term IN (...)` prunes NOTHING. Compaction's term sort is what
    // turns the predicate into row-group skipping; measure the delta.
    time("text_index_compact (term-sorted row groups)") {
      ops.TextAnalysis.textIndexCompact(spark, textIdxDir)
    }
    val servedBytesC = bytesRead {
      time("text_bm25_served AFTER COMPACT")(
        noop(ops.TextAnalysis.textBm25Served(spark, textIdxDir)))
    }
    val phraseBytesC = bytesRead {
      time("text_phrase_served AFTER COMPACT")(
        { ops.TextAnalysis.textPhraseServed(spark, textIdxDir).count(); () })
    }

    // 7c. BOUNDED serving vs a planted mega-posting: every doc gets the
    //     query term 'spark' (df-share 1.0 — the stopword case), two
    //     query terms stay sparse. The unbounded serve must drag the
    //     O(corpus) posting list through the scan; the bounded serve
    //     resolves the cut from the term dictionary and the mega list
    //     NEVER LEAVES THE SCAN (bytes-read is the proof).
    val stopDir = s"$dir-stop"
    val stopIdx = s"$dir-stopindex"
    time("stopword corpus + index (mega-posting planted, 100k docs)") {
      // ' spark' x6 per doc: a positionally FAT 100k-row posting run,
      // the shape a stopword really has (tf and positions per doc)
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", concat(col("text"),
          lit(" spark spark spark spark spark spark"),
          when(col("doc_id") % 1000 === 0, lit(" join")).otherwise(lit("")),
          when(col("doc_id") % 997 === 0, lit(" vector")).otherwise(lit(""))))
        .write.mode("overwrite").parquet(s"$stopDir/documents.parquet")
      // production-shaped row groups: this 38 MB smoke table compacts
      // into ONE 128 MB row group, which hides all intra-file pruning —
      // a 100 TB posting table has thousands of groups per file. 1 MB
      // groups restore that geometry so the bytes measurement reflects
      // what the pushed predicate actually skips at scale.
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = hc.get("parquet.block.size")
      val oldPageRows = hc.get("parquet.page.row.count.limit")
      hc.setInt("parquet.block.size", 1 << 20)
      // page-granular rows too: the MaxScore contender lookup prunes at
      // parquet page level (column indexes on the sorted doc_id), and
      // the default 20k-row pages would make each group one page; pages
      // must be smaller than the contender SPACING (~1k ids here) for
      // the skip to be visible at smoke scale
      hc.setInt("parquet.page.row.count.limit", 200)
      try {
        ops.TextAnalysis.textIndexWrite(spark, stopDir, stopIdx)
        ops.TextAnalysis.textIndexCompact(spark, stopIdx) // term-sorted row groups
      } finally {
        if (oldBlock == null) hc.unset("parquet.block.size")
        else hc.set("parquet.block.size", oldBlock)
        if (oldPageRows == null) hc.unset("parquet.page.row.count.limit")
        else hc.set("parquet.page.row.count.limit", oldPageRows)
      }
    }
    time("text_bm25_served UNBOUNDED vs mega-posting")(
      noop(ops.TextAnalysis.textBm25Served(spark, stopIdx)))
    time("text_bm25_served BOUNDED (df-share cut, term dictionary)")(
      noop(ops.TextAnalysis.textBm25Served(spark, stopIdx,
        bound = ops.TextAnalysis.Bound.DfShare(ops.TextAnalysis.bm25MaxDfShare))))
    // the claim, measured at its source: ROWS LEAVING THE POSTINGS SCAN
    // under each serve's exact pushed predicate. (Bytes alone can't
    // discriminate here: BM25 serving never reads the fat positions
    // column, and the tf-only columns of even a 100k-row posting run
    // compress to noise beside the doclen scan both forms share.)
    def scanRecords(f: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) acc.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(1000) } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    val unboundedScanRows = scanRecords {
      noop(spark.read.parquet(s"$stopIdx/postings")
        .filter(col("term").isin(ops.TextAnalysis.bm25Query: _*))
        .select(col("term"), col("doc_id"), col("tf")))
    }
    val survivors = ops.TextAnalysis.boundedQueryTerms(spark, stopIdx,
      ops.TextAnalysis.bm25Query, ops.TextAnalysis.bm25MaxDfShare)
    assert(survivors == Seq("join", "vector"),
      s"df-share cut resolved $survivors — want the stopword dropped")
    val boundedScanRows = scanRecords {
      noop(spark.read.parquet(s"$stopIdx/postings")
        .filter(col("term").isin(survivors: _*))
        .select(col("term"), col("doc_id"), col("tf")))
    }
    // the claim is ABSOLUTE, not a ratio: the planted 'spark' posting is
    // one row per doc (df = nDocs). Vectorized parquet decodes whole
    // pages, so the sparse survivors still drag their page-neighbours
    // through the scan (~tens of k rows at this corpus size — a fixed
    // page-granularity tax that shrinks relatively as postings grow);
    // what the cut must prove is that the O(corpus) mega list itself
    // was skipped. Require >=90% of its rows gone from the scan.
    val megaPostingRows = nDoc // df('spark') = every doc in the corpus
    say(s"  -> mega-posting scan rows: unbounded $unboundedScanRows, " +
      s"bounded $boundedScanRows " +
      f"(${(unboundedScanRows - boundedScanRows) / 1e3}%.0fk skipped — " +
      "the stopword's 100k-row posting list never leaves the scan)")
    assert(unboundedScanRows - boundedScanRows >= (megaPostingRows * 9) / 10,
      s"bounded postings scan produced $boundedScanRows rows vs $unboundedScanRows " +
      s"unbounded — fewer than 90% of the $megaPostingRows-row mega posting " +
      "was skipped; the df-share cut did not keep it in the scan")

    // 7c'. EXACT bounded serving (MaxScore): same mega posting, exact
    //      BM25 semantics — the dictionary's per-term score upper
    //      bounds prove which docs can reach the top-k, and only those
    //      CONTENDERS re-read the mega list, with their doc_id IN
    //      pushed into the sorted postings (row-group min/max + page
    //      column indexes skip around them — parquet's skip pointers).
    // forced engagement: this is the pricing instrument for the ENGAGED
    // path (the r15 auto-disengage floor would — correctly — refuse the
    // decision pass at 100k mega rows; a deployment-scale head clears it)
    val msCand = ops.TextAnalysis.maxScoreContenders(spark, stopIdx, minMegaRows = 0L)
    assert(msCand.isDefined, "MaxScore pruning must engage on the stopword corpus")
    val cand = msCand.get.contenders
    val msScanRows = scanRecords {
      noop(spark.read.parquet(s"$stopIdx/postings")
        .filter(col("term").isin(ops.TextAnalysis.bm25Query: _*) &&
          col("doc_id").isin(cand: _*) &&
          col("doc_id") >= lit(cand.min) && col("doc_id") <= lit(cand.max))
        .select(col("term"), col("doc_id"), col("tf")))
    }
    // price the COLD path deliberately: the generation-keyed decision
    // memo would otherwise serve the contender pass from the
    // maxScoreContenders call above and this row would under-report
    // the engaged cost
    ops.Artifacts.reset()
    val tMs0 = System.nanoTime()
    val msServe = time("text_bm25_served MAXSCORE (exact, contender re-scan, COLD decision)") {
      ops.TextAnalysis.textBm25Served(spark, stopIdx,
        bound = ops.TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
    }
    val msServeSecs = (System.nanoTime() - tMs0) / 1e9
    // the steady-state serving shape: same index generation, decision
    // served from the artifact-keyed memo — what a deployment pays per
    // query on a frozen index
    val tHit0 = System.nanoTime()
    val msServeHit = time("text_bm25_served MAXSCORE (decision MEMO HIT, same generation)") {
      ops.TextAnalysis.textBm25Served(spark, stopIdx,
        bound = ops.TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
    }
    val msHitSecs = (System.nanoTime() - tHit0) / 1e9
    val tUn0 = System.nanoTime()
    val exactServe = time("text_bm25_served UNBOUNDED reference (same Zipf-head corpus)") {
      ops.TextAnalysis.textBm25Served(spark, stopIdx).collect().map(_.toSeq).toSeq
    }
    val unServeSecs = (System.nanoTime() - tUn0) / 1e9
    assert(msServe == exactServe,
      "MaxScore serve diverged from the unbounded serve — it must be EXACT")
    assert(msServeHit == exactServe,
      "memo-hit MaxScore serve diverged — the cached decision must be byte-identical")
    say(s"  -> maxscore: ${cand.size} contenders; postings scan rows " +
      s"unbounded $unboundedScanRows vs contender-pushed $msScanRows " +
      f"(${(unboundedScanRows - msScanRows) / 1e3}%.0fk skipped at EXACT semantics)")
    // the PRICING row the lowcut oracle instruments can't show (their
    // registered corpus has no real stopword head, so pruning is pure
    // cost there — PLANS.md cites this line as where the machinery WINS)
    say(f"  -> lowcut pricing (Zipf-head corpus, 100k docs): PRUNED BM25 serve " +
      f"$msServeSecs%.2f s COLD / $msHitSecs%.2f s MEMO-HIT vs UNBOUNDED " +
      f"$unServeSecs%.2f s at identical results (the decision pass is paid " +
      "once per index generation)")
    assert(unboundedScanRows - msScanRows >= megaPostingRows / 2,
      s"maxscore contender scan produced $msScanRows rows vs $unboundedScanRows — " +
      s"less than half the $megaPostingRows-row mega posting was skipped")

    // 7c''. HYBRID MaxScore (round 12): per-query DYNAMIC slots over the
    //       same planted mega posting. A 10k-doc slice keeps the
    //       unbounded reference affordable (200 stride queries x ~80%-df
    //       organic cheap slots is already a ~4M-pair pivot stream);
    //       stride query docs get the stopword PREPENDED so every
    //       query's slot 1 is mega while its other slots stay organic —
    //       the per-query floor seats from thousands of cheap matches
    //       and the mega-only population is provably pruned.
    val hmsDir = s"$dir-hybridms"
    val hmsIdx = s"$hmsDir-idx"
    time("hybrid-maxscore corpus + index (10k docs, stride queries lead with the stopword)") {
      spark.read.parquet(s"$stopDir/documents.parquet")
        .filter(col("doc_id") < 10000)
        .withColumn("text", when(col("doc_id") % ops.Similarity.queryStride === 0,
          concat(lit("spark "), col("text"))).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$hmsDir/documents.parquet")
      ops.TextAnalysis.textIndexWrite(spark, hmsDir, hmsIdx)
      ops.TextAnalysis.textIndexCompact(spark, hmsIdx)
    }
    val hms = ops.Retrieval.hybridMaxScoreLex(spark, hmsDir, hmsIdx)
    assert(hms.isDefined, "hybrid MaxScore must engage on the stopword corpus")
    val (hmsLex, hmsDec) = hms.get
    val hmsModes = hmsDec.groupBy(col("mode")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    say(s"  hybrid maxscore per-query modes: $hmsModes")
    assert(hmsModes.getOrElse("pruned", 0L) > 0,
      "no query pruned — the per-query MaxScore bound never engaged")
    val hmsPost = spark.read.parquet(s"$hmsIdx/postings")
      .select(col("doc_id"), col("term"), col("tf"))
    var msLexRows: Seq[(Long, Long, Long)] = null
    var unLexRows: Seq[(Long, Long, Long)] = null
    // the pricing clocks run INSIDE the scanRecords thunk, around the
    // collect only — coupling them to scanRecords' listener-settle
    // sleep (an implementation detail) would silently distort the
    // published numbers if that delay is ever tuned
    var hmsSecs = 0.0
    var hunSecs = 0.0
    val msLexScan = scanRecords {
      val t0 = System.nanoTime()
      msLexRows = time("hybrid lex ranks MAXSCORE (per-query pruned)") {
        hmsLex.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
      hmsSecs = (System.nanoTime() - t0) / 1e9
    }
    val unLexScan = scanRecords {
      val t0 = System.nanoTime()
      unLexRows = time("hybrid lex ranks UNBOUNDED (full pivot stream)") {
        ops.Retrieval.lexRanksOver(spark, hmsDir, hmsPost)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
      hunSecs = (System.nanoTime() - t0) / 1e9
    }
    assert(msLexRows.toSet == unLexRows.toSet && msLexRows.nonEmpty,
      "hybrid MaxScore lexical ranks diverged from the unbounded serve — must be EXACT")
    say(f"  -> hybrid maxscore: ${hmsModes.getOrElse("pruned", 0L)} of " +
      f"${hmsModes.values.sum} queries pruned; scan rows unbounded $unLexScan " +
      f"vs maxscore $msLexScan (${(unLexScan - msLexScan) / 1e3}%.0fk fewer at EXACT semantics)")
    say(f"  -> lowcut pricing (Zipf-head hybrid, 10k docs x 200 queries): PRUNED lex ranks " +
      f"$hmsSecs%.2f s vs UNBOUNDED $hunSecs%.2f s at identical results")
    assert(msLexScan < unLexScan,
      s"maxscore lexical serve read $msLexScan rows vs $unLexScan unbounded — no reduction")

    // 7c'''. SEGMENT MODEL for the hybrid (round 13): a 10% appended
    //        tail — 1000 docs, nearly all matching the mega term, so
    //        the contender-by-inclusion path carries real volume — must
    //        keep per-query pruning ENGAGED (live df = dict + in-plan
    //        tail count; per-slot ub rescaled by the live/frozen idf
    //        ratio) with exact identity to the unbounded serve over
    //        base + tail.
    time("hybrid-maxscore 10% tail append (1000 docs)") {
      ops.TextAnalysis.textIndexAppendBatch(spark,
        spark.read.parquet(s"$stopDir/documents.parquet")
          .filter(col("doc_id") >= 10000 && col("doc_id") < 11000), hmsIdx)
    }
    val hmsT = ops.Retrieval.hybridMaxScoreLex(spark, hmsDir, hmsIdx)
    assert(hmsT.isDefined,
      "an appended tail must not force the unbounded hybrid serve (r13 segment model)")
    val (hmsLexT, hmsDecT) = hmsT.get
    val hmsModesT = hmsDecT.groupBy(col("mode")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    say(s"  hybrid maxscore per-query modes under a 10% appended tail: $hmsModesT")
    assert(hmsModesT.getOrElse("pruned", 0L) > 0,
      "no query pruned under the tail — the segment model never engaged")
    val hmsPostT = spark.read.parquet(s"$hmsIdx/postings")
      .select(col("doc_id"), col("term"), col("tf"))
    val msLexRowsT = time("hybrid lex ranks MAXSCORE (10% tail, pruning live)") {
      hmsLexT.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val unLexRowsT = time("hybrid lex ranks UNBOUNDED (10% tail reference)") {
      ops.Retrieval.lexRanksOver(spark, hmsDir, hmsPostT)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(msLexRowsT.toSet == unLexRowsT.toSet && msLexRowsT.nonEmpty,
      "hybrid MaxScore lexical ranks diverged under the appended tail — must stay EXACT")

    // 7d. BPE training at production merge counts: the scale mode's K
    //     axis must be FLAT per merge — batched selection divides the
    //     driver round-trips by bpeBatchMerges and localCheckpoint
    //     truncation bounds the per-round plan depth, so 5x the merges
    //     should cost ~5x the time (the demo loop's chained lineage
    //     made it superlinear: O(K^2) cumulative analysis)
    // textBpeTrainScaled is EAGER (the merge loop runs at call time and
    // the returned frame is a local relation) — keep the 500-merge
    // frame so the serve block below persists it instead of paying the
    // whole multi-round training a second time
    def bpeTimed(k: Int): (Double, DataFrame) = {
      val t0 = System.nanoTime()
      val df = ops.TextAnalysis.textBpeTrainScaled(spark, dir, k)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      say(f"  text_bpe_train_scaled $k%4d merges (100k docs)    $dt%8.1f s " +
        f"(${dt * 1000 / k}%.0f ms/merge, $n merges learned)")
      (dt, df)
    }
    val (bpe100, _) = bpeTimed(100)
    val (bpe500, merges500) = bpeTimed(500)
    assert(bpe500 / bpe100 < 10.0,
      f"500-merge run cost ${bpe500 / bpe100}%.1fx the 100-merge run — " +
      "per-merge time is not flat on the K axis")
    // round 14: SERVING a production-sized artifact — the 500-merge
    // model persists once, then the encode dispatches to the scaled
    // canonical encoder (constant plan depth; the merge table rides the
    // closure), the corpus paying its usual explode + vocab join. The
    // demo replace chain at this merge count would build a ~1000-node
    // expression tree per projection and grow with every merge.
    locally {
      val model = java.nio.file.Files.createTempDirectory("smoke-bpe-model").toString
      // persist the frame bpeTimed(500) already trained (eager local
      // relation — re-calling the trainer would pay the whole loop
      // twice), stamped with its canonical provenance marker
      ops.TextAnalysis.bpeModelPersist(spark, merges500, model, applyForm = "canonical")
      val served = time("text_bpe_encode_served, 500-merge scaled artifact (100k docs)") {
        ops.TextAnalysis.textBpeEncodeServed(spark, dir, model)
          .agg(org.apache.spark.sql.functions.sum(col("n_tokens")),
            org.apache.spark.sql.functions.sum(col("n_words"))).collect()(0)
      }
      assert(served.getLong(0) >= served.getLong(1) && served.getLong(1) > 0,
        s"500-merge served encode token mass ${served.getLong(0)} vs words ${served.getLong(1)} — " +
        "a merge never splits, so tokens >= words must hold")
      say(f"  -> 500-merge served encode: ${served.getLong(0)}%,d tokens over " +
        f"${served.getLong(1)}%,d words (scaled canonical apply)")
    }
    say(f"  -> bytes read after compact: served BM25 ${servedBytesC / 1e6}%.1f MB " +
      f"(was ${servedBytes / 1e6}%.1f), phrase ${phraseBytesC / 1e6}%.1f MB " +
      f"(was ${phraseBytes / 1e6}%.1f)")

    time("search_hybrid_rrf (stride query set, 100k docs + 250k vecs)") {
      noop(ops.Retrieval.searchHybridRrf(spark, dir))
    }

    // round 8: tokenizer induction — one corpus-sized word-freq agg,
    // then every merge iteration runs over the VOCAB (types), so the
    // cost is K tiny shuffles after a single corpus read
    time(s"text_bpe_train (100k docs, ${ops.TextAnalysis.bpeTrainMerges} merges over the vocab)") {
      val m = ops.TextAnalysis.textBpeTrain(spark, dir).collect()
      assert(m.length == ops.TextAnalysis.bpeTrainMerges,
        s"learned ${m.length} of ${ops.TextAnalysis.bpeTrainMerges} merges")
    }
    // round 13: tokenizer APPLY — encoding runs over the vocabulary
    // (types), the corpus pays one explode + word join + per-doc agg;
    // token_freq then reuses the memoized encoded vocab and never
    // touches the corpus at all
    val encTokens = time(s"text_bpe_encode (100k docs, trained tokenizer applied per doc)") {
      ops.TextAnalysis.textBpeEncode(spark, dir)
        .agg(org.apache.spark.sql.functions.sum(col("n_tokens"))).collect()(0).getLong(0)
    }
    time("text_bpe_token_freq (vocabulary-sized, memoized encoded vocab)") {
      val top = ops.TextAnalysis.textBpeTokenFreq(spark, dir).collect()
      assert(top.nonEmpty && top.length <= ops.TextAnalysis.bpeTokenFreqTopK)
      val vocabMass = ops.TextAnalysis.bpeEncodedVocab(spark, dir)
        .selectExpr("sum(freq * size(split(w, ' ')))").collect()(0).getLong(0)
      assert(vocabMass == encTokens,
        s"vocabulary token mass $vocabMass != per-doc token mass $encTokens")
      say(f"  -> corpus tokens under the trained tokenizer: $encTokens%,d; " +
        s"top token '${top.head.getString(0)}' x ${top.head.getLong(1)}")
    }

    // round 8: the health reports a deployment schedules — one
    // aggregation of the assignment/bucket/posting table each
    time("ivf_index_health + lsh_index_health + text_index_health (250k vecs / 100k docs)") {
      val hv = ops.AnnIndex.ivfIndexHealth(spark, ivfIdxDir).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val hl = ops.AnnIndex.lshIndexHealth(spark, idxDir).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val ht = ops.TextAnalysis.textIndexHealth(spark, textIdxDir).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      say(f"  -> health: ivf skew ${hv("hot_list_skew")}%.2f over ${hv("n_lists")}%.0f lists; " +
        f"lsh bucket skew ${hl("hot_bucket_skew")}%.2f; " +
        f"text staleness ${ht("stats_staleness")}%.0f docs, max df share ${ht("max_df_share")}%.3f")
    }

    // curation-at-ingest replay: the 100k docs land as 10 files of 10k,
    // each micro-batch scrubs, scores, and dedups against the growing
    // index — the whole crawl-to-corpus hop, timed end to end
    val ingestRoot = s"$dir-ingest"
    // a RERUN against an existing corpus dir would otherwise find the
    // prior run's checkpoint (identical landing file names → stream
    // processes zero files over a just-emptied index) and a stale
    // append-only out dir — wipe the whole replay root first
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(); ()
    }
    rmTree(new java.io.File(ingestRoot))
    val nLand = 10
    time(s"ingest landing prep (100k docs -> $nLand files)") {
      val docs = graft.Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      (0 until nLand).foreach { b =>
        val d = s"$ingestRoot/stage_$b"
        docs.filter(pmod(col("doc_id"), lit(nLand)) === b)
          .coalesce(1).write.mode("overwrite").parquet(d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ingestRoot/landing"))
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$ingestRoot/landing/batch_$b.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          new java.io.File(s"$ingestRoot/landing/batch_$b.parquet")
            .setLastModified(1600000000000L + b * 60000L)
        }
      }
      ops.Dedup.ingestIndexInit(spark, s"$ingestRoot/index")
    }
    time(s"stream_ingest_curate (100k docs, $nLand micro-batches, scrub+quality+dedup)") {
      streaming.IngestDedup.streamIngestCurateToFiles(spark, s"$ingestRoot/landing",
        s"$ingestRoot/index", s"$ingestRoot/out", s"$ingestRoot/checkpoint")
    }
    val iv = spark.read.parquet(s"$ingestRoot/out")
      .groupBy(col("verdict")).agg(count(lit(1)).as("n")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    def dirMb(p: String): Double = {
      def sz(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(sz).sum else f.length()
      sz(new java.io.File(p)) / 1e6
    }
    say(f"  -> verdicts: $iv; index simhash ${dirMb(s"$ingestRoot/index/simhash")}%.1f MB, " +
      f"clean ${dirMb(s"$ingestRoot/index/clean")}%.1f MB")

    // ingest-time MANIFEST replay: same landing files, full capstone
    // decision per batch (exact+near dedup, bloom+exact contamination,
    // quality, split) against the growing manifest index
    val mroot = s"$dir-manifest-ingest"
    rmTree(new java.io.File(mroot))
    time("manifest ingest prep (landing + eval bloom/shingle index)") {
      val docs = graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") % ops.Curation.evalStride =!= 0)
        .select(col("doc_id"), col("text"))
      (0 until nLand).foreach { b =>
        val d = s"$mroot/stage_$b"
        docs.filter(pmod(col("doc_id"), lit(nLand)) === b)
          .coalesce(1).write.mode("overwrite").parquet(d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$mroot/landing"))
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$mroot/landing/batch_$b.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          new java.io.File(s"$mroot/landing/batch_$b.parquet")
            .setLastModified(1600000000000L + b * 60000L)
        }
      }
      ops.Dedup.ingestManifestIndexInit(spark, s"$mroot/index", dir)
    }
    // elapsed is captured INSIDE the bytesRead wrapper: its listener
    // drain sleeps 1 s after the body, which must not count against the
    // throughput figures (it biased the fpt=5 row ~10% low before)
    var mSecs1 = 0.0
    val mBytes1 = bytesRead {
      val mT0 = System.nanoTime()
      time(s"stream_ingest_manifest (98k docs, $nLand micro-batches, full decision)") {
        streaming.IngestDedup.streamIngestManifestToFiles(spark, s"$mroot/landing",
          s"$mroot/index", s"$mroot/out", s"$mroot/checkpoint")
      }
      mSecs1 = (System.nanoTime() - mT0) / 1e9
    }
    val mv = spark.read.parquet(s"$mroot/out")
      .groupBy(col("reason")).agg(count(lit(1)).as("n")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    say(s"  -> manifest-at-ingest reasons: $mv")

    // manifest TRIGGER KNEE (round 8, verdict #8): the same 10 landing
    // files replayed at 2 and 5 files per trigger — fewer, larger
    // micro-batches amortize the per-trigger fixed cost (planning, the
    // per-batch index probes, sink commit) at the price of coarser
    // retry granularity. Together with the fpt=1 row above this is the
    // manifest-path sibling of the round-6 curate knee table: docs/s
    // and total probe bytes per configuration.
    val mDocs = spark.read.parquet(s"$mroot/out").select(col("doc_id")).distinct().count()
    for (fpt <- Seq(2, 5)) {
      val kroot = s"$dir-manifest-knee-$fpt"
      rmTree(new java.io.File(kroot))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$kroot/landing"))
      // same landing layout: link the staged files from the main replay
      new java.io.File(s"$mroot/landing").listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$kroot/landing/${f.getName}"))
        new java.io.File(s"$kroot/landing/${f.getName}").setLastModified(f.lastModified())
      }
      ops.Dedup.ingestManifestIndexInit(spark, s"$kroot/index", dir)
      var secs = 0.0
      val kb = bytesRead {
        val t0 = System.nanoTime()
        time(s"stream_ingest_manifest fpt=$fpt (98k docs, ${nLand / fpt} triggers)") {
          streaming.IngestDedup.streamIngestManifestToFiles(spark, s"$kroot/landing",
            s"$kroot/index", s"$kroot/out", s"$kroot/checkpoint", filesPerTrigger = fpt)
        }
        secs = (System.nanoTime() - t0) / 1e9
      }
      say(f"  -> knee fpt=$fpt: ${mDocs / secs}%.0f docs/s, ${kb / 1e6}%.1f MB read " +
        f"(${kb / 1e6 / (nLand / fpt)}%.1f MB/trigger)")
    }
    say(f"  -> knee fpt=1 reference: ${mDocs / mSecs1}%.0f docs/s, ${mBytes1 / 1e6}%.1f MB read " +
      f"over $nLand triggers (${mBytes1 / 1e6 / nLand}%.1f MB/trigger)")

    // round 8: streaming LEXICAL-index ingest — seed the text index on
    // the first half of the corpus, stream the other half in as 5
    // files, then serve BM25 from the grown index. The fold tokenizes
    // only the landed batch; stats stay frozen at the seed until the
    // serve-side compaction catches them up.
    val troot = s"$dir-text-ingest"
    rmTree(new java.io.File(troot))
    val nDocsT = graft.Tables(spark, dir, "documents").count()
    time("text ingest prep (50k-doc seed index + 5 landing files)") {
      val docs2 = graft.Tables(spark, dir, "documents")
      docs2.filter(col("doc_id") < nDocsT / 2)
        .write.mode("overwrite").parquet(s"$troot/seed/documents.parquet")
      (0 until 5).foreach { b =>
        val d = s"$troot/stage_$b"
        docs2.filter(col("doc_id") >= nDocsT / 2)
          .filter(pmod(col("doc_id"), lit(5)) === b)
          .coalesce(1).write.mode("overwrite").parquet(d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$troot/landing"))
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$troot/landing/batch_$b.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          new java.io.File(s"$troot/landing/batch_$b.parquet")
            .setLastModified(1600000000000L + b * 60000L)
        }
      }
      ops.TextAnalysis.textIndexWrite(spark, s"$troot/seed", s"$troot/index")
    }
    val tT0 = System.nanoTime()
    time(s"stream_text_ingest (50k docs, 5 micro-batches, frozen stats)") {
      streaming.TextIngest.streamTextIngestToFiles(spark, s"$troot/landing",
        s"$troot/index", s"$troot/checkpoint")
    }
    val tIngestSecs = (System.nanoTime() - tT0) / 1e9
    val grownDocs = spark.read.parquet(s"$troot/index/doclen").count()
    time("text_bm25_served from the grown index (frozen seed stats)") {
      ops.TextAnalysis.textBm25Served(spark, s"$troot/index").collect()
    }
    time("text_index_compact (stats catch up, term-sorted row groups)") {
      ops.TextAnalysis.textIndexCompact(spark, s"$troot/index")
    }
    time("text_bm25_served after compact") {
      ops.TextAnalysis.textBm25Served(spark, s"$troot/index").collect()
    }
    val statsDocs = ops.TextAnalysis.corpusStats(
      ops.IndexMaintenance.snapshot(spark, s"$troot/index"))._1
    say(f"  -> grown lexical index: $grownDocs docs " +
      f"(${(nDocsT / 2) / math.max(0.1, tIngestSecs)}%.0f docs/s through the fold), " +
      s"post-compact stats n_docs=$statsDocs")
    assert(grownDocs >= nDocsT - 10, s"grown doclen covers $grownDocs of $nDocsT docs")
    assert(statsDocs == grownDocs, "compaction did not catch stats up to the grown corpus")

    // round 8: streaming EVAL-set ingest for the contamination index —
    // seed from half the eval slice, stream the other half in, then the
    // two-tier check over all 100k docs (map-only bloom screen + exact
    // confirm on the flagged slice)
    val droot2 = s"$dir-decontam-ingest"
    rmTree(new java.io.File(droot2))
    time("decontam ingest prep (eval seed index + 4 landing files)") {
      val eval = graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") % ops.Curation.evalStride === 0)
      // split on the eval ORDINAL (doc_id / stride), not doc_id: every
      // eval id is a multiple of the stride, so a doc_id modulus that
      // divides the stride would put EVERYTHING in one slice
      val ord = pmod((col("doc_id") / ops.Curation.evalStride).cast("long"), lit(5))
      eval.filter(ord === 0)
        .write.mode("overwrite").parquet(s"$droot2/seed/documents.parquet")
      ops.Curation.decontamBloomWrite(spark, s"$droot2/seed", s"$droot2/index")
      ops.Curation.decontamShingleWrite(spark, s"$droot2/seed", s"$droot2/index")
      (1 to 4).foreach { b =>
        val d = s"$droot2/stage_$b"
        eval.filter(ord === b)
          .coalesce(1).write.mode("overwrite").parquet(d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$droot2/landing"))
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$droot2/landing/batch_$b.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          new java.io.File(s"$droot2/landing/batch_$b.parquet")
            .setLastModified(1600000000000L + b * 60000L)
        }
      }
    }
    val seedEvalIds = spark.read.parquet(s"$droot2/index/eval_shingles")
      .select(col("eval_id")).distinct().count()
    time("stream_decontam_ingest (2k eval docs, 4 micro-batches)") {
      streaming.DecontamIngest.streamDecontamIngestToFiles(spark, s"$droot2/landing",
        s"$droot2/index", s"$droot2/checkpoint")
    }
    val grownEvalIds = spark.read.parquet(s"$droot2/index/eval_shingles")
      .select(col("eval_id")).distinct().count()
    assert(grownEvalIds > seedEvalIds * 3,
      s"streamed eval batches were empty: $seedEvalIds seed -> $grownEvalIds grown")
    val dverd = time("decontam two-tier serve from the grown index (100k docs)") {
      ops.Curation.decontamServeTwoTier(spark, s"$droot2/index", dir)
        .agg(count(lit(1)), sum(when(col("is_contaminated"), 1L).otherwise(0L))).head()
    }
    say(s"  -> grown eval index verdicts: ${dverd.getLong(0)} docs checked, " +
      s"${dverd.getLong(1)} flagged contaminated")

    // streaming ANN ingest: 250k vectors — seed index trained on the
    // first half, the other half lands as 10 files folded in batch by
    // batch with the frozen thresholds (cadence compaction mid-stream)
    val aroot = s"$dir-ann-ingest"
    rmTree(new java.io.File(aroot))
    time("ann ingest prep (125k-vector seed index + 10 landing files)") {
      val emb2 = graft.Tables(spark, dir, "embeddings")
      emb2.filter(col("vec_id") < nVec / 2)
        .write.mode("overwrite").parquet(s"$aroot/seed/embeddings.parquet")
      (0 until nLand).foreach { b =>
        val d = s"$aroot/stage_$b"
        emb2.filter(col("vec_id") >= nVec / 2)
          .filter(pmod(col("vec_id"), lit(nLand)) === b)
          .coalesce(1).write.mode("overwrite").parquet(d)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$aroot/landing"))
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$aroot/landing/batch_$b.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          new java.io.File(s"$aroot/landing/batch_$b.parquet")
            .setLastModified(1600000000000L + b * 60000L)
        }
      }
      ops.AnnIndex.lshIndexWrite(spark, s"$aroot/seed", s"$aroot/index")
    }
    time(s"stream_ann_ingest (125k vectors, $nLand micro-batches, frozen thresholds)") {
      streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$aroot/landing",
        s"$aroot/index", s"$aroot/checkpoint")
    }
    val grownIds = spark.read.parquet(s"$aroot/index/buckets")
      .select(col("vec_id")).distinct().count()
    say(s"  -> grown LSH index covers $grownIds of $nVec vectors " +
      s"(${graft.ops.IndexMaintenance.snapshot(spark, s"$aroot/index").filesOf("buckets").size} bucket files after cadence)")

    // round 8 (verdict #1): the fold must cost O(batch) however old the
    // stream is — land one LATE batch of fresh ids against the fully-
    // grown index and measure its bytes; then force a TRUE redelivery
    // (drop the checkpoint's last commit so the same batch id is
    // re-presented) and measure the marker-guarded skip. The round-7
    // guard anti-joined the standing index's distinct vec_ids per
    // trigger — O(index) bytes per batch, growing with stream age.
    val bucketsBytes = graft.ops.IndexMaintenance
      .snapshot(spark, s"$aroot/index").filesOf("buckets").map(_.size).sum
    val lateStage = s"$aroot/stage_late"
    graft.Tables(spark, dir, "embeddings").filter(col("vec_id") < nVec / 20)
      .select((col("vec_id") + nVec).as("vec_id"), col("embedding"), col("label"))
      .coalesce(1).write.mode("overwrite").parquet(lateStage)
    var lateFileBytes = 0L
    new java.io.File(lateStage).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      lateFileBytes = f.length()
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$aroot/landing/batch_late.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(s"$aroot/landing/batch_late.parquet")
        .setLastModified(1600000000000L + 99 * 60000L)
    }
    val lateBytes = bytesRead {
      time("ann ingest LATE batch fold (12.5k fresh vecs vs 250k index)") {
        streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$aroot/landing",
          s"$aroot/index", s"$aroot/checkpoint")
      }
    }
    val lastCommit = new java.io.File(s"$aroot/checkpoint/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
    lastCommit.delete()
    val redelBytes = bytesRead {
      time("ann ingest TRUE REDELIVERY (same batch id, marker skip)") {
        streaming.AnnIngest.streamAnnIngestToFiles(spark, s"$aroot/landing",
          s"$aroot/index", s"$aroot/checkpoint")
      }
    }
    val lateIds = spark.read.parquet(s"$aroot/index/buckets")
      .filter(col("vec_id") >= nVec).select(col("vec_id")).distinct().count()
    say(f"  -> late fold read ${lateBytes / 1e6}%.1f MB (landed file ${lateFileBytes / 1e6}%.1f MB, " +
      f"standing buckets ${bucketsBytes / 1e6}%.1f MB), folded $lateIds fresh ids; " +
      f"redelivery skip read ${redelBytes / 1e6}%.2f MB")
    assert(lateIds == nVec / 20, s"late batch did not fold: $lateIds ids")
    assert(lateBytes < bucketsBytes / 2,
      s"late batch fold read O(index): $lateBytes B vs $bucketsBytes B standing")
    assert(redelBytes < bucketsBytes / 10,
      s"redelivery skip read O(index): $redelBytes B")

    // retraction at scale: tombstone 10% of the grown index (25k
    // vectors), measure serve latency with the anti-join pending vs
    // after the compaction physically drops the rows — the takedown
    // path's read cost, quantified
    val delIds = (0L until nVec).filter(_ % 10 == 3)
    time("lsh_index_delete (25k tombstones)") {
      ops.AnnIndex.lshIndexDelete(spark, s"$aroot/index", delIds)
    }
    val queries10 = ops.Similarity.normed(spark, dir)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val servedDel = time("lsh_index_serve with 25k tombstones PENDING (2.5k queries)") {
      ops.AnnIndex.lshIndexServe(spark, s"$aroot/index", Seq(dir), queries10)
        .filter(col("cand_id") % 10 === 3).count()
    }
    time("lsh_index_compact (drops tombstoned rows)") {
      ops.AnnIndex.lshIndexCompact(spark, s"$aroot/index")
    }
    val servedPost = time("lsh_index_serve after compact (2.5k queries)") {
      ops.AnnIndex.lshIndexServe(spark, s"$aroot/index", Seq(dir), queries10)
        .filter(col("cand_id") % 10 === 3).count()
    }
    say(s"  -> tombstoned candidates served: pending=$servedDel post-compact=$servedPost (must both be 0)")
    assert(servedDel == 0 && servedPost == 0,
      s"retracted vectors served: pending=$servedDel post=$servedPost")

    // quantizer DRIFT (round 8, verdict #3): seed an IVF index on corpus
    // A, stream in a DRIFTED corpus B (every vector offset by a fixed
    // direction — a new domain entering the crawl), and measure the
    // index's health with the seed-frozen centroids vs after
    // ivfIndexRetrain. The frozen quantizer has no centroids near B's
    // region, so ALL of B crowds into the few lists nearest the offset
    // direction — at 100 TB that is the straggler/cost failure mode:
    // mega-lists turn every probing query into a near-linear scan of
    // the drifted half and pin Σ q·m work on single tasks. (For THIS
    // drift geometry recall survives — the probe ring pays the
    // mega-list scan and finds everything; what decays is cost and
    // balance, which is exactly what the skew/mass numbers quantify.
    // Ground truth is exhaustive: probe ALL lists, exact regardless of
    // centroid quality.)
    val droot = s"$dir-drift"
    rmTree(new java.io.File(droot))
    val nA = 100000L
    val nB = 100000L
    time("drift prep: corpus A (100k) + drifted corpus B (100k, offset)") {
      graft.Tables(spark, dir, "embeddings").filter(col("vec_id") < nA)
        .write.mode("overwrite").parquet(s"$droot/a/embeddings.parquet")
      val noiseB = (idc: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =>
        sin(idc * 12.9898 + d * 78.233) * lit(43758.5453) % 1.0
      spark.range(nB).select((col("id") + 10000000L).as("vec_id"),
        transform(sequence(lit(1), lit(64)), d =>
          (noiseB(col("id"), d) + sin(d.cast("double") * lit(0.7)) * lit(1.5)).cast("float"))
          .as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
        .repartition(16).write.mode("overwrite").parquet(s"$droot/b/embeddings.parquet")
    }
    val dIdx = s"$droot/ivf_index"
    time("drift: ivf_index_write on A (trained quantizer)") {
      ops.AnnIndex.ivfIndexWrite(spark, s"$droot/a", dIdx)
    }
    time("drift: append drifted B (frozen centroids)") {
      ops.AnnIndex.ivfIndexAppend(spark, s"$droot/b", dIdx)
    }
    val dq = ops.Similarity.normed(spark, s"$droot/b")
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    def driftServe(tag: String): Set[(Long, Long)] = time(s"drift: serve 1k B-queries, $tag") {
      topkPairs(ops.AnnIndex.ivfIndexServe(spark, dIdx,
        Seq(s"$droot/a", s"$droot/b"), dq))
    }
    def skewOf(): (Double, Double) = {
      val sizes = spark.read.parquet(s"$dIdx/lists")
        .groupBy(col("c_id")).count().select(col("count")).collect().map(_.getLong(0))
      val total = sizes.sum.toDouble
      (sizes.max / (total / sizes.length),
        sizes.sorted.reverse.take(5).sum / total) // top-5-list mass share
    }
    val kLists = spark.read.parquet(s"$dIdx/centroids").count().toInt
    val dTruth = time("drift: exhaustive ground truth (probe ALL lists)") {
      topkPairs(ops.AnnIndex.ivfIndexServe(spark, dIdx,
        Seq(s"$droot/a", s"$droot/b"), dq, probeOverride = Some(kLists)))
    }
    val dFrozen = driftServe("FROZEN seed quantizer")
    val (skewFrozen, massFrozen) = skewOf()
    time("drift: ivfIndexRetrain on A+B (train, rebuild lists, swap)") {
      ops.AnnIndex.ivfIndexRetrain(spark, dIdx, Seq(s"$droot/a", s"$droot/b"))
    }
    val dRetrained = driftServe("RETRAINED quantizer")
    val (skewRetrained, massRetrained) = skewOf()
    val recallFrozen = (dTruth intersect dFrozen).size.toDouble / dTruth.size
    val recallRetrained = (dTruth intersect dRetrained).size.toDouble / dTruth.size
    say(f"  -> drift: hot-list skew frozen $skewFrozen%.2f -> retrained $skewRetrained%.2f; " +
      f"top-5-list mass frozen ${massFrozen * 100}%.1f%% -> retrained ${massRetrained * 100}%.1f%%; " +
      f"recall@5 for B-queries frozen $recallFrozen%.3f -> retrained $recallRetrained%.3f " +
      f"(recall holds because the probe ring PAYS the mega-list scan; skew is the decay)")
    assert(recallRetrained >= recallFrozen - 0.02,
      f"retrain lost recall: $recallFrozen%.3f -> $recallRetrained%.3f")
    assert(skewRetrained < skewFrozen / 4,
      f"retrain did not restore list balance: skew $skewFrozen%.2f -> $skewRetrained%.2f")

    // the batch capstone: all five curation signals joined into the
    // per-doc manifest (cluster CTE + canon window + contamination join
    // + quality columns + split) — the full batch pipeline in one plan
    val mf = time("curate_manifest (100k docs, all signals composed)") {
      ops.Curation.curateManifest(spark, dir)
        .groupBy(col("reason")).agg(count(lit(1)).as("n")).collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    }
    say(s"  -> $mf")

    // 8. cluster + representative selection over the 100k-doc near-dup
    //    graph (keep-best adds quality scoring + per-cluster windows on
    //    top of the connected-components labels)
    val reps = time("dedup_keep_best (100k docs)") {
      ops.Dedup.dedupKeepBest(spark, dir).count()
    }
    say(s"  -> $reps cluster representatives")

    // 9. per-user daily gap-fill over a 5M-event / 10k-user / 90-day
    //    synthetic stream: spine rows = users x days (bounded by the
    //    observed range), NOT event count — the property that keeps the
    //    resample linear at any event volume
    if (!new java.io.File(s"$dir/events.parquet").exists())
      time("generate events (5M rows, 10k users, 90 days)")(generateEvents(spark, dir))
    val spine = time("ev_gap_fill (5M events -> daily spine)") {
      ops.Events.evGapFill(spark, dir).count()
    }
    say(s"  -> $spine spine rows (bound: 10k users x 90 days = 900k)")

    // 10. the round-5 curation scorers at 100k docs / ~8M tokens. The
    //     scale hazards differ per op: entropy and unigram-LM shuffle
    //     (doc, term) count rows (~7M here — bounded by tokens, not
    //     tokens², and map-side combined); the LM additionally joins the
    //     10k-word vocab back on term under a 5-stopword Zipf head (the
    //     skewed-key case the join has to survive); PII scrub must stay
    //     a pure scan-speed projection; boilerplate's df window keys on
    //     (source, gram) — partitions bounded by docs-per-source.
    val entStats = time("text_entropy (100k docs, ~8M tokens)") {
      ops.TextAnalysis.textEntropy(spark, dir)
        .agg(count(lit(1)), sum(when(
          col("entropy") < 0 || col("entropy") > log(col("n_uniq").cast("double")) + 1e-9 ||
            (col("n_uniq") > 1 && (col("efficiency") < 0 || col("efficiency") > 1.0 + 1e-9)),
          1L).otherwise(0L))).head()
    }
    say(s"  -> ${entStats.getLong(0)} docs scored, ${entStats.getLong(1)} out of [0, ln(n_uniq)] bounds")
    assert(entStats.getLong(0) == nDoc && entStats.getLong(1) == 0L)
    val lmStats = time("text_unigram_lm (100k docs, 10k-word vocab + Zipf head)") {
      ops.TextAnalysis.textUnigramLm(spark, dir)
        .agg(count(lit(1)), sum(when(
          col("xent_nats") <= 0 || col("xent_nats") > math.log(nDoc * 100.0), 1L)
          .otherwise(0L))).head()
    }
    say(s"  -> ${lmStats.getLong(0)} docs scored, ${lmStats.getLong(1)} outside (0, ln(corpus tokens)]")
    assert(lmStats.getLong(0) == nDoc && lmStats.getLong(1) == 0L)
    // exact shared-span dedup: the planted near-dups differ only at the
    // every-29th-word nudges, so copy+source pairs share most 8-word
    // spans (frac ~0.55-0.75 >> the 0.2 flag threshold) while chance
    // 8-gram collisions between unrelated docs are ~0 — expect exactly
    // source+copy = 2 x nDocDup flagged docs
    val spans = time("dedup_shared_spans (100k docs, reused-exchange hash join)") {
      ops.Dedup.dedupSharedSpans(spark, dir)
        .agg(count(lit(1)), sum(when(col("is_span_dup"), 1L).otherwise(0L))).head()
    }
    say(s"  -> ${spans.getLong(0)} docs, ${spans.getLong(1)} span-dup flagged (planted: ${2 * nDocDup})")
    assert(spans.getLong(0) == nDoc && spans.getLong(1) == 2 * nDocDup)
    // the REWRITE at 100k docs: every flagged doc must lose whole
    // span windows (>= spanShingleN words) and ONLY flagged docs may
    // lose anything — agreement with the profile above, at scale
    val rw = time("dedup_span_rewrite (100k docs, window df, fused scrub)") {
      ops.Dedup.dedupSpanRewrite(spark, dir)
        .agg(count(lit(1)),
          sum(when(col("n_removed") > 0, 1L).otherwise(0L)),
          sum(when(col("n_removed") > 0 && col("n_removed") < ops.Dedup.spanShingleN, 1L)
            .otherwise(0L))).head()
    }
    say(s"  -> ${rw.getLong(0)} docs rewritten, ${rw.getLong(1)} scrubbed (= flagged?), ${rw.getLong(2)} below a whole span")
    assert(rw.getLong(0) == nDoc && rw.getLong(1) == spans.getLong(1) && rw.getLong(2) == 0)
    time("text_pii_scrub (100k docs, projection only)")(noop(ops.TextAnalysis.textPiiScrub(spark, dir)))
    // decontamination both ways at 100k docs: the exact join shuffles
    // every corpus shingle; the bloom serve is a map-only scan against
    // the broadcast eval filter. Bloom has no false negatives, so its
    // flag count must dominate the exact one.
    val exactDecon = time("decontaminate_ngram (exact shingle join)") {
      ops.Curation.decontaminateNgram(spark, dir).filter(col("n_shared") > 0).count()
    }
    val bloomDecon = time("decontaminate_bloom_served (map-only bloom scan)") {
      ops.Curation.decontaminateBloomServed(spark, dir).filter(col("is_contaminated")).count()
    }
    say(s"  -> exact contaminated=$exactDecon, bloom flagged=$bloomDecon (one-sided: bloom >= exact)")
    assert(bloomDecon >= exactDecon)
    val cr = time("text_compress_ratio (100k docs, in-codegen deflate)") {
      ops.TextAnalysis.textCompressRatio(spark, dir)
        .agg(count(lit(1)), sum(when(col("is_repetitive") || col("is_junk"), 1L).otherwise(0L))).head()
    }
    say(s"  -> ${cr.getLong(0)} docs deflated, ${cr.getLong(1)} tail-flagged")
    assert(cr.getLong(0) == nDoc)
    val boiler = time("text_boilerplate (100k docs, (source, gram) df window)") {
      ops.TextAnalysis.textBoilerplate(spark, dir).count()
    }
    say(s"  -> $boiler docs profiled")
    assert(boiler == nDoc)

    // 10. CLUSTERED embedding geometry (round 9): the main corpus's
    //     pseudo-noise vectors are near-orthogonal — LSH hot-bucket
    //     skew 649 was measured against geometry real embeddings don't
    //     have. This family is a seeded mixture of 50 Gaussians with a
    //     linear cluster-size skew (the shape sentence embeddings of a
    //     topical corpus actually take), re-measuring recall, candidate
    //     mass, and index skew so the auto-tuned constants (lshBitsFor
    //     floor, IVF probe fraction) are validated on BOTH geometries.
    val cdir = s"$dir-clustered"
    if (!new java.io.File(s"$cdir/embeddings.parquet").exists())
      time("generate clustered corpus (mixture of 50 Gaussians, linear size skew)") {
        generateClustered(spark, cdir)
      }
    val (cExact, _) = timed("CLUSTERED sim_topk_bruteforce (ground truth, cold)") {
      topkPairs(ops.Similarity.simTopkBruteforce(spark, cdir))
    }
    val (_, cExactSec) = timed("CLUSTERED sim_topk_bruteforce (steady-state)") {
      noop(ops.Similarity.simTopkBruteforce(spark, cdir))
    }
    val cLshAuto = time("CLUSTERED sim_lsh_ann_auto") {
      topkPairs(ops.Similarity.simLshAnnAuto(spark, cdir))
    }
    // trained runs FIRST so the one-time k-means cost lands on its row
    // (the memo shares it), as in the main-corpus section — round 9
    // timed auto first and its row carried the training
    val cIvfTrained = time("CLUSTERED sim_ivf_topk_trained (k-means on clustered)") {
      topkPairs(ops.Similarity.simIvfTopkTrained(spark, cdir))
    }
    val (cIvfAuto, _) = timed("CLUSTERED sim_ivf_topk_auto (mass probes, build+serve)") {
      topkPairs(ops.Similarity.simIvfTopkAuto(spark, cdir))
    }
    // steady-state serve: the built lists are memoized (build once,
    // serve many — the IVF deployment shape); this is the row the
    // beats-brute-force assertion grades
    val (_, cIvfAutoSec) = timed("CLUSTERED sim_ivf_topk_auto (steady-state serve)") {
      noop(ops.Similarity.simIvfTopkAuto(spark, cdir))
    }
    def cRecall(got: Set[(Long, Long)]): Double =
      (cExact intersect got).size.toDouble / cExact.size
    say(f"  recall@5 CLUSTERED: lsh auto ${cRecall(cLshAuto)}%.3f, " +
      f"ivf auto ${cRecall(cIvfAuto)}%.3f, ivf trained ${cRecall(cIvfTrained)}%.3f")
    // index skew + candidate mass on the clustered family, via the same
    // health reports a deployment schedules
    val cLshIdx = s"$cdir/lsh_index"
    val cIvfIdx = s"$cdir/ivf_index"
    time("CLUSTERED lsh_index_write + ivf_index_write") {
      ops.AnnIndex.lshIndexWrite(spark, cdir, cLshIdx,
        ops.Similarity.lshTables, ops.Similarity.lshBitsFor(nVec.toDouble))
      ops.AnnIndex.ivfIndexWrite(spark, cdir, cIvfIdx)
    }
    val chl = ops.AnnIndex.lshIndexHealth(spark, cLshIdx).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val chv = ops.AnnIndex.ivfIndexHealth(spark, cIvfIdx).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // banded-join candidate mass: sum nb*(nb-1)/2 over buckets as a
    // fraction of all pairs — the all-pairs-collapse alarm
    val cCandFrac = {
      val pairs = spark.read.parquet(s"$cLshIdx/buckets")
        .groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("nb"))
        .agg(sum(col("nb") * (col("nb") - 1) / 2)).head().getDouble(0)
      pairs / (nVec.toDouble * (nVec - 1) / 2)
    }
    say(f"  CLUSTERED index shape: lsh hot_bucket_skew ${chl("hot_bucket_skew")}%.2f, " +
      f"candidate mass ${cCandFrac * 100}%.3f%% of all pairs; " +
      f"ivf hot_list_skew ${chv("hot_list_skew")}%.2f over ${chv("n_lists")}%.0f lists")
    // SemDeDup keep decisions on clustered geometry (stride + trained)
    val cSem = time("CLUSTERED dedup_semantic (SemDeDup keep decision)") {
      val r = ops.Dedup.dedupSemantic(spark, cdir)
        .agg(count(lit(1)), sum(lit(1L) - col("kept"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val cSemT = time("CLUSTERED dedup_semantic_trained") {
      val r = ops.Dedup.dedupSemanticTrained(spark, cdir)
        .agg(count(lit(1)), sum(lit(1L) - col("kept"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    say(s"  CLUSTERED semdedup: stride dropped ${cSem._2}/${cSem._1}, " +
      s"trained dropped ${cSemT._2}/${cSemT._1} (planted dups: $nVecDup)")
    // round-10 τ calibration: the drop-rate-vs-τ curve per geometry
    // (the PLANS.md table), plus the budgeted percentile form. The
    // clustered-sane default must catch the planted near-dups without
    // flushing the clusters (the round-9 product-breaking finding).
    time("SemDeDup tau sweep (clustered)")(semSweep(spark, cdir, "clustered"))
    time("SemDeDup tau sweep (near-orthogonal)")(semSweep(spark, dir, "near-orth"))
    val cal = ops.Dedup.dedupSemantic(spark, cdir, ops.Dedup.semanticTauClustered)
      .agg(sum(lit(1L) - col("kept")),
        sum(when(col("vec_id") >= lit(nVec - nVecDup), lit(1L) - col("kept"))
          .otherwise(lit(0L)))).collect()(0)
    val calRecall = cal.getLong(1).toDouble / nVecDup
    val calFalse = (cal.getLong(0) - cal.getLong(1)).toDouble / (nVec - nVecDup)
    say(f"  CLUSTERED semdedup at tauClustered=${ops.Dedup.semanticTauClustered}: " +
      f"dropped=${cal.getLong(0)} recall=$calRecall%.3f false-drop=$calFalse%.4f")
    assert(calRecall >= 0.9 && calFalse <= 0.01,
      f"clustered tau default mis-calibrated: recall=$calRecall%.3f false-drop=$calFalse%.4f")
    // at 250k the budget K = 2,500 > semanticHeadTakeOrderedMax, so this
    // exercises the distributed rank-threshold head (round 12): the plan
    // must contain NO global TakeOrdered/limit merge point — the round-10/11
    // scale-killer was K corpus rows through one TakeOrdered task.
    val pcDf = time("CLUSTERED dedup_semantic_pctl (rank-threshold head, 250k)") {
      ops.Dedup.dedupSemanticPercentile(spark, cdir)
    }
    val pcPlan = pcDf.queryExecution.sparkPlan.toString
    assert(!pcPlan.contains("TakeOrderedAndProject") && !pcPlan.contains("GlobalLimit"),
      "250k percentile head regressed to a single-point global sort/limit")
    val pc = pcDf
      .agg(sum(lit(1L) - col("kept")),
        sum(when(col("vec_id") >= lit(nVec - nVecDup), lit(1L) - col("kept"))
          .otherwise(lit(0L)))).collect()(0)
    say(f"  CLUSTERED semdedup PCTL(${ops.Dedup.semanticDropFrac}): " +
      f"dropped=${pc.getLong(0)} recall=${pc.getLong(1).toDouble / nVecDup}%.3f " +
      "(rank-threshold head, no TakeOrdered in plan)")
    assert(pc.getLong(0) == math.floor(ops.Dedup.semanticDropFrac * nVec).toLong &&
      pc.getLong(1).toDouble / nVecDup >= 0.9,
      "percentile semdedup missed its budget or the planted dups on clustered geometry")
    // the auto-tuned constants must hold on BOTH geometries: loose
    // floors here — the PLANS.md table carries the exact numbers
    assert(cRecall(cLshAuto) > 0.5 && cRecall(cIvfAuto) > 0.5,
      "auto-tuned ANN collapsed on clustered geometry — re-derive the constants")
    // round-10 probe policy: auto-IVF must BEAT brute force on the
    // clustered corpus (round 9 measured it 10x SLOWER under
    // list-count probing) at recall >= 0.9
    say(f"  CLUSTERED ivf auto (mass-budgeted probes): ${cIvfAutoSec}%.1f s " +
      f"vs brute ${cExactSec}%.1f s, recall ${cRecall(cIvfAuto)}%.3f")
    assert(cIvfAutoSec < cExactSec && cRecall(cIvfAuto) >= 0.9,
      f"mass-budgeted auto-IVF lost to brute force (${cIvfAutoSec}%.1f s vs " +
      f"${cExactSec}%.1f s) or recall ${cRecall(cIvfAuto)}%.3f < 0.9 on clustered geometry")

    say("done")
    spark.stop()
  }

  /** Drop-rate-vs-τ sweep + the budgeted percentile form over one
    * corpus family — the PLANS.md calibration table's source. Each row:
    * total dropped, planted-dup recall (the last nVecDup ids duplicate
    * id−nVecDup at ~0.999 cosine), false-drop rate over the non-planted
    * rest. */
  private def semSweep(spark: SparkSession, d: String, tag: String): Unit = {
    Seq(0.45, 0.6, 0.8, 0.9, 0.95, 0.99).foreach { tau =>
      val r = ops.Dedup.dedupSemantic(spark, d, tau)
        .agg(sum(lit(1L) - col("kept")),
          sum(when(col("vec_id") >= lit(nVec - nVecDup), lit(1L) - col("kept"))
            .otherwise(lit(0L)))).collect()(0)
      val dropped = r.getLong(0); val planted = r.getLong(1)
      say(f"  SEMSWEEP $tag tau=$tau%.2f dropped=$dropped%7d (${dropped * 100.0 / nVec}%5.1f%%) " +
        f"planted-recall=${planted.toDouble / nVecDup}%.3f " +
        f"false-drop=${(dropped - planted).toDouble / (nVec - nVecDup)}%.4f")
    }
    val p = ops.Dedup.dedupSemanticPercentile(spark, d)
      .agg(sum(lit(1L) - col("kept")),
        sum(when(col("vec_id") >= lit(nVec - nVecDup), lit(1L) - col("kept"))
          .otherwise(lit(0L)))).collect()(0)
    say(f"  SEMSWEEP $tag PCTL(${ops.Dedup.semanticDropFrac}) dropped=${p.getLong(0)} " +
      f"planted-recall=${p.getLong(1).toDouble / nVecDup}%.3f")
  }

  /** Seeded mixture-of-Gaussians embedding corpus: 50 centers from the
    * same pseudo-noise hash, linear cluster-size skew (c = floor(sqrt
    * (h)) over h uniform in [0, C²) makes P(c) ∝ 2c+1 — sizes span
    * ~1:100), within-cluster spread 0.35 per dim (≈0.8 within-cluster
    * cosine — topical-corpus shape), planted near-dups as in the main
    * family. Deterministic: every coordinate is a pure function of
    * (vec_id, dim). */
  def generateClustered(s: SparkSession, dir: String): Unit = {
    val noise = (idc: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =>
      sin(idc * 12.9898 + d * 78.233) * lit(43758.5453) % 1.0
    val nClusters = 50
    val emb = s.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)), d => {
        val src = when(col("id") >= nVec - nVecDup, col("id") - nVecDup).otherwise(col("id"))
        val c = floor(sqrt(pmod(hash(src), lit(nClusters * nClusters)).cast("double"))).cast("long")
        (noise(c * 7919L + 13L, d) + noise(src + 31337L, d) * lit(0.35) +
          when(col("id") >= nVec - nVecDup, noise(col("id"), d) * 0.02).otherwise(lit(0.0)))
          .cast("float")
      }).as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))
    emb.repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Synthetic event stream in the driver testdata's physical layout
    * (int64 nano `ts`, read through `Tables`' conversion). Each user
    * gets ~500 events scattered over a hash-dependent subset of the 90
    * days, so the daily spine has real gaps to fill. */
  def generateEvents(s: SparkSession, dir: String): Unit = {
    val day0Nanos = 1704067200L * 1000000000L // 2024-01-01 UTC
    s.range(5000000L).select(
      col("id").as("event_id"),
      (lit(day0Nanos) +
        (pmod(hash(col("id") * 7L), lit(90L)) * 86400L + pmod(hash(col("id") + 13L), lit(86400L)))
          * 1000000000L).as("ts"),
      pmod(col("id"), lit(10000L)).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error")),
        (pmod(col("id"), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(hash(col("id")), lit(10000L)).cast("double") / 100.0).as("value"),
      lit("{}").as("props"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
