package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns

/** Dataset-curation operators — the selection/mixing/decontamination
  * steps between a raw crawl and a training set. The reference harness
  * has no notion of these (it runs arbitrary user programs); they are
  * north-star surface like Dedup/Similarity, designed so every decision
  * is DETERMINISTIC (hash-based, not RNG-based) and therefore both
  * reproducible at 100 TB and DuckDB-oracle-checkable at test scale:
  *
  *  - stratified sampling: per-language keep-rates out of 100, decided
  *    by an md5-derived bucket of the doc_id — stable under reruns,
  *    partition layout, and cluster size, unlike `DataFrame.sample`;
  *  - token-budget curation: greedy per-source prefix in doc_id order
  *    until each source's token budget is spent — the "N tokens per
  *    source" recipe step, one window per source, no driver loop;
  *  - n-gram decontamination: flag training docs sharing any 8-token
  *    shingle with a held-out eval set — an equi-join on 60-bit shingle
  *    hashes (never an all-pairs scan), returning a per-doc overlap
  *    count so thresholds stay a downstream policy choice.
  *
  * The per-language rates and budgets below are Scala constants and the
  * oracle SQL is generated from the SAME constants — the two engines
  * cannot silently drift.
  */
object Curation {

  /** Keep-rate percent per language (pretraining mix weights); languages
    * absent from the map fall back to [[sampleDefaultRate]]. */
  val sampleRates: Seq[(String, Int)] = Seq("en" -> 60, "de" -> 40, "fr" -> 40, "es" -> 30)
  val sampleDefaultRate = 20

  /** Deterministic bucket in [0, 100) from the decimal string of the id —
    * md5-based so DuckDB computes the identical value. */
  private def hashBucket(c: Column): Column =
    pmod(TextFns.md5Int(c.cast("string")), lit(100L))

  private def rateCol: Column =
    sampleRates.foldRight(lit(sampleDefaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }

  /** Deterministic stratified sample: keep doc iff its hash bucket falls
    * under its language's rate. Shuffle-free (pure filter — the scan
    * prunes to 3 columns) and exactly reproducible on any cluster. */
  def curateSampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("bucket", hashBucket(col("doc_id")))
      .filter(col("bucket") < rateCol)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Token budget per source for the greedy prefix curation. Small on
    * purpose: at every scale factor some sources exceed it, so the
    * operator's cut-off behavior is actually exercised. */
  val tokenBudgetPerSource = 500L

  /** Bucket width for the two-level running sum (doc_ids per bucket). */
  val budgetBucketWidth = 256L

  /** Two-level per-source running token sum — the distributed prefix
    * scan shared by the token-budget and sequence-packing operators.
    * A single running-sum window per source would sort an entire source
    * inside ONE window task — the single-task-per-group trap. Instead:
    * (1) parallel per-(source, doc_id-bucket) token sums, (2) a running
    * total over the tiny bucket table, (3) intra-bucket running sums in
    * windows bounded by the bucket width, offset by the bucket totals.
    * Deeper hierarchies repeat step 2 on the bucket table if it ever
    * gets large. Results are identical to the direct window, row for
    * row. Returns (doc_id, source, n_tokens, cum_tokens) with
    * cum_tokens INCLUSIVE of the current doc. */
  private def cumTokensBySource(s: SparkSession, dir: String): DataFrame =
    cumBySource(Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens")))

  /** The scan itself, over any `(doc_id, source, n_tokens)` frame —
    * shared by the whitespace-counted operators above and the
    * BPE-counted packing twin. */
  private def cumBySource(base0: DataFrame): DataFrame = {
    val base = base0
      .withColumn("bkt", expr(s"doc_id div $budgetBucketWidth"))
    val wb = Window.partitionBy(col("source")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = base
      .groupBy(col("source"), col("bkt")).agg(sum(col("n_tokens")).as("bkt_tokens"))
      .withColumn("bkt_before", coalesce(sum(col("bkt_tokens")).over(wb), lit(0L)))
      .select(col("source"), col("bkt"), col("bkt_before"))
    val wi = Window.partitionBy(col("source"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(bucketOffsets, Seq("source", "bkt"))
      .withColumn("cum_tokens", col("bkt_before") + sum(col("n_tokens")).over(wi))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Greedy per-source curation: take docs in doc_id order while the
    * tokens consumed BEFORE the doc are within budget (so the first doc
    * of a source is always taken and the budget may be exceeded at most
    * once — the standard greedy-fill contract). Prefix sums via
    * [[cumTokensBySource]], never a single-task-per-source window. */
  def curateTokenBudget(s: SparkSession, dir: String): DataFrame =
    cumTokensBySource(s, dir)
      .filter(col("cum_tokens") - col("n_tokens") < tokenBudgetPerSource)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))

  /** Sequence packing under the TRAINED tokenizer — the packing twin
    * that consumes REAL token lengths ([[TextAnalysis.bpeDocCounts]],
    * the encode of the corpus-trained BPE merge table) instead of
    * whitespace counts. Whitespace counts mis-state a real tokenizer's
    * sequence lengths doc-by-doc (a long word is several BPE symbols;
    * a merged bigram is one), so bins packed on them overflow or
    * underfill the trainer's actual context windows — this is the form
    * a production pipeline feeds the data loader. Same two-level
    * prefix scan (never a single-task-per-source window), same output
    * contract as [[curatePackSequences]]; the encode side adds one
    * vocabulary-sized apply + a word join, both shared (memoized) with
    * the other BPE queries. */
  def curatePackBpe(s: SparkSession, dir: String): DataFrame =
    cumBySource(TextAnalysis.bpeDocCounts(s, dir)
      .select(col("doc_id"), col("source"), col("n_tokens")))
      .withColumn("start_off", col("cum_tokens") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_off div $packSeqLen").as("bin_id"),
        (col("start_off") % packSeqLen).as("bin_off"))
      .orderBy(col("doc_id"))

  /** Training sequence length (tokens) for greedy concat packing. */
  val packSeqLen = 128L

  /** Sequence packing: concatenate each source's docs in doc_id order
    * into fixed-`packSeqLen`-token training sequences, GPT-style — each
    * doc is assigned the bin its FIRST token lands in plus its offset
    * within that bin (docs may straddle bins; the trainer's crossing
    * policy — split or mask — is downstream of this assignment, which
    * is why the operator emits offsets rather than cutting text).
    * Same two-level prefix scan as the budget operator: linear, no
    * single-task windows, deterministic on any cluster. */
  def curatePackSequences(s: SparkSession, dir: String): DataFrame =
    cumTokensBySource(s, dir)
      .withColumn("start_off", col("cum_tokens") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_off div $packSeqLen").as("bin_id"),
        (col("start_off") % packSeqLen).as("bin_off"))
      .orderBy(col("doc_id"))

  /** Epoch multiplier per source, in percent (300 = 3.0 epochs): the
    * "repeat high-quality sources, downweight the rest" mixing recipe.
    * Fractional epochs take a deterministic hash-sampled subset. */
  val mixEpochsPct: Seq[(String, Int)] = Seq("src0" -> 300, "src1" -> 250, "src2" -> 150)
  val mixDefaultEpochsPct = 100

  private def epochsPctCol: Column =
    mixEpochsPct.foldRight(lit(mixDefaultEpochsPct): Column) {
      case ((src, p), acc) => when(col("source") === src, lit(p)).otherwise(acc)
    }

  /** Source-mixture epoch expansion: emit each doc once per training
    * epoch its source earns — `floor(epochs)` full copies plus, for a
    * fractional remainder f, one more copy for a deterministic f-fraction
    * of docs (md5 bucket salted with the epoch index, so the fractional
    * subset is stable under reruns and cluster layout, unlike
    * rand()-based upsampling). Pure generate + filter: linear, no
    * shuffle, exactly the shape that survives a 100 TB corpus. */
  def curateMixEpochs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("pct", epochsPctCol)
      .withColumn("epoch",
        explode(sequence(lit(1L), expr("(pct + 99) div 100").cast("long"))))
      .filter(col("epoch") * 100 <= col("pct") ||
        hashBucket(concat(col("doc_id").cast("string"), lit(":"), col("epoch").cast("string")))
          < col("pct") % 100)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  /** Decontamination shingle width: 8 contiguous tokens, the common
    * "8-gram overlap with the benchmark" rule. */
  val contamShingleN = 8

  /** Every `evalStride`-th doc stands in for the held-out benchmark set
    * (deterministic, so the oracle can reproduce the split). */
  val evalStride = 50

  /** Per-training-doc eval-set overlap: number of distinct 8-token
    * shingles shared with ANY eval doc, plus the smallest contaminated
    * eval partner (null for clean docs). Equi-join on 60-bit shingle
    * hashes — cost is bounded by true overlap, never all-pairs; the
    * eval side is a vanishing fraction but still shuffle-joined (at
    * 100 TB even the eval shingle table exceeds broadcast budgets). */
  def decontaminateNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val sh = docs.select(col("doc_id"),
      explode(graft.plans.VectorFunctions.word_shingle_hashes(col("text"), contamShingleN)).as("h"))
    val evalSh = sh.filter(col("doc_id") % evalStride === 0)
      .select(col("doc_id").as("eval_id"), col("h"))
    val hits = sh.filter(col("doc_id") % evalStride =!= 0)
      .join(evalSh, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"), min(col("eval_id")).as("first_eval"))
    docs.filter(col("doc_id") % evalStride =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"), col("first_eval"))
      .orderBy(col("doc_id"))
  }

  /** Eval-exposure REPORT — the reverse view of [[decontaminateNgram]]:
    * per EVAL document, how exposed is it in the train corpus? Every
    * eval doc gets a row: the number of distinct train docs sharing at
    * least one [[contamShingleN]]-gram with it, the count of its
    * distinct shingles that leak, and the single worst offender's
    * overlap — the audit card a benchmark owner reads before trusting
    * a score (a benchmark 80% of whose shingles appear in training is
    * compromised even if every individual train doc was dropped as
    * "contaminated"). Same shingle equi-join as the forward pass —
    * one shuffle of narrow hash rows; per-eval aggregation is bounded
    * by the eval set, which is benchmark-sized by construction. */
  def decontaminateReport(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables(s, dir, "documents").select(col("doc_id"),
      explode(graft.plans.VectorFunctions.word_shingle_hashes(col("text"), contamShingleN)).as("h"))
    val evalSh = sh.filter(col("doc_id") % evalStride === 0)
      .select(col("doc_id").as("eval_id"), col("h"))
    // one definition of the train⋈eval shingle join feeds both
    // aggregations — the two branches' join subtrees are identical by
    // construction, so ReuseExchange collapses their corpus-sized
    // input shuffles to one execution (and a future edit cannot drift
    // the two joins apart)
    val joined = sh.filter(col("doc_id") % evalStride =!= 0)
      .join(evalSh, "h")
    val pairMax = joined
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(countDistinct(col("h")).as("pair_shared"))
      .groupBy(col("eval_id")).agg(max(col("pair_shared")).as("max_overlap"))
    val per = joined
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_train_docs"),
        countDistinct(col("h")).as("n_leaked_shingles"))
      .join(pairMax, "eval_id")
    Tables(s, dir, "documents")
      .filter(col("doc_id") % evalStride === 0)
      .select(col("doc_id").as("eval_id"))
      .join(per, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_leaked_shingles"), lit(0L)).as("n_leaked_shingles"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"))
      .orderBy(col("eval_id"))
  }

  /** False-positive rate the eval-shingle Bloom filter is sized for. A
    * doc-level flag fires on ANY of its ~tens of shingles hitting, so
    * the doc-level FP rate amplifies ≈ spans·fpp — 1e-4 keeps it well
    * under 1% at typical span counts. */
  val contamBloomFpp = 1e-4

  /** PERSIST the contamination index over `evalDir`'s eval slice as ONE
    * commit of two tables:
    *  - `bloom`, the SCREEN: one row carrying the serialized filter plus
    *    the sizing it was built with (append needs the identical
    *    geometry to OR-merge);
    *  - `eval_shingles`, the EXACT side: the eval slice's shingle
    *    hashes WITH their eval doc ids. The bloom screens every doc
    *    map-only (no false negatives), and only the tiny flagged slice
    *    equi-joins this table to confirm and count true shared
    *    shingles, which is what makes the served n_shared bit-identical
    *    to the exact [[decontaminateNgram]] join (and hence
    *    DuckDB-oracle-able — bloom false positives never reach the
    *    output). The doc attribution is what makes RETRACTION possible:
    *    an eval benchmark retired from the contamination set deletes by
    *    eval_id ([[decontamIndexDelete]]), which the bloom alone could
    *    never honor (bits cannot be unset).
    * Both tables are eval-sized by construction; the corpus is never
    * read. One commit means a crash leaves either no index or a whole
    * one, never a screen without its confirm side. */
  def decontamIndexWrite(s: SparkSession, evalDir: String, indexDir: String): Unit = {
    val rows = Tables(s, evalDir, "documents")
      .filter(col("doc_id") % evalStride === 0)
      .select(col("doc_id").as("eval_id"),
        explode(graft.plans.VectorFunctions.word_shingle_hashes(
          col("text"), contamShingleN)).as("h"))
      .distinct()
    val (bloom, props) = freshBloom(s, rows.select(col("h")).distinct())
    IndexMaintenance.replace(s, indexDir, Seq("bloom" -> bloom, "eval_shingles" -> rows), props)
  }

  /** A bloom built fresh over the distinct hashes `h`, as the `bloom`
    * table row plus its capacity props. Sized with 2× headroom so an
    * append's cumulative-capacity accounting starts from the ACTUAL
    * item count, not at 100% of an exactly-sized filter (total_items
    * records the inserts, not the sized capacity). An empty `h` is
    * legal (every eval doc shorter than a shingle, or retracted):
    * `stat.bloomFilter` fails on an empty frame, and an explicit empty
    * filter screens nothing, which is exactly right. */
  private def freshBloom(s: SparkSession, h: DataFrame): (DataFrame, Map[String, String]) = {
    val cnt = h.count()
    val n = math.max(1024L, cnt * 2)
    val bloom =
      if (cnt == 0L) org.apache.spark.util.sketch.BloomFilter.create(n, contamBloomFpp)
      else h.stat.bloomFilter("h", n, contamBloomFpp)
    (bloomRow(s, bloom, n, contamBloomFpp, cnt), bloomProps(n, cnt))
  }

  /** The persisted bloom: one row carrying the serialized filter plus
    * the sizing it was built with (append needs the identical geometry
    * to OR-merge). */
  private def bloomRow(s: SparkSession, bloom: org.apache.spark.util.sketch.BloomFilter,
      nItems: Long, fpp: Double, totalItems: Long): DataFrame = {
    import s.implicits._
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    Seq((bos.toByteArray, nItems, fpp, totalItems))
      .toDF("bloom", "n_items", "fpp", "total_items").coalesce(1)
  }

  /** The bloom's capacity counters, committed with every bloom rewrite
    * so the saturation alarm reads them from the log, not the row. */
  private def bloomProps(nItems: Long, totalItems: Long): Map[String, String] =
    Map("bloom.n_items" -> nItems.toString, "bloom.total_items" -> totalItems.toString)

  /** The contamination index over `dir`'s own eval slice, written once
    * per (JVM, corpus) as a standing [[Artifacts]] temp dir — the
    * registered serve's artifact, like [[TextAnalysis.textIndexFor]]. */
  private[graft] def decontamIndexFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"decontam-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-decontam-index").toString
      decontamIndexWrite(s, dir, d)
      d
    }

  /** The eval shingle table with pending retractions filtered — the
    * read the exact confirm tier uses, so a retracted eval doc stops
    * flagging train docs IMMEDIATELY (the bloom may still screen a doc
    * in on the retracted shingles' stale bits, but the exact tier
    * refuses to confirm — one-sided error absorbs staleness). */
  private[graft] def evalShingleIndex(s: SparkSession, indexDir: String): DataFrame =
    IndexMaintenance.scan(s, indexDir, "eval_shingles", "eval_id")

  /** Retract eval documents from the contamination index (a retired or
    * re-licensed benchmark): tombstone by eval_id — exact-tier-correct
    * immediately, physically dropped and BLOOM-REBUILT at the next
    * [[decontamIndexCompact]]. Idempotent. */
  def decontamIndexDelete(s: SparkSession, indexDir: String, evalIds: Seq[Long]): Unit =
    IndexMaintenance.delete(s, indexDir, Seq("eval_shingles"), evalIds)

  /** Compact the contamination index: physically drop retracted eval
    * rows and REBUILD the bloom from the surviving shingles, both in one
    * commit — the only way to honor a delete in a bloom (bits cannot be
    * unset), so compaction is where the screen tier catches up with the
    * exact tier. Re-sized to the surviving distinct-hash count at the
    * original fpp, so the rebuilt filter's FP budget is fresh. */
  def decontamIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    var before = 0
    val after = IndexMaintenance.transact(s, indexDir) { snap =>
      before = snap.filesOf("eval_shingles").size
      val (bloom, props) = freshBloom(s,
        snap.scan(s, "eval_shingles", "eval_id").select(col("h")).distinct())
      IndexMaintenance.Change(replace = Seq(
        "eval_shingles" -> IndexMaintenance.rewrite(s, snap, "eval_shingles",
          Seq("eval_id", "h"), Some("eval_id")),
        "bloom" -> bloom), props = props)
    }
    (before, after.map(_.filesOf("eval_shingles").size).getOrElse(0))
  }

  /** Deserialize a persisted bloom row. */
  private def bloomOf(meta: org.apache.spark.sql.Row): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(meta.getAs[Array[Byte]]("bloom")))

  /** The persisted bloom (shared by the two-tier serve and the
    * ingest-time manifest probe). */
  private[graft] def loadBloom(s: SparkSession, indexDir: String): org.apache.spark.util.sketch.BloomFilter =
    bloomOf(IndexMaintenance.read(s, indexDir, "bloom").head())

  /** Fold a landed EVAL-document batch into the contamination index —
    * the streaming-ingest form of [[decontamIndexWrite]] (a benchmark
    * suite updates over time; its new eval docs must start guarding
    * admission without an index rebuild). The batch's shingle rows
    * append to the exact tier (retraction-capable); its hashes OR-merge
    * into the screen bloom at the index's RECORDED geometry (same
    * expectedNumItems/fpp ⇒ same bit count and hash count —
    * `mergeInPlace`'s compatibility requirement — so merging equals
    * having built from the union); both commit with the batch mark, so
    * a retry lands nothing. The batch pays only ITS OWN distinct-hash
    * count: hashes already standing count again, an ADVISORY
    * over-estimate reconciled exactly at the compaction's rebuild (a
    * per-batch exact recount of the standing table would be O(index)
    * per trigger). OR-merging beyond the geometry's n_items silently
    * lifts the actual FP rate above the recorded fpp, so the
    * cumulative count is tracked and an overrun warns. */
  def decontamIndexAppendBatch(s: SparkSession, batch: DataFrame, indexDir: String,
      mark: Option[(String, Long)] = None): Unit =
    IndexMaintenance.transact(s, indexDir, mark) { snap =>
      val rows = batch
        .select(col("doc_id").as("eval_id"),
          explode(graft.plans.VectorFunctions.word_shingle_hashes(
            col("text"), contamShingleN)).as("h"))
        .distinct()
      val batchH = rows.select(col("h")).distinct()
      val batchN = batchH.count()
      val meta = snap.read(s, "bloom").head()
      val bloom = bloomOf(meta)
      val n = meta.getAs[Long]("n_items")
      val fpp = meta.getAs[Double]("fpp")
      val priorTotal = if (meta.schema.fieldNames.contains("total_items"))
        meta.getAs[Long]("total_items") else n
      // empty-shingle batches are legal (all-short docs); stat.bloomFilter
      // fails on an empty frame, and an empty merge is a no-op anyway
      if (batchN > 0) bloom.mergeInPlace(batchH.stat.bloomFilter("h", n, fpp))
      val total = priorTotal + batchN
      if (total > n)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"decontamIndexAppendBatch: cumulative $total items exceed the sized capacity $n " +
          s"at $indexDir — actual FP rate now exceeds fpp=$fpp (the exact-confirm tier " +
          "absorbs the extra false positives; rebuild via decontamIndexCompact)")
      IndexMaintenance.Change(replace = Seq("bloom" -> bloomRow(s, bloom, n, fpp, total)),
        append = Seq("eval_shingles" -> rows), props = bloomProps(n, total))
    }

  /** Two-tier contamination check served from a PERSISTED index over
    * `dir`'s train slice (every doc but the eval stride): the SCREEN is
    * `filter(shingles, bloom)` — a pure scan-local projection, the
    * eval set compressed into a few-hundred-KB filter that rides with
    * the plan; NO join, NO shuffle for the overwhelmingly-clean bulk.
    * The tiny FLAGGED slice (docs with ≥1 maybe-hit — the bloom has no
    * false negatives) then equi-joins the index's shingle table to
    * confirm and count true overlaps, so the output is BIT-IDENTICAL
    * to the exact [[decontaminateNgram]] join whenever the index
    * covers `dir`'s full eval slice, independent of the bloom's false
    * positives — which is what lets the registered form and the
    * streamed-ingest form share one DuckDB oracle. */
  def decontamServeTwoTier(s: SparkSession, indexDir: String, dir: String): DataFrame = {
    val bloom = loadBloom(s, indexDir)
    val train = Tables(s, dir, "documents").filter(col("doc_id") % evalStride =!= 0)
    val flagged = train
      .select(col("doc_id"), filter(
        graft.plans.VectorFunctions.word_shingle_hashes(col("text"), contamShingleN),
        h => graft.plans.VectorFunctions.bloom_might_contain(h, bloom)).as("maybe"))
      .filter(size(col("maybe")) > 0)
      .select(col("doc_id"), explode(col("maybe")).as("h"))
      .join(evalShingleIndex(s, indexDir).select(col("h")).distinct(), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
    train.select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** The registered decontamination serve: [[decontamServeTwoTier]]
    * over `dir`'s own build-once index ([[decontamIndexFor]]). */
  def decontaminateBloomServed(s: SparkSession, dir: String): DataFrame =
    decontamServeTwoTier(s, decontamIndexFor(s, dir), dir)

  /** Corpus-composition "dataset card": per (source, lang) document and
    * token counts, each cell's share of all corpus tokens — the first
    * table a data-mixture decision reads. Shape: one map-side-combined
    * aggregate over (source, lang), then the grand total as a
    * partition-less window over the GROUPED frame. The empty window is
    * deliberate here and wrong almost everywhere else: it funnels its
    * input through one task, but that input is the aggregate's output —
    * group count many rows (thousands at most), not corpus rows. The
    * alternative (a 1-row total aggregate joined back) re-expands the
    * aggregation subtree and scans the corpus twice — measured, and
    * exactly the minhash double-compute lesson. */
  def curateSourceMix(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("source"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(Window.partitionBy()))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens").cast("double"), 6)
          .as("token_share"))
      .orderBy(col("source"), col("lang"))

  /** Semantic composition "dataset card": per embedding-space cluster
    * (the SemDeDup coarse quantizer), how many vectors land there, how
    * many survive semantic dedup, and the cluster's corpus share — the
    * topic-balance view a curation pipeline reads next to the
    * source×lang card. Composes [[Dedup.dedupSemantic]]; the aggregate
    * and grand-total window run over CLUSTER-count rows, not corpus
    * rows (same shape as [[curateSourceMix]]). */
  def curateTopicMix(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSemantic(s, dir)
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("kept")).as("n_kept"))
      .withColumn("total", sum(col("n_vecs")).over(Window.partitionBy()))
      .select(col("c_id"), col("n_vecs"), col("n_kept"),
        round(col("n_vecs").cast("double") / col("total").cast("double"), 6)
          .as("vec_share"))
      .orderBy(col("c_id"))

  /** Held-out fraction (percent) for the leakage-safe split. */
  val heldoutPct = 10

  /** Leakage-safe train/heldout split: assign each document to a split
    * by hashing its NEAR-DUP CLUSTER representative, not its own id —
    * so a near-duplicate of a held-out document can never land in
    * train (the classic eval-leakage failure of naive per-doc
    * splitting). Docs in no cluster are their own representative;
    * clustered docs inherit the cluster's min doc_id (the
    * [[Dedup.dedupClusters]] label). The split decision is the same
    * md5-bucket determinism as the stratified sampler: reproducible on
    * any cluster, any partitioning, any rerun.
    *
    * Scale shape: the cluster frame is pairs-sized (vanishing vs the
    * corpus — only near-dup members appear), so the left join
    * broadcasts; everything else is a map-only projection over a
    * 1-column scan. Eager at call time like its input `dedupClusters`
    * (the hybrid CC decision). */
  def curateSplitLeakage(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(Dedup.dedupClusters(s, dir), Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(TextFns.md5Int(col("rep_id").cast("string")), lit(100L)) <
          lit(100L - heldoutPct), lit("train")).otherwise(lit("heldout")))
      .select(col("doc_id"), col("rep_id"), col("split"))
      .orderBy(col("doc_id"))

  /** THE final training-set manifest — the batch capstone that composes
    * the pipeline's signals into one per-document decision, the artifact
    * a training run actually consumes. For every train-side doc (eval
    * slice excluded): its exact-dup canonical id, its near-dup cluster
    * representative, its eval-contamination overlap, its quality score,
    * its leakage-safe split — and ONE `reason` column resolving them in
    * fixed precedence (dup_exact → near_dup → contaminated →
    * low_quality → heldout → train), so `include = (reason = 'train')`
    * and every exclusion is attributable.
    *
    * Scale shape: every input is an already-scale-shaped operator
    * (md5-window canonical groups bounded by copy count, pairs-sized
    * cluster frame broadcast, shingle equi-join, shuffle-free quality
    * columns) and the composition joins on doc_id only. Fully
    * DuckDB-oracled — the oracle restates each signal's SQL and the
    * same CASE precedence. */
  def curateManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val wCanon = Window.partitionBy(md5(col("text")))
    val base = docs
      .withColumn("canon_id", min(col("doc_id")).over(wCanon))
      .select(col("doc_id"), col("canon_id"))
      .filter(col("doc_id") % evalStride =!= 0)
    val joined = base
      .join(Dedup.dedupClusters(s, dir), Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(decontaminateNgram(s, dir).select(col("doc_id"), col("n_shared")),
        Seq("doc_id"), "left")
      .join(TextAnalysis.textQuality(s, dir).select(col("doc_id"), col("score")),
        Seq("doc_id"), "left")
      .withColumn("split",
        when(pmod(TextFns.md5Int(col("rep_id").cast("string")), lit(100L)) <
          lit(100L - heldoutPct), lit("train")).otherwise(lit("heldout")))
    joined
      .withColumn("reason",
        when(col("doc_id") =!= col("canon_id"), lit("dup_exact"))
          .when(col("doc_id") =!= col("rep_id"), lit("near_dup"))
          .when(col("n_shared") > 0, lit("contaminated"))
          .when(!coalesce(col("score") >= Dedup.ingestQualityMin, lit(false)),
            lit("low_quality"))
          .when(col("split") === "heldout", lit("heldout"))
          .otherwise(lit("train")))
      .select(col("doc_id"), col("canon_id"), col("rep_id"), col("n_shared"),
        col("score"), col("split"), col("reason"),
        (col("reason") === "train").cast("long").as("include"))
      .orderBy(col("doc_id"))
  }

  /** Epochs the deterministic training shuffle is materialized for. */
  val shuffleEpochs = 3
  /** Shards per epoch — the file-level read unit a data loader pulls. */
  val shuffleShards = 64L

  /** Deterministic training-data shuffle: the global reorder every
    * training run performs per epoch, as a DATASET property instead of
    * a loader-side RNG — each (epoch, doc) gets a salted md5 key; the
    * epoch's read order is ORDER BY that key, and the first 8 hex
    * digits mod [[shuffleShards]] assign the doc to a shard (the file
    * a loader worker reads). Reproducible on any cluster, any
    * partitioning, any rerun — the property loader RNGs lose the
    * moment worker count changes.
    *
    * Scale shape: the per-epoch reorder is Spark's range-partitioned
    * TOTAL SORT on a uniform 32-hex key — balanced by construction
    * (the key is a hash), no skew, no window, no global row-number;
    * shard assignment is a map-side projection of the same key. At
    * 100 TB this is exactly one sort-shuffle per epoch, the minimum
    * any global reshuffle costs. */
  def curateShuffle(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"))
      .crossJoin(broadcast(s.range(shuffleEpochs).select(col("id").as("epoch"))))
      .withColumn("shuffle_key", md5(concat_ws(":", col("epoch"), col("doc_id"))))
      .withColumn("shard",
        pmod(conv(substring(col("shuffle_key"), 1, 8), 16, 10).cast("long"),
          lit(shuffleShards)))
      .select(col("epoch"), col("shuffle_key"), col("doc_id"), col("shard"))
      .orderBy(col("epoch"), col("shuffle_key"))

  /** Materialize the stratified corpus as a lang-partitioned parquet
    * dataset — the write-side half of the 100 TB story: `partitionBy`
    * turns every language-filtered read into directory pruning
    * (`PartitionFilters` in the scan, no data read at all for other
    * languages), and the `repartition(lang)` BEFORE the write makes each
    * partition land as one well-sized file per task instead of
    * numPartitions-way small-file sharding — the classic small-files
    * failure mode of naive partitioned writes. Round-trip + pruning are
    * pinned in `SourcesSpec`. */
  def materializeCorpus(s: SparkSession, dir: String, outDir: String): Unit =
    Tables(s, dir, "documents")
      .withColumn("bucket", hashBucket(col("doc_id")))
      .filter(col("bucket") < rateCol)
      .drop("bucket")
      .repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(outDir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_sample_stratified" -> curateSampleStratified _,
    "curate_token_budget" -> curateTokenBudget _,
    "curate_pack_sequences" -> curatePackSequences _,
    "curate_pack_bpe" -> curatePackBpe _,
    "curate_mix_epochs" -> curateMixEpochs _,
    "decontaminate_ngram" -> decontaminateNgram _,
    "decontaminate_report" -> decontaminateReport _,
    "decontaminate_bloom_served" -> decontaminateBloomServed _,
    "curate_source_mix" -> curateSourceMix _,
    "curate_split_leakage" -> curateSplitLeakage _,
    "curate_topic_mix" -> curateTopicMix _,
    "curate_manifest" -> curateManifest _,
    "curate_shuffle" -> curateShuffle _,
  )

  private val tokSql =
    graft.functions.TextFns.duckTokSql

  private val rateCaseSql =
    "CASE " + sampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ") +
      s" ELSE $sampleDefaultRate END"

  val oracles: Map[String, String] = Map(
    "curate_sample_stratified" ->
      s"""SELECT doc_id, lang, bucket FROM (
         |  SELECT doc_id, lang,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
         |  FROM documents)
         |WHERE bucket < ($rateCaseSql)
         |ORDER BY doc_id""".stripMargin,
    "curate_token_budget" ->
      s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
         |  SELECT doc_id, source, n_tokens,
         |    -- DuckDB sums BIGINT into HUGEINT; cast back for schema parity
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM (SELECT doc_id, source, CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents))
         |WHERE cum_tokens - n_tokens < $tokenBudgetPerSource
         |ORDER BY doc_id""".stripMargin,
    "curate_pack_sequences" ->
      s"""SELECT doc_id, source, n_tokens,
         |  start_off // $packSeqLen AS bin_id,
         |  start_off % $packSeqLen AS bin_off
         |FROM (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
         |  FROM (SELECT doc_id, source, CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "curate_pack_bpe" ->
      s"""WITH ${TextAnalysis.bpeDocTokensCtesSql}
         |SELECT doc_id, source, n_tokens,
         |  start_off // $packSeqLen AS bin_id,
         |  start_off % $packSeqLen AS bin_off
         |FROM (
         |  SELECT d.doc_id, d.source, b.n_tokens,
         |    CAST(sum(b.n_tokens) OVER (PARTITION BY d.source ORDER BY d.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - b.n_tokens AS start_off
         |  FROM documents d JOIN bpe_doc b ON d.doc_id = b.doc_id)
         |ORDER BY doc_id""".stripMargin,
    "curate_mix_epochs" ->
      s"""SELECT doc_id, source, epoch FROM (
         |  SELECT doc_id, source, pct, unnest(range(1, (pct + 99) // 100 + 1)) AS epoch
         |  FROM (SELECT doc_id, source,
         |          CASE ${mixEpochsPct.map { case (src, p) => s"WHEN source = '$src' THEN $p" }.mkString(" ")}
         |          ELSE $mixDefaultEpochsPct END AS pct
         |        FROM documents))
         |WHERE epoch * 100 <= pct
         |   OR CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < pct % 100
         |ORDER BY doc_id, epoch""".stripMargin,
    // the oracle joins on the SAME md5-derived 60-bit hash as the Spark
    // side (substr(md5,1,15) = top 60 bits = HashUtil.md5Int60), so both
    // engines compute the identical quantity — including in the
    // astronomically-unlikely event of a hash collision
    "decontaminate_ngram" ->
      s"""WITH sh AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - ${contamShingleN - 2}),
         |      i -> array_to_string(tk[i:i+${contamShingleN - 1}], ' ')))) AS shingle
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents))),
         |ev AS (SELECT doc_id AS eval_id, h FROM sh WHERE doc_id % $evalStride = 0),
         |tr AS (SELECT doc_id, h FROM sh WHERE doc_id % $evalStride <> 0),
         |hits AS (
         |  SELECT tr.doc_id, count(DISTINCT tr.h) AS n_shared, min(ev.eval_id) AS first_eval
         |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY tr.doc_id)
         |SELECT d.doc_id, COALESCE(hits.n_shared, 0) AS n_shared, hits.first_eval
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $evalStride <> 0) d
         |LEFT JOIN hits ON d.doc_id = hits.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "decontaminate_report" ->
      s"""WITH sh AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - ${contamShingleN - 2}),
         |      i -> array_to_string(tk[i:i+${contamShingleN - 1}], ' ')))) AS shingle
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents))),
         |ev AS (SELECT doc_id AS eval_id, h FROM sh WHERE doc_id % $evalStride = 0),
         |tr AS (SELECT doc_id, h FROM sh WHERE doc_id % $evalStride <> 0),
         |pair AS (
         |  SELECT ev.eval_id, tr.doc_id, count(DISTINCT tr.h) AS pair_shared
         |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY ev.eval_id, tr.doc_id),
         |per AS (
         |  SELECT ev.eval_id, count(DISTINCT tr.doc_id) AS n_train_docs,
         |    count(DISTINCT tr.h) AS n_leaked_shingles
         |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY ev.eval_id),
         |mx AS (SELECT eval_id, max(pair_shared) AS max_overlap FROM pair GROUP BY eval_id)
         |SELECT d.doc_id AS eval_id,
         |  CAST(COALESCE(per.n_train_docs, 0) AS BIGINT) AS n_train_docs,
         |  CAST(COALESCE(per.n_leaked_shingles, 0) AS BIGINT) AS n_leaked_shingles,
         |  CAST(COALESCE(mx.max_overlap, 0) AS BIGINT) AS max_overlap
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $evalStride = 0) d
         |LEFT JOIN per ON d.doc_id = per.eval_id
         |LEFT JOIN mx ON d.doc_id = mx.eval_id
         |ORDER BY eval_id""".stripMargin,
    // the two-tier serve (bloom screen + exact confirm on the flagged
    // slice) is bit-identical to the exact join — same chain as the
    // ngram oracle, with the contamination flag
    "decontaminate_bloom_served" ->
      s"""WITH sh AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - ${contamShingleN - 2}),
         |      i -> array_to_string(tk[i:i+${contamShingleN - 1}], ' ')))) AS shingle
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents))),
         |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % $evalStride = 0),
         |tr AS (SELECT doc_id, h FROM sh WHERE doc_id % $evalStride <> 0),
         |hits AS (
         |  SELECT tr.doc_id, count(DISTINCT tr.h) AS n_shared
         |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY tr.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(hits.n_shared, 0) AS BIGINT) AS n_shared,
         |  COALESCE(hits.n_shared, 0) > 0 AS is_contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $evalStride <> 0) d
         |LEFT JOIN hits ON d.doc_id = hits.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "curate_shuffle" ->
      s"""SELECT epoch, shuffle_key, doc_id, shard FROM (
         |  SELECT e.epoch, d.doc_id,
         |    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS shuffle_key,
         |    CAST(('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $shuffleShards AS shard
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(range(0, $shuffleEpochs)) AS epoch) e)
         |ORDER BY epoch, shuffle_key""".stripMargin,
    "curate_source_mix" ->
      s"""WITH per AS (
         |  SELECT source, lang, count(*) AS n_docs,
         |    CAST(sum(len($tokSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source, lang),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per)
         |SELECT source, lang, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS token_share
         |FROM per, t ORDER BY source, lang""".stripMargin,
    "curate_split_leakage" ->
      s"""WITH RECURSIVE ${Dedup.allPairsSql.stripPrefix("WITH ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM jpairs
         |      UNION ALL SELECT id_b, id_a FROM jpairs),
         |r AS (
         |  SELECT src AS doc, src AS lab FROM e
         |  UNION
         |  SELECT e.dst AS doc, r.lab FROM r JOIN e ON r.doc = e.src),
         |cl AS (SELECT doc AS doc_id, min(lab) AS cluster_id FROM r GROUP BY doc),
         |base AS (
         |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, rep_id,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    % 100 < ${100 - heldoutPct} THEN 'train' ELSE 'heldout' END AS split
         |FROM base ORDER BY doc_id""".stripMargin,
    "curate_topic_mix" ->
      s"""WITH ${Dedup.semanticCteSql},
         |per AS (
         |  SELECT c_id, count(*) AS n_vecs, CAST(sum(kept) AS BIGINT) AS n_kept
         |  FROM sem GROUP BY c_id),
         |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM per)
         |SELECT c_id, CAST(n_vecs AS BIGINT) AS n_vecs, n_kept,
         |  round(CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS vec_share
         |FROM per, t ORDER BY c_id""".stripMargin,
    "curate_manifest" -> {
      val stopList = TextAnalysis.stopEn.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE ${Dedup.allPairsSql.stripPrefix("WITH ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM jpairs
         |      UNION ALL SELECT id_b, id_a FROM jpairs),
         |r AS (
         |  SELECT src AS doc, src AS lab FROM e
         |  UNION
         |  SELECT e.dst AS doc, r.lab FROM r JOIN e ON r.doc = e.src),
         |clm AS (SELECT doc AS doc_id, min(lab) AS cluster_id FROM r GROUP BY doc),
         |canon AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
         |  FROM documents),
         |csh AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - ${contamShingleN - 2}),
         |      i -> array_to_string(tk[i:i+${contamShingleN - 1}], ' ')))) AS shingle
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents))),
         |cev AS (SELECT doc_id AS eval_id, h FROM csh WHERE doc_id % $evalStride = 0),
         |chit AS (
         |  SELECT csh.doc_id, count(DISTINCT csh.h) AS n_shared
         |  FROM csh JOIN cev ON csh.h = cev.h WHERE csh.doc_id % $evalStride <> 0
         |  GROUP BY csh.doc_id),
         |q AS (
         |  SELECT doc_id,
         |    (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
         |    + least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |    + (CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE)
         |       / CAST(len(toks) AS DOUBLE)) * 0.2 AS score
         |  FROM (SELECT doc_id, $tokSql AS toks FROM documents) WHERE len(toks) >= 1),
         |j AS (
         |  SELECT c.doc_id, c.canon_id,
         |    COALESCE(clm.cluster_id, c.doc_id) AS rep_id,
         |    COALESCE(chit.n_shared, 0) AS n_shared, q.score
         |  FROM canon c
         |  LEFT JOIN clm ON c.doc_id = clm.doc_id
         |  LEFT JOIN chit ON c.doc_id = chit.doc_id
         |  LEFT JOIN q ON c.doc_id = q.doc_id
         |  WHERE c.doc_id % $evalStride <> 0),
         |j2 AS (
         |  SELECT *, CASE WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % 100 < ${100 - heldoutPct} THEN 'train' ELSE 'heldout' END AS split
         |  FROM j),
         |j3 AS (
         |  SELECT *, CASE WHEN doc_id <> canon_id THEN 'dup_exact'
         |    WHEN doc_id <> rep_id THEN 'near_dup'
         |    WHEN n_shared > 0 THEN 'contaminated'
         |    WHEN score IS NULL OR score < ${Dedup.ingestQualityMin} THEN 'low_quality'
         |    WHEN split = 'heldout' THEN 'heldout'
         |    ELSE 'train' END AS reason
         |  FROM j2)
         |SELECT doc_id, canon_id, rep_id, CAST(n_shared AS BIGINT) AS n_shared,
         |  score, split, reason,
         |  CAST(CASE WHEN reason = 'train' THEN 1 ELSE 0 END AS BIGINT) AS include
         |FROM j3 ORDER BY doc_id""".stripMargin
    },
  )
}
