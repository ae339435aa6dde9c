package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Index AUTOPILOT — the index health findings as an executable
  * policy. The health reports ([[AnnIndex.ivfIndexHealth]],
  * [[AnnIndex.lshIndexHealth]], [[TextAnalysis.textIndexHealth]]) give
  * a deployment the numbers to watch; this is the one entry point that
  * watches them: read the family's report, COMPACT when maintenance
  * debt (small files, pending tombstones, frozen-statistics staleness)
  * crosses its threshold, RETRAIN when quantizer drift does
  * (`hot_list_skew` / `hot_bucket_skew` — the drift experiment's
  * production lesson was that recall holds while list skew explodes,
  * so skew, not recall, is the alarm; 39.55 → 2.18 measured across one
  * retrain at recall 1.000).
  *
  * Thresholds are arguments with documented defaults, evaluated
  * against EXACTLY the metrics the oracled health queries emit — the
  * policy and the report can never disagree about a value. Every
  * trigger is returned as a decision row whether or not it fired, so
  * the autopilot's run log is itself the health audit trail.
  *
  * Retrain supersedes compact within one pass: the rebuild publishes a
  * fresh, few-file, tombstone-honoring table, so compacting first
  * would do the same file rewrite twice. Retrain needs the index's
  * corpus definition (`corpusDirs`); when drift fires without one, the
  * decision row reports the unperformed action loudly rather than
  * guessing.
  */
object Autopilot {

  /** Quantizer-drift alarm for IVF list skew (max/mean nonempty list).
    * A balanced index sits near 1–3; the drift experiment measured
    * 39.55 on a mean-shifted corpus and 2.18 after retrain. */
  val maxHotListSkew = 8.0

  /** LSH bucket-skew alarm. Bucket-size baselines are GEOMETRY
    * dependent (the near-orthogonal synthetic corpus measures ~650
    * hot-bucket skew while serving fine; clustered corpora sit far
    * lower), so this default is deliberately high — calibrate from a
    * healthy baseline per corpus family, as with any alarm. */
  val maxHotBucketSkew = 1000.0

  /** Small-file (compaction) debt: landing appends accumulate one file
    * group per batch; past this many files a serve pays more in
    * listings/footers than in data. ~N files also bounds what a single
    * compact rewrites. */
  val maxDataFiles = 12

  /** Frozen-statistics staleness share for the text index:
    * |n_docs_indexed − stats_n_docs| / stats_n_docs. Lucene's gap
    * between commits and merges — past 20% the BM25 idf/avgdl are
    * estimated on a corpus fifth different from the one being served. */
  val maxStalenessShare = 0.2

  /** Bloom saturation alarm for the decontamination index: cumulative
    * inserts over the filter's sized capacity (the accounting
    * `decontamIndexAppendBatch` warns on). Past 1.0 the actual FP rate
    * exceeds the built fpp — the exact-confirm tier absorbs the extra
    * false positives (correctness holds) but every FP pays a confirm
    * join, so the screen tier is decaying toward a no-op. The fix is
    * the compact's REBUILD at fresh geometry (2× the surviving count). */
  val maxBloomSaturation = 1.0

  /** Backstop bound on un-absorbed APPEND BATCHES for
    * [[maintenanceDue]]'s file-debt leg — callers running a cadence
    * FLOOR must pass their own floor (the streaming loops pass
    * `ingestCompactEvery`): the leg is meant to fire only when the
    * floor's compaction failed to absorb, so a default below a
    * caller's floor would re-create the compact-per-trigger latch the
    * A/B measured at +20–40%. */
  val maxUnabsorbedBatches = 10

  private def healthMap(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** A bloom's (saturation share, counters-known) from the capacity
    * counters its last rewrite committed — no Spark read. A bloom
    * committed without `bloom.total_items` reports the n_items LOWER
    * BOUND 1.0 (exactly full, total unknown — never over), flagged
    * `false` so callers can say so instead of presenting it as
    * measured. */
  private[graft] def bloomSaturationOf(snap: IndexMaintenance.Snapshot): (Double, Boolean) =
    snap.props.get("bloom.total_items").fold((1.0, false)) { total =>
      (total.toDouble / math.max(1.0, snap.props("bloom.n_items").toDouble), true)
    }

  /** Cheap per-trigger maintenance alarm — the autopilot's debt
    * triggers read from each dir's log snapshot only (one `_log`
    * listing when nothing changed): this runs inside a streaming
    * foreachBatch on EVERY trigger, so the steady-state per-trigger
    * cost must stay flat (the aggregation-priced drift alarms —
    * list/bucket skew, staleness share — stay on [[indexAutopilot]]'s
    * on-demand pass, whose fix is a retrain, not a cadence compaction).
    *
    * True when any table of a dir in `dirs` carries more un-absorbed
    * APPEND COMMITS than `maxAppendedBatches`, any pending tombstone, or
    * a decontam bloom whose saturation share is over
    * `bloomSaturationMax`. All three signals RESET at the compaction
    * they trigger — appends absorb into sequence-0 rewrites, tombstones
    * are consumed, the bloom rebuilds at fresh geometry — so the alarm
    * can never latch. The file leg counts COMMITS, not files: an append
    * lands one file per shuffle partition (32 at the bench SF), so a
    * file-count threshold fires on the very first normal append and
    * turns the cadence into a rewrite per trigger (measured +40% on the
    * ingest family before this was caught); commit count can only
    * exceed the floor when the floor's own compaction failed to absorb
    * — a self-healing backstop, while the tombstone and saturation legs
    * are the real early triggers. A dir without a log has no debt. */
  def maintenanceDue(s: SparkSession, dirs: Seq[String],
      maxAppendedBatches: Int = maxUnabsorbedBatches,
      bloomSaturationMax: Double = maxBloomSaturation): Boolean =
    dirs.exists { d =>
      IndexMaintenance.snapshotIfAny(s, d).exists { snap =>
        snap.files.values.map(_.table).toSet.exists(t =>
          snap.appendedBatches(t) > maxAppendedBatches || snap.pendingTombstones(t) > 0) ||
          (snap.hasTable("bloom") && bloomSaturationOf(snap)._1 > bloomSaturationMax)
      }
    }

  /** Run the autopilot pass on the index at `indexDir` (families
    * detected from the tables in its log: buckets+meta = LSH,
    * lists+codebook = IVF-PQ, lists+centroids = IVF, postings+doclen =
    * text, bloom+eval_shingles = decontamination, simhash = dedup
    * signature store, counts = token ledger — an
    * ingest-manifest index legitimately carries bloom+simhash side by
    * side, and both are evaluated). Returns the
    * decision log: one row per evaluated trigger —
    * (family, trigger, value, threshold, action, performed). */
  def indexAutopilot(s: SparkSession, indexDir: String,
      corpusDirs: Seq[String] = Seq.empty,
      hotListSkewMax: Double = maxHotListSkew,
      hotBucketSkewMax: Double = maxHotBucketSkew,
      dataFilesMax: Int = maxDataFiles,
      stalenessShareMax: Double = maxStalenessShare,
      bloomSaturationMax: Double = maxBloomSaturation): DataFrame = {
    import s.implicits._
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, Double, Double, String, Boolean)]()
    var matched = false
    val snap = IndexMaintenance.snapshotIfAny(s, indexDir)
    def exists(table: String): Boolean = snap.exists(_.hasTable(table))

    // file/tombstone maintenance debt of one table, from the current
    // snapshot — the same values the oracled health reports emit
    def debtOf(table: String): (Double, Double) = {
      val now = IndexMaintenance.snapshot(s, indexDir)
      (now.filesOf(table).size.toDouble, now.pendingTombstones(table).toDouble)
    }

    def vectorFamily(family: String, skewMetric: String, skewMax: Double,
        health: => Map[String, Double],
        retrain: () => Unit, compact: () => Unit): Unit = {
      val h = health
      val skew = h.getOrElse(skewMetric, 0.0)
      val files = h.getOrElse("data_files", 0.0)
      val pend = h.getOrElse("pending_tombstones", 0.0)
      val wantRetrain = skew > skewMax
      val canRetrain = wantRetrain && corpusDirs.nonEmpty
      if (canRetrain) retrain()
      rows += ((family, skewMetric, skew, skewMax,
        if (wantRetrain && !canRetrain) "retrain_needs_corpus" else "retrain", canRetrain))
      val wantCompact = !canRetrain && (files > dataFilesMax || pend > 0)
      if (wantCompact) compact()
      rows += ((family, "data_files", files, dataFilesMax.toDouble,
        if (canRetrain) "compact_superseded_by_retrain" else "compact",
        wantCompact && files > dataFilesMax))
      rows += ((family, "pending_tombstones", pend, 0.0,
        if (canRetrain) "compact_superseded_by_retrain" else "compact",
        wantCompact && pend > 0))
    }

    if (exists("buckets") && exists("meta")) {
      matched = true
      vectorFamily("lsh", "hot_bucket_skew", hotBucketSkewMax,
        healthMap(AnnIndex.lshIndexHealth(s, indexDir)),
        () => AnnIndex.lshIndexRetrain(s, indexDir, corpusDirs),
        () => { AnnIndex.lshIndexCompact(s, indexDir); () })
    } else if (exists("lists") && exists("codebook")) {
      matched = true
      vectorFamily("ivfpq", "hot_list_skew", hotListSkewMax,
        healthMap(AnnIndex.ivfIndexHealth(s, indexDir)),
        () => AnnIndex.ivfPqIndexRetrain(s, indexDir, corpusDirs),
        () => { AnnIndex.ivfPqIndexCompact(s, indexDir); () })
    } else if (exists("lists") && exists("centroids")) {
      matched = true
      vectorFamily("ivf", "hot_list_skew", hotListSkewMax,
        healthMap(AnnIndex.ivfIndexHealth(s, indexDir)),
        () => AnnIndex.ivfIndexRetrain(s, indexDir, corpusDirs),
        () => { AnnIndex.ivfIndexCompact(s, indexDir); () })
    } else if (exists("postings") && exists("doclen")) {
      matched = true
      val h = healthMap(TextAnalysis.textIndexHealth(s, indexDir))
      val statsDocs = math.max(1.0, h.getOrElse("stats_n_docs", 0.0))
      val stale = math.abs(h.getOrElse("stats_staleness", 0.0)) / statsDocs
      val files = h.getOrElse("data_files", 0.0)
      val pend = h.getOrElse("pending_tombstones", 0.0)
      val wantCompact = stale > stalenessShareMax || files > dataFilesMax || pend > 0
      if (wantCompact) TextAnalysis.textIndexCompact(s, indexDir)
      rows += (("text", "stats_staleness_share", stale, stalenessShareMax,
        "compact", wantCompact && stale > stalenessShareMax))
      rows += (("text", "data_files", files, dataFilesMax.toDouble,
        "compact", wantCompact && files > dataFilesMax))
      rows += (("text", "pending_tombstones", pend, 0.0,
        "compact", wantCompact && pend > 0))
    }

    // DECONTAMINATION family (bloom + eval shingle table). The bloom's
    // saturation share is the capacity accounting the append
    // path warns on (cumulative inserts / sized capacity, both read
    // from the persisted bloom row); past the threshold the filter's
    // actual FP rate exceeds its built fpp, and the ONE fix for a
    // saturated (or retraction-stale) bloom is the compact's rebuild at
    // fresh geometry — bits cannot be unset or extended in place.
    if (exists("bloom") && exists("eval_shingles")) {
      matched = true
      // a bloom committed without its counters: the shared
      // [[bloomSaturationOf]] guard reports the n_items LOWER BOUND
      // 1.0 with upgraded = false, and the decision row says so in its
      // action column (a caller alarming below 1.0 sees such a bloom
      // flagged until its first rebuild commits the counters — the row
      // must read as "total unknown", not as a measured exactly-full
      // filter).
      val (sat, upgraded) = bloomSaturationOf(IndexMaintenance.snapshot(s, indexDir))
      val (files, pend) = debtOf("eval_shingles")
      val wantRebuild = sat > bloomSaturationMax
      val wantCompact = wantRebuild || files > dataFilesMax || pend > 0
      if (wantCompact) Curation.decontamIndexCompact(s, indexDir)
      rows += (("decontam", "bloom_saturation_share", sat, bloomSaturationMax,
        if (upgraded) "rebuild_bloom"
        else "rebuild_bloom_preupgrade_total_unknown", wantRebuild))
      rows += (("decontam", "data_files", files, dataFilesMax.toDouble,
        "compact", wantCompact && files > dataFilesMax))
      rows += (("decontam", "pending_tombstones", pend, 0.0,
        "compact", wantCompact && pend > 0))
    }

    // DEDUP SIGNATURE family (simhash store, plus the clean-text store
    // when the dir is a curating ingest index). Signatures carry no
    // corpus-dependent parameters (no drift, no retrain) — the only
    // maintenance is file/tombstone debt, fixed by the ingest compact
    // (which also covers the clean store when present).
    if (exists("simhash")) {
      matched = true
      val (sf, sp) = debtOf("simhash")
      val (cf, cp) =
        if (exists("clean")) debtOf("clean") else (0.0, 0.0)
      val files = sf + cf
      val pend = sp + cp
      val wantCompact = files > dataFilesMax || pend > 0
      if (wantCompact) Dedup.ingestIndexCompact(s, indexDir)
      rows += (("signature", "data_files", files, dataFilesMax.toDouble,
        "compact", wantCompact && files > dataFilesMax))
      rows += (("signature", "pending_tombstones", pend, 0.0,
        "compact", wantCompact && pend > 0))
    }

    // TOKEN LEDGER family (its `counts` table). Its debt is batch
    // commits no rollup absorbed past the backstop — the stream's own
    // cadence rollup is failing — and uncommitted files older than the
    // orphan retention, which a crashed writer left and which only a
    // rewrite's sweep deletes; a live writer's younger staged file is
    // not debt, so the alarm cannot latch on it. One rollup fixes both.
    // Both numbers come from the snapshot and one listing: no Spark job.
    if (exists(graft.streaming.TextIngest.ledgerTable)) {
      matched = true
      val (unrolledN, garbageN) = graft.streaming.TextIngest.ledgerDebt(s,
        IndexMaintenance.snapshot(s, indexDir))
      val unrolled = unrolledN.toDouble
      val garbage = garbageN.toDouble
      val wantRollup = unrolled > maxUnabsorbedBatches || garbage > 0
      if (wantRollup) graft.streaming.TextIngest.ledgerRollup(s, indexDir)
      rows += (("ledger", "unrolled_batches", unrolled, maxUnabsorbedBatches.toDouble,
        "rollup", wantRollup && unrolled > maxUnabsorbedBatches))
      rows += (("ledger", "covered_garbage", garbage, 0.0,
        "rollup", wantRollup && garbage > 0))
    }

    if (!matched) throw new IllegalArgumentException(
      s"indexAutopilot: no known index family at $indexDir " +
      "(want buckets+meta, lists+centroids[+codebook], postings+doclen, " +
      "bloom+eval_shingles, simhash, or a counts token ledger)")

    rows.toSeq.toDF("family", "trigger", "value", "threshold", "action", "performed")
  }
}
