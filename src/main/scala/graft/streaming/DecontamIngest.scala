package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, IndexMaintenance}

/** Streaming EVAL-SET ingest for the contamination index — the fifth
  * and last persisted index family joins the log-committed,
  * cadence-compacted append loop. The production story: benchmark
  * suites update continuously (new eval releases, new held-out sets),
  * and every new eval document must start guarding training-data
  * admission immediately — without rebuilding the index or re-reading
  * the standing eval corpus. Each landed eval file folds in as one
  * micro-batch: shingle rows append to the exact-confirm tier
  * (retraction stays possible by eval_id), the batch's hashes OR-merge
  * into the screen bloom at the index's frozen geometry, and the
  * advisory saturation statistic accumulates per batch — O(batch) per
  * trigger, like every sibling loop — and reconciles EXACTLY at the
  * cadence compaction's rebuild (a retry lands nothing: the shingle rows, the merged bloom and its
  * counters commit with the batch mark as one log version).
  *
  * Growth semantics mirror the family: the bloom's GEOMETRY is frozen
  * at the seed build, so a heavily-grown index exceeds its sized
  * capacity and the actual FP rate drifts above the recorded fpp — but
  * the exact-confirm tier absorbs every false positive, so the SERVED
  * verdicts stay bit-identical to the exact join at any saturation
  * (which is also why the registered replay shares
  * `decontaminate_bloom_served`'s DuckDB oracle: the oracle checks
  * that the grown index covers exactly the full eval slice). The
  * compaction cadence rebuilds the bloom at fresh geometry
  * ([[Curation.decontamIndexCompact]]), which is where capacity
  * catches up.
  */
object DecontamIngest {

  /** Drive the landing stream: one eval-document file per micro-batch,
    * oldest first, folded into the persisted contamination index at
    * `indexDir` (seeded by [[Curation.decontamIndexWrite]] over the
    * standing eval set). */
  def streamDecontamIngestToFiles(s: SparkSession, landingDir: String, indexDir: String,
      checkpointDir: String): Unit = {
    val lineage = IndexMaintenance.lineageTag(checkpointDir)
    IngestDedup.runLandingStream(s, landingDir, checkpointDir,
      // the alarm matters most HERE: a saturating bloom (capacity debt
      // the fixed cadence can't see) fires its rebuild mid-stream
      IngestDedup.alarmCadence(s, Seq(indexDir)) {
        IndexMaintenance.checkUnique(s, indexDir, "eval_shingles", Seq("eval_id", "h"), "eval_id")
        Curation.decontamIndexCompact(s, indexDir)
      }) { (batch, batchId) =>
      Curation.decontamIndexAppendBatch(s, batch, indexDir, mark = Some(lineage -> batchId))
    }
  }

  /** Registered-query replay: seed the contamination index from the
    * modulo-0 third of the eval slice, stream the remaining eval docs
    * in as landing files, then run the two-tier contamination check
    * over the train slice from the GROWN index. Because the grown
    * index covers the full eval slice and the exact-confirm tier
    * absorbs bloom false positives, the output is bit-identical to
    * `decontaminate_bloom_served` — same oracle, now also
    * checking that the ingest loop grew both tiers correctly (a missed
    * shingle batch would under-flag and hash-mismatch). */
  def streamDecontamIngest(s: SparkSession, dir: String): DataFrame = {
    val eval = graft.Tables(s, dir, "documents")
      .filter(col("doc_id") % Curation.evalStride === 0)
    val (root, landing) = IngestDedup.stageLanding(s, s"$dir|eval-tail", eval,
        batches = 1 until IngestDedup.ingestBatches) { root =>
      // seed bloom + shingle tier from the prototype, byte-copied —
      // the stream appends eval batches to the copy
      val proto = IngestDedup.prototype(s, s"$dir|decontamingest-seed") { p =>
        eval.filter(pmod(col("doc_id"), lit(IngestDedup.ingestBatches.toLong)) === 0)
          .write.mode("overwrite").parquet(s"$p/seed/documents.parquet")
        Curation.decontamIndexWrite(s, s"$p/seed", s"$p/index")
      }
      IngestDedup.copyDir(s, s"$proto/index", s"$root/index")
    }
    streamDecontamIngestToFiles(s, landing, s"$root/index", s"$root/checkpoint")
    Curation.decontamServeTwoTier(s, s"$root/index", dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_decontam_ingest" -> streamDecontamIngest _
  )

  val oracles: Map[String, String] = Map(
    // bit-identical to the registered two-tier serve (see above)
    "stream_decontam_ingest" -> Curation.oracles("decontaminate_bloom_served")
  )
}
