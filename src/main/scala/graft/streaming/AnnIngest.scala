package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, IndexMaintenance, Similarity}

/** Streaming ANN ingest — the VECTOR twin of [[IngestDedup]]: embedding
  * batches land as files, each micro-batch is hashed with the persisted
  * index's FROZEN thresholds (the append semantic — re-centering would
  * re-bucket the standing corpus) and folded into the bucket table, so
  * the ANN index grows continuously as the corpus is embedded — no
  * rebuild, no re-read of standing vectors (the batch GENUINELY pays
  * only its own hashing: the redelivery guard is the batch mark in the
  * index log, not a standing-index scan — see below).
  *
  * The quantizer-training corpus and the served corpus therefore
  * DIVERGE over time — which is the production reality (FAISS/SPANN
  * deployments retrain on drift, not per batch; [[graft.ops.AnnIndex]]
  * carries the explicit drift-retrain operators), and exactly what the
  * registered replay measures: thresholds trained on the SEED slice,
  * buckets over everything. That split is also what keeps the whole
  * path DuckDB-oracle-able: the oracle restates the threshold average
  * over the seed slice and the bucket assignment over the full corpus.
  *
  * Retries are idempotent via the index log: a batch's rows commit in
  * the same log version as its batch mark ([[IndexMaintenance.append]]),
  * so a batch Structured Streaming re-presents after a crash is either
  * skipped (its mark is in the snapshot) or was never visible. The first-cut
  * guard — anti-joining each batch against the standing index's
  * distinct vec_ids — was an O(index) scan + shuffle per trigger that
  * grew with stream age (and serve-key-sorted compaction left the
  * vec_id read unprunable); it survives as a compaction-cadence
  * INVARIANT CHECK ([[IndexMaintenance.checkUnique]]), amortized to
  * 1/[[IngestDedup.ingestCompactEvery]] of an index aggregation per
  * batch. Note the semantic: the guard is batch-level idempotence, not
  * content dedup — a vec_id landing in TWO DIFFERENT batches is an
  * upstream id-assignment bug, which the invariant check surfaces
  * loudly at the next compaction. Compaction runs on the
  * [[IngestDedup.ingestCompactEvery]] cadence inside the loop, same as
  * the dedup ingest.
  */
object AnnIngest {

  /** Drive the landing stream: one embedding file per micro-batch,
    * oldest first, each appended to the persisted LSH index at
    * `indexDir` (seeded by [[AnnIndex.lshIndexWrite]] over the standing
    * corpus). */
  def streamAnnIngestToFiles(s: SparkSession, landingDir: String, indexDir: String,
      checkpointDir: String): Unit = {
    val lineage = IndexMaintenance.lineageTag(checkpointDir)
    IngestDedup.runLandingStream(s, landingDir, checkpointDir,
      IngestDedup.alarmCadence(s, Seq(indexDir)) {
        IndexMaintenance.checkUnique(s, indexDir, "buckets", Seq("vec_id", "tbl"), "vec_id")
        AnnIndex.lshIndexCompact(s, indexDir)
      }) { (batch, batchId) =>
      AnnIndex.lshIndexAppendBatch(s, batch, indexDir, mark = Some(lineage -> batchId))
    }
  }

  /** IVF twin: each landed batch is assigned to the persisted, frozen
    * centroids and folded into the inverted-list table — same loop,
    * same per-batch mark, same compaction cadence. The
    * STRIDE-seeded registered form ([[streamIvfIngest]]) carries a full
    * DuckDB oracle; the trained-quantizer deployment stays library+spec. */
  def streamIvfIngestToFiles(s: SparkSession, landingDir: String, indexDir: String,
      checkpointDir: String): Unit = {
    val lineage = IndexMaintenance.lineageTag(checkpointDir)
    IngestDedup.runLandingStream(s, landingDir, checkpointDir,
      IngestDedup.alarmCadence(s, Seq(indexDir)) {
        IndexMaintenance.checkUnique(s, indexDir, "lists", Seq("vec_id"), "vec_id")
        AnnIndex.ivfIndexCompact(s, indexDir)
      }) { (batch, batchId) =>
      AnnIndex.ivfIndexAppendBatch(s, batch, indexDir, mark = Some(lineage -> batchId))
    }
  }

  /** Registered-query replay: seed the index from the modulo-0 slice
    * (the "standing corpus" the thresholds are trained on), stream the
    * remaining slices in as landing files, then serve the stride query
    * set from the grown index — every vector is a candidate, hashed
    * with the seed-trained thresholds. Fresh temp dirs per invocation. */
  def streamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables(s, dir, "embeddings")
    val (root, landing) = IngestDedup.stageLanding(s, s"$dir|emb-tail", emb,
        batches = 1 until IngestDedup.ingestBatches, idCol = "vec_id") { root =>
      // seed index (thresholds trained on the modulo-0 slice) from the
      // per-(JVM, corpus) prototype, byte-copied — the stream grows the
      // copy (see IngestDedup.prototype)
      val proto = IngestDedup.prototype(s, s"$dir|anningest-seed") { p =>
        emb.filter(pmod(col("vec_id"), lit(IngestDedup.ingestBatches.toLong)) === 0)
          .write.mode("overwrite").parquet(s"$p/seed/embeddings.parquet")
        AnnIndex.lshIndexWrite(s, s"$p/seed", s"$p/index")
      }
      IngestDedup.copyDir(s, s"$proto/index", s"$root/index")
    }
    streamAnnIngestToFiles(s, landing, s"$root/index", s"$root/checkpoint")
    AnnIndex.lshIndexServe(s, s"$root/index", Seq(dir),
      Similarity.normed(s, dir)
        .filter(col("vec_id") % Similarity.queryStride === 0)
        .select(col("vec_id").as("q_id"), col("embedding")))
  }

  /** IVF registered-query replay — the STRIDE-seeded twin of
    * [[streamAnnIngest]]: seed the index from the modulo-0 slice with
    * the deterministic stride quantizer ([[AnnIndex.ivfIndexWriteStride]]
    * — centroids are the seed's `vec_id % centroidStride == 1` members,
    * frozen), stream the remaining slices in, then serve the stride
    * query set from the grown lists at the pinned probe count. Every
    * stage is SQL-restatable, so unlike the trained-quantizer library
    * form this one carries a FULL DuckDB oracle — including the
    * train/serve divergence (centroids from the seed slice only,
    * assignment over everything), the same semantics a frozen-quantizer
    * deployment has. */
  def streamIvfIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables(s, dir, "embeddings")
    val (root, landing) = IngestDedup.stageLanding(s, s"$dir|emb-tail", emb,
        batches = 1 until IngestDedup.ingestBatches, idCol = "vec_id") { root =>
      // stride-quantizer seed index from the prototype, byte-copied
      val proto = IngestDedup.prototype(s, s"$dir|ivfingest-seed") { p =>
        emb.filter(pmod(col("vec_id"), lit(IngestDedup.ingestBatches.toLong)) === 0)
          .write.mode("overwrite").parquet(s"$p/seed/embeddings.parquet")
        AnnIndex.ivfIndexWriteStride(s, s"$p/seed", s"$p/index")
      }
      IngestDedup.copyDir(s, s"$proto/index", s"$root/index")
    }
    streamIvfIngestToFiles(s, landing, s"$root/index", s"$root/checkpoint")
    AnnIndex.ivfIndexServe(s, s"$root/index", Seq(dir),
      Similarity.normed(s, dir)
        .filter(col("vec_id") % Similarity.queryStride === 0)
        .select(col("vec_id").as("q_id"), col("embedding")),
      probeOverride = Some(Similarity.nProbe))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ann_ingest" -> streamAnnIngest _,
    "stream_ivf_ingest" -> streamIvfIngest _
  )

  val oracles: Map[String, String] = Map(
    // the LSH oracle with the threshold average restricted to the seed
    // slice — buckets/probes/scoring over the full corpus are unchanged
    "stream_ann_ingest" -> Similarity.lshAnnOracleSqlSeedThr(
      s"vec_id % ${IngestDedup.ingestBatches} = 0"),
    // the IVF oracle with the centroid pool restricted to the seed
    // slice — assignment, probes, and scoring cover the full corpus
    "stream_ivf_ingest" -> Similarity.ivfTopkOracleSql(
      s"vec_id % ${IngestDedup.ingestBatches} = 0")
  )
}
