package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Persisted ANN indexes (LSH and IVF) — the serving-side artifacts the
  * in-session `Similarity` paths compute transiently.
  *
  * A production ANN deployment does not re-hash the corpus per query
  * session: the bucket index is built ONCE per corpus generation,
  * persisted, and served against — exactly the shape
  * `Similarity.lshBuckets`'s docstring promises. This module makes that
  * artifact real:
  *
  *  - `lshIndexWrite` persists `indexDir/meta` (the hyperplane config +
  *    the corpus-mean thresholds — the learned part of the index) and
  *    `indexDir/buckets` (narrow (vec_id, tbl, bucket) rows, the linear
  *    O(N·tables) index itself). Embeddings are NOT duplicated into the
  *    index: at scale a `tables`-way copy of the corpus would dominate
  *    storage, so serving re-joins members to the corpus parquet by
  *    vec_id (column-pruned scan) the same way the in-session path does.
  *  - `lshIndexAppend` hashes a NEW batch of vectors with the index's
  *    PERSISTED thresholds and appends — the landing-zone ingest form
  *    (counterpart of `Dedup.dedupIncrementalPaths`). Thresholds stay
  *    fixed at the generation the index was trained on, which is the
  *    production semantic: re-centering would silently re-bucket the
  *    existing corpus, so drift is handled by a rebuild, not an append.
  *  - `lshIndexServe` takes an EXTERNAL query frame (q_id, embedding) —
  *    not a stride sample of the corpus — hashes it with the persisted
  *    thresholds, 1-flip multi-probes, and scores within probed buckets
  *    through the same tiled `cell_topk_pairs` kernel as the in-session
  *    path. Per-cell rank lower-bounds bucket rank, so the result is
  *    EXACT over the probed candidate set — which is why serving a
  *    stride sample of the index's own corpus is byte-identical to
  *    `simLshAnn` (pinned in `AnnIndexSpec`) and why the registered
  *    `sim_lsh_ann_served` query shares `sim_lsh_ann`'s DuckDB oracle.
  */
object AnnIndex {

  private def proj(tables: Int, bits: Int)(c: Column): Column =
    graft.plans.VectorFunctions.lsh_projections(
      c, Similarity.hyperplanesFor(tables, bits), Similarity.embDims)

  /** The single meta row: per-plane thresholds + the table geometry.
    * Tiny (tables·bits doubles) — broadcast into every serving plan. */
  private def metaRow(s: SparkSession, indexDir: String): DataFrame =
    Artifacts.frame(s, s"$indexDir|lsh-index-meta") {
      s.read.parquet(s"$indexDir/meta")
    }

  /** Hash `dir`'s embeddings against an explicit meta frame (broadcast
    * join — the thresholds are one row). Shared by build, append, and
    * the query side of serve. */
  private def hashWith(s: SparkSession, dir: String, meta: DataFrame): DataFrame =
    hashWithDf(Tables(s, dir, "embeddings"), meta)

  /** Same over an arbitrary (vec_id, embedding) frame — the streaming
    * ingest foreachBatch body hashes its landed batch directly. */
  private def hashWithDf(vecs: DataFrame, meta: DataFrame): DataFrame = {
    val geom = meta.select(col("tables"), col("bits")).head()
    val (tables, bits) = (geom.getInt(0), geom.getInt(1))
    vecs
      .crossJoin(broadcast(meta.select(col("thr"))))
      .select(col("vec_id"),
        posexplode(graft.plans.VectorFunctions.lsh_buckets(
          proj(tables, bits)(col("embedding")), col("thr"), tables, bits))
          .as(Seq("tbl", "bucket")))
  }

  /** Append a landed BATCH FRAME of vectors (streaming ingest form of
    * [[lshIndexAppend]]) — hashed with the index's persisted, frozen
    * thresholds. With `tag`, the append is IDEMPOTENT under retry
    * (deterministic file names via [[IndexMaintenance.appendBatchAs]] —
    * the streaming loop's crash-window guard). */
  private[graft] def lshIndexAppendBatch(s: SparkSession, batch: DataFrame,
      indexDir: String, tag: Option[String] = None): Unit = {
    val rows = hashWithDf(batch.select(col("vec_id"), col("embedding")), metaRow(s, indexDir))
    tag match {
      case Some(t) => IndexMaintenance.appendBatchAs(s, rows, s"$indexDir/buckets", t)
      case None => IndexMaintenance.appendPlain(s, rows, s"$indexDir/buckets")
    }
    Artifacts.invalidate(s, s"$indexDir|lsh-index-buckets")
  }

  /** Build the index for `corpusDir`'s embeddings into `indexDir`.
    * Thresholds are written FIRST and read back for the bucket pass, so
    * the persisted meta is by construction the exact doubles the buckets
    * were hashed with — no recompute drift between the two files. */
  def lshIndexWrite(s: SparkSession, corpusDir: String, indexDir: String,
      tables: Int = Similarity.lshTables, bits: Int = Similarity.lshBits): Unit = {
    Tables(s, corpusDir, "embeddings")
      .select(proj(tables, bits)(col("embedding")).as("p"))
      .select(array((0 until tables * bits).map(i =>
        avg(element_at(col("p"), i + 1))): _*).as("thr"))
      .withColumn("tables", lit(tables)).withColumn("bits", lit(bits))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    hashWith(s, corpusDir, s.read.parquet(s"$indexDir/meta"))
      .write.mode("overwrite").parquet(s"$indexDir/buckets")
  }

  /** Append a landing batch's vectors to an existing index, hashed with
    * the index's persisted thresholds. The batch pays only its own
    * hashing — the standing corpus is untouched. */
  def lshIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit = {
    IndexMaintenance.appendPlain(s, hashWith(s, batchDir, metaRow(s, indexDir)),
      s"$indexDir/buckets")
    // a serve BEFORE this append may have memoized (and cached) the old
    // bucket file set — drop it so the next serve sees the batch
    Artifacts.invalidate(s, s"$indexDir|lsh-index-buckets")
  }

  /** The corpus member side of a serving plan, with an optional
    * serve-time predicate. FILTERED ANN ("nearest neighbors WHERE
    * lang='en'") must prune at the SCAN, not post-top-k: filtering a
    * finished top-k list both under-fills k and misses true in-slice
    * neighbors that lost the unfiltered ranking. Applying the predicate
    * to the raw table read — BEFORE the norm projection — lets Catalyst
    * push it into the parquet scan (`PushedFilters`, pinned in
    * `AnnIndexSpec`), so non-matching members never enter the
    * member-join, the bucket arrays, or a scoring cell. The INDEX
    * itself stays whole-corpus: one index serves every slice, the
    * production shape (a per-slice index would multiply storage by the
    * predicate vocabulary). */
  private def memberPool(s: SparkSession, corpusDirs: Seq[String],
      pred: Option[Column]): DataFrame =
    corpusDirs.map { d =>
      pred.fold(Tables(s, d, "embeddings"))(Tables(s, d, "embeddings").filter(_))
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
          col("embedding"), col("embedding"))))
        .filter(col("nrm") > 0)
    }.reduce(_ unionAll _)

  /** Serve top-[[Similarity.topK]] neighbors for an external query frame
    * (q_id, embedding) from a persisted index. `corpusDirs` name the
    * embedding tables the index covers (original corpus + any appended
    * batches); member vectors are re-joined from them by vec_id.
    * `memberPred` optionally restricts the CANDIDATE side (filtered
    * ANN — see [[memberPool]]); queries are never filtered by it. */
  def lshIndexServe(s: SparkSession, indexDir: String, corpusDirs: Seq[String],
      queries: DataFrame, multiprobe: Boolean = true,
      memberPred: Option[Column] = None): DataFrame = {
    val meta = metaRow(s, indexDir)
    val geom = meta.select(col("tables"), col("bits")).head()
    val (tables, bits) = (geom.getInt(0), geom.getInt(1))
    val buckets = IndexMaintenance.minusTombstones(s, s"$indexDir/buckets",
      Artifacts.frame(s, s"$indexDir|lsh-index-buckets") {
        s.read.parquet(s"$indexDir/buckets")
      }, "vec_id")
    // the same zero-vector exclusion as Similarity.normed: a zero query
    // has no direction and its cosine would be NaN on every candidate
    val qn = queries
      .select(col("q_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    val qbase = qn
      .crossJoin(broadcast(meta.select(col("thr"))))
      .select(col("q_id"),
        posexplode(graft.plans.VectorFunctions.lsh_buckets(
          proj(tables, bits)(col("embedding")), col("thr"), tables, bits))
          .as(Seq("tbl", "bucket")))
    val qb =
      if (!multiprobe) qbase
      else qbase.select(col("q_id"), col("tbl"),
        explode(array(col("bucket") +:
          (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val n = memberPool(s, corpusDirs, memberPred)
    val members = buckets.join(n, "vec_id")
      .groupBy(col("tbl"), col("bucket"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))
    val queriesByKey = qb.join(qn, "q_id")
      .groupBy(col("tbl"), col("bucket"))
      .agg(collect_list(struct(col("q_id"), col("embedding"), col("nrm"))).as("qs"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    // NOTE the kernel skips id-equal (q, cand) pairs — external query ids
    // therefore must not collide with corpus vec_ids unless the query IS
    // that corpus vector (the stride-served and dedup use cases)
    Similarity.tiledTopkPairs(Seq("tbl", "bucket"), queriesByKey, members)
      .distinct()
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Similarity.topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The persisted LSH index dir for `dir` at the pinned geometry — one
    * standing [[Artifacts]] temp dir per (JVM, corpus, geometry), built
    * on first use so every later call (bench reps, repeated sessions on
    * the same corpus) measures SERVING only; shared by every
    * serving-form query. */
  private[graft] def lshIndexFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"lsh-index|$dir|${Similarity.lshTables}|${Similarity.lshBits}") {
      val d = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
      lshIndexWrite(s, dir, d)
      d
    }

  /** The registered-query form: build (once) a persisted index for
    * `dir`'s embeddings, then serve the same stride-sampled query set as
    * `sim_lsh_ann` from it. Byte-identical to `sim_lsh_ann` (the serve
    * path is exact over the same probed candidate set), so it shares its
    * DuckDB oracle. */
  def simLshAnnServed(s: SparkSession, dir: String): DataFrame =
    lshIndexServe(s, lshIndexFor(s, dir), Seq(dir), strideQueries(s, dir))

  /** FILTERED ANN, the curation-pipeline shape ("top-k within
    * lang='en'"): the SAME persisted LSH index as [[simLshAnnServed]]
    * (reused via the build memo — filtering is a serve-time choice, not
    * an index property), members restricted to label =
    * [[Similarity.annFilterLabel]] at the parquet scan. Exact over the
    * probed ∩ filtered candidate set, so it carries its own full DuckDB
    * oracle ([[Similarity.lshAnnFilteredOracleSql]]) — NOT a post-hoc
    * filter of the unfiltered top-k, which would under-fill k and drop
    * in-slice neighbors (asserted distinct in `AnnIndexSpec`). */
  def simLshAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val indexDir = lshIndexFor(s, dir)
    val queries = Similarity.normed(s, dir)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    lshIndexServe(s, indexDir, Seq(dir), queries,
      memberPred = Some(col("label") === lit(Similarity.annFilterLabel)))
  }

  // ---------------------------------------------------------------- IVF

  /** Build and persist the IVF index: the TRAINED k-means centroids
    * (the learned quantizer — `centroids`: c_id, c_emb array<double>,
    * c_nrm; doubles round-trip parquet exactly, so serving reproduces
    * the in-session assignment bit-for-bit) and the keep=1 inverted-list
    * assignment (`lists`: vec_id, c_id — narrow rows, like the LSH
    * bucket table). Embeddings are again NOT copied in; serving re-joins
    * them by vec_id. Training pays its usual driver-side Lloyd cost
    * once, here — which is the entire point of persisting its output. */
  def ivfIndexWrite(s: SparkSession, corpusDir: String, indexDir: String): Unit = {
    val cent = Similarity.trainedCentroidsOf(s, corpusDir)
    cent.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val persisted = s.read.parquet(s"$indexDir/centroids")
    Similarity.nearestCentroids(persisted)(
        Similarity.normed(s, corpusDir), "vec_id", "embedding", "nrm", 1)
      .write.mode("overwrite").parquet(s"$indexDir/lists")
  }

  /** Build and persist the STRIDE-quantizer IVF index: centroids are
    * the deterministic stride sample ([[Similarity.centroidsOf]] —
    * every `centroidStride`-th vector of `corpusDir`), lists the keep=1
    * assignment. Same layout and serve path as [[ivfIndexWrite]]; the
    * deterministic quantizer is what makes the streamed-ingest
    * registered form (`stream_ivf_ingest`) fully DuckDB-oracle-able —
    * the production build stays the trained [[ivfIndexWrite]]. */
  def ivfIndexWriteStride(s: SparkSession, corpusDir: String, indexDir: String): Unit = {
    val cent = Similarity.centroidsOf(Similarity.normed(s, corpusDir))
    require(cent.limit(1).count() == 1L,
      s"ivfIndexWriteStride($corpusDir): no stride centroids " +
      s"(no vec_id % ${Similarity.centroidStride} == 1 members with nonzero norm)")
    cent.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val persisted = s.read.parquet(s"$indexDir/centroids")
    Similarity.nearestCentroids(persisted)(
        Similarity.normed(s, corpusDir), "vec_id", "embedding", "nrm", 1)
      .write.mode("overwrite").parquet(s"$indexDir/lists")
  }

  /** Append a landing batch: assign its vectors to the PERSISTED
    * centroids (the quantizer stays fixed — re-training would re-assign
    * the standing corpus, so drift means rebuild, exactly as with the
    * LSH thresholds). */
  def ivfIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit = {
    val cent = s.read.parquet(s"$indexDir/centroids")
    IndexMaintenance.appendPlain(s, Similarity.nearestCentroids(cent)(
        Similarity.normed(s, batchDir), "vec_id", "embedding", "nrm", 1),
      s"$indexDir/lists")
    Artifacts.invalidate(s, s"$indexDir|ivf-index-lists")
    Artifacts.invalidate(s, s"$indexDir|ivf-list-sizes")
  }

  /** Append a landed BATCH FRAME of vectors to the IVF index (streaming
    * ingest form of [[ivfIndexAppend]]) — assigned with the persisted,
    * frozen centroids. With `tag`, idempotent under retry (see
    * [[lshIndexAppendBatch]]). */
  private[graft] def ivfIndexAppendBatch(s: SparkSession, batch: DataFrame,
      indexDir: String, tag: Option[String] = None): Unit = {
    val cent = s.read.parquet(s"$indexDir/centroids")
    val n = batch.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    val rows = Similarity.nearestCentroids(cent)(n, "vec_id", "embedding", "nrm", 1)
    tag match {
      case Some(t) => IndexMaintenance.appendBatchAs(s, rows, s"$indexDir/lists", t)
      case None => IndexMaintenance.appendPlain(s, rows, s"$indexDir/lists")
    }
    Artifacts.invalidate(s, s"$indexDir|ivf-index-lists")
    Artifacts.invalidate(s, s"$indexDir|ivf-list-sizes")
  }

  /** Serve top-k for an external (q_id, embedding) frame from a
    * persisted IVF index: queries probe their `ivfProbesFor(k)` nearest
    * persisted centroids (constant-fraction rule — the probe count
    * derives from the index's OWN list count, no corpus statistic
    * needed), and scoring runs inside per-list tile cells via the same
    * fused kernel as every other ANN path.
    *
    * `pushProbedCells` is the SMALL-QUERY-BATCH serve shape: the
    * default plan reads the whole list table (the probed-cell set is
    * data-dependent — computed by hashing the queries — so no static
    * predicate reaches the scan), which is right when a stride-sized
    * query batch probes most lists anyway. A production point-lookup
    * batch probes a small fraction of lists; with the flag, the probed
    * c_id set is computed first and COLLECTED (bounded by the list
    * count — the same driver-artifact size as the already-broadcast
    * centroid array) and pushed into the list scan as `c_id IN (...)`,
    * which row-group-skips after [[ivfIndexCompact]]'s c_id sort —
    * unprobed lists' bytes are never read. Results are identical (the
    * filter removes only lists the join would drop); bytes measured in
    * ScaleSmoke, plan pinned in PlanGuardSpec. */
  def ivfIndexServe(s: SparkSession, indexDir: String, corpusDirs: Seq[String],
      queries: DataFrame, memberPred: Option[Column] = None,
      probeOverride: Option[Int] = None,
      pushProbedCells: Boolean = false): DataFrame = {
    val cent = Artifacts.frame(s, s"$indexDir|ivf-index-centroids") {
      s.read.parquet(s"$indexDir/centroids")
    }
    val qn = queries
      .select(col("q_id").as("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    // probe set: an explicit override keeps the pinned count (the
    // oracled stride twins and point lookups); otherwise the probes are
    // MASS-budgeted exactly like the in-session auto path — each query
    // walks its nearest lists (capped at the old list-count rule) until
    // the cumulative probed LIST MASS reaches ivfProbeFraction of the
    // corpus, so skew changes how many lists the budget takes, not how
    // much work it buys (the round-9 clustered experiment's 10x lesson,
    // now also on the persisted production path). The per-list sizes
    // memoize per index (one tombstone-masked aggregation per process,
    // invalidated on append/delete/compact); the corpus size is the
    // masked sizes' own sum, so the budget covers the SERVABLE corpus.
    val probeRows = probeOverride match {
      case Some(p) => Similarity.nearestCentroids(cent)(
        qn, "vec_id", "embedding", "nrm", p, carry = Seq("embedding", "nrm"))
      case None =>
        val cap = Similarity.ivfProbesFor(cent.count().toDouble)
        val (sizes, budget) = ivfServableBudget(s, indexDir)
        // hint the probe re-join's query side ONLY when Catalyst's own
        // size estimate fits the broadcast threshold — an unconditional
        // hint bypassed AQE's size check, so an externally supplied
        // large query batch could OOM the driver (r11 advice)
        val thr = s.sessionState.conf.autoBroadcastJoinThreshold
        Similarity.massTrimmedProbes(cent, qn, cap, sizes, budget,
          broadcastQueries =
            thr > 0 && qn.queryExecution.optimizedPlan.stats.sizeInBytes <= thr)
    }
    // the point-lookup shape deliberately BYPASSES the memoized cache:
    // materializing a whole-table cache to serve a handful of queries is
    // the opposite of the goal, and only a direct parquet read lets the
    // probed-cell predicate reach the scan (a cached InMemoryRelation
    // absorbs the filter above the already-read batches)
    val assign =
      if (!pushProbedCells)
        IndexMaintenance.minusTombstones(s, s"$indexDir/lists",
          Artifacts.frame(s, s"$indexDir|ivf-index-lists") {
            s.read.parquet(s"$indexDir/lists")
          }, "vec_id")
      else IndexMaintenance.minusTombstones(s, s"$indexDir/lists",
          s.read.parquet(s"$indexDir/lists"), "vec_id")
        .filter(col("c_id").isin(probeRows.select(col("c_id")).distinct()
          .collect().map(_.getLong(0)).toSeq: _*))
    val n = memberPool(s, corpusDirs, memberPred)
    val lists = assign.join(n, "vec_id")
      .groupBy(col("c_id"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))
    val qlists = probeRows
      .groupBy(col("c_id"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("qs"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    Similarity.tiledTopkPairs(Seq("c_id"), qlists, lists)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Similarity.topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The persisted serve's mass budget, over the SERVABLE corpus: the
    * per-list sizes AND their sum both come from the tombstone-masked
    * lists frame, so a heavily-retracted index buys probes proportional
    * to what it can actually serve, not to rows compaction hasn't swept
    * yet (round-10 finding; tombstone-free indexes see identical
    * numbers — the mask is a no-op anti join there). The masked
    * aggregation memoizes per process (invalidated on
    * append/delete/compact); the per-serve cost is a sum over
    * ≤ nLists cached rows. */
  private[graft] def ivfServableBudget(
      s: SparkSession, indexDir: String): (DataFrame, Double) = {
    val sizes = Artifacts.frame(s, s"$indexDir|ivf-list-sizes") {
      IndexMaintenance.minusTombstones(s, s"$indexDir/lists",
          s.read.parquet(s"$indexDir/lists"), "vec_id")
        .groupBy(col("c_id")).agg(count(lit(1)).as("lsz"))
    }
    val rows = Option(sizes.agg(sum(col("lsz"))).collect()(0).get(0))
      .fold(0.0)(_.asInstanceOf[Long].toDouble)
    (sizes, rows * Similarity.ivfProbeFraction)
  }

  /** Registered-query form: persist the trained IVF index once for
    * `dir`, serve the stride query set from it. Rows-only like every
    * trained-quantizer variant (k-means float-summation order), but
    * byte-identical to `sim_ivf_topk_auto` on corpora where the
    * statistic-derived and list-count-derived probe counts agree
    * (pinned in `AnnIndexSpec` at sf0.001) and self-checked per Verify
    * run (cosine recompute + recall vs brute force). */
  def simIvfTopkServed(s: SparkSession, dir: String): DataFrame =
    ivfIndexServe(s, ivfIndexFor(s, dir), Seq(dir), strideQueries(s, dir))

  /** The shared per-corpus persisted trained IVF index. */
  private def ivfIndexFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"ivf-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
      ivfIndexWrite(s, dir, d)
      d
    }

  /** STRIDE twin of [[simIvfTopkServed]] (round 9): the identical
    * persisted-index serve composition — index write, tombstone mask,
    * per-cell group-join, fused kernel, exact ranking — run with the
    * deterministic stride quantizer and the fixed [[Similarity.nProbe]]
    * probe count, so the SERVE PATH ITSELF carries a full DuckDB
    * oracle (shared with `sim_ivf_topk`, to which it is value-equal by
    * construction). The trained variant stays rows-only legitimately
    * (k-means float-summation order); this pins the plumbing. */
  def simIvfTopkServedStride(s: SparkSession, dir: String): DataFrame =
    ivfIndexServe(s, strideIndexFor(s, dir), Seq(dir), strideQueries(s, dir),
      probeOverride = Some(Similarity.nProbe))

  /** STRIDE twin of [[simIvfTopkFiltered]]: the filtered serve
    * composition (member predicate at the member pool, whole-corpus
    * assignment) over the stride index at fixed probes — oracled via
    * the member-restricted form of the `sim_ivf_topk` oracle. */
  def simIvfTopkFilteredStride(s: SparkSession, dir: String): DataFrame =
    ivfIndexServe(s, strideIndexFor(s, dir), Seq(dir), strideQueries(s, dir),
      memberPred = Some(col("label") === lit(Similarity.annFilterLabel)),
      probeOverride = Some(Similarity.nProbe))

  /** Registered-query form of the AUTOPILOT decision log
    * ([[Autopilot.indexAutopilot]]) over the shared stride IVF index:
    * the policy's trigger evaluation — health metric, threshold,
    * chosen action, performed flag — restated in SQL (the skew value
    * is the `sim_ivf_health` oracle's own expression; thresholds are
    * the documented constants). `corpusDirs` is deliberately empty so
    * a drifted corpus can never retrain (= mutate the quantizer of)
    * the SHARED stride index mid-verify; a compact, should file debt
    * ever trigger one, is value-preserving by contract. The physical
    * `data_files` trigger stays library-only, as in the health
    * queries. */
  def simAutopilotReport(s: SparkSession, dir: String): DataFrame =
    Autopilot.indexAutopilot(s, strideIndexFor(s, dir))
      .filter(col("trigger") =!= "data_files")
      .orderBy(col("trigger"))

  /** The shared per-corpus persisted STRIDE-quantizer index (also the
    * artifact `sim_ivf_health` reports on). */
  private def strideIndexFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"ivf-stride-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-ivf-stride-index").toString
      ivfIndexWriteStride(s, dir, d)
      d
    }

  private def strideQueries(s: SparkSession, dir: String): DataFrame =
    Similarity.normed(s, dir)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))

  /** Filtered ANN over the persisted IVF index — same serve-time member
    * predicate as [[simLshAnnFiltered]], same reused whole-corpus index
    * as [[simIvfTopkServed]]. Rows-only (trained quantizer), with the
    * per-Verify self-check recomputing cosines and in-slice recall. */
  def simIvfTopkFiltered(s: SparkSession, dir: String): DataFrame =
    ivfIndexServe(s, ivfIndexFor(s, dir), Seq(dir), strideQueries(s, dir),
      memberPred = Some(col("label") === lit(Similarity.annFilterLabel)))

  // ------------------------------------------------------------- IVF-PQ

  /** Build and persist the composed IVF-PQ index: the trained centroids
    * (as in [[ivfIndexWrite]]), the PQ codebook (one row of doubles —
    * parquet round-trips them exactly, so served ADC scores reproduce
    * the in-session ones bit-for-bit), and the inverted lists WITH the
    * 8-byte codes inline — (c_id, vec_id, codes) rows, ~60 B each. This
    * is the index layout where serving never touches a raw embedding
    * until exact rescore: the compressed scan reads only the persisted
    * code rows of the probed lists. Embeddings are still NOT duplicated
    * (the rescore step re-joins the corpus parquet by vec_id). */
  def ivfPqIndexWrite(s: SparkSession, corpusDir: String, indexDir: String): Unit = {
    import s.implicits._
    Similarity.trainedCentroidsOf(s, corpusDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val cb = Similarity.pqCodebook(s, corpusDir)
    Seq((cb.toSeq, Similarity.pqM)).toDF("cb", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    val cent = s.read.parquet(s"$indexDir/centroids")
    Similarity.ivfPqAssign(cent, cb, Similarity.normed(s, corpusDir))
      .write.mode("overwrite").parquet(s"$indexDir/lists")
  }

  /** Append a landing batch: assign + encode with the PERSISTED
    * quantizer and codebook, both frozen at build time (the same
    * no-retrain-on-append semantic as the other indexes — re-training
    * either would invalidate every standing code row). */
  def ivfPqIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit = {
    val cent = s.read.parquet(s"$indexDir/centroids")
    IndexMaintenance.appendPlain(s, Similarity.ivfPqAssign(cent,
        readCodebook(s, indexDir), Similarity.normed(s, batchDir)),
      s"$indexDir/lists")
    Artifacts.invalidate(s, s"$indexDir|ivfpq-lists")
  }

  private def readCodebook(s: SparkSession, indexDir: String): Array[Double] =
    s.read.parquet(s"$indexDir/codebook").head().getSeq[Double](0).toArray

  /** Serve top-k for an external (q_id, embedding) frame from a
    * persisted IVF-PQ index: probe count from the index's own list
    * count, compressed ADC scan over the probed lists' persisted code
    * rows, exact rescore against the corpus union. Identical plan
    * family to the in-session [[Similarity.simIvfPqTopk]] — byte-
    * identity pinned in `AnnIndexSpec`. */
  def ivfPqIndexServe(s: SparkSession, indexDir: String, corpusDirs: Seq[String],
      queries: DataFrame, pushProbedCells: Boolean = false): DataFrame = {
    val cent = Artifacts.frame(s, s"$indexDir|ivfpq-centroids") {
      s.read.parquet(s"$indexDir/centroids")
    }
    // small-batch probed-cell pushdown bypasses the memoized cache —
    // see [[ivfIndexServe]]
    val assigned =
      if (!pushProbedCells)
        IndexMaintenance.minusTombstones(s, s"$indexDir/lists",
          Artifacts.frame(s, s"$indexDir|ivfpq-lists") {
            s.read.parquet(s"$indexDir/lists")
          }, "vec_id")
      else IndexMaintenance.minusTombstones(s, s"$indexDir/lists",
          s.read.parquet(s"$indexDir/lists"), "vec_id")
        .filter(col("c_id").isin(probedCellsWith(cent, queries,
          Similarity.ivfProbesFor(cent.count().toDouble)): _*))
    val n = corpusDirs.map(Similarity.normed(s, _)).reduce(_ unionAll _)
    val qn = queries
      .select(col("q_id").as("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    Similarity.ivfPqOver(cent, readCodebook(s, indexDir), assigned, qn, n,
      cent.count().toDouble)
  }

  /** The distinct c_id set a query batch probes — the driver-side
    * artifact behind the probed-cell pushdown (bounded by the list
    * count, the same size class as the already-broadcast centroid
    * array). */
  private def probedCellsWith(cent: DataFrame, queries: DataFrame,
      probes: Int): Array[Long] = {
    val qn = queries
      .select(col("q_id").as("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    Similarity.nearestCentroids(cent)(qn, "vec_id", "embedding", "nrm", probes)
      .select(col("c_id")).distinct().collect().map(_.getLong(0))
  }

  /** Measurement accessor: the probed c_id set for `queries` against
    * the persisted index's centroids, at the index's derived probe
    * count or an explicit override (ScaleSmoke's bytes-read isolation
    * uses both shapes). */
  private[graft] def probedCellsOf(s: SparkSession, indexDir: String,
      queries: DataFrame, probeOverride: Option[Int] = None): Array[Long] = {
    val cent = s.read.parquet(s"$indexDir/centroids")
    probedCellsWith(cent, queries,
      probeOverride.getOrElse(Similarity.ivfProbesFor(cent.count().toDouble)))
  }

  // ------------------------------------------------------ drift retrain
  //
  // The append path freezes the quantizer (thresholds / centroids /
  // codebook) at build time — re-centering per batch would re-bucket
  // the standing corpus. The cost of that semantic is DRIFT: as the
  // ingested corpus diverges from the seed distribution, frozen
  // thresholds unbalance buckets and frozen centroids stop covering the
  // new region, so recall decays silently (measured in ScaleSmoke's
  // drift experiment). Production deployments (FAISS/SPANN-style)
  // answer with an explicit OFFLINE RETRAIN on the current corpus —
  // train fresh quantizer, rebuild the assignment tables, atomic-swap
  // publish — which is exactly what these operators do. The retrain
  // corpus is the index's CURRENT SERVABLE membership (standing ids
  // minus pending tombstones, re-joined to the corpus parquet), so a
  // retrain also physically drops retracted rows, like a compact.
  // Contract (spec-pinned): post-retrain serving == an index built
  // fresh from the current corpus.

  private def retrainTmpDir(s: SparkSession, indexDir: String): String = {
    val dest = new org.apache.hadoop.fs.Path(indexDir)
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent, s".${dest.getName}.retrain.tmp")
    val f = dest.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (f.exists(tmp)) f.delete(tmp, true)
    tmp.toString
  }

  /** The index's current servable corpus: standing ids minus pending
    * tombstones, re-joined to `corpusFrame` — the EXACT frame the
    * family's build reads (raw embeddings for LSH, whose build hashes
    * zero-norm vectors too; normed for IVF/PQ, whose assignment needs
    * the norm and whose serve excludes directionless vectors). Exact
    * only under the table lock — the retrain ops snapshot it there. */
  private def servableCorpus(s: SparkSession, tablePath: String,
      corpusFrame: DataFrame): DataFrame = {
    val ids = IndexMaintenance.minusTombstones(s, tablePath,
        s.read.parquet(tablePath), "vec_id")
      .select(col("vec_id")).distinct()
    corpusFrame.join(ids, "vec_id")
  }

  private def rawCorpus(s: SparkSession, corpusDirs: Seq[String]): DataFrame =
    corpusDirs.map(Tables(s, _, "embeddings")
      .select(col("vec_id"), col("embedding"))).reduce(_ unionAll _)
  private def normedCorpus(s: SparkSession, corpusDirs: Seq[String]): DataFrame =
    corpusDirs.map(Similarity.normed(s, _)).reduce(_ unionAll _)

  /** Pending-tombstone snapshot the rebuild honors — the publish's
    * compare-target for deletes that race the retrain cross-process. */
  private def tombstoneSnapshot(s: SparkSession, tablePath: String): Set[(Long, Long)] =
    IndexMaintenance.pendingTombstones(s, tablePath).map(_.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet).getOrElse(Set.empty)

  /** Retrain the LSH thresholds on the current corpus and re-hash it.
    * Geometry (tables, bits) is preserved; only the learned component —
    * the per-plane mean thresholds — refreshes, which is what drifts as
    * the ingested distribution moves off the seed's mean. The corpus
    * snapshot, rebuild, and swap run under the bucket table's
    * maintenance lock (in-JVM appends/deletes stall for the rebuild
    * write, not the training — for LSH the two coincide, the threshold
    * average IS the training); a delete racing from another process is
    * preserved by the publish's late-tombstone re-apply, and every
    * crash state heals at the next maintenance op
    * ([[IndexMaintenance.recoverPublish]]). */
  def lshIndexRetrain(s: SparkSession, indexDir: String, corpusDirs: Seq[String]): Unit = {
    IndexMaintenance.withTableLock(s, s"$indexDir/buckets") {
      IndexMaintenance.recoverPublish(s, indexDir, "buckets")
      // geometry read AFTER recovery — a crash state may have the live
      // index under the publish aside until the heal above
      val geom = s.read.parquet(s"$indexDir/meta").select(col("tables"), col("bits")).head()
      val (tables, bits) = (geom.getInt(0), geom.getInt(1))
      val corpus = servableCorpus(s, s"$indexDir/buckets", rawCorpus(s, corpusDirs))
      val consumed = tombstoneSnapshot(s, s"$indexDir/buckets")
      val tmp = retrainTmpDir(s, indexDir)
      corpus
        .select(proj(tables, bits)(col("embedding")).as("p"))
        .select(array((0 until tables * bits).map(i =>
          avg(element_at(col("p"), i + 1))): _*).as("thr"))
        .withColumn("tables", lit(tables)).withColumn("bits", lit(bits))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
      hashWithDf(corpus.select(col("vec_id"), col("embedding")),
          s.read.parquet(s"$tmp/meta"))
        .write.mode("overwrite").parquet(s"$tmp/buckets")
      IndexMaintenance.publishDir(s, tmp, indexDir, "buckets", consumed)
    }
    Artifacts.invalidate(s, s"$indexDir|")
  }

  /** Retrain the IVF coarse quantizer (k-means on the current corpus)
    * and rebuild the inverted lists. The long k-means runs OUTSIDE the
    * table lock (training quality tolerates a drifting-by-one-batch
    * corpus read); the exact corpus snapshot, list rebuild, and swap
    * run under it — see [[lshIndexRetrain]] for the race/crash
    * contract. */
  def ivfIndexRetrain(s: SparkSession, indexDir: String, corpusDirs: Seq[String]): Unit = {
    val cent = Similarity.trainKmeans(s,
      servableCorpus(s, s"$indexDir/lists", normedCorpus(s, corpusDirs)),
      Similarity.kmeansIters, s"ivfIndexRetrain($indexDir)")
    IndexMaintenance.withTableLock(s, s"$indexDir/lists") {
      IndexMaintenance.recoverPublish(s, indexDir, "lists")
      val corpus = servableCorpus(s, s"$indexDir/lists", normedCorpus(s, corpusDirs))
      val consumed = tombstoneSnapshot(s, s"$indexDir/lists")
      val tmp = retrainTmpDir(s, indexDir)
      cent.coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      Similarity.nearestCentroids(s.read.parquet(s"$tmp/centroids"))(
          corpus, "vec_id", "embedding", "nrm", 1)
        .write.mode("overwrite").parquet(s"$tmp/lists")
      IndexMaintenance.publishDir(s, tmp, indexDir, "lists", consumed)
    }
    Artifacts.invalidate(s, s"$indexDir|")
  }

  /** Retrain the composed IVF-PQ index: fresh k-means centroids AND a
    * fresh prefix codebook from the current corpus (the same quantizer
    * pair [[ivfPqIndexWrite]] builds with), then re-assign + re-encode
    * every servable vector. A codebook refresh invalidates every
    * standing code row by construction — which is why this is a rebuild
    * operator, never an append-path option. Locking/crash contract as
    * [[ivfIndexRetrain]] (both trainings outside the lock). */
  def ivfPqIndexRetrain(s: SparkSession, indexDir: String, corpusDirs: Seq[String]): Unit = {
    import s.implicits._
    val trainCorpus = servableCorpus(s, s"$indexDir/lists", normedCorpus(s, corpusDirs))
    val cent = Similarity.trainKmeans(s, trainCorpus, Similarity.kmeansIters,
      s"ivfPqIndexRetrain($indexDir)")
    val cb = Similarity.pqCodebookOfFrame(trainCorpus)
    IndexMaintenance.withTableLock(s, s"$indexDir/lists") {
      IndexMaintenance.recoverPublish(s, indexDir, "lists")
      val corpus = servableCorpus(s, s"$indexDir/lists", normedCorpus(s, corpusDirs))
      val consumed = tombstoneSnapshot(s, s"$indexDir/lists")
      val tmp = retrainTmpDir(s, indexDir)
      cent.coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      Seq((cb.toSeq, Similarity.pqM)).toDF("cb", "m")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/codebook")
      Similarity.ivfPqAssign(s.read.parquet(s"$tmp/centroids"), cb, corpus)
        .write.mode("overwrite").parquet(s"$tmp/lists")
      IndexMaintenance.publishDir(s, tmp, indexDir, "lists", consumed)
    }
    Artifacts.invalidate(s, s"$indexDir|")
  }

  // ------------------------------------------------------- index health
  //
  // The drift experiment's operational lesson (PLANS.md round 8): for a
  // frozen quantizer, RECALL is the wrong drift alarm — a drifted
  // corpus crowds a few mega-lists near the seed centroids' edge, the
  // probe ring pays the mega-list scan, and recall holds while task
  // skew and candidate blowup grow unbounded. The metric a deployment
  // must watch is the list-size distribution, so the engine exposes it
  // as a first-class (metric, value) report — cheap (one aggregation of
  // the assignment table), serveable on a schedule, and the trigger for
  // [[ivfIndexRetrain]].

  /** Operational health of a persisted IVF-family index (works for the
    * IVF and IVF-PQ layouts — both carry (vec_id, c_id) lists). One row
    * per metric: `n_lists` (trained centroids), `n_vectors` (servable
    * assignment rows, tombstones excluded), `nonempty_lists`,
    * `hot_list_skew` (max list size over mean nonempty list size — the
    * drift alarm; ~1 is balanced, the drift experiment measured 39.5
    * on a mean-shifted corpus), `top5_list_mass` (servable mass share
    * of the 5 largest lists), `pending_tombstones` (takedown debt),
    * `data_files` (small-file/compaction debt). All aggregation is
    * distributed; only 1-row aggregates reach the driver. */
  def ivfIndexHealth(s: SparkSession, indexDir: String): DataFrame = {
    import s.implicits._
    val lists = IndexMaintenance.minusTombstones(s, s"$indexDir/lists",
      s.read.parquet(s"$indexDir/lists"), "vec_id")
    // the size distribution is computed ONCE (cached — list-count-sized,
    // tiny) and feeds both bounded actions; the assignment table itself
    // is scanned a single time
    val sizes = lists.groupBy(col("c_id")).agg(count(lit(1)).as("n")).cache()
    val (mx, nonempty, total, top5) = try {
      val agg = sizes.agg(max(col("n")).as("mx"), count(lit(1)).as("nonempty"),
        sum(col("n")).as("total")).head()
      val t5 = sizes.orderBy(col("n").desc, col("c_id")).limit(5)
        .agg(sum(col("n"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      if (agg.isNullAt(0)) (0L, 0L, 0L, t5) else (agg.getLong(0), agg.getLong(1), agg.getLong(2), t5)
    } finally { sizes.unpersist(); () }
    val pend = IndexMaintenance.pendingTombstones(s, s"$indexDir/lists")
      .map(_.select(col("id")).distinct().count()).getOrElse(0L)
    val nLists = s.read.parquet(s"$indexDir/centroids").count()
    val files = IndexMaintenance.dataFiles(s, s"$indexDir/lists").size
    Seq(
      ("data_files", files.toDouble),
      ("hot_list_skew", if (nonempty == 0) 0.0 else mx / (total.toDouble / nonempty)),
      ("n_lists", nLists.toDouble),
      ("n_vectors", total.toDouble),
      ("nonempty_lists", nonempty.toDouble),
      ("pending_tombstones", pend.toDouble),
      ("top5_list_mass", if (total == 0) 0.0 else top5.toDouble / total)
    ).toDF("metric", "value")
      .select(col("metric"), round(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  /** LSH sibling of [[ivfIndexHealth]]: the bucket-size distribution of
    * a persisted LSH index. `hot_bucket_skew` is the MULTIPROBE-cost
    * alarm (a hot bucket is scanned by every query whose probe ring
    * touches it — the tiled kernel bounds per-task work, but total
    * candidate volume still scales with bucket mass), `top5_bucket_mass`
    * the concentration share, plus `n_tables`/`n_vectors`/
    * `n_bucket_rows`/`nonempty_buckets`, tombstone debt and file debt. */
  def lshIndexHealth(s: SparkSession, indexDir: String): DataFrame = {
    import s.implicits._
    val buckets = IndexMaintenance.minusTombstones(s, s"$indexDir/buckets",
      s.read.parquet(s"$indexDir/buckets"), "vec_id")
    val sizes = buckets.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("n")).cache()
    val (mx, nonempty, total, top5) = try {
      val agg = sizes.agg(max(col("n")).as("mx"), count(lit(1)).as("nonempty"),
        sum(col("n")).as("total")).head()
      val t5 = sizes.orderBy(col("n").desc, col("tbl"), col("bucket")).limit(5)
        .agg(sum(col("n"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      if (agg.isNullAt(0)) (0L, 0L, 0L, t5) else (agg.getLong(0), agg.getLong(1), agg.getLong(2), t5)
    } finally { sizes.unpersist(); () }
    // deliberately an independent scan, NOT total/tables: n_vectors
    // diverging from n_bucket_rows/n_tables IS the corruption signal
    // the rows-per-table invariant check reads from this report
    val nVec = buckets.select(col("vec_id")).distinct().count()
    val tables = metaRow(s, indexDir).select(col("tables")).head().getInt(0)
    val pend = IndexMaintenance.pendingTombstones(s, s"$indexDir/buckets")
      .map(_.select(col("id")).distinct().count()).getOrElse(0L)
    val files = IndexMaintenance.dataFiles(s, s"$indexDir/buckets").size
    Seq(
      ("data_files", files.toDouble),
      ("hot_bucket_skew", if (nonempty == 0) 0.0 else mx / (total.toDouble / nonempty)),
      ("n_bucket_rows", total.toDouble),
      ("n_tables", tables.toDouble),
      ("n_vectors", nVec.toDouble),
      ("nonempty_buckets", nonempty.toDouble),
      ("pending_tombstones", pend.toDouble),
      ("top5_bucket_mass", if (total == 0) 0.0 else top5.toDouble / total)
    ).toDF("metric", "value")
      .select(col("metric"), round(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  /** Registered-query form of [[lshIndexHealth]] over the shared
    * per-corpus persisted LSH index; the oracle rebuilds the bucket
    * assignment in SQL (the pinned-hyperplane chain) and recomputes
    * the same statistics. Physical file count stays library-only. */
  def simLshHealth(s: SparkSession, dir: String): DataFrame =
    lshIndexHealth(s, lshIndexFor(s, dir)).filter(col("metric") =!= "data_files")

  /** Registered-query form of [[ivfIndexHealth]] over a persisted
    * STRIDE-quantizer index (memoized per corpus): every metric is
    * SQL-restatable — the oracle recomputes the stride assignment and
    * the same distribution statistics — except the physical file count,
    * which is excluded here and stays in the library report. */
  def simIvfHealth(s: SparkSession, dir: String): DataFrame =
    ivfIndexHealth(s, strideIndexFor(s, dir)).filter(col("metric") =!= "data_files")

  /** Compact the LSH bucket table: few files, sorted on the serve key
    * (tbl, bucket) so probed buckets cluster into prunable row groups.
    * Meta (1 row) is left alone. The serve memo of the old file set is
    * invalidated. See [[IndexMaintenance]]. */
  def lshIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    IndexMaintenance.recoverPublish(s, indexDir, "buckets")
    val r = IndexMaintenance.compactTable(s, s"$indexDir/buckets", Seq("tbl", "bucket"),
      tombstoneCol = Some("vec_id"), markerDir = Some(s"$indexDir/_batches"))
    Artifacts.invalidate(s, s"$indexDir|")
    r
  }

  /** Retract vectors from the LSH bucket index (takedown): tombstoned
    * now — gone from the next serve's candidate pool — physically
    * dropped at the next [[lshIndexCompact]]. Idempotent. */
  def lshIndexDelete(s: SparkSession, indexDir: String, vecIds: Seq[Long]): Unit = {
    IndexMaintenance.recoverPublish(s, indexDir, "buckets")
    IndexMaintenance.deleteIds(s, s"$indexDir/buckets", vecIds)
  }

  /** Compact the IVF inverted-list table on c_id (the probe key). */
  def ivfIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    IndexMaintenance.recoverPublish(s, indexDir, "lists")
    val r = IndexMaintenance.compactTable(s, s"$indexDir/lists", Seq("c_id", "vec_id"),
      tombstoneCol = Some("vec_id"), markerDir = Some(s"$indexDir/_batches"))
    Artifacts.invalidate(s, s"$indexDir|")
    r
  }

  /** Retract vectors from the IVF list index. The centroids stay: the
    * quantizer is trained structure, not per-doc content — deleting a
    * member never re-trains (same frozen-quantizer semantic as append). */
  def ivfIndexDelete(s: SparkSession, indexDir: String, vecIds: Seq[Long]): Unit = {
    IndexMaintenance.recoverPublish(s, indexDir, "lists")
    IndexMaintenance.deleteIds(s, s"$indexDir/lists", vecIds)
    // the serve-budget memo bakes the tombstone MASK into a cached
    // frame (ivfServableBudget) — unlike the raw lists memo, it goes
    // stale on delete, not just on append/compact
    Artifacts.invalidate(s, s"$indexDir|ivf-list-sizes")
  }

  /** Compact the IVF-PQ code-carrying list table on c_id. */
  def ivfPqIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    IndexMaintenance.recoverPublish(s, indexDir, "lists")
    val r = IndexMaintenance.compactTable(s, s"$indexDir/lists", Seq("c_id", "vec_id"),
      tombstoneCol = Some("vec_id"), markerDir = Some(s"$indexDir/_batches"))
    Artifacts.invalidate(s, s"$indexDir|")
    r
  }

  /** Retract vectors from the IVF-PQ index (codebook + centroids stay
    * frozen, as with append). */
  def ivfPqIndexDelete(s: SparkSession, indexDir: String, vecIds: Seq[Long]): Unit = {
    IndexMaintenance.recoverPublish(s, indexDir, "lists")
    IndexMaintenance.deleteIds(s, s"$indexDir/lists", vecIds)
  }

  /** Registered-query form: persist the IVF-PQ index once for `dir`,
    * serve the stride query set from it. Rows-only (trained quantizer);
    * self-checked per Verify run like the other served paths. */
  def simIvfPqTopkServed(s: SparkSession, dir: String): DataFrame = {
    val indexDir = Artifacts.tempDir(s"ivfpq-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-ivfpq-index").toString
      ivfPqIndexWrite(s, dir, d)
      d
    }
    ivfPqIndexServe(s, indexDir, Seq(dir), strideQueries(s, dir))
  }
}
