package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Persisted ANN indexes (LSH, IVF and IVF-PQ) — the one read path of
  * the vector family's ANN keys.
  *
  * A production ANN deployment does not re-hash the corpus per query
  * session: the index is built ONCE per corpus generation, persisted,
  * and served against. Every registered LSH, IVF and IVF-PQ key reads
  * such an index, built on first use into a standing [[Artifacts]] temp
  * dir per (JVM, corpus, geometry):
  *
  *  - `lshIndexWrite` persists `indexDir/meta` (the hyperplane config +
  *    the corpus-mean thresholds — the learned part of the index) and
  *    `indexDir/buckets` (narrow (vec_id, tbl, bucket) rows, the linear
  *    O(N·tables) index itself). Embeddings are NOT duplicated into the
  *    index: at scale a `tables`-way copy of the corpus would dominate
  *    storage, so serving re-joins members to the corpus parquet by
  *    vec_id (column-pruned scan).
  *  - `lshIndexAppend` hashes a NEW batch of vectors with the index's
  *    PERSISTED thresholds and appends — the landing-zone ingest form
  *    (counterpart of `Dedup.dedupIndexAppend`). Thresholds stay
  *    fixed at the generation the index was trained on, which is the
  *    production semantic: re-centering would silently re-bucket the
  *    existing corpus, so drift is handled by a rebuild, not an append.
  *  - `lshIndexServe` takes an EXTERNAL query frame (q_id, embedding) —
  *    not a stride sample of the corpus — hashes it with the persisted
  *    thresholds, 1-flip multi-probes, and scores within probed buckets
  *    through the tiled `cell_topk_pairs` kernel
  *    ([[Similarity.tiledTopkPairs]]). Per-cell rank lower-bounds bucket
  *    rank, so the result is EXACT over the probed candidate set — which
  *    is why `sim_lsh_ann` carries a DuckDB oracle that is a plain top-k
  *    over all (bucket ∪ 1-flip probe) pairs.
  *  - the IVF and IVF-PQ indexes follow the same write / append / serve
  *    / compact / delete / retrain shape over (vec_id, c_id) lists.
  */
object AnnIndex {

  private def proj(tables: Int, bits: Int)(c: Column): Column =
    graft.plans.VectorFunctions.lsh_projections(
      c, Similarity.hyperplanesFor(tables, bits), Similarity.embDims)

  /** The single meta row: per-plane thresholds + the table geometry.
    * Tiny (tables·bits doubles) — broadcast into every serving plan. */
  private def metaRow(s: SparkSession, indexDir: String): DataFrame =
    Artifacts.frame(s, s"$indexDir|lsh-index-meta") {
      IndexMaintenance.read(s, indexDir, "meta")
    }

  /** The log facts holding an LSH index's geometry, committed with the
    * meta table at build and retrain. */
  private val tablesFact = "meta.tables"
  private val bitsFact = "meta.bits"

  private def geometryFacts(tables: Int, bits: Int): Map[String, String] =
    Map(tablesFact -> tables.toString, bitsFact -> bits.toString)

  /** (tables, bits) of an LSH index snapshot, read from its log facts —
    * no Spark job. An index whose log holds no geometry fails loudly. */
  private def lshGeometry(snap: IndexMaintenance.Snapshot): (Int, Int) = {
    def fact(k: String): Int = snap.props.getOrElse(k, throw new IllegalStateException(
      s"${snap.root} has no LSH geometry ($k) in its index log; build the index first")).toInt
    (fact(tablesFact), fact(bitsFact))
  }

  /** A vec_id table of the index, tombstone-masked: through the
    * per-session cache under `key` while no delete is pending (appends,
    * deletes and compactions invalidate it), straight from the snapshot
    * otherwise. */
  private def servedTable(s: SparkSession, indexDir: String, table: String,
      key: String): DataFrame = {
    val snap = IndexMaintenance.snapshot(s, indexDir)
    if (snap.tombstonesOf(table).nonEmpty) snap.scan(s, table, "vec_id")
    else Artifacts.frame(s, s"$indexDir|$key")(snap.read(s, table))
  }

  /** Hash `dir`'s embeddings against an explicit meta frame (broadcast
    * join — the thresholds are one row). Shared by build, append, and
    * the query side of serve. */
  private def hashWith(s: SparkSession, dir: String, meta: DataFrame,
      geometry: (Int, Int)): DataFrame =
    hashWithDf(Tables(s, dir, "embeddings"), meta, geometry)

  /** Same over an arbitrary (vec_id, embedding) frame — the streaming
    * ingest foreachBatch body hashes its landed batch directly. */
  private def hashWithDf(vecs: DataFrame, meta: DataFrame, geometry: (Int, Int)): DataFrame = {
    val (tables, bits) = geometry
    vecs
      .crossJoin(broadcast(meta.select(col("thr"))))
      .select(col("vec_id"),
        posexplode(graft.plans.VectorFunctions.lsh_buckets(
          proj(tables, bits)(col("embedding")), col("thr"), tables, bits))
          .as(Seq("tbl", "bucket")))
  }

  /** Append a landed BATCH FRAME of vectors (streaming ingest form of
    * [[lshIndexAppend]]) — hashed with the index's persisted, frozen
    * thresholds. With `mark`, the rows commit with the streaming batch
    * mark, so a retry lands nothing. */
  private[graft] def lshIndexAppendBatch(s: SparkSession, batch: DataFrame,
      indexDir: String, mark: Option[(String, Long)] = None): Unit = {
    val rows = hashWithDf(batch.select(col("vec_id"), col("embedding")), metaRow(s, indexDir),
      lshGeometry(IndexMaintenance.snapshot(s, indexDir)))
    IndexMaintenance.append(s, indexDir, Seq("buckets" -> rows), mark)
    Artifacts.invalidate(s, s"$indexDir|lsh-index-buckets")
  }

  /** LSH thresholds of `corpus`: the per-plane mean projection.
    *
    * Hyperplanes are thresholded at the CORPUS MEAN's projection, not 0:
    * these embeddings are not centered, so raw dot-signs mostly agree —
    * measured on sf0.001, uncentered 6×8-bit tables put 29% of the
    * corpus in the query's bucket yet recalled 4% (giant buckets, no
    * locality signal). Hashing compares dot(emb, h) > dot(mean, h),
    * which equals the sign of the centered projection, so bits become
    * ~balanced AND informative. By linearity of dot, the mean's
    * projection is the average of per-row projections: one small
    * aggregate. */
  private def lshMeta(corpus: DataFrame, tables: Int, bits: Int): DataFrame =
    corpus
      .select(proj(tables, bits)(col("embedding")).as("p"))
      .select(array((0 until tables * bits).map(i =>
        avg(element_at(col("p"), i + 1))): _*).as("thr"))
      .withColumn("tables", lit(tables)).withColumn("bits", lit(bits))

  /** Build the index for `corpusDir`'s embeddings into `indexDir`: the
    * thresholds are materialized once and the buckets hashed with those
    * exact doubles, both committed together. */
  def lshIndexWrite(s: SparkSession, corpusDir: String, indexDir: String,
      tables: Int = Similarity.lshTables, bits: Int = Similarity.lshBits): Unit = {
    val meta = TextAnalysis.materializedNow(s, lshMeta(Tables(s, corpusDir, "embeddings"), tables, bits))
    IndexMaintenance.replace(s, indexDir,
      Seq("meta" -> meta, "buckets" -> hashWith(s, corpusDir, meta, (tables, bits))),
      geometryFacts(tables, bits))
    Artifacts.invalidate(s, s"$indexDir|")
  }

  /** Append a landing batch's vectors to an existing index, hashed with
    * the index's persisted thresholds. The batch pays only its own
    * hashing — the standing corpus is untouched. */
  def lshIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit = {
    IndexMaintenance.append(s, indexDir, Seq("buckets" -> hashWith(s, batchDir,
      metaRow(s, indexDir), lshGeometry(IndexMaintenance.snapshot(s, indexDir)))))
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
    val (tables, bits) = lshGeometry(IndexMaintenance.snapshot(s, indexDir))
    val buckets = servedTable(s, indexDir, "buckets", "lsh-index-buckets")
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

  /** The persisted LSH index dir for `dir` at geometry (tables, bits) —
    * one standing [[Artifacts]] temp dir per (JVM, corpus, geometry),
    * built on first use so every later call (bench reps, repeated
    * sessions on the same corpus) measures SERVING only; shared by every
    * serving-form query. */
  private[graft] def lshIndexFor(s: SparkSession, dir: String,
      tables: Int = Similarity.lshTables, bits: Int = Similarity.lshBits): String =
    Artifacts.tempDir(s"lsh-index|$dir|$tables|$bits") {
      val d = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
      lshIndexWrite(s, dir, d, tables, bits)
      d
    }

  /** `sim_lsh_ann`: build (once) a persisted index for `dir`'s
    * embeddings at the pinned geometry, then serve the stride-sampled
    * query set from it. Exact over the probed candidate set, so it
    * carries a full DuckDB oracle. */
  def simLshAnnServed(s: SparkSession, dir: String): DataFrame =
    lshIndexServe(s, lshIndexFor(s, dir), Seq(dir), strideQueries(s, dir))

  /** `sim_lsh_ann_auto`, the SCALE form: the same serve over an index
    * whose depth is [[Similarity.lshBitsFor]] of the corpus's EXACT row
    * count. `count()` on parquet is a footer-metadata job, so the
    * statistic is cheap even at 100 TB, and unlike a byte-size estimate
    * it is DETERMINISTIC, which is what lets the key carry a DuckDB
    * oracle that recomputes count(*) and the same floor formula. Equal
    * to `sim_lsh_ann` on small corpora (the bits floor); sub-linear
    * candidates on large ones. */
  def simLshAnnAuto(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables(s, dir, "embeddings").count().toDouble
    lshIndexServe(s, lshIndexFor(s, dir, Similarity.lshTables, Similarity.lshBitsFor(rows)),
      Seq(dir), strideQueries(s, dir))
  }

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
    * an assignment to the memoized centroids bit-for-bit) and the keep=1 inverted-list
    * assignment (`lists`: vec_id, c_id — narrow rows, like the LSH
    * bucket table). Embeddings are again NOT copied in; serving re-joins
    * them by vec_id. Training pays its usual driver-side Lloyd cost
    * once, here — which is the entire point of persisting its output. */
  def ivfIndexWrite(s: SparkSession, corpusDir: String, indexDir: String): Unit =
    ivfIndexCommit(s, corpusDir, indexDir, Similarity.trainedCentroidsOf(s, corpusDir))

  /** Commit centroids and the keep=1 assignment of `corpusDir` to them. */
  private def ivfIndexCommit(s: SparkSession, corpusDir: String, indexDir: String,
      centroids: DataFrame): Unit = {
    val cent = TextAnalysis.materializedNow(s, centroids)
    IndexMaintenance.replace(s, indexDir, Seq("centroids" -> cent.coalesce(1),
      "lists" -> Similarity.nearestCentroids(cent)(
        Similarity.normed(s, corpusDir), "vec_id", "embedding", "nrm", 1)))
    Artifacts.invalidate(s, s"$indexDir|")
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
    ivfIndexCommit(s, corpusDir, indexDir, cent)
  }

  /** Append a landing batch: assign its vectors to the PERSISTED
    * centroids (the quantizer stays fixed — re-training would re-assign
    * the standing corpus, so drift means rebuild, exactly as with the
    * LSH thresholds). */
  def ivfIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit = {
    val cent = IndexMaintenance.read(s, indexDir, "centroids")
    IndexMaintenance.append(s, indexDir, Seq("lists" -> Similarity.nearestCentroids(cent)(
        Similarity.normed(s, batchDir), "vec_id", "embedding", "nrm", 1)))
    Artifacts.invalidate(s, s"$indexDir|ivf-index-lists")
    Artifacts.invalidate(s, s"$indexDir|ivf-list-sizes")
  }

  /** Append a landed BATCH FRAME of vectors to the IVF index (streaming
    * ingest form of [[ivfIndexAppend]]) — assigned with the persisted,
    * frozen centroids. With `mark`, idempotent under retry (see
    * [[lshIndexAppendBatch]]). */
  private[graft] def ivfIndexAppendBatch(s: SparkSession, batch: DataFrame,
      indexDir: String, mark: Option[(String, Long)] = None): Unit = {
    val cent = IndexMaintenance.read(s, indexDir, "centroids")
    val n = batch.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    IndexMaintenance.append(s, indexDir,
      Seq("lists" -> Similarity.nearestCentroids(cent)(n, "vec_id", "embedding", "nrm", 1)), mark)
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
    * filter removes only lists the join would drop); bytes pinned in
    * AnnIndexSpec, plan in PlanGuardSpec. */
  def ivfIndexServe(s: SparkSession, indexDir: String, corpusDirs: Seq[String],
      queries: DataFrame, memberPred: Option[Column] = None,
      probeOverride: Option[Int] = None,
      pushProbedCells: Boolean = false): DataFrame = {
    val (qlists, lists) =
      ivfServeCells(s, indexDir, corpusDirs, queries, memberPred, probeOverride, pushProbedCells)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    Similarity.tiledTopkPairs(Seq("c_id"), qlists, lists)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Similarity.topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Rows a default (mass-budgeted) [[ivfIndexServe]] scores: Σ over
    * probed lists of queries × members, counted from the serve's own
    * cell frames — the work the budget bounds (brute force scores
    * queries × corpus). */
  private[graft] def ivfServedScoredRows(s: SparkSession, indexDir: String,
      corpusDirs: Seq[String], queries: DataFrame): Long = {
    val (qlists, lists) = ivfServeCells(s, indexDir, corpusDirs, queries, None, None, false)
    qlists.join(lists, "c_id")
      .agg(sum(size(col("qs")).cast("long") * size(col("cands")))).head().getLong(0)
  }

  /** The serve's probed query cells, (c_id, qs), and its member lists,
    * (c_id, cands). */
  private def ivfServeCells(s: SparkSession, indexDir: String, corpusDirs: Seq[String],
      queries: DataFrame, memberPred: Option[Column], probeOverride: Option[Int],
      pushProbedCells: Boolean): (DataFrame, DataFrame) = {
    val cent = Artifacts.frame(s, s"$indexDir|ivf-index-centroids") {
      IndexMaintenance.read(s, indexDir, "centroids")
    }
    val qn = queries
      .select(col("q_id").as("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.plans.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0)
    // probe set: an explicit override keeps the pinned count (the
    // oracled stride twins and point lookups); otherwise the probes are
    // MASS-budgeted — each query walks its nearest lists (capped at the
    // list-count rule) until the cumulative probed LIST MASS reaches
    // ivfProbeFraction of the corpus, so skew changes how many lists
    // the budget takes, not how much work it buys (see
    // Similarity.massTrimmedProbes). The per-list sizes memoize per
    // index (one tombstone-masked aggregation per process, invalidated
    // on append/delete/compact); the corpus size is the masked sizes'
    // own sum, so the budget covers the SERVABLE corpus.
    val probeRows = probeOverride match {
      case Some(p) => Similarity.nearestCentroids(cent)(
        qn, "vec_id", "embedding", "nrm", p, carry = Seq("embedding", "nrm"))
      case None =>
        val (sizes, budget) = ivfServableBudget(s, indexDir)
        Similarity.massTrimmedProbes(cent, qn,
          Similarity.ivfProbesFor(cent.count().toDouble), sizes, budget)
    }
    // the point-lookup shape deliberately BYPASSES the memoized cache:
    // materializing a whole-table cache to serve a handful of queries is
    // the opposite of the goal, and only a direct parquet read lets the
    // probed-cell predicate reach the scan (a cached InMemoryRelation
    // absorbs the filter above the already-read batches)
    val assign =
      if (!pushProbedCells) servedTable(s, indexDir, "lists", "ivf-index-lists")
      else IndexMaintenance.scan(s, indexDir, "lists", "vec_id")
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
    (qlists, lists)
  }

  /** The persisted serve's mass budget, over the SERVABLE corpus: the
    * per-list sizes AND their sum both come from the tombstone-masked
    * lists frame, so a heavily-retracted index buys probes proportional
    * to what it can actually serve, not to rows compaction hasn't swept
    * yet (tombstone-free indexes see identical
    * numbers — the mask is a no-op anti join there). The masked
    * aggregation memoizes per process (invalidated on
    * append/delete/compact); the per-serve cost is a sum over
    * ≤ nLists cached rows. */
  private[graft] def ivfServableBudget(
      s: SparkSession, indexDir: String): (DataFrame, Double) = {
    val sizes = Artifacts.frame(s, s"$indexDir|ivf-list-sizes") {
      IndexMaintenance.scan(s, indexDir, "lists", "vec_id")
        .groupBy(col("c_id")).agg(count(lit(1)).as("lsz"))
    }
    val rows = Option(sizes.agg(sum(col("lsz"))).collect()(0).get(0))
      .fold(0.0)(_.asInstanceOf[Long].toDouble)
    (sizes, rows * Similarity.ivfProbeFraction)
  }

  /** `sim_ivf_topk_auto`, the IVF SCALE form: persist the trained IVF
    * index once for `dir`, serve the stride query set from it with
    * mass-budgeted probes. Rows-only like every trained-quantizer
    * variant (k-means float-summation order), self-checked per Verify
    * run (cosine recompute + recall vs brute force). */
  def simIvfTopkServed(s: SparkSession, dir: String): DataFrame =
    ivfIndexServe(s, ivfIndexFor(s, dir), Seq(dir), strideQueries(s, dir))

  /** `sim_ivf_topk_trained`: the same trained index at the fixed
    * [[Similarity.nProbe]] — trained centroids balance the inverted
    * lists and raise recall at equal probe cost against the stride
    * quantizer (both asserted in DedupSimilaritySpec). Rows-only. */
  def simIvfTopkTrained(s: SparkSession, dir: String): DataFrame =
    ivfIndexServe(s, ivfIndexFor(s, dir), Seq(dir), strideQueries(s, dir),
      probeOverride = Some(Similarity.nProbe))

  /** The shared per-corpus persisted trained IVF index. */
  private[graft] def ivfIndexFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"ivf-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
      ivfIndexWrite(s, dir, d)
      d
    }

  /** `sim_ivf_topk` and `sim_ivf_topk_served_stride`: the persisted
    * serve composition — index write, tombstone mask, per-cell
    * group-join, fused kernel, exact ranking — run with the
    * deterministic stride quantizer and the fixed [[Similarity.nProbe]]
    * probe count, so the SERVE PATH ITSELF carries a full DuckDB
    * oracle. The trained variants stay rows-only legitimately (k-means
    * float-summation order); this pins the plumbing. */
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
    * an in-memory composition's bit-for-bit), and the inverted lists WITH the
    * 8-byte codes inline — (c_id, vec_id, codes) rows, ~60 B each. This
    * is the index layout where serving never touches a raw embedding
    * until exact rescore: the compressed scan reads only the persisted
    * code rows of the probed lists. Embeddings are still NOT duplicated
    * (the rescore step re-joins the corpus parquet by vec_id). */
  def ivfPqIndexWrite(s: SparkSession, corpusDir: String, indexDir: String): Unit =
    ivfPqIndexCommit(s, indexDir, Similarity.trainedCentroidsOf(s, corpusDir),
      Similarity.pqCodebook(s, corpusDir), Similarity.normed(s, corpusDir))

  /** Commit a quantizer pair and the corpus assigned + encoded with it. */
  private def ivfPqIndexCommit(s: SparkSession, indexDir: String, centroids: DataFrame,
      cb: Array[Double], corpus: DataFrame): Unit = {
    import s.implicits._
    val cent = TextAnalysis.materializedNow(s, centroids)
    IndexMaintenance.replace(s, indexDir, Seq("centroids" -> cent.coalesce(1),
      "codebook" -> Seq((cb.toSeq, Similarity.pqM)).toDF("cb", "m").coalesce(1),
      "lists" -> Similarity.ivfPqAssign(cent, cb, corpus)))
    Artifacts.invalidate(s, s"$indexDir|")
  }

  /** Append a landing batch: assign + encode with the PERSISTED
    * quantizer and codebook, both frozen at build time (the same
    * no-retrain-on-append semantic as the other indexes — re-training
    * either would invalidate every standing code row). */
  def ivfPqIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit = {
    val cent = IndexMaintenance.read(s, indexDir, "centroids")
    IndexMaintenance.append(s, indexDir, Seq("lists" -> Similarity.ivfPqAssign(cent,
        readCodebook(s, indexDir), Similarity.normed(s, batchDir))))
    Artifacts.invalidate(s, s"$indexDir|ivfpq-lists")
  }

  private def readCodebook(s: SparkSession, indexDir: String): Array[Double] =
    IndexMaintenance.read(s, indexDir, "codebook").head().getSeq[Double](0).toArray

  /** Serve top-k for an external (q_id, embedding) frame from a
    * persisted IVF-PQ index: probe count from the index's own list
    * count, compressed ADC scan over the probed lists' persisted code
    * rows, exact rescore against the corpus union, through the shared
    * [[Similarity.ivfPqOver]] composition. */
  def ivfPqIndexServe(s: SparkSession, indexDir: String, corpusDirs: Seq[String],
      queries: DataFrame, pushProbedCells: Boolean = false): DataFrame = {
    val cent = Artifacts.frame(s, s"$indexDir|ivfpq-centroids") {
      IndexMaintenance.read(s, indexDir, "centroids")
    }
    // small-batch probed-cell pushdown bypasses the memoized cache —
    // see [[ivfIndexServe]]
    val assigned =
      if (!pushProbedCells) servedTable(s, indexDir, "lists", "ivfpq-lists")
      else IndexMaintenance.scan(s, indexDir, "lists", "vec_id")
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

  // ------------------------------------------------------ drift retrain
  //
  // The append path freezes the quantizer (thresholds / centroids /
  // codebook) at build time — re-centering per batch would re-bucket
  // the standing corpus. The cost of that semantic is DRIFT: as the
  // ingested corpus diverges from the seed distribution, frozen
  // thresholds unbalance buckets and frozen centroids stop covering the
  // new region, so buckets and lists crowd (pinned in IndexRetrainSpec's
  // drift arm). Production deployments (FAISS/SPANN-style)
  // answer with an explicit OFFLINE RETRAIN on the current corpus —
  // train fresh quantizer, rebuild the assignment tables, commit them
  // as one log version — which is exactly what these operators do. The retrain
  // corpus is the index's CURRENT SERVABLE membership (standing ids
  // minus pending tombstones, re-joined to the corpus parquet), so a
  // retrain also physically drops retracted rows, like a compact.
  // Contract (spec-pinned): post-retrain serving == an index built
  // fresh from the current corpus.

  /** The index's servable corpus as of `snap`: standing ids minus
    * pending tombstones, re-joined to `corpusFrame` — the EXACT frame
    * the family's build reads (raw embeddings for LSH, whose build
    * hashes zero-norm vectors too; normed for IVF/PQ, whose assignment
    * needs the norm and whose serve excludes directionless vectors). */
  private def servableCorpus(s: SparkSession, snap: IndexMaintenance.Snapshot,
      table: String, corpusFrame: DataFrame): DataFrame =
    corpusFrame.join(snap.scan(s, table, "vec_id").select(col("vec_id")).distinct(), "vec_id")

  private def rawCorpus(s: SparkSession, corpusDirs: Seq[String]): DataFrame =
    corpusDirs.map(Tables(s, _, "embeddings")
      .select(col("vec_id"), col("embedding"))).reduce(_ unionAll _)
  private def normedCorpus(s: SparkSession, corpusDirs: Seq[String]): DataFrame =
    corpusDirs.map(Similarity.normed(s, _)).reduce(_ unionAll _)

  /** Retrain the LSH thresholds on the current corpus and re-hash it.
    * Geometry (tables, bits) is preserved; only the learned component —
    * the per-plane mean thresholds — refreshes, which is what drifts as
    * the ingested distribution moves off the seed's mean. Like a
    * compaction, one commit replaces meta and buckets and consumes the
    * tombstones the rebuild honored; a delete that commits meanwhile
    * stays pending and masks the rebuilt rows. */
  def lshIndexRetrain(s: SparkSession, indexDir: String, corpusDirs: Seq[String]): Unit = {
    IndexMaintenance.transact(s, indexDir) { snap =>
      val (tables, bits) = lshGeometry(snap)
      val corpus = servableCorpus(s, snap, "buckets", rawCorpus(s, corpusDirs))
      val meta = TextAnalysis.materializedNow(s, lshMeta(corpus, tables, bits))
      IndexMaintenance.Change(replace = Seq("meta" -> meta,
        "buckets" -> hashWithDf(corpus.select(col("vec_id"), col("embedding")), meta,
          (tables, bits))), props = geometryFacts(tables, bits))
    }
    Artifacts.invalidate(s, s"$indexDir|")
  }

  /** Retrain the IVF coarse quantizer (k-means on the current corpus)
    * and rebuild the inverted lists in one commit — see
    * [[lshIndexRetrain]] for the race contract. The long k-means runs
    * outside the writer lock (training quality tolerates a
    * drifting-by-one-batch corpus read); the list rebuild reads the
    * servable corpus of the snapshot it commits on. */
  def ivfIndexRetrain(s: SparkSession, indexDir: String, corpusDirs: Seq[String]): Unit = {
    val cent = TextAnalysis.materializedNow(s, Similarity.trainKmeans(s,
      servableCorpus(s, IndexMaintenance.snapshot(s, indexDir), "lists",
        normedCorpus(s, corpusDirs)),
      Similarity.kmeansIters, s"ivfIndexRetrain($indexDir)"))
    IndexMaintenance.transact(s, indexDir) { snap =>
      IndexMaintenance.Change(replace = Seq("centroids" -> cent.coalesce(1),
        "lists" -> Similarity.nearestCentroids(cent)(
          servableCorpus(s, snap, "lists", normedCorpus(s, corpusDirs)),
          "vec_id", "embedding", "nrm", 1)))
    }
    Artifacts.invalidate(s, s"$indexDir|")
  }

  /** Retrain the composed IVF-PQ index: fresh k-means centroids AND a
    * fresh prefix codebook from the current corpus (the same quantizer
    * pair [[ivfPqIndexWrite]] builds with), then re-assign + re-encode
    * every servable vector. A codebook refresh invalidates every
    * standing code row by construction — which is why this is a rebuild
    * operator, never an append-path option. Commit contract as
    * [[ivfIndexRetrain]] (both trainings outside the lock). */
  def ivfPqIndexRetrain(s: SparkSession, indexDir: String, corpusDirs: Seq[String]): Unit = {
    import s.implicits._
    val trainCorpus = servableCorpus(s, IndexMaintenance.snapshot(s, indexDir), "lists",
      normedCorpus(s, corpusDirs))
    val cent = TextAnalysis.materializedNow(s, Similarity.trainKmeans(s, trainCorpus, Similarity.kmeansIters,
      s"ivfPqIndexRetrain($indexDir)"))
    val cb = Similarity.pqCodebookOfFrame(trainCorpus)
    IndexMaintenance.transact(s, indexDir) { snap =>
      IndexMaintenance.Change(replace = Seq("centroids" -> cent.coalesce(1),
        "codebook" -> Seq((cb.toSeq, Similarity.pqM)).toDF("cb", "m").coalesce(1),
        "lists" -> Similarity.ivfPqAssign(cent, cb,
          servableCorpus(s, snap, "lists", normedCorpus(s, corpusDirs)))))
    }
    Artifacts.invalidate(s, s"$indexDir|")
  }

  // ------------------------------------------------------- index health
  //
  // The drift experiment's operational lesson (PLANS.md): for a
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
    val snap = IndexMaintenance.snapshot(s, indexDir)
    val lists = snap.scan(s, "lists", "vec_id")
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
    val pend = snap.pendingTombstones("lists")
    val nLists = snap.read(s, "centroids").count()
    val files = snap.filesOf("lists").size
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
    val snap = IndexMaintenance.snapshot(s, indexDir)
    val buckets = snap.scan(s, "buckets", "vec_id")
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
    val tables = lshGeometry(snap)._1
    val pend = snap.pendingTombstones("buckets")
    val files = snap.filesOf("buckets").size
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
    val r = IndexMaintenance.compact(s, indexDir, "buckets", Seq("tbl", "bucket"), Some("vec_id"))
    Artifacts.invalidate(s, s"$indexDir|")
    r
  }

  /** Retract vectors from the LSH bucket index (takedown): tombstoned
    * now — gone from the next serve's candidate pool — physically
    * dropped at the next [[lshIndexCompact]]. Idempotent. */
  def lshIndexDelete(s: SparkSession, indexDir: String, vecIds: Seq[Long]): Unit =
    IndexMaintenance.delete(s, indexDir, Seq("buckets"), vecIds)

  /** Compact the IVF inverted-list table on c_id (the probe key). */
  def ivfIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    val r = IndexMaintenance.compact(s, indexDir, "lists", Seq("c_id", "vec_id"), Some("vec_id"))
    Artifacts.invalidate(s, s"$indexDir|")
    r
  }

  /** Retract vectors from the IVF list index. The centroids stay: the
    * quantizer is trained structure, not per-doc content — deleting a
    * member never re-trains (same frozen-quantizer semantic as append). */
  def ivfIndexDelete(s: SparkSession, indexDir: String, vecIds: Seq[Long]): Unit = {
    IndexMaintenance.delete(s, indexDir, Seq("lists"), vecIds)
    // the serve-budget memo bakes the tombstone MASK into a cached
    // frame (ivfServableBudget) — unlike the raw lists memo, it goes
    // stale on delete, not just on append/compact
    Artifacts.invalidate(s, s"$indexDir|ivf-list-sizes")
  }

  /** Compact the IVF-PQ code-carrying list table on c_id. */
  def ivfPqIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    val r = IndexMaintenance.compact(s, indexDir, "lists", Seq("c_id", "vec_id"), Some("vec_id"))
    Artifacts.invalidate(s, s"$indexDir|")
    r
  }

  /** Retract vectors from the IVF-PQ index (codebook + centroids stay
    * frozen, as with append). */
  def ivfPqIndexDelete(s: SparkSession, indexDir: String, vecIds: Seq[Long]): Unit =
    IndexMaintenance.delete(s, indexDir, Seq("lists"), vecIds)

  /** `sim_ivfpq_topk` and `sim_ivfpq_topk_served`: persist the IVF-PQ
    * index once for `dir`, serve the stride query set from it. The
    * standard 100 TB layout: IVF pruning (unprobed lists never enter a
    * kernel), PQ compression (probed lists ship 8-byte code rows through
    * the fused ADC loop), exact rescore of the per-list shortlist.
    * Rows-only (trained quantizer); the self-check asserts the usual
    * exact-cosine/dense-rank contract and recall parity with
    * `sim_ivf_topk_auto`. */
  def simIvfPqTopkServed(s: SparkSession, dir: String): DataFrame = {
    val indexDir = Artifacts.tempDir(s"ivfpq-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-ivfpq-index").toString
      ivfPqIndexWrite(s, dir, d)
      d
    }
    ivfPqIndexServe(s, indexDir, Seq(dir), strideQueries(s, dir))
  }
}
