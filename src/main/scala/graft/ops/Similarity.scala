package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths:
  *  - brute-force exact top-k: every (query, candidate) pair scored with
  *    a codegen'd double-precision dot product. The baseline and oracle.
  *    At 100 TB this is only viable per-query-batch with a broadcast of
  *    the query set — which is exactly how it is written (queries are
  *    broadcast; the big candidate side streams, never shuffles).
  *  - LSH-bucketed ANN: multi-table mean-centered hyperplane hashing
  *    with query-side 1-flip multi-probe; candidates are scored only
  *    within probed buckets. Sub-linear candidate sets at scale; recall
  *    and candidate fraction are checked against brute force in the
  *    test suite.
  *  - IVF ANN: a coarse quantizer (stride-sampled for the oracle path,
  *    driver-side spherical k-means for serving) assigns vectors to
  *    inverted lists; queries probe their nProbe nearest lists.
  *
  * Dot products are left-fold aggregates over zip_with (both engines fold
  * left-to-right in double precision → bit-identical results, so raw
  * doubles are safe to hash-compare).
  */
object Similarity {

  val topK = 5
  val queryStride = 50 // queries = vectors with vec_id % stride == 0

  private def dot(a: Column, b: Column): Column =
    graft.plans.VectorFunctions.vec_dot(a, b)

  private[graft] def normed(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      // zero vectors have no direction: cosine would be NaN, and Spark and
      // DuckDB order NaN differently — excluded identically in the oracle
      .filter(col("nrm") > 0)

  /** Radius retrieval threshold: neighbors at cosine ≥ this are "in
    * range" — the retrieval sibling of top-k (RAG-style cutoff search).
    * 0.4 sits just under the testdata's max pairwise cosine (~0.45 on
    * the near-orthogonal synthetic embeddings), so the result is the
    * sparse its-a-real-neighbor tail at every SF. */
  val rangeThreshold = 0.4

  /** Exact range (radius) similarity search: every corpus vector within
    * cosine ≥ [[rangeThreshold]] of each query — top-k's sibling where
    * the result set is governed by a score cutoff, not a count. The
    * scale shape is the same broadcast-queries linear scan as the
    * brute-force top-k, but with NO window at all: the threshold filter
    * runs inside whole-stage codegen on the scan, so there is no
    * per-query sort, no shuffle, and the cost is one pass over the
    * corpus regardless of how many neighbors qualify. */
  def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val n = normed(s, dir)
    val q = n.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val c = n.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    c.join(JoinHints.broadcastIfSmall(q, 1.0 / queryStride),
        col("cand_id") =!= col("q_id"))
      .withColumn("cosine", dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .filter(col("cosine") >= rangeThreshold)
      .select(col("q_id"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("cand_id"))
  }

  /** Exact top-k cosine neighbors for the query subset.
    *
    * Shape (round 5): the corpus is hash-grouped by id span into
    * ~[[lshTile]]-row array cells (ONE narrow shuffle, no sort), the
    * query set folds into a handful of broadcastable array rows, and
    * each (query tile × corpus cell) pair runs the fused
    * `cell_topk_pairs` loop — so only ≤ topK rows per (query, cell)
    * ever exist, and the final ranking window sees Q·(N/tile)·k narrow
    * rows. The previous broadcast-join + row_number form was
    * semantically identical but its map-side WindowGroupLimit sat above
    * a LOCAL SORT of all Q·N scored rows WITH both embedding vectors
    * (~600 B each): at 250k corpus × 5k queries that is ~750 GB through
    * the sorter's spill path — the round-5 scale rerun filled the disk
    * and killed the JVM twice. Per-cell top-k contains the global top-k
    * (cell rank lower-bounds global rank), and the kernel's left-fold
    * arithmetic is `vec_dot`'s, so results are bit-identical — the
    * DuckDB oracle and every recall baseline is unchanged. */
  def simTopkBruteforce(s: SparkSession, dir: String): DataFrame =
    simTopkBruteforceOver(s, dir, normed(s, dir))

  /** Brute force with an explicit member pool — the exact ground truth
    * for FILTERED ANN is "exhaustive over the slice", which is this
    * with the filtered pool (ScaleSmoke's in-slice recall yardstick). */
  private[graft] def simTopkBruteforceOver(s: SparkSession, dir: String,
      pool: DataFrame): DataFrame = {
    val n = normed(s, dir)
    val cands = pool
      .groupBy((col("vec_id") / lshTile).cast("long").as("ccell"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))
    val qs = n.filter(col("vec_id") % queryStride === 0)
      .groupBy((col("vec_id") / (lshTile.toLong * queryStride)).cast("long").as("qcell"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("qs"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    cands.crossJoin(JoinHints.broadcastIfSmall(qs, 1.0 / queryStride))
      .select(explode(graft.plans.VectorFunctions.cell_topk_pairs(
        col("qs"), col("cands"), topK)).as("p"))
      .select(col("p.q_id").as("q_id"), col("p.cand_id").as("cand_id"),
        col("p.cosine").as("cosine"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Multi-table hyperplane LSH with query-side MULTI-PROBE: `lshTables`
    * independent tables of `lshBits` hyperplanes each (fixed seed → same
    * plan every run). The INDEX side stays one bucket per table (linear
    * storage); each QUERY additionally probes the `lshBits` buckets one
    * hyperplane-flip away — a near-miss on a single hyperplane is the
    * dominant failure mode, so probing 1-flip neighborhoods buys the
    * recall extra tables would, without re-indexing the corpus.
    * Candidates/query ≈ tables · (1 + bits) · N/2^bits — the bits
    * exponent dominates, so deeper tables cut candidate volume faster
    * than multiprobe adds it (constants pinned by the recall/
    * candidate-fraction sweep in DedupSimilaritySpec). */
  val lshTables = 10
  val lshBits = 8

  /** Flattened plane matrix (plane p = slice [p·64, (p+1)·64)) — carried
    * into the plan as ONE reference object by the fused
    * `lsh_projections` expression, not as per-plane literal arrays: the
    * literal form built a ~10k-node tree whose per-action analysis +
    * codegen cost (measured 3.8 s at 10×8) dwarfed the actual data work. */
  private[graft] def hyperplanesFor(tables: Int, bits: Int): Array[Double] = {
    val rnd = new scala.util.Random(42)
    Array.fill(tables * bits * embDims)(rnd.nextGaussian())
  }

  /** ANN via multi-probe multi-table hyperplane LSH: candidates = union
    * over tables of vectors in the query's bucket or any 1-flip probe of
    * it; exact scoring + top-k on candidates only, computed inside tiled
    * cells (see [[lshScoredCandidates]]). DuckDB-oracle-checked since
    * round 5 ([[lshAnnOracleSql]]: the seeded hyperplanes ship as SQL
    * literals); recall ≥ 0.6 and the scored-fraction ceiling are
    * additionally asserted in DedupSimilaritySpec. */
  def simLshAnn(s: SparkSession, dir: String): DataFrame =
    simLshAnnWith(s, dir, lshTables, lshBits, multiprobe = true)

  /** Expected vectors per bucket the auto-depth serving path targets. */
  val lshTargetBucket = 4

  /** Tile edge for the (query × member) scoring cells: each cell scores
    * at most lshTile² candidate cosines in one fused loop. */
  val lshTile = 1024

  /** Table depth for a corpus of `rows` vectors: enough bits that bucket
    * occupancy stays ≈`lshTargetBucket` — candidates/query ≈
    * tables·(1+bits)·occupancy stays CONSTANT as the corpus grows,
    * instead of growing linearly at fixed depth (at 250k rows the pinned
    * 8-bit index puts ~1000 vectors in every bucket → ~90k candidates
    * per query, ~450M scored pairs — the scale experiment filled 60 GB
    * of shuffle spill before finishing). Floor of `lshBits` keeps small
    * corpora on the recall-asserted pinned configuration. */
  def lshBitsFor(rows: Double): Int =
    math.max(lshBits, math.min(24,
      math.round(math.log(math.max(1.0, rows / lshTargetBucket)) / math.log(2)).toInt))

  /** Depth ceiling the auto oracle emits hyperplanes for: corpora up to
    * lshTargetBucket·2^14 ≈ 65k rows are fully oracle-checkable (sf0.1
    * = 25k → 13 bits); beyond that the oracle FAILS LOUDLY rather than
    * silently dropping planes, and the engine-side path keeps scaling
    * to the [[lshBitsFor]] cap of 24 unchanged. */
  private[graft] val lshOracleMaxBits = 14

  /** The SCALE serving path: depth chosen from the corpus's EXACT row
    * count. `count()` on parquet is a footer-metadata job (the
    * count-star optimization reads no column data), so the statistic is
    * cheap even at 100 TB — and unlike the byte-size estimate it is
    * DETERMINISTIC, which is what lets the auto path carry a full DuckDB
    * oracle: the SQL recomputes count(*) in a CTE and applies the same
    * floor formula (round 8; previously rows-only). The eager count is a
    * documented deviation from the lazy-plan contract, like
    * [[trainedCentroidsOf]]. Identical to `simLshAnn` on recall-asserted
    * small corpora (the bits floor); sub-linear candidates on large
    * ones. */
  def simLshAnnAuto(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables(s, dir, "embeddings").count().toDouble
    simLshAnnWith(s, dir, lshTables, lshBitsFor(rows), multiprobe = true)
  }

  private[graft] def simLshAnnWith(s: SparkSession, dir: String,
      tables: Int, bits: Int, multiprobe: Boolean): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    lshScoredCandidates(s, dir, tables, bits, multiprobe)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Deduped (q_id, cand_id) LSH candidate pairs — also the unit the
    * candidate-fraction spec measures (pairs / (queries · corpus)).
    *
    * Hyperplanes are thresholded at the CORPUS MEAN's projection, not 0:
    * these embeddings are not centered, so raw dot-signs mostly agree —
    * measured on sf0.001, uncentered 6×8-bit tables put 29% of the
    * corpus in the query's bucket yet recalled 4% (giant buckets, no
    * locality signal). The mean is a 1-row aggregate broadcast into the
    * plan (same lazy pattern as the ngram max-df statistic): hashing
    * compares dot(emb, h) > dot(mean, h), which equals the sign of the
    * centered projection, and bits become ~balanced AND informative. */
  /** The (vec_id, tbl, bucket) index frame — the unit candidate
    * generation and the candidate-fraction spec measure occupancy on.
    *
    * Memoized + cached per (corpus, config): `lshScoredCandidates`
    * references this frame from two subtrees (the query probes and the
    * bucket member arrays) — uncached, each reference re-hashes the
    * corpus (the minhash double-compute lesson). The cache is the single-session analogue of
    * what a production ANN deployment does anyway: the bucket index is
    * THE artifact you persist and serve, not something recomputed per
    * query. Narrow rows (3 longs × tables per vector), MEMORY_AND_DISK. */
  private[graft] def lshBuckets(s: SparkSession, dir: String,
      tables: Int, bits: Int): DataFrame =
    Artifacts.frame(s, s"$dir|lsh-buckets-$tables-$bits") {
      val planes = hyperplanesFor(tables, bits)
      val proj = (c: Column) => graft.plans.VectorFunctions.lsh_projections(c, planes, embDims)
      // per-plane threshold = the corpus-MEAN's projection = avg of per-row
      // projections (linearity of dot) — one small aggregate, broadcast
      val thrRow = Tables(s, dir, "embeddings")
        .select(proj(col("embedding")).as("p"))
        .select(array((0 until tables * bits).map(i =>
          avg(element_at(col("p"), i + 1))): _*).as("thr"))
      Tables(s, dir, "embeddings")
        .crossJoin(broadcast(thrRow))
        .select(col("vec_id"),
          posexplode(graft.plans.VectorFunctions.lsh_buckets(
            proj(col("embedding")), col("thr"), tables, bits))
            .as(Seq("tbl", "bucket")))
    }

  /** Scored, deduped LSH candidate pairs: (q_id, cand_id, cosine) for
    * every vector sharing a probed bucket with the query, each query's
    * per-cell top-[[topK]] only.
    *
    * TILED SCORING EVERYWHERE (the round-5 redesign; rounds of history
    * behind it): the round-4 experiment showed density-degenerate
    * buckets flood any per-pair candidate pipeline — at 250k rows the
    * equi-join + distinct + vector-re-join + rank path shuffled 23M
    * candidate pairs (60 GB of spill at fixed depth; still ~90 s at
    * auto depth), and round 4's answer (DROP buckets over a cap) bought
    * runtime with a recall hole (0.554 < the 0.6 floor) — dense pockets
    * are exactly where true neighbors live. Here every probed bucket's
    * (queries × members) work runs inside lshTile-bounded cells
    * hash-repartitioned BEFORE the quadratic work (the
    * dedupEmbeddingBlockedWith lesson: one array-row's expansion
    * otherwise pins Σ q·m work to a single task), and each cell emits
    * at most topK SCORED rows per query through the fused
    * `cell_topk_pairs` loop. Consequences:
    *
    *  - no hot/cold split, no drop cap, no recall hole: dense pockets
    *    are paid, in parallel, with per-task work ≤ lshTile²;
    *  - no candidate-pair shuffle and NO vector re-join: each vector's
    *    bytes move once into its bucket array, scores are computed
    *    in-cell, and only ≤ topK rows per (query, cell) ever exist;
    *  - the result is EXACT over the probed candidate set: per-cell
    *    rank lower-bounds bucket rank, so the final per-query ranking
    *    equals the old join path's — which is why the DuckDB oracle for
    *    `sim_lsh_ann` is a plain top-k over all (bucket ∪ 1-flip probe)
    *    pairs, and why `DedupSimilaritySpec` pins byte-identity against
    *    an independent join-form reference implementation.
    *
    * The same (q, cand) pair surfaces from every table/probe whose
    * bucket holds both, with a BIT-IDENTICAL cosine (same left-fold) —
    * hence the distinct on the full row, without which duplicates of
    * one strong neighbor would crowd the per-query top-k ranks. */
  private[graft] def lshScoredCandidates(s: SparkSession, dir: String,
      tables: Int, bits: Int, multiprobe: Boolean): DataFrame = {
    val buckets = lshBuckets(s, dir, tables, bits)
    val qbase = buckets.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    val qb =
      if (!multiprobe) qbase
      else qbase.select(col("q_id"), col("tbl"),
        explode(array(col("bucket") +:
          (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val n = normed(s, dir)
    val members = buckets.join(n, "vec_id")
      .groupBy(col("tbl"), col("bucket"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))
    val queries = qb
      .join(n.filter(col("vec_id") % queryStride === 0)
        .withColumnRenamed("vec_id", "q_id"), "q_id")
      .groupBy(col("tbl"), col("bucket"))
      .agg(collect_list(struct(col("q_id"), col("embedding"), col("nrm"))).as("qs"))
    tiledTopkPairs(Seq("tbl", "bucket"), queries, members).distinct()
  }

  /** Pair-scoring volume of the LSH index (Σ over probed buckets of
    * queries × members) and the corpus size — the spec-facing statistic
    * behind the candidate-fraction ceiling: scored-pairs / (Q · N) must
    * stay well below 1 or the index isn't sub-linear. Counted from the
    * same grouped frames the scoring path uses. */
  private[graft] def lshScoredPairVolume(s: SparkSession, dir: String,
      tables: Int, bits: Int, multiprobe: Boolean): Double = {
    val buckets = lshBuckets(s, dir, tables, bits)
    val qbase = buckets.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    val qb =
      if (!multiprobe) qbase
      else qbase.select(col("q_id"), col("tbl"),
        explode(array(col("bucket") +:
          (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val sizes = buckets.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("m"))
    qb.join(sizes, Seq("tbl", "bucket"))
      .agg(sum(col("m"))).head().getLong(0).toDouble
  }

  /** Tile a per-key (queries × members) workload into lshTile-bounded
    * cells and return each cell's per-query top-[[topK]] scored pairs —
    * the shared kernel behind hot-LSH-bucket scoring and the tiled IVF
    * probe path. `queriesByKey` carries the key columns + an array
    * column `qs`; `membersByKey` the key columns + an id-SORTED array
    * column `cands` (sortedness is the equal-cosine → lower-cand_id
    * tie-break); both arrays hold struct(id, embedding, nrm) rows.
    * Every (query tile × member tile) cell becomes its own row spread
    * by a hash repartition BEFORE the quadratic work runs, so one dense
    * key costs many bounded tasks, not one unbounded one. */
  private[graft] def tiledTopkPairs(keyCols: Seq[String],
      queriesByKey: DataFrame, membersByKey: DataFrame): DataFrame = {
    val nq = ((size(col("qs")) + lit(lshTile - 1)) / lit(lshTile)).cast("int")
    val nc = ((size(col("cands")) + lit(lshTile - 1)) / lit(lshTile)).cast("int")
    val keys = keyCols.map(col)
    membersByKey.join(queriesByKey, keyCols)
      .select(keys :+
        explode(flatten(transform(sequence(lit(0), nq - 1), a =>
          transform(sequence(lit(0), nc - 1), b =>
            struct(a.as("qa"), b.as("cb"),
              slice(col("qs"), a * lshTile + 1, lit(lshTile)).as("qslice"),
              slice(col("cands"), b * lshTile + 1, lit(lshTile)).as("cslice")))))).as("cell"): _*)
      .repartition(keys :+ col("cell.qa") :+ col("cell.cb"): _*)
      .select(explode(graft.plans.VectorFunctions.cell_topk_pairs(
        col("cell.qslice"), col("cell.cslice"), topK)).as("p"))
      .select(col("p.q_id").as("q_id"), col("p.cand_id").as("cand_id"),
        col("p.cosine").as("cosine"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (centroids = every
    * `centroidStride`-th vector, standing in for k-means output) assigns
    * each vector to its nearest centroid; a query probes its `nProbe`
    * nearest centroids and rescoring runs only inside those inverted
    * lists. Cost per query ≈ nProbe/nCentroids of the corpus instead of
    * all of it. Fully deterministic (argmin with id tie-break), so unlike
    * most IVF builds it is oracle-checkable end-to-end. */
  val centroidStride = 100
  val nProbe = 2

  /** The deterministic coarse quantizer's centroid table (every
    * `centroidStride`-th vector, standing in for k-means output). */
  private[graft] def centroidsOf(n: DataFrame): DataFrame =
    n.filter(col("vec_id") % centroidStride === 1)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))

  /** The centroid table as ONE broadcastable row: c_id-sorted array of
    * (c_id, c_emb: array<double>, c_nrm) structs — the input shape of
    * the `nearest_centroid_ids` kernel. */
  private def centArrayOf(cent: DataFrame): DataFrame =
    cent.select(struct(col("c_id"),
        col("c_emb").cast("array<double>").as("c_emb"), col("c_nrm")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))

  /** (id, c_id): each source vector's `keep` nearest centroids by cosine,
    * deterministic (cosine desc, c_id tie-break). Shared by simIvfTopk,
    * Dedup.dedupEmbeddingBlocked, and k-means training — the SAME
    * assignment kernel serves search probes, dedup blocking, and Lloyd
    * steps, so one quantizer build covers all three.
    *
    * Shape: the centroid table folds into a single broadcast array row
    * and the fused `nearest_centroid_ids` expression picks the top-keep
    * per source row — NO (src × centroids) intermediate exists. The
    * previous generate-and-rank form (crossJoin + window row_number)
    * materialized 625M rows through a per-key sort at 250k×2.5k and
    * could not finish the scale experiment; this one is a single
    * narrow-output projection. `carry` lists source columns to keep
    * alongside (id, c_id) — carrying them here beats re-joining the
    * source table downstream. */
  private[graft] def nearestCentroids(cent: DataFrame)(
      src: DataFrame, idCol: String, embCol: String, nrmCol: String, keep: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val nc = graft.plans.VectorFunctions.nearest_centroid_ids(
      col(embCol), col(nrmCol), col("cents"), keep)
    src.crossJoin(broadcast(centArrayOf(cent)))
      .select(col(idCol) +: carry.map(col) :+ explode(nc).as("c_id"): _*)
  }

  /** Iterations of the spherical Lloyd refinement — fixed count (no
    * convergence test) so training cost is known in advance. Measured in
    * DedupSimilaritySpec: the hot-block skew curve is 2.41 @ 2 iters,
    * 2.27 @ 4, 2.04 @ 6+, vs stride baseline 3.30 — but on a
    * near-uniform corpus recall@5 peaks at 4 iters (0.64 vs stride's
    * 0.62) and DROPS at 6 (0.58): extra steps over-fit Voronoi cell
    * boundaries that a small nProbe then misses. 4 takes most of the
    * balance gain without giving back recall. */
  val kmeansIters = 4
  private[graft] val embDims = 64

  /** TRAINED coarse-quantizer centroids — the real k-means the stride
    * sample stands in for (round-3 verdict #4). Spherical Lloyd:
    * initialized from the SAME deterministic stride sample the
    * oracle-checkable path uses, then `iters` refinement steps; clusters
    * that lose all members keep their previous centroid so k never
    * shrinks. No RNG anywhere — deterministic up to double-summation
    * order (distributed float sums have no canonical order), which is
    * why the trained variants are rows-only rather than
    * DuckDB-oracle-checked.
    *
    * Iteration happens DRIVER-SIDE, as in Spark MLlib's own KMeans: the
    * centroid table is k rows by construction, so each step collects it
    * and re-broadcasts a literal LocalRelation. This keeps plan size and
    * lineage CONSTANT across iterations — a pure-plan foldLeft embeds
    * the previous step's subtree twice per step (assignment + the
    * empty-cluster fallback join), i.e. 2^iters subtree copies, which
    * OOMs the driver before a single task runs. Each step is otherwise
    * scale-shaped: assignment = broadcast of k centroids + one `max_by`
    * aggregation (no per-vector window sort; only k rows of partial sums
    * shuffle); recompute = element-wise mean via 64 sum columns (no
    * explode). Training is therefore EAGER (runs `iters`+1 small jobs at
    * first call — a documented deviation from the lazy-plan contract,
    * like dedupClusters); the memo makes ONE training pay for both the
    * IVF search probes and the blocked dedup. */
  private[graft] def trainedCentroidsOf(s: SparkSession, dir: String,
      iters: Int = kmeansIters): DataFrame =
    Artifacts.frame(s, s"$dir|ivf-kmeans-$iters") {
      trainKmeans(s, normed(s, dir), iters, dir)
    }

  /** The un-memoized k-means body over an explicit normed frame — shared
    * by the per-dir memoized form above and the index RETRAIN path
    * (which trains on the current servable corpus, a join-filtered
    * union no dir names). */
  private[graft] def trainKmeans(s: SparkSession, n: DataFrame, iters: Int,
      what: String): DataFrame = {
    import s.implicits._
    var cent: Map[Long, Array[Double]] = centroidsOf(n)
      .select(col("c_id"), col("c_emb").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // a corpus whose id space misses the stride residue would train
    // ZERO centroids and every downstream build would silently write
    // an EMPTY index (found by the IVF-ingest spec's first corpus
    // split) — fail loudly instead
    if (cent.isEmpty) throw new IllegalStateException(
      s"trainKmeans($what): no init centroids — corpus has no " +
      s"vec_id % $centroidStride == 1 members (or none with nonzero norm); " +
      "an index built from this would be empty")
    for (_ <- 1 to iters) {
      val means = lloydMeans(s, n, cent)
      cent = cent.map { case (id, old) =>
        id -> means.getOrElse(id, old) // empty cluster keeps its centroid
      }
    }
    cent.toSeq.sortBy(_._1).toDF("c_id", "c_emb")
      .withColumn("c_nrm", sqrt(dot(col("c_emb"), col("c_emb"))))
      .filter(col("c_nrm") > 0)
  }

  /** One Lloyd step: per-cluster mean of the members assigned to each
    * centroid (nearest by cosine, c_id tie-break — the same
    * `nearest_centroid_ids` kernel as serving, keep=1), zero-norm means
    * dropped (a mean can only be zero if its members cancel exactly —
    * it carries no direction, so the cluster keeps its old centroid). */
  private def lloydMeans(s: SparkSession, n: DataFrame,
      cent: Map[Long, Array[Double]]): Map[Long, Array[Double]] = {
    import s.implicits._
    val centDf = cent.toSeq.sortBy(_._1).toDF("c_id", "c_emb")
      .withColumn("c_nrm", sqrt(dot(col("c_emb"), col("c_emb"))))
      .filter(col("c_nrm") > 0)
    val assigned = nearestCentroids(centDf)(
      n, "vec_id", "embedding", "nrm", 1, carry = Seq("embedding"))
    val sums = (0 until embDims).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
    assigned.groupBy(col("c_id"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .select(col("c_id"),
        array((0 until embDims).map(i => col(s"s$i") / col("cnt")): _*).as("m_emb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .filter { case (_, m) => m.exists(_ != 0.0) }
      .toMap
  }

  private def ivfTopkWith(s: SparkSession, dir: String, centFn: DataFrame => DataFrame): DataFrame = {
    val n = normed(s, dir)
    val cent = centFn(n)
    val assign = nearestCentroids(cent)(
      n.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id", "embedding", "nrm", 1)
    val q = n.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val probes = nearestCentroids(cent)(q, "q_id", "q_emb", "q_nrm", nProbe)
    val cand = probes.join(assign, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
      .distinct()
    val c = n.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb2"), col("nrm").as("c_nrm2"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    cand.join(JoinHints.broadcastIfSmall(q, 1.0 / queryStride), "q_id").join(c, "cand_id")
      .withColumn("cosine", dot(col("q_emb"), col("c_emb2")) / (col("q_nrm") * col("c_nrm2")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** IVF ANN with the deterministic stride-sampled quantizer — the
    * oracle-checkable variant. */
  def simIvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkWith(s, dir, centroidsOf)

  /** IVF ANN with the TRAINED (k-means) quantizer — the 100 TB serving
    * path: trained centroids balance the inverted lists (lower hot-block
    * skew) and raise recall at equal probe cost, both asserted vs the
    * stride variant in DedupSimilaritySpec. Rows-only (see
    * [[trainedCentroidsOf]] for why no SQL oracle). */
  def simIvfTopkTrained(s: SparkSession, dir: String): DataFrame =
    ivfTopkWith(s, dir, _ => trainedCentroidsOf(s, dir))

  /** Fraction of the inverted lists the AUTO serving path probes. A
    * FIXED nProbe shrinks the probed fraction as the corpus grows (the
    * quantizer keeps k ∝ N/centroidStride, so nProbe=2 probes 28% of a
    * 725-vector corpus but 0.08% of a 250k one — measured recall@5
    * collapse to 0.22-0.24 in the round-4 scale experiment). A fixed
    * FRACTION keeps the candidate set a constant multiple of
    * nProbe·centroidStride per corpus doubling: candidates/query ≈
    * probedFraction·N — a 16× saving over brute force at any size, with
    * recall governed by how much quantization error the probe ring
    * absorbs, not by corpus growth. */
  val ivfProbeFraction = 1.0 / 16

  /** Probe count for `nLists` inverted lists: the constant-fraction rule
    * floored at the pinned [[nProbe]] (small corpora keep the
    * oracle-checked configuration — the same floor-to-pinned pattern as
    * [[lshBitsFor]]). */
  def ivfProbesFor(nLists: Double): Int =
    math.max(nProbe, math.round(nLists * ivfProbeFraction).toInt)

  /** Above this many inverted lists the AUTO path's corpus-side
    * assignment goes TWO-LEVEL (coarse→fine): exact nearest-centroid
    * assignment is Θ(N·k) dot products, and with k ∝ N/centroidStride
    * that is Θ(N²/stride) — at 250k vectors × 2500 centroids the
    * assignment alone (625M fused dots) cost more than HALF of what the
    * brute-force scan pays for the whole query batch, which is how the
    * one-shot auto path lost to brute force in the round-9 measurement.
    * Two-level assignment (nearest of √k super-centroids, then nearest
    * child within that super's group — FAISS's approximate coarse
    * assignment) pays ~2√k dots per vector instead of k, a 25× cut at
    * k=2500. Below the threshold assignment stays EXACT, so small
    * corpora keep the oracle-checked configuration byte-for-byte (the
    * served/trained identity specs). Assignment becomes approximate
    * above it — a boundary vector can land in its second-best list —
    * which the WIDE probe ring (the mass budget) absorbs; the clustered
    * + near-orthogonal ScaleSmoke rows measure the recall. */
  val twoLevelMinLists = 512

  /** Corpus-side list assignment for the auto path: exact below
    * [[twoLevelMinLists]], two-level above (see there). Carries
    * (embedding, nrm) alongside (vec_id, c_id) like the exact form. */
  private def autoAssign(cent: DataFrame, n: DataFrame): DataFrame = {
    val k = cent.count()
    if (k < twoLevelMinLists)
      nearestCentroids(cent)(n, "vec_id", "embedding", "nrm", 1,
        carry = Seq("embedding", "nrm"))
    else {
      val k1 = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
      val step = math.max(1, (k / k1).toInt)
      // deterministic super sample: every step-th centroid in c_id order
      val w = Window.orderBy(col("c_id"))
      val supers = cent.withColumn("srk", row_number().over(w))
        .filter(pmod(col("srk"), lit(step)) === 1).drop("srk")
      val superArr = broadcast(centArrayOf(supers))
      // centroid -> super (k rows, exact against the k1 supers)
      val cnc = graft.plans.VectorFunctions.nearest_centroid_ids(
        col("c_emb").cast("array<float>"), col("c_nrm"), col("cents"), 1)
      val c2s = cent.crossJoin(superArr)
        .select(col("c_id"), col("c_emb"), col("c_nrm"), explode(cnc).as("s_id"))
      // per-super child-centroid arrays, broadcast to the vector scan
      val groups = broadcast(c2s
        .select(col("s_id"), struct(col("c_id"),
          col("c_emb").cast("array<double>").as("c_emb"), col("c_nrm")).as("c"))
        .groupBy(col("s_id")).agg(sort_array(collect_list(col("c"))).as("group_cents")))
      // vector -> super (k1 dots) -> child within the super (k/k1 dots)
      val snc = graft.plans.VectorFunctions.nearest_centroid_ids(
        col("embedding"), col("nrm"), col("cents"), 1)
      val gnc = graft.plans.VectorFunctions.nearest_centroid_ids(
        col("embedding"), col("nrm"), col("group_cents"), 1)
      n.select(col("vec_id"), col("embedding"), col("nrm"))
        .crossJoin(superArr)
        .select(col("vec_id"), col("embedding"), col("nrm"), explode(snc).as("s_id"))
        .join(groups, "s_id")
        .select(col("vec_id"), col("embedding"), col("nrm"), explode(gnc).as("c_id"))
    }
  }

  /** Per-query probe set trimmed by cumulative LIST MASS — the shared
    * policy of the in-session auto path and the persisted serve
    * ([[AnnIndex.ivfIndexServe]]): each query's `cap` nearest centroids
    * in quantizer order, kept while it is within the [[nProbe]] floor
    * or the mass probed BEFORE it is under `budget` (so the budget is
    * always reached, never undershot). Returns (vec_id, embedding,
    * nrm, c_id) probe rows. The trim runs on NARROW rows — the
    * cumulative-mass window sorts `cap` rows per query, and riding the
    * embeddings through that shuffle would triple its width; they
    * re-join from the query set after.
    *
    * `broadcastQueries` hints that re-join. The persisted serve passes
    * true (its query set is a handful of externally supplied vectors);
    * the AUTO path passes false — there the query set is
    * corpus/queryStride, 1/50 of ALL vectors with full embeddings, so a
    * broadcast would grow linearly with corpus size and blow
    * driver/executor memory at exactly the scales that path targets.
    * Unhinted, AQE still broadcasts when the runtime size is under the
    * threshold (small corpora keep the same physical plan) and falls
    * back to a shuffle join when it is not. */
  private[ops] def massTrimmedProbes(cent: DataFrame, qn: DataFrame,
      cap: Int, listSizes: DataFrame, budget: Double,
      broadcastQueries: Boolean = true): DataFrame = {
    val nc = graft.plans.VectorFunctions.nearest_centroid_ids(
      col("embedding"), col("nrm"), col("cents"), cap)
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    qn.crossJoin(broadcast(centArrayOf(cent)))
      .select(col("vec_id"), posexplode(nc).as(Seq("ord", "c_id")))
      .join(broadcast(listSizes), Seq("c_id"), "left")
      .withColumn("cum_before", coalesce(sum(coalesce(col("lsz"), lit(0L))).over(wq), lit(0L)))
      .filter(col("ord") < nProbe || col("cum_before") < budget)
      .select(col("vec_id"), col("c_id"))
      .join({
        val qs = qn.select(col("vec_id"), col("embedding"), col("nrm"))
        if (broadcastQueries) broadcast(qs) else qs
      }, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("c_id"))
  }

  /** The IVF SCALE serving path: trained quantizer + MASS-budgeted
    * probing + tiled per-list scoring. Differences from `ivfTopkWith`:
    *
    *  - the probe budget is a fraction of VECTORS, not of lists
    *    ([[ivfProbeFraction]] of the corpus): each query walks its
    *    nearest lists in quantizer order and stops once the cumulative
    *    probed LIST MASS reaches the budget. The round-9 clustered
    *    experiment showed why list-count probing fails on real
    *    geometry: with 4.2× hot-list skew, a constant 156-of-2500-lists
    *    ring around a clustered query covers most of its Gaussian —
    *    41.6 s vs 4.3 s brute force at 250k, a probe policy paying 10×
    *    the work its budget intended. Mass probing makes the candidate
    *    count ≈ probedFraction·N BY CONSTRUCTION on every geometry
    *    (skew changes how many lists that takes, not how much work);
    *  - the list-count rule survives as the ordinal CAP (a query never
    *    probes more lists than the old policy) and [[nProbe]] stays the
    *    floor, so small corpora keep the oracle-checked configuration
    *    byte-for-byte;
    *  - candidate scoring happens INSIDE per-list tile cells via the
    *    fused `cell_topk_pairs` loop instead of expanding a (q_id,
    *    cand_id) join — at 312 probes × 5k queries the join form would
    *    shuffle ~156M candidate-pair rows through distinct + join +
    *    window, where the tiled form forwards ≤ topK rows per (query,
    *    cell) and each vector's bytes move once into its list array.
    *
    * Each vector lives in exactly ONE list (keep=1 assignment), so a
    * (q, cand) pair surfaces in at most one cell — no distinct needed
    * before the final ranking window. Rows-only (trained quantizer —
    * see [[trainedCentroidsOf]]). */
  def simIvfTopkAuto(s: SparkSession, dir: String): DataFrame = {
    // exact row count, not the byte-size estimate (round 8): cheap
    // (footer-only count-star) and it makes the statistic-derived probe
    // count EQUAL the served path's list-count-derived one everywhere,
    // not just where the ~350 B/row calibration happened to round alike
    val rows = Tables(s, dir, "embeddings").count().toDouble
    val cap = ivfProbesFor(rows / centroidStride)
    val massBudget = rows * ivfProbeFraction
    val n = normed(s, dir)
    val cent = trainedCentroidsOf(s, dir)
    val asg = autoAssign(cent, n)
    // the built lists memoize per dir (the IVF value proposition: the
    // assignment + group shuffle are BUILD cost, paid once — steady-state
    // serving reads the cached lists), same memo the trained quantizer
    // uses; Artifacts.clear()/invalidate on corpus replacement
    val lists = Artifacts.frame(s, s"$dir|ivf-auto-lists") {
      asg.groupBy(col("c_id"))
        .agg(sort_array(collect_list(
          struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))
    }
    // per-list masses: k rows, broadcast to the probe trim below —
    // derived from the SAME (memoized) grouped frame so the assignment
    // is computed once, not paid a second time for a count
    val listSizes = lists.select(col("c_id"), size(col("cands")).cast("long").as("lsz"))
    val q = n.filter(col("vec_id") % queryStride === 0)
    val qlists = massTrimmedProbes(cent, q.select(col("vec_id"), col("embedding"), col("nrm")),
        cap, listSizes, massBudget, broadcastQueries = false)
      .groupBy(col("c_id"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("qs"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    tiledTopkPairs(Seq("c_id"), qlists, lists)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ---------------------------------------------------------------- PQ

  /** Product quantization: [[pqM]] subspaces of `embDims/pqM` dims, each
    * quantized to one of [[pqK]] codebook entries — a corpus vector
    * becomes pqM small ints (8 B here vs 256 B of floats), which is the
    * 100 TB answer to vector SCAN cost: the candidate side of the ANN
    * scan ships codes, not embeddings, so a shuffled corpus cell is
    * ~32× narrower, and per-candidate scoring is O(pqM) lookups into a
    * per-query table ([[plans.PqLut]]) instead of an O(dims) dot. */
  val pqM = 8
  val pqK = 256 // 8 bits/subspace, the standard PQ operating point: the
                // first 250k-row scale run at K=16 measured recall@5
                // 0.003 — 4-bit sub-codebooks quantize far more coarsely
                // than the top-5 cosine margins on a near-uniform corpus
  private[graft] def pqDsub: Int = embDims / pqM

  /** Entry count actually packed into a codebook (min(pqK, corpus) —
    * tiny corpora, e.g. the fuzz tables, yield fewer entries and every
    * kernel derives its stride from this). */
  private[graft] def pqKOf(cb: Array[Double]): Int = cb.length / (pqM * pqDsub)

  /** Deterministic codebook: the first [[pqK]] corpus vectors by vec_id,
    * normalized, each contributing its s-th subvector as entry j of
    * subspace s (layout `cb[(s·pqK + j)·dsub + d]`). Crude as a
    * quantizer (see [[pqCodebookTrained]]) but fully reproducible in
    * SQL, which buys the DuckDB oracle; the prefix rows are collected
    * EAGERLY (one tiny TakeOrdered job over pqK rows — a documented
    * deviation from the lazy-plan contract, like [[trainedCentroidsOf]])
    * and memoized per (session, corpus). */
  private[graft] def pqCodebook(s: SparkSession, dir: String): Array[Double] =
    Artifacts.memo(s, s"$dir|pq-prefix")(pqCodebookOfFrame(normed(s, dir)))

  /** The un-memoized prefix-codebook body over an explicit normed frame
    * (shared with the retrain path). */
  private[graft] def pqCodebookOfFrame(n: DataFrame): Array[Double] = {
    val rows = n.orderBy(col("vec_id")).limit(pqK)
      .select(col("embedding").cast("array<double>"), col("nrm")).collect()
    require(rows.nonEmpty, "pq codebook: corpus has no usable vectors")
    packCodebook(rows.map(r => {
      val e = r.getSeq[Double](0).toArray
      val nrm = r.getDouble(1)
      e.map(_ / nrm)
    }))
  }

  /** `entries(j)` = normalized vector j → flat `cb[(s·k+j)·dsub + d]`
    * with k = entries.length (≤ [[pqK]]; [[pqKOf]] recovers it). */
  private def packCodebook(entries: Array[Array[Double]]): Array[Double] = {
    val dsub = pqDsub
    val k = entries.length
    val cb = new Array[Double](pqM * k * dsub)
    for (s <- 0 until pqM; j <- entries.indices; d <- 0 until dsub)
      cb((s * k + j) * dsub + d) = entries(j)(s * dsub + d)
    cb
  }

  /** TRAINED per-subspace codebook — Lloyd on each subspace's
    * subvectors, initialized from the prefix codebook. Assignment runs
    * DISTRIBUTED through the same [[plans.PqCodes]] kernel serving uses
    * (argmin L2² per subspace); the update step shuffles only
    * pqM·pqK·(dsub+1) partial sums and collects that 128-row table per
    * iteration, so training is [[kmeansIters]]+1 small jobs (eager,
    * memoized — same contract note as [[trainedCentroidsOf]]). Entries
    * whose cluster empties keep their previous value so k never
    * shrinks. Not bit-reproducible in SQL (distributed float sums), so
    * the trained variant is rows-only. */
  private[graft] def pqCodebookTrained(s: SparkSession, dir: String,
      iters: Int = kmeansIters): Array[Double] =
    Artifacts.memo(s, s"$dir|pq-trained-$iters")(pqCodebookTrainedFrom(normed(s, dir), iters))

  /** The un-memoized per-subspace Lloyd body over an explicit normed
    * frame, initialized from that frame's prefix codebook (shared with
    * the retrain path). */
  private[graft] def pqCodebookTrainedFrom(n: DataFrame,
      iters: Int = kmeansIters): Array[Double] = {
    val dsub = pqDsub
    var cb = pqCodebookOfFrame(n).clone()
    val kEff = pqKOf(cb)
    for (_ <- 1 to iters) {
      val coded = n.select(col("embedding"), col("nrm"),
        posexplode(graft.plans.VectorFunctions.pq_codes(
          col("embedding"), col("nrm"), cb, pqM, kEff)).as(Seq("s", "code")))
      val sums = (0 until dsub).map(d =>
        sum((element_at(col("embedding"), (col("s") * dsub + d + 1).cast("int")).cast("double")
          / col("nrm"))).as(s"d$d"))
      val means = coded.groupBy(col("s"), col("code"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .collect()
      val next = cb.clone()
      means.foreach { r =>
        val sub = r.getInt(0); val j = r.getInt(1); val cnt = r.getLong(2)
        if (cnt > 0) {
          val base = (sub * kEff + j) * dsub
          for (d <- 0 until dsub) next(base + d) = r.getDouble(3 + d) / cnt
        }
      }
      cb = next
    }
    cb
  }

  /** ANN by pure asymmetric-distance (ADC) ranking over PQ codes — no
    * exact rescoring, so the scan never touches a full embedding after
    * encoding: corpus cells carry (vec_id, 8 codes), queries broadcast
    * (vec_id, 128-entry LUT), and each cell runs the fused O(pqM)-per-
    * pair loop ([[plans.CellPqTopk]]). Same tiling skeleton as
    * [[simTopkBruteforce]]; output column is `adc` (the quantized
    * cosine), not `cosine` — callers wanting exact scores rescore the
    * returned ids. Prefix codebook → DuckDB-oracle-checked. */
  def simPqTopk(s: SparkSession, dir: String): DataFrame =
    pqTopkWith(s, dir, pqCodebook(s, dir))

  /** The oracle-pinned PQ variants keep FIXED shortlist depths for
    * DuckDB-oracle determinism; a fixed depth shrinks to a vanishing
    * fraction of the corpus as it grows, and measured recall@5
    * collapses to 0.03–0.09 at 250k vectors (PLANS.md). Nothing in the
    * API used to stop a user from running them there — now the plan
    * itself refuses (same unprunable raise_error shape as
    * `Dedup.dedupEmbeddingCosine`). The scale paths are
    * [[simPqRescoreAuto]] and [[simIvfTopkAuto]]. */
  val pqPinnedMaxRows = 100000L

  private def pqPinnedGuard(s: SparkSession, dir: String, maxRows: Long): DataFrame =
    Tables(s, dir, "embeddings")
      .agg(count(lit(1)).as("n_emb"))
      .select(when(col("n_emb") <= maxRows, lit(1L))
        .otherwise(raise_error(concat(
          lit("oracle-pinned PQ variant refuses "),
          col("n_emb").cast("string"),
          lit(s" > $maxRows rows — its fixed shortlist depth collapses recall at scale; " +
            "use simPqRescoreAuto or simIvfTopkAuto"))))
        .as("guard_ok"))

  /** Bound-injectable variants so the over-limit refusal is testable
    * without a 100k-row corpus (mirrors `dedupEmbeddingCosineBounded`). */
  private[graft] def simPqTopkBounded(s: SparkSession, dir: String, maxRows: Long): DataFrame =
    pqTopkWith(s, dir, pqCodebook(s, dir), maxRows)
  private[graft] def simPqTopkTrainedBounded(s: SparkSession, dir: String, maxRows: Long): DataFrame =
    pqTopkWith(s, dir, pqCodebookTrained(s, dir), maxRows)
  private[graft] def simPqRescoreBounded(s: SparkSession, dir: String, maxRows: Long): DataFrame =
    pqRescoreWith(s, dir, pqRescoreDepth, maxRows)

  /** PQ ANN with the TRAINED codebook — the serving-quality variant
    * (lower quantization error at identical serve cost). Rows-only; its
    * self-check recomputes every ADC score from independently re-derived
    * codes and LUTs ([[graft.SelfChecks]]). */
  def simPqTopkTrained(s: SparkSession, dir: String): DataFrame =
    pqTopkWith(s, dir, pqCodebookTrained(s, dir))

  /** ADC shortlist depth for the rescored variant: the compressed scan
    * keeps this many candidates per query, then ONLY those ids fetch
    * their full embedding for exact rescoring — the standard two-stage
    * PQ serving shape (shortlist error is recoverable as long as true
    * neighbors land anywhere in the shortlist, so depth buys recall at
    * fetch cost, not scan cost). */
  val pqRescoreDepth = 4 * topK

  /** Two-stage PQ ANN: rank by ADC over codes (compressed scan), keep
    * the top [[pqRescoreDepth]], exact-rescore just those by true
    * cosine. Output is exact cosines, so downstream consumers see the
    * same contract as the other ANN paths; recall is governed by
    * whether true neighbors survive the shortlist, not by ADC's
    * rounding. Prefix codebook + deterministic shortlist → full DuckDB
    * oracle. */
  def simPqRescore(s: SparkSession, dir: String): DataFrame =
    pqRescoreWith(s, dir, pqRescoreDepth)

  /** Fraction of each code CELL the AUTO rescore path shortlists. A
    * FIXED depth shrinks to nothing as the corpus grows (20 of 250k =
    * 0.008%; with ADC noise comparable to the top-5 cosine margins the
    * true neighbors land anywhere in the ADC order's upper reaches —
    * measured recall@5 0.011 at 250k on the near-uniform scale corpus),
    * and a GLOBAL constant-fraction shortlist needs a corpus-wide
    * (adc, rank ≤ N·frac) sort whose input is queries × cells × depth
    * rows — measured 293 s at 250k, all of it in that window. Taking
    * the fraction PER CELL instead keeps the union at the same
    * N·fraction candidates per query with NO intermediate global sort
    * at all: each cell independently forwards its own top slice and
    * exact rescoring ranks the union (the final window prunes map-side
    * to topK via WindowGroupLimit). The union is not bit-identical to
    * the global top-(N·frac) shortlist — it is the per-cell stratified
    * version of it, deterministic given the cell layout, which is what
    * a rows-only serving path needs. */
  val pqRescoreFraction = 1.0 / 64

  /** The PQ SCALE serving path: per-cell fractional ADC shortlist
    * (depth = [[pqCellRows]]·[[pqRescoreFraction]], a CONSTANT — no
    * size statistic needed, cost scales with the corpus by cell count
    * alone), exact rescoring of the union. Degrades to EXACT search
    * only when the corpus fits within one cell's shortlist depth
    * (≤ depthCell = 1024 rows); a single-cell corpus between that and
    * [[pqCellRows]] rows still gets a top-depthCell ADC shortlist per
    * query — approximate, with recall governed by the 1/64 fraction
    * like every larger corpus. Fully oracled (round 8,
    * [[pqRescoreAutoOracleSql]]): the constant per-cell depth and the
    * `vec_id // pqCellRows` cell layout are both SQL-restatable. */
  def simPqRescoreAuto(s: SparkSession, dir: String): DataFrame = {
    val depthCell = math.max(pqRescoreDepth, (pqCellRows * pqRescoreFraction).toInt)
    pqRescoreOver(s, dir,
      pqShortlist(s, dir, pqCodebook(s, dir), depthCell).select(col("q_id"), col("cand_id")))
  }

  private def pqRescoreWith(s: SparkSession, dir: String, depth: Int,
      maxRows: Long = pqPinnedMaxRows): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("cand_id"))
    val short = pqShortlist(s, dir, pqCodebook(s, dir), depth)
      .crossJoin(broadcast(pqPinnedGuard(s, dir, maxRows)))
      .filter(col("guard_ok") === 1L).drop("guard_ok")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= depth)
      .select(col("q_id"), col("cand_id"))
    pqRescoreOver(s, dir, short)
  }

  /** Exact-cosine rescoring + final top-[[topK]] over a (q_id, cand_id)
    * shortlist frame; full embeddings are fetched from `pool` (the
    * corpus, or the corpus-dirs union for served indexes). No broadcast
    * hint on the query side: the frame carries raw embeddings
    * (~350 B/row), and at the 100 TB / [[queryStride]] shape a forced
    * hint bypasses size stats and OOMs the driver — let AQE/statistics
    * pick the build side (at test scale they still choose broadcast; at
    * scale they fall back to a shuffle join, which is the correct
    * answer there). */
  private[graft] def rescoreOver(queries: DataFrame, pool: DataFrame,
      short: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val c = pool.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    short.join(q, "q_id").join(c, "cand_id")
      .withColumn("cosine", dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  private def pqRescoreOver(s: SparkSession, dir: String, short: DataFrame): DataFrame = {
    val n = normed(s, dir)
    rescoreOver(n.filter(col("vec_id") % queryStride === 0), n, short)
  }

  private def pqTopkWith(s: SparkSession, dir: String, cb: Array[Double],
      maxRows: Long = pqPinnedMaxRows): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("cand_id"))
    pqShortlist(s, dir, cb, topK)
      .crossJoin(broadcast(pqPinnedGuard(s, dir, maxRows)))
      .filter(col("guard_ok") === 1L).drop("guard_ok")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("adc"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Rows per code cell. Codes are ~60 B/row (vs ~350 B for vectors),
    * so cells can be ~64× wider than the vector tiles: fewer cells ⇒
    * fewer per-cell survivors feeding any downstream ranking (the
    * first cut used the 1024-row vector tile and the global-shortlist
    * window saw 245 cells × depth rows per query — 1.2 B rows at 250k,
    * 293 s of sort; at 64k-row cells the same window input shrinks
    * 64×). A cell row is ~4 MB — well inside task memory. */
  val pqCellRows = 65536

  /** Per-query top-`depth` by (ADC DESC, cand_id) WITHIN each code
    * cell, returned raw (no global ranking) — the shared compressed
    * scan of [[simPqTopk]] / [[simPqRescore]] (which re-rank globally;
    * per-cell top-depth contains the global top-depth) and
    * [[simPqRescoreAuto]] (which rescores the per-cell union as-is). */
  private def pqShortlist(s: SparkSession, dir: String, cb: Array[Double], depth: Int): DataFrame = {
    val kEff = pqKOf(cb)
    val n = normed(s, dir)
    val cands = n
      .select(col("vec_id"), graft.plans.VectorFunctions.pq_codes(
        col("embedding"), col("nrm"), cb, pqM, kEff).as("codes"))
      .groupBy((col("vec_id") / pqCellRows).cast("long").as("ccell"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("codes")))).as("cands"))
    val qs = n.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id"), graft.plans.VectorFunctions.pq_lut(
        col("embedding"), col("nrm"), cb, pqM, kEff).as("lut"))
      .groupBy((col("vec_id") / (lshTile.toLong * queryStride)).cast("long").as("qcell"))
      .agg(collect_list(struct(col("vec_id"), col("lut"))).as("qs"))
    cands.crossJoin(JoinHints.broadcastIfSmall(qs, 1.0 / queryStride))
      .select(explode(graft.plans.VectorFunctions.cell_pq_topk(
        col("qs"), col("cands"), kEff, depth)).as("p"))
      .select(col("p.q_id").as("q_id"), col("p.cand_id").as("cand_id"), col("p.adc").as("adc"))
  }

  // ------------------------------------------------------------ IVF-PQ

  /** Fraction of each probed inverted list the IVF-PQ path keeps as its
    * ADC shortlist for exact rescoring. Lists average [[centroidStride]]
    * rows by construction (the quantizer keeps k ∝ N/stride), so the
    * per-list depth max([[pqRescoreDepth]], stride·fraction) is a
    * CONSTANT — no size statistic — and the per-query exact-rescore
    * budget is probes·depth ≈ N·[[ivfProbeFraction]]·[[ivfPqListFraction]]
    * = 1/128 of the corpus, half of [[simPqRescoreAuto]]'s 1/64 — on
    * top of only the probed ~1/16 of code rows entering a kernel at
    * all. */
  val ivfPqListFraction = 1.0 / 8

  /** Corpus side of the IVF-PQ index: keep=1 inverted-list assignment
    * carrying 8-byte PQ codes instead of embeddings — (c_id, vec_id,
    * codes), the rows [[AnnIndex.ivfPqIndexWrite]] persists. */
  private[graft] def ivfPqAssign(cent: DataFrame, cb: Array[Double],
      corpus: DataFrame): DataFrame =
    nearestCentroids(cent)(corpus, "vec_id", "embedding", "nrm", 1,
        carry = Seq("embedding", "nrm"))
      .select(col("c_id"), col("vec_id"),
        graft.plans.VectorFunctions.pq_codes(
          col("embedding"), col("nrm"), cb, pqM, pqKOf(cb)).as("codes"))

  /** The composed IVF-PQ plan over explicit (centroids, codebook,
    * assigned codes, queries, rescore pool) — shared by the in-session
    * form and the persisted-index serve path
    * ([[AnnIndex.ivfPqIndexServe]]), which is what makes the two
    * byte-identical. Unprobed lists never reach a kernel (the inner
    * join on c_id IS the pruning); each vector lives in exactly one
    * list, so no pair surfaces twice and no distinct is needed.
    *
    * LUTs are built AFTER the per-list group-join, not before: a query
    * probing P lists would otherwise materialize P copies of its
    * pqM·k-double LUT (~8 KB — ~23× the raw vector) inside ONE
    * collect_list aggregation, and at 250k rows that is queries ×
    * (nLists/16) × 8 KB ≈ 6 GB of aggregation state — the measured
    * heap-exhaustion OOM of the first 250k run. Collecting the raw
    * (embedding, nrm) instead keeps the buffer at vector width (~273 MB
    * there), and the `transform` below rebuilds each list-row's LUTs
    * transiently (~MBs per row, freed with the row; ~8k multiplies per
    * query×list, trivial beside the ADC scan it feeds). */
  private[graft] def ivfPqOver(cent: DataFrame, cb: Array[Double],
      assignedCodes: DataFrame, queries: DataFrame, rescorePool: DataFrame,
      nLists: Double, probeOverride: Option[Int] = None): DataFrame = {
    val kEff = pqKOf(cb)
    val probes = probeOverride.getOrElse(ivfProbesFor(nLists))
    val depthCell = math.max(pqRescoreDepth, (centroidStride * ivfPqListFraction).toInt)
    val lists = assignedCodes
      .groupBy(col("c_id"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("codes")))).as("cands"))
    val qlists = nearestCentroids(cent)(queries, "vec_id", "embedding", "nrm", probes,
        carry = Seq("embedding", "nrm"))
      .groupBy(col("c_id"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("qraw"))
    val short = lists.join(qlists, "c_id")
      .select(explode(graft.plans.VectorFunctions.cell_pq_topk(
        transform(col("qraw"), q => struct(
          q.getField("vec_id"),
          graft.plans.VectorFunctions.pq_lut(
            q.getField("embedding"), q.getField("nrm"), cb, pqM, kEff))),
        col("cands"), kEff, depthCell)).as("p"))
      .select(col("p.q_id").as("q_id"), col("p.cand_id").as("cand_id"))
    rescoreOver(queries, rescorePool, short)
  }

  /** IVF-PQ composed ANN — the standard 100 TB serving layout, both
    * halves of which already exist separately:
    *  1. IVF PRUNING ([[simIvfTopkAuto]]'s constant-fraction probe over
    *     the trained quantizer): unprobed inverted lists are never
    *     scanned — ~[[ivfProbeFraction]] of the corpus enters a kernel.
    *  2. PQ COMPRESSION ([[simPqRescoreAuto]]'s compressed scan): the
    *     probed lists ship as 8-byte code rows through the fused
    *     [[graft.plans.CellPqTopk]] loop, ~32× narrower than vectors.
    *  3. EXACT RESCORE: the per-list ADC shortlist fetches full
    *     embeddings for true-cosine ranking — the output contract is
    *     exact cosines, like every other serving ANN path.
    * Rows-only (trained quantizer + statistic-derived probes); the
    * self-check asserts the usual exact-cosine/dense-rank contract,
    * recall parity with [[simIvfTopkAuto]] at test scale, and the
    * 250k ScaleSmoke row measures the ≥-PQ-auto-at-lower-budget claim
    * where it actually holds (at toy scale the flat PQ scan is
    * near-exhaustive, so pruning necessarily costs recall there). */
  def simIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    // exact count for the probe statistic — see simIvfTopkAuto
    val rows = Tables(s, dir, "embeddings").count().toDouble
    val n = normed(s, dir)
    val cent = trainedCentroidsOf(s, dir)
    val cb = pqCodebook(s, dir)
    val q = n.filter(col("vec_id") % queryStride === 0)
    ivfPqOver(cent, cb, ivfPqAssign(cent, cb, n), q, n,
      rows / centroidStride)
  }

  /** The fully-ORACLED member of the composed family: the SAME IVF-PQ
    * pipeline ([[ivfPqOver]] — per-list code collection, transient
    * LUTs, fused per-cell ADC shortlist, exact rescore) run with the
    * two deterministic quantizers the oracled base paths use — the
    * stride coarse quantizer (`sim_ivf_topk`'s) and the prefix PQ
    * codebook (`sim_pq_topk`'s) — and the fixed [[nProbe]] probe
    * count. Every stage is therefore SQL-restatable, so the COMPOSITION
    * itself (pruning ∘ compression ∘ rescore) gets a DuckDB oracle,
    * not just its parts: the round-6 audit item the trained variants'
    * rows-only status left open. The production variant stays
    * `sim_ivfpq_topk` (trained quantizer, statistic probes); this one
    * pins the plumbing. */
  def simIvfPqTopkStride(s: SparkSession, dir: String): DataFrame = {
    val n = normed(s, dir)
    val cent = centroidsOf(n)
    val cb = pqCodebook(s, dir)
    val q = n.filter(col("vec_id") % queryStride === 0)
    ivfPqOver(cent, cb, ivfPqAssign(cent, cb, n), q, n,
      nLists = 0.0, probeOverride = Some(nProbe))
  }

  /** kNN label prediction — the downstream consumer the ANN stack
    * exists for: each query's label is predicted by majority vote among
    * its exact top-[[topK]] cosine neighbors (ties broken by the tied
    * label holding the best-ranked neighbor, which is unique because
    * rank sets are disjoint — fully deterministic, hence
    * DuckDB-oracle-checkable). Output reports the true label alongside,
    * so `avg(correct)` over the result IS the leave-one-out eval a
    * labeling-quality pipeline would run.
    *
    * Scale shape: the vote table is (queries × k) rows — tiny next to
    * the corpus — so both label joins key a small frame against the
    * column-pruned (vec_id, label) scan; stats pick the broadcast side
    * (at testdata scale the label scan broadcasts; at 100 TB the
    * queries×k frame is the broadcast side instead, same plan family
    * either way). */
  def simKnnLabel(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = simTopkBruteforce(s, dir)
      .join(labels.select(col("vec_id").as("cand_id"), col("label").as("cand_label")), "cand_id")
      .groupBy(col("q_id"), col("cand_label"))
      .agg(count(lit(1)).as("n_votes"), min(col("rk")).as("best_rk"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("best_rk").asc)
    votes.withColumn("vr", row_number().over(w)).filter(col("vr") === 1)
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .select(col("q_id"), col("true_label"), col("cand_label").as("pred_label"),
        col("n_votes"), (col("cand_label") === col("true_label")).as("correct"))
      .orderBy(col("q_id"))
  }

  /** (max block size) / (mean block size) of the keep=1 inverted-list
    * assignment under either quantizer — the hot-block statistic trained
    * centroids exist to reduce (a hot block is a straggler task at
    * 100 TB). Spec-facing. */
  private[graft] def assignmentSkew(s: SparkSession, dir: String, trained: Boolean,
      iters: Int = kmeansIters): Double = {
    val n = normed(s, dir)
    val cent = if (trained) trainedCentroidsOf(s, dir, iters) else centroidsOf(n)
    val sizes = nearestCentroids(cent)(n, "vec_id", "embedding", "nrm", 1)
      .groupBy(col("c_id")).count().collect().map(_.getLong(1))
    sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> simTopkBruteforce _,
    "sim_range_search" -> simRangeSearch _,
    "sim_lsh_ann" -> simLshAnn _,
    "sim_lsh_ann_served" -> AnnIndex.simLshAnnServed _,
    "sim_lsh_ann_filtered" -> AnnIndex.simLshAnnFiltered _,
    "sim_lsh_ann_auto" -> simLshAnnAuto _,
    "sim_ivf_topk" -> simIvfTopk _,
    "sim_ivf_topk_trained" -> simIvfTopkTrained _,
    "sim_ivf_topk_auto" -> simIvfTopkAuto _,
    "sim_ivf_topk_served" -> AnnIndex.simIvfTopkServed _,
    "sim_ivf_topk_filtered" -> AnnIndex.simIvfTopkFiltered _,
    "sim_ivf_topk_served_stride" -> AnnIndex.simIvfTopkServedStride _,
    "sim_ivf_topk_filtered_stride" -> AnnIndex.simIvfTopkFilteredStride _,
    "sim_pq_topk" -> simPqTopk _,
    "sim_pq_topk_trained" -> simPqTopkTrained _,
    "sim_pq_rescore" -> simPqRescore _,
    "sim_pq_rescore_auto" -> simPqRescoreAuto _,
    "sim_ivfpq_topk" -> simIvfPqTopk _,
    "sim_ivfpq_topk_stride" -> simIvfPqTopkStride _,
    "sim_ivfpq_topk_served" -> AnnIndex.simIvfPqTopkServed _,
    "sim_knn_label" -> simKnnLabel _,
    "sim_ivf_health" -> AnnIndex.simIvfHealth _,
    "sim_lsh_health" -> AnnIndex.simLshHealth _,
    "sim_autopilot_report" -> AnnIndex.simAutopilotReport _,
  )

  /** Oracle for the LSH health report: the pinned-hyperplane bucket
    * chain (unreferenced downstream CTEs of the shared chain are never
    * evaluated), then the bucket-size distribution statistics. */
  private lazy val lshHealthOracleSql: String =
    s"""WITH ${lshAnnOracleCtes("TRUE")},
       |bsz AS (SELECT tbl, bucket, CAST(count(*) AS BIGINT) AS sz
       |        FROM buckets GROUP BY tbl, bucket),
       |btot AS (SELECT CAST(max(sz) AS BIGINT) AS mx, count(*) AS nonempty,
       |                CAST(sum(sz) AS BIGINT) AS total FROM bsz),
       |btop5 AS (SELECT CAST(sum(sz) AS BIGINT) AS t5
       |          FROM (SELECT sz FROM bsz ORDER BY sz DESC, tbl, bucket LIMIT 5)),
       |m AS (
       |  SELECT 'hot_bucket_skew' AS metric,
       |    coalesce(CAST(mx AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(nonempty AS DOUBLE)), 0.0) AS value
       |  FROM btot
       |  UNION ALL SELECT 'n_bucket_rows', coalesce(CAST(total AS DOUBLE), 0.0) FROM btot
       |  UNION ALL SELECT 'n_tables', CAST($lshTables AS DOUBLE)
       |  UNION ALL SELECT 'n_vectors',
       |    (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) FROM buckets)
       |  UNION ALL SELECT 'nonempty_buckets', CAST(nonempty AS DOUBLE) FROM btot
       |  UNION ALL SELECT 'pending_tombstones', 0.0
       |  UNION ALL SELECT 'top5_bucket_mass',
       |    coalesce(CAST(t5 AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM btot), 0.0) FROM btop5)
       |SELECT metric, round(value, 6) AS value FROM m ORDER BY metric""".stripMargin

  /** Oracle for the IVF index-health report over the stride index: the
    * stride centroid pool + argmin assignment (same CTEs as the topk
    * oracle), then the list-size distribution statistics — the drift
    * alarms. `pending_tombstones` is 0 by construction (fresh index);
    * the physical file count stays library-only. */
  private lazy val ivfHealthOracleSql: String =
    s"""WITH n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
       |         FROM n WHERE vec_id % $centroidStride = 1),
       |asgn AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotSql("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) DESC, c.c_id) AS c_rk
       |    FROM n v, cent c)
       |  WHERE c_rk = 1),
       |sizes AS (SELECT c_id, CAST(count(*) AS BIGINT) AS sz FROM asgn GROUP BY c_id),
       |tot AS (SELECT CAST(max(sz) AS BIGINT) AS mx, count(*) AS nonempty,
       |               CAST(sum(sz) AS BIGINT) AS total FROM sizes),
       |top5 AS (SELECT CAST(sum(sz) AS BIGINT) AS t5
       |         FROM (SELECT sz FROM sizes ORDER BY sz DESC, c_id LIMIT 5)),
       |m AS (
       |  SELECT 'hot_list_skew' AS metric,
       |    coalesce(CAST(mx AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(nonempty AS DOUBLE)), 0.0) AS value
       |  FROM tot
       |  UNION ALL SELECT 'n_lists', (SELECT CAST(count(*) AS DOUBLE) FROM cent)
       |  UNION ALL SELECT 'n_vectors', coalesce(CAST(total AS DOUBLE), 0.0) FROM tot
       |  UNION ALL SELECT 'nonempty_lists', CAST(nonempty AS DOUBLE) FROM tot
       |  UNION ALL SELECT 'pending_tombstones', 0.0
       |  UNION ALL SELECT 'top5_list_mass',
       |    coalesce(CAST(t5 AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot), 0.0) FROM top5)
       |SELECT metric, round(value, 6) AS value FROM m ORDER BY metric""".stripMargin

  /** Oracle for the autopilot decision log over the stride IVF index:
    * the skew value is the health oracle's own expression, thresholds
    * are the documented `Autopilot` constants, actions/performed follow
    * the policy with no corpus dirs (retrain can never fire on the
    * shared index) and a fresh build's zero tombstone debt. */
  private lazy val autopilotReportOracleSql: String = {
    val skewMax = graft.ops.Autopilot.maxHotListSkew
    s"""WITH n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
       |         FROM n WHERE vec_id % $centroidStride = 1),
       |asgn AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotSql("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) DESC, c.c_id) AS c_rk
       |    FROM n v, cent c)
       |  WHERE c_rk = 1),
       |sizes AS (SELECT c_id, CAST(count(*) AS BIGINT) AS sz FROM asgn GROUP BY c_id),
       |tot AS (SELECT CAST(max(sz) AS BIGINT) AS mx, count(*) AS nonempty,
       |               CAST(sum(sz) AS BIGINT) AS total FROM sizes),
       |skew AS (SELECT round(coalesce(CAST(mx AS DOUBLE) /
       |    (CAST(total AS DOUBLE) / CAST(nonempty AS DOUBLE)), 0.0), 6) AS v FROM tot)
       |SELECT * FROM (
       |  SELECT 'ivf' AS "family", 'hot_list_skew' AS "trigger", v AS "value",
       |    CAST($skewMax AS DOUBLE) AS "threshold",
       |    CASE WHEN v > $skewMax THEN 'retrain_needs_corpus' ELSE 'retrain' END AS "action",
       |    false AS "performed"
       |  FROM skew
       |  UNION ALL
       |  SELECT 'ivf', 'pending_tombstones', CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 'compact', false)
       |ORDER BY "trigger"""".stripMargin
  }

  /** Oracle for the kNN label vote: the exact-top-k CTEs, then the
    * (votes DESC, best_rk) pick — best_rk makes the pick unique because
    * per-label rank sets are disjoint. */
  private lazy val knnLabelOracleSql: String =
    s"""WITH n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
       |  FROM n q JOIN n c ON q.vec_id % $queryStride = 0 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rk
       |  FROM scored),
       |votes AS (
       |  SELECT r.q_id, e.label AS cand_label,
       |    count(*) AS n_votes, min(r.rk) AS best_rk
       |  FROM ranked r JOIN embeddings e ON r.cand_id = e.vec_id
       |  WHERE r.rk <= $topK
       |  GROUP BY r.q_id, e.label),
       |pick AS (
       |  SELECT q_id, cand_label, n_votes FROM (
       |    SELECT q_id, cand_label, n_votes,
       |      row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, best_rk) AS vr
       |    FROM votes)
       |  WHERE vr = 1)
       |SELECT p.q_id, CAST(eq.label AS BIGINT) AS true_label,
       |  CAST(p.cand_label AS BIGINT) AS pred_label,
       |  CAST(p.n_votes AS BIGINT) AS n_votes,
       |  p.cand_label = eq.label AS correct
       |FROM pick p JOIN embeddings eq ON p.q_id = eq.vec_id
       |ORDER BY p.q_id""".stripMargin

  /** DuckDB oracle for the prefix-codebook PQ ANN: the codebook is the
    * normalized first-[[pqK]] prefix (reproducible in SQL), codes are
    * `row_number() OVER (ORDER BY dist, j) = 1` (the kernel's
    * strict-less argmin), LUT entries and subspace distances are the
    * same left-to-right folds as every vector oracle, and the ADC total
    * is `list_sum(list(lut ORDER BY s))` — the GROUPED s-ascending sum
    * the kernel computes, which differs in rounding from a flat 64-dim
    * fold and so must be spelled as a sum of per-subspace sums. */
  private lazy val pqTopkOracleSql: String =
    s"""$pqCommonCtes,
       |ranked AS (
       |  SELECT q_id, cand_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, cand_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT q_id, rk, cand_id, adc FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin

  /** Oracle for the two-stage variant: identical compressed-scan CTEs,
    * shortlist cut at [[pqRescoreDepth]] by the same (adc DESC, cand_id)
    * order, then exact-cosine rescoring of only the shortlisted ids. */
  private lazy val pqRescoreOracleSql: String =
    s"""$pqCommonCtes,
       |shortlist AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, cand_id) AS srk
       |    FROM scored)
       |  WHERE srk <= $pqRescoreDepth),
       |rescored AS (
       |  SELECT sl.q_id, sl.cand_id,
       |    ${dotSql("q.q_emb", "c.embedding")} / (q.q_nrm * c.nrm) AS cosine
       |  FROM shortlist sl JOIN q ON sl.q_id = q.q_id JOIN n c ON sl.cand_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM rescored)
       |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin

  /** Oracle for the stride-composed IVF-PQ: the PQ chain's
    * codes/LUTs, the stride-IVF assignment and fixed-nProbe probes,
    * ADC grouped per (query, cand, list) with the kernel's s-ascending
    * fold, the PER-(query, list) shortlist cut at the composed depth
    * (the per-cell semantics of `cell_pq_topk`), and the exact-cosine
    * rescore — the composition restated stage by stage. */
  private lazy val ivfPqStrideOracleSql: String = {
    val depthCell = math.max(pqRescoreDepth, (centroidStride * ivfPqListFraction).toInt)
    s"""$pqCommonCtes,
       |icent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
       |          FROM n WHERE vec_id % $centroidStride = 1),
       |iasgn AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotSql("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) DESC, c.c_id) AS c_rk
       |    FROM n v, icent c)
       |  WHERE c_rk = 1),
       |iprobes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${dotSql("q.q_emb", "c.c_emb")} / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS c_rk
       |    FROM q, icent c)
       |  WHERE c_rk <= $nProbe),
       |iadc AS (
       |  SELECT p.q_id, a.vec_id AS cand_id, a.c_id,
       |    list_sum(list(l.lut ORDER BY l.s)) AS adc
       |  FROM iprobes p
       |  JOIN iasgn a ON a.c_id = p.c_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN luts l ON l.q_id = p.q_id AND l.s = c.s AND l.j = c.code
       |  WHERE a.vec_id <> p.q_id
       |  GROUP BY p.q_id, a.vec_id, a.c_id),
       |ishort AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id, c_id ORDER BY adc DESC, cand_id) AS srk
       |    FROM iadc)
       |  WHERE srk <= $depthCell),
       |iresc AS (
       |  SELECT sl.q_id, sl.cand_id,
       |    ${dotSql("q.q_emb", "c.embedding")} / (q.q_nrm * c.nrm) AS cosine
       |  FROM ishort sl JOIN q ON sl.q_id = q.q_id JOIN n c ON sl.cand_id = c.vec_id),
       |iranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM iresc)
       |SELECT q_id, rk, cand_id, cosine FROM iranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin
  }

  private lazy val pqCommonCtes: String = {
    val dsub = pqDsub
    s"""WITH n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |cbsrc AS (
       |  SELECT embedding, nrm,
       |    CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS j
       |  FROM n ORDER BY vec_id LIMIT $pqK),
       |cb AS (
       |  SELECT s, j, list_transform(range(1, ${dsub + 1}), d ->
       |    CAST(embedding[s * $dsub + d] AS DOUBLE) / nrm) AS w
       |  FROM cbsrc CROSS JOIN (SELECT unnest(range(0, $pqM)) AS s)),
       |codes AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT v.vec_id, cb.s, cb.j,
       |      row_number() OVER (PARTITION BY v.vec_id, cb.s ORDER BY
       |        list_sum(list_transform(range(1, ${dsub + 1}), d ->
       |          (CAST(v.embedding[cb.s * $dsub + d] AS DOUBLE) / v.nrm - cb.w[d])
       |          * (CAST(v.embedding[cb.s * $dsub + d] AS DOUBLE) / v.nrm - cb.w[d]))),
       |        cb.j) AS rk
       |    FROM n v CROSS JOIN cb)
       |  WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id % $queryStride = 0),
       |luts AS (
       |  SELECT q.q_id, cb.s, cb.j,
       |    list_sum(list_transform(range(1, ${dsub + 1}), d ->
       |      CAST(q.q_emb[cb.s * $dsub + d] AS DOUBLE) / q.q_nrm * cb.w[d])) AS lut
       |  FROM q CROSS JOIN cb),
       |scored AS (
       |  SELECT l.q_id, c.vec_id AS cand_id,
       |    list_sum(list(l.lut ORDER BY l.s)) AS adc
       |  FROM codes c JOIN luts l ON l.s = c.s AND l.j = c.code
       |  WHERE c.vec_id <> l.q_id
       |  GROUP BY l.q_id, c.vec_id)""".stripMargin
  }

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Oracle for the stride-quantizer IVF ANN, parameterized on an extra
    * centroid-training restriction: `centCond = "TRUE"` is the
    * in-session `sim_ivf_topk`; the streamed-ingest form restricts the
    * centroids to the SEED slice the persisted index was built from
    * (the quantizer-frozen train/serve divergence, same move as
    * [[lshAnnOracleSqlSeedThr]]) while assignment, probes, and scoring
    * still cover every vector. */
  private[graft] def ivfTopkOracleSql(centCond: String = "TRUE",
      memberCond: String = "TRUE"): String =
    s"""WITH n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
       |         FROM n WHERE vec_id % $centroidStride = 1 AND ($centCond)),
       |asgn AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotSql("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) DESC, c.c_id) AS c_rk
       |    FROM n v, cent c)
       |  WHERE c_rk = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id % $queryStride = 0),
       |probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${dotSql("q.q_emb", "c.c_emb")} / (q.q_nrm * c.c_nrm) DESC, c.c_id) AS c_rk
       |    FROM q, cent c)
       |  WHERE c_rk <= $nProbe),
       |cand AS (
       |  SELECT DISTINCT q_id, vec_id AS cand_id
       |  FROM probes JOIN asgn USING (c_id)
       |  WHERE vec_id <> q_id AND ($memberCond)),
       |scored AS (
       |  SELECT cand.q_id, cand.cand_id,
       |    ${dotSql("q.q_emb", "c.embedding")} / (q.q_nrm * c.nrm) AS cosine
       |  FROM cand JOIN q ON cand.q_id = q.q_id JOIN n c ON cand.cand_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin

  /** DuckDB oracle for the PINNED LSH ANN — possible because (a) the
    * hyperplanes are a fixed seeded array, emitted here as list
    * literals (`Double.toString` round-trips exactly, and DuckDB's
    * decimal→double conversion is correctly rounded, so every weight is
    * the identical double); (b) the per-bucket tiling is RESULT-exact,
    * so the final ranking equals a plain top-k over ALL (bucket ∪
    * 1-flip-probe) candidate pairs regardless of how Spark cells the
    * buckets internally (pinned by the equi-join byte-identity spec in
    * `DedupSimilaritySpec`); and (c) projections/thresholds/dots are the same
    * left-to-right double folds as every other vector oracle. The one
    * non-bit-pinned quantity is the per-plane mean threshold (summation
    * order differs across engines) — it only matters if some projection
    * lands within ~1 ulp of its threshold, a measure-zero event on
    * continuous gaussian projections. The auto-depth variant carries its
    * own oracle ([[lshAnnAutoOracleSql]]) that re-derives the depth from
    * count(*) inside the SQL. */
  /** Label slice the registered FILTERED ANN variants search within —
    * a ~10%-selectivity attribute predicate on the embeddings table,
    * the "nearest neighbors WHERE lang='en'" shape. The value is
    * arbitrary; what matters is that it is pushed to the member scan
    * (pinned in `AnnIndexSpec`), not applied to a finished top-k. */
  val annFilterLabel = 3

  private lazy val lshAnnOracleSql: String = lshAnnOracleSqlWhere("TRUE")

  /** The filtered variant restricts the CANDIDATE side to the label
    * slice; queries, buckets, and probes are the unfiltered index's. */
  private[graft] lazy val lshAnnFilteredOracleSql: String =
    lshAnnOracleSqlWhere(
      s"b.vec_id IN (SELECT vec_id FROM embeddings WHERE label = $annFilterLabel)")

  private def lshAnnOracleSqlWhere(memberCond: String): String =
    s"""WITH ${lshAnnOracleCtes(memberCond)}
       |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin

  /** The streamed-ingest oracle: identical chain, but the per-plane
    * threshold average is computed over the SEED slice only (the
    * corpus the persisted index trained on before the stream grew it);
    * buckets, probes, and scoring still cover every vector. */
  private[graft] def lshAnnOracleSqlSeedThr(thrCond: String): String =
    s"""WITH ${lshAnnOracleCtes("TRUE", thrCond)}
       |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin

  /** The LSH oracle's CTE chain (planes → ranked), WITHOUT the `WITH`
    * keyword or final select — composable into larger oracles (the
    * hybrid-retrieval fusion reuses `ranked` as its semantic side).
    * `thrTrainCond` restricts the threshold-training rows (the
    * streamed-index oracle trains on the seed slice). */
  private[graft] def lshAnnOracleCtes(memberCond: String,
      thrTrainCond: String = "TRUE"): String = {
    val planes = hyperplanesFor(lshTables, lshBits)
    val planeRows = (0 until lshTables * lshBits).map { p =>
      (0 until embDims).map(d => planes(p * embDims + d).toString)
        .mkString(s"($p, [", ", ", "])")
    }.mkString(",\n")
    val probeList = ("bucket" +: (0 until lshBits).map(j => s"xor(bucket, ${1L << j})"))
      .mkString(", ")
    s"""planes AS (SELECT * FROM (VALUES
       |$planeRows) AS t(p, w)),
       |proj AS (
       |  SELECT e.vec_id, pl.p,
       |    list_sum(list_transform(range(1, ${embDims + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pl.w[i] AS DOUBLE))) AS pr
       |  FROM embeddings e CROSS JOIN planes pl),
       |thr AS (SELECT p, avg(pr) AS t FROM proj WHERE $thrTrainCond GROUP BY p),
       |bits AS (
       |  SELECT vec_id, p // $lshBits AS tbl,
       |    CASE WHEN pr > t THEN 1 << (p % $lshBits) ELSE 0 END AS bit
       |  FROM proj JOIN thr USING (p)),
       |buckets AS (
       |  SELECT vec_id, CAST(tbl AS BIGINT) AS tbl, CAST(sum(bit) AS BIGINT) AS bucket
       |  FROM bits GROUP BY vec_id, tbl),
       |qb AS (
       |  SELECT q_id, tbl, unnest([$probeList]) AS bucket
       |  FROM (SELECT vec_id AS q_id, tbl, bucket FROM buckets WHERE vec_id % $queryStride = 0)),
       |cand AS (
       |  SELECT DISTINCT qb.q_id, b.vec_id AS cand_id
       |  FROM qb JOIN buckets b ON qb.tbl = b.tbl AND qb.bucket = b.bucket
       |  WHERE b.vec_id <> qb.q_id AND $memberCond),
       |n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id % $queryStride = 0),
       |scored AS (
       |  SELECT cand.q_id, cand.cand_id,
       |    ${dotSql("q.q_emb", "c.embedding")} / (q.q_nrm * c.nrm) AS cosine
       |  FROM cand JOIN q ON cand.q_id = q.q_id JOIN n c ON cand.cand_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM scored)""".stripMargin
  }

  /** Oracle for the AUTO-depth LSH ANN (round 8): the depth is derived
    * from the corpus row count INSIDE the SQL — `count(*)` in a CTE,
    * the same floor formula as [[lshBitsFor]] (`round(x)` restated as
    * `floor(x + 0.5)`, Scala's exact semantics; the .5 boundary cannot
    * occur for integer n because 2^(j+0.5)·4 is irrational) — so the
    * statistic-driven design is itself what the oracle checks, not a
    * pinned constant. Hyperplanes are emitted for [[lshOracleMaxBits]]
    * tables×bits; [[hyperplanesFor]] draws sequentially from one seeded
    * stream, so the bits-plane prefix is identical for every depth ≤
    * the ceiling, and the plane set the SQL actually uses (`p <
    * tables·bits`) matches the engine's exactly. Beyond the ceiling the
    * oracle raises via `error()` rather than silently dropping planes. */
  private[graft] lazy val lshAnnAutoOracleSql: String = {
    val planes = hyperplanesFor(lshTables, lshOracleMaxBits)
    val planeRows = (0 until lshTables * lshOracleMaxBits).map { p =>
      (0 until embDims).map(d => planes(p * embDims + d).toString)
        .mkString(s"($p, [", ", ", "])")
    }.mkString(",\n")
    s"""WITH planes AS (SELECT * FROM (VALUES
       |$planeRows) AS t(p, w)),
       |nrows AS (SELECT count(*) AS n FROM embeddings),
       |geom AS (
       |  SELECT CASE WHEN b > $lshOracleMaxBits
       |    THEN CAST(error('sim_lsh_ann_auto oracle: derived depth ' || b ||
       |      ' exceeds the $lshOracleMaxBits-bit emitted plane set') AS INT)
       |    ELSE b END AS bits
       |  FROM (SELECT greatest($lshBits, least(24,
       |    CAST(floor(log2(greatest(1.0, n / $lshTargetBucket.0)) + 0.5) AS INT))) AS b
       |    FROM nrows)),
       |proj AS (
       |  SELECT e.vec_id, pl.p,
       |    list_sum(list_transform(range(1, ${embDims + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pl.w[i] AS DOUBLE))) AS pr
       |  FROM embeddings e CROSS JOIN planes pl CROSS JOIN geom g
       |  WHERE pl.p < $lshTables * g.bits),
       |thr AS (SELECT p, avg(pr) AS t FROM proj GROUP BY p),
       |sgn AS (
       |  SELECT pj.vec_id, pj.p // g.bits AS tbl,
       |    CASE WHEN pj.pr > thr.t THEN CAST(1 AS BIGINT) << (pj.p % g.bits)
       |      ELSE 0 END AS bit
       |  FROM proj pj JOIN thr USING (p) CROSS JOIN geom g),
       |buckets AS (
       |  SELECT vec_id, CAST(tbl AS BIGINT) AS tbl, CAST(sum(bit) AS BIGINT) AS bucket
       |  FROM sgn GROUP BY vec_id, tbl),
       |qb AS (
       |  SELECT q_id, tbl, unnest(list_prepend(bucket,
       |    list_transform(range(0, g.bits),
       |      j -> xor(bucket, CAST(1 AS BIGINT) << CAST(j AS INT))))) AS bucket
       |  FROM (SELECT vec_id AS q_id, tbl, bucket FROM buckets
       |        WHERE vec_id % $queryStride = 0)
       |  CROSS JOIN geom g),
       |cand AS (
       |  SELECT DISTINCT qb.q_id, b.vec_id AS cand_id
       |  FROM qb JOIN buckets b ON qb.tbl = b.tbl AND qb.bucket = b.bucket
       |  WHERE b.vec_id <> qb.q_id),
       |n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id % $queryStride = 0),
       |scored AS (
       |  SELECT cand.q_id, cand.cand_id,
       |    ${dotSql("q.q_emb", "c.embedding")} / (q.q_nrm * c.nrm) AS cosine
       |  FROM cand JOIN q ON cand.q_id = q.q_id JOIN n c ON cand.cand_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin
  }

  /** Oracle for the AUTO PQ rescore path (round 8): its per-cell
    * fractional shortlist depth is a CONSTANT
    * (max([[pqRescoreDepth]], [[pqCellRows]]·[[pqRescoreFraction]])) and
    * the cell layout is `vec_id // pqCellRows` — both SQL-restatable, so
    * the per-cell-stratified shortlist (the exact semantics of
    * `cell_pq_topk` at that depth) oracles as a (q_id, cell)-partitioned
    * rank cut, followed by the same exact-cosine rescore as
    * [[pqRescoreOracleSql]]. */
  private lazy val pqRescoreAutoOracleSql: String = {
    val depthCell = math.max(pqRescoreDepth, (pqCellRows * pqRescoreFraction).toInt)
    s"""$pqCommonCtes,
       |shortlist AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id, cand_id // $pqCellRows
       |        ORDER BY adc DESC, cand_id) AS srk
       |    FROM scored)
       |  WHERE srk <= $depthCell),
       |rescored AS (
       |  SELECT sl.q_id, sl.cand_id,
       |    ${dotSql("q.q_emb", "c.embedding")} / (q.q_nrm * c.nrm) AS cosine
       |  FROM shortlist sl JOIN q ON sl.q_id = q.q_id JOIN n c ON sl.cand_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM rescored)
       |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "sim_ivf_health" -> ivfHealthOracleSql,
    "sim_autopilot_report" -> autopilotReportOracleSql,
    "sim_lsh_health" -> lshHealthOracleSql,
    "sim_ivfpq_topk_stride" -> ivfPqStrideOracleSql,
    "sim_lsh_ann_auto" -> lshAnnAutoOracleSql,
    "sim_pq_rescore_auto" -> pqRescoreAutoOracleSql,
    "sim_pq_topk" -> pqTopkOracleSql,
    "sim_pq_rescore" -> pqRescoreOracleSql,
    "sim_knn_label" -> knnLabelOracleSql,
    "sim_lsh_ann" -> lshAnnOracleSql,
    // the persisted-index serve path is exact over the same probed
    // candidate set (byte-identity pinned in AnnIndexSpec), so it is
    // checked against the identical SQL
    "sim_lsh_ann_served" -> lshAnnOracleSql,
    // filtered ANN is exact over probed ∩ label-slice candidates, so it
    // oracles as the same SQL with the member restriction added
    "sim_lsh_ann_filtered" -> lshAnnFilteredOracleSql,
    "sim_ivf_topk" -> ivfTopkOracleSql(),
    "sim_ivf_topk_served_stride" -> ivfTopkOracleSql(),
    "sim_ivf_topk_filtered_stride" -> ivfTopkOracleSql(memberCond =
      s"vec_id IN (SELECT vec_id FROM embeddings WHERE label = $annFilterLabel)"),
    "sim_topk_bruteforce" ->
      s"""WITH n AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding,
         |      sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
         |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |    FROM embeddings) WHERE nrm > 0),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |    list_sum(list_transform(range(1, len(q.embedding) + 1),
         |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
         |  FROM n q JOIN n c ON q.vec_id % $queryStride = 0 AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT q_id, cand_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT q_id, rk, cand_id, cosine FROM ranked WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,
    "sim_range_search" ->
      s"""WITH n AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding,
         |      sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
         |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |    FROM embeddings) WHERE nrm > 0)
         |SELECT q_id, cand_id, cosine FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |    list_sum(list_transform(range(1, len(q.embedding) + 1),
         |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
         |  FROM n q JOIN n c ON q.vec_id % $queryStride = 0 AND c.vec_id <> q.vec_id)
         |WHERE cosine >= $rangeThreshold
         |ORDER BY q_id, cand_id""".stripMargin,
  )
}
