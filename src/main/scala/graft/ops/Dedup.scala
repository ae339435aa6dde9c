package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns

/** Deduplication operators over `documents` / `embeddings` — the core of
  * a training-data pipeline at 100 TB. Five strategies, cheapest first:
  *
  *  - exact:       one hash-groupBy on the content (or its md5) — single
  *                 shuffle, linear.
  *  - MinHash+LSH: shingle → K minhashes → band signatures → bucket join.
  *                 Candidate generation never compares all pairs: the join
  *                 key is (band, signature), so cost is bucket-local. The
  *                 quadratic exact-Jaccard verify runs only on candidates.
  *  - SimHash:     one 32-bit signature per doc, byte-band blocking, then
  *                 Hamming distance on candidates (bit_count(xor)).
  *  - n-gram Jaccard: exact pairwise verify via shingle-equality join —
  *                 the ground-truth oracle for the two above; at scale it
  *                 is only ever run AFTER LSH blocking.
  *  - embedding cosine: exact near-dup detection in embedding space;
  *                 the blocked/ANN variant lives in Similarity.
  *
  * The minhash parameters and simhash bit table are Scala constants,
  * and the DuckDB oracle SQL is *generated from the same constants*, so
  * both engines compute identical integer math end-to-end (md5-derived
  * 32-bit hashes, exact integer min-hashing — no floating point anywhere
  * in the signatures).
  */
object Dedup {

  /** MinHash universal-hash params (j, a, b): h_j(x) = (a*x + b) mod P.
    * a < 2^17 keeps a*md5Int(x) < 2^49 — no int64 overflow. */
  val P = 2147483647L
  val mhParams: Seq[(Int, Long, Long)] =
    Seq(100003L, 100019L, 100043L, 100049L, 100057L, 100069L, 100103L, 100109L,
      100129L, 100151L, 100153L, 100169L, 100183L, 100189L, 100193L, 100207L)
      .zipWithIndex.map { case (a, j) => (j, a, 7919L * j + 13) }
  val mhBands = 4 // 16 hashes = 4 bands × 4 rows

  // jaccardThreshold as an exact rational so the PPJoin prefix length can
  // be derived in integer arithmetic from the SAME constant (no silent
  // divergence if the threshold changes)
  val jaccardNum = 7
  val jaccardDen = 10
  val jaccardThreshold: Double = jaccardNum.toDouble / jaccardDen
  val hammingThreshold = 3
  val cosineThreshold = 0.45

  private val tokSql =
    graft.functions.TextFns.duckTokSql
  private val shingleSql =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
       |  FROM (SELECT doc_id, $tokSql AS tk FROM documents)""".stripMargin
  private val md5IntSql = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)"

  /** Exact dedup: group identical text, keep the smallest doc_id.
    * At scale: group by md5 (shuffle the 16-byte digest, not the text). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .select(col("keep_id"), col("copies"), col("text_md5"))
      .orderBy(col("keep_id"))

  /** (doc_id, hs: sorted array<long> of 60-bit shingle hashes, n). The
    * whole-set form used for candidate verification: one two-pointer
    * `sorted_intersect_count` per candidate pair replaces a double
    * explode-join, and long keys make every downstream join/agg
    * integer-speed. Hash collisions vs the oracle's string sets: ~N²/2⁶¹,
    * negligible. */
  private def docSets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.VectorFunctions.word_shingle_hashes(col("text"), 3).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") >= 1)

  /** Per-(session, dir) memo of the cached shingle-hash sets. The shingle
    * pass (regex split + md5 per shingle) is the dominant linear cost and
    * is shared by ngram-Jaccard, MinHash-LSH, clustering, and
    * corpus_clean — memoizing one cache here (instead of `.cache()` per
    * call) means repeated / composed invocations reuse one storage entry
    * rather than leaking a new one each time. */
  private def docSetsCached(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, s"$dir|sets")(docSets(s, dir))

  /** Above this doc-frequency for the hottest shingle, hash-order
    * prefixes risk quadratic join fan-out (a boilerplate shingle lands in
    * ~30% of prefixes regardless of frequency) and the rarity-order path
    * is taken instead. */
  val hotShingleDf = 10000L

  /** Session conf key selecting the PPJoin prefix order:
    * `auto` (default) decides at *execution* time from the measured max
    * shingle doc-frequency — the statistic is a broadcast 1-row aggregate
    * inside the plan, so constructing the query runs no Spark job;
    * `hash` / `rarity` pin one order and skip the statistic entirely
    * (set explicitly on a 100 TB run where the corpus shape is known). */
  val prefixOrderConfKey = "spark.graft.jaccardPrefixOrder"

  /** Exact pairwise n-gram Jaccard ≥ threshold, with PPJoin-style prefix
    * filtering: under ANY fixed global shingle order, a pair with
    * Jaccard ≥ t MUST share one of each doc's first n - ceil(t·n) + 1
    * shingles (pigeonhole), so joining only on those prefixes yields the
    * exact same verified pairs as the naive all-shingles join — under
    * either order below, which is why the choice can be adaptive:
    *  - hash order (default): the `hs` arrays are already sorted by it,
    *    so the prefix is a zero-cost `slice`; measured ~2× faster here.
    *  - rarest-first (classical PPJoin): taken when the corpus has a hot
    *    shingle (doc-freq > hotShingleDf) whose frequency-blind inclusion
    *    in ~30% of prefixes would blow the equi-join up quadratically —
    *    boilerplate-heavy web corpora at the 100 TB design point.
    * Prefix length is integer arithmetic from jaccardNum/jaccardDen — no
    * fp wobble, and it cannot drift from the oracle threshold. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    // computed per call: a per-session result memo on this SCAN-form
    // query would make every bench rep after the warmup measure a cache
    // read, not the declared prefix-join + verify computation. A
    // deployment that wants the pair table as a standing artifact
    // persists it through a maintenance path and reads THAT; the
    // registered scan form prices the derivation. Consumers inside ONE
    // composed plan still share the memoized shingle cache below.
    dedupNgramJaccardBuild(s, dir)

  private def dedupNgramJaccardBuild(s: SparkSession, dir: String): DataFrame = {
    // the memoized shingle-hash cache feeds prefix generation AND both
    // verify sides (and the other dedup ops against the same corpus)
    val sets = docSetsCached(s, dir)
    val prefixLenExpr = s"n - (($jaccardNum * n + ${jaccardDen - 1}) div $jaccardDen) + 1"
    // fast path: hash order — the hs arrays are already sorted by it,
    // so the prefix is a zero-cost slice (no window, no df join)
    def hashPrefix(src: DataFrame) =
      src.select(col("doc_id"),
        explode(slice(col("hs"), lit(1), expr(prefixLenExpr))).as("h"))
    // robust path: classical PPJoin rarest-first order — boilerplate
    // shingles fall outside every prefix, bounding join fan-out
    def rarityPrefix(src: DataFrame) = {
      val sh = src.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      sh.join(dfreq, "h")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= expr(prefixLenExpr))
        .select(col("doc_id"), col("h"))
    }
    val prefix = s.conf.get(prefixOrderConfKey, "auto") match {
      case "hash"   => hashPrefix(sets)
      case "rarity" => rarityPrefix(sets)
      case _ =>
        // auto: the order choice is made INSIDE the plan, AQE-style, so
        // plan construction runs no Spark job. The max shingle
        // doc-frequency is a broadcast 1-row aggregate joined under a
        // guard; the dead branch's guard is false, so zero rows flow
        // through its (expensive) subtree. The guard predicate is an OR
        // referencing BOTH join sides (`n < 0` is never true: sets keeps
        // n >= 1) — a deliberately non-splittable conjunct, so the
        // optimizer cannot push a one-sided filter into the broadcast
        // subtree, which keeps the two subtrees identical and lets
        // ReuseExchange compute the statistic once, not per branch.
        // The 1-row statistic is itself memo-cached: the first executed
        // query pays one pass over the cached sets, every later
        // query/execution against the corpus reads the cached row.
        val stat = Artifacts.frame(s, s"$dir|maxdf")(
          sets.select(explode(col("hs")).as("h"))
            .groupBy(col("h")).agg(count(lit(1)).as("df"))
            .agg(coalesce(max(col("df")), lit(0L)).as("max_df")))
        def guarded(cond: Column) =
          sets.join(broadcast(stat), cond || col("n") < 0, "inner").drop("max_df")
        hashPrefix(guarded(col("max_df") <= hotShingleDf))
          .unionByName(rarityPrefix(guarded(col("max_df") > hotShingleDf)))
    }
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    jaccardVerify(sets, cand)
  }

  /** Exact Jaccard for candidate (id_a, id_b) pairs via whole-set
    * intersection, filtered to ≥ jaccardThreshold. */
  private def jaccardVerify(sets: DataFrame, cand: DataFrame): DataFrame = {
    val a = sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("n").as("n_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("n").as("n_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("inter",
        graft.plans.VectorFunctions.sorted_intersect_count(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** CTE chain producing the verified pair table `jpairs(id_a, id_b,
    * inter, jaccard)` — shared by the ngram/cluster/corpus oracles (needs
    * `sh` and `cand` CTEs in scope). */
  private def jpairsCte: String =
    s"""card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT id_a, id_b, count(*) AS inter
       |  FROM cand JOIN sh sa ON id_a = sa.doc_id
       |            JOIN sh sb ON id_b = sb.doc_id AND sa.shingle = sb.shingle
       |  GROUP BY id_a, id_b),
       |jpairs AS (
       |  SELECT id_a, id_b, inter,
       |    CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
       |  FROM inter JOIN card ca ON id_a = ca.doc_id JOIN card cb ON id_b = cb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= $jaccardThreshold)""".stripMargin

  private def jaccardVerifySql(candCte: String): String =
    s"""$jpairsCte
       |SELECT id_a, id_b, inter, jaccard FROM jpairs ORDER BY id_a, id_b""".stripMargin

  /** All-pairs candidate CTE (`cand`) for the oracles — the SQL side
    * needs no prefix filter for correctness, only the Spark side does for
    * speed; both produce identical verified pairs. */
  private[ops] def allPairsSql: String =
    s"""WITH sh AS ($shingleSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |$jpairsCte""".stripMargin

  /** Near-dup clustering: connected components over the verified Jaccard
    * pair graph, labels = min doc_id per component (the canonical doc).
    *
    * Hybrid execution, decided by the measured pair count — the same
    * shape as Spark's own broadcast-threshold decisions: verified
    * near-dup pairs are a vanishing fraction of the corpus, so on all but
    * pathological corpora the graph fits on the driver and a union-find
    * resolves it in milliseconds with zero extra Spark jobs. Above the
    * bound, distributed large-star/small-star takes over (O(log n)
    * rounds, checkpointed). All paths are exact and deterministic ⇒
    * oracle-checkable against a recursive CTE. */
  val unionFindMaxPairs = 2000000L

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // computed per call, like dedupNgramJaccard (the label frame is THE query result; a
    // bench rep serving it from a session map measures nothing)
    dedupClustersBuild(s, dir)

  private def dedupClustersBuild(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgramJaccard(s, dir).select(col("id_a"), col("id_b")).cache()
    try {
      if (pairs.count() <= unionFindMaxPairs) driverUnionFind(s, pairs)
      else largeStarSmallStar(s, pairs)
    } finally pairs.unpersist()
  }

  /** Driver-side union-find over a collected pair list (≤ unionFindMaxPairs
    * edges ⇒ tens of MB). Union by min root keeps every component labeled
    * by its smallest doc_id. */
  private[graft] def driverUnionFind(s: SparkSession, pairs: DataFrame): DataFrame = {
    val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val keys = parent.keySet().toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
    keys.foreach(d => rows.add(org.apache.spark.sql.Row(d, find(d))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.LongType, nullable = false)))
    // explicit ORDER BY for guaranteed-ordering parity with the
    // distributed path (insertion order alone is not a contract)
    s.createDataFrame(rows, schema).orderBy(col("doc_id"))
  }

  /** Connected components via alternating large-star / small-star rounds
    * (the standard MapReduce-CC construction from the public
    * literature): O(log n) rounds vs min-label propagation's
    * O(diameter) — on a chain-shaped component of a million near-dups
    * that is ~20 shuffles instead of ~10⁶, which is the difference
    * between viable and not at 100 TB. This is the scale path
    * `dedupClusters` takes above `unionFindMaxPairs`; the propagation
    * loop below is kept as the simpler reference implementation.
    *
    * Each round over the edge set (kept oriented larger→smaller):
    *  - large-star: every node links its LARGER neighbors to its current
    *    minimum over the symmetrized adjacency (strictly shrinks long
    *    chains toward the minimum);
    *  - small-star: every node links its smaller-or-self neighbors to
    *    the minimum among them (flattens local stars).
    * Both preserve connectivity; the fixpoint is the star graph rooted
    * at each component's minimum, detected by a (count, hash-sum)
    * checksum of consecutive round outputs. `localCheckpoint` per round
    * bounds lineage at two shuffles. */
  private[graft] def largeStarSmallStar(s: SparkSession, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("u"))
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v"), col("u")).toDF("u", "v"))
      sym.withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val withM = dir.withColumn("m", min(col("v")).over(wU))
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }
    def checksum(e: DataFrame): (Long, Long) = {
      // hashes reduced mod 1e9+7 before summing: ANSI mode would throw
      // on long overflow, and count×1e9 stays in range to ~9e9 edges
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // orient larger→smaller so a star-shaped input is already a fixpoint
    var edges = pairs.select(col("id_b").as("u"), col("id_a").as("v")).localCheckpoint()
    var prev = (-1L, -1L)
    var cur = checksum(edges)
    var converged = false
    while (!converged) {
      prev = cur
      val next = smallStar(largeStar(edges)).localCheckpoint()
      cur = checksum(next)
      // the checksum is the cheap per-round signal; on a hit, CONFIRM
      // with an exact set-difference so a (count, hash-sum) collision
      // between different edge sets (~2⁻³⁰/round) can never end the
      // loop early — the "exact and deterministic" claim stays exact.
      // Both frames are checkpointed, so the exceptAll is one cheap job.
      converged = cur == prev && next.exceptAll(edges).isEmpty
      edges = next
    }
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v"), col("v")).toDF("doc_id", "cluster_id"))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Every this-many label-propagation iterations, the label table is
    * localCheckpoint'ed: each iteration otherwise stacks one more
    * union+join+agg on the lineage, and a component of diameter d would
    * accumulate a d-deep plan (stack-overflow / re-planning blowup on
    * long-path graphs). Checkpointing truncates lineage to the
    * materialized partitions. (On a multi-executor cluster with possible
    * executor loss, swap for reliable `checkpoint()` + a checkpoint dir.) */
  val labelCheckpointEvery = 5

  /** Distributed min-label propagation — the scale path. */
  private[graft] def distributedLabelPropagation(s: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").cache()
    try {
      var labels = edges.select(col("src").as("doc")).distinct()
        .withColumn("lab", col("doc")).cache()
      // coalesce: sum over an empty label set is NULL (duplicate-free
      // corpus) — treat as 0 and fall straight through to the empty result
      def sumLabels(df: DataFrame): Long =
        df.agg(coalesce(sum(col("lab")), lit(0L))).head().getLong(0)
      var prev = -1L
      var checksum = sumLabels(labels)
      var iter = 0
      // labels are monotonically non-increasing per node, so the checksum
      // strictly decreases until the exact fixpoint — no iteration cap
      // needed (terminates within the largest component's diameter)
      while (checksum != prev) {
        prev = checksum
        iter += 1
        var next = labels
          .union(labels.join(edges, col("doc") === col("src"))
            .select(col("dst").as("doc"), col("lab")))
          .groupBy(col("doc")).agg(min(col("lab")).as("lab"))
        next = if (iter % labelCheckpointEvery == 0) next.localCheckpoint() else next.cache()
        checksum = sumLabels(next)
        labels.unpersist()
        labels = next
      }
      // hand back the cached plan — on this path the label table is too
      // large to snapshot driver-side; callers unpersist when done
      labels.select(col("doc").as("doc_id"), col("lab").as("cluster_id"))
        .orderBy(col("doc_id"))
    } finally edges.unpersist()
  }

  /** Expand a sorted bucket array into its i<j element pairs, bucket-
    * locally — `mk(x, y)` builds the output struct. Used instead of a
    * bucket self-join: a self-join would place TWO copies of the
    * (expensive) signature-aggregation subtree in the plan, which the
    * plan audit measured as the dominant cost of the LSH queries;
    * grouping once and expanding pairs keeps exactly ONE aggregation
    * subtree and the same bucket-local O(m²) output. The per-bucket array
    * is bounded by bucket size m — LSH band signatures keep m small, and
    * exact duplicates (the one unbounded source of mega-buckets) are
    * removed by dedup_exact upstream in any sane pipeline. */
  private[graft] def bucketPairs(sorted: Column)(mk: (Column, Column) => Column): Column =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), y => mk(x, y))))

  /** MinHash + LSH near-dup: 16 exact integer minhashes per doc, banded
    * 4×4; docs sharing any band signature become candidates; candidates
    * are verified with exact Jaccard. The scalable path: signatures are
    * one narrow shuffle, buckets are tiny, and the quadratic verify only
    * ever sees same-bucket pairs. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sets = docSetsCached(s, dir)
    val sh = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.plans.VectorFunctions.word_shingles(col("text"), 3)).as("shingle"))
    // all 16 minhashes in ONE aggregation pass over the shingle rows —
    // 16 min() columns instead of a 16× row blowup + re-shuffle
    val withH = sh.withColumn("h", TextFns.md5Int(col("shingle")))
    val mhCols = mhParams.map { case (j, a, b) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(P))).as(s"mh$j")
    }
    val sig = withH.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
    val bandStructs = (0 until mhBands).map { band =>
      struct(lit(band).as("band"),
        concat_ws(",", (0 until 4).map(r => col(s"mh${band * 4 + r}").cast("string")): _*).as("sig"))
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // one (band, sig) shuffle groups each LSH bucket; pairs expand
    // bucket-locally from the sorted id array (ascending ⇒ id_a < id_b)
    val cand = bands
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(bucketPairs(col("ids"))((x, y) =>
        struct(x.as("id_a"), y.as("id_b")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    jaccardVerify(sets, cand)
  }

  /** SimHash signatures, banded into 4 byte-bands — the blocked signature
    * table shared by the self-join dedup and the incremental batch dedup.
    *
    * The fused SimHash60 expression does tokenize + md5 + bit-majority in
    * one linear pass per row — signatures need no shuffle at all.
    * Token-less docs have no signature (all-zero would spuriously pair
    * them all): excluded here exactly as the oracle's token explode drops
    * them. The signature table is memo-cached so joins read ONE computed
    * copy from storage instead of recomputing the tokenize+md5 pass per
    * side. Banding stays a JOIN input, not a
    * bucket-array expansion: byte-band buckets are only 256 values per
    * band, so natural-language bit skew produces hot buckets whose
    * collected pair arrays serialize on one task (measured 2.4× slower) —
    * the join form shuffles narrow rows and streams the quadratic bucket
    * output instead of materializing it per-row. */
  /** (doc_id, simhash) for any documents frame — token-less docs excluded
    * (see [[simBandedCached]]). */
  private def simSigOf(docs: DataFrame): DataFrame =
    docs.filter(size(TextFns.tokens(col("text"))) >= 1)
      .select(col("doc_id"), graft.plans.VectorFunctions.simhash60(col("text")).as("simhash"))

  /** Explode a signature frame into its 4 byte-bands. */
  private def simBandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map { k =>
      struct(lit(k).as("band"), expr(s"(simhash div ${1L << (15 * k)}) % 32768").as("bval"))
    }
    sig
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"), col("bs.band").as("band"), col("bs.bval").as("bval"))
  }

  private def simBandedCached(s: SparkSession, dir: String): DataFrame =
    simBandsOf(Artifacts.frame(s, s"$dir|simsig")(simSigOf(Tables(s, dir, "documents"))))

  /** SimHash near-dup: 32-bit signature = sign of per-bit weight sums over
    * token hashes (with multiplicity); byte-band blocking; Hamming ≤ hammingThreshold on
    * candidates. One signature per doc — the cheapest near-dup sketch. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val banded = simBandedCached(s, dir)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= hammingThreshold)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Which docs play the incoming batch in the incremental dedup:
    * doc_id % batchMod == 0 (a deterministic ~10% slice, so the oracle
    * reproduces the split). */
  val batchMod = 10L

  /** Batches the streaming ingest replay splits the corpus into
    * (doc_id % ingestBatches, processed in order). Lives here so the
    * oracle generator and [[graft.streaming.IngestDedup]] share it. */
  val ingestBatches = 3

  /** Persist the corpus's simhash signature table (doc_id, simhash) —
    * the standing dedup artifact of a 100 TB deployment: ~14 bytes/doc
    * instead of the documents themselves, so the nightly incremental
    * check never re-reads (or re-hashes) corpus TEXT at all. SimHash has
    * no corpus-dependent parameters (unlike the LSH index's mean
    * thresholds), so append is exact by construction and the index never
    * drifts from a rebuild. */
  def dedupIndexWrite(s: SparkSession, corpusDir: String, indexDir: String): Unit =
    IndexMaintenance.replace(s, indexDir,
      Seq("simhash" -> simSigOf(Tables(s, corpusDir, "documents"))))

  /** Fold a newly-ingested batch's signatures into the standing index
    * (call AFTER the batch passed [[dedupIncrementalIndexed]] and was
    * admitted to the corpus). */
  def dedupIndexAppend(s: SparkSession, batchDir: String, indexDir: String): Unit =
    IndexMaintenance.append(s, indexDir,
      Seq("simhash" -> simSigOf(Tables(s, batchDir, "documents"))))

  /** Compact the signature table after a run of landing appends: few
    * files, doc_id-sorted, tombstoned docs physically dropped.
    * Signatures are content, not layout — the indexed check is
    * identical before/after. See [[IndexMaintenance]]. */
  def dedupIndexCompact(s: SparkSession, indexDir: String): (Int, Int) =
    IndexMaintenance.compact(s, indexDir, "simhash", Seq("doc_id"), Some("doc_id"))

  /** Retract documents from the signature index (takedown/opt-out):
    * tombstone now, serve-filtered immediately — a deleted doc stops
    * masking later near-dups at the NEXT micro-batch — physically
    * dropped at the next [[dedupIndexCompact]]. Idempotent. */
  def dedupIndexDelete(s: SparkSession, indexDir: String, docIds: Seq[Long]): Unit =
    IndexMaintenance.delete(s, indexDir, Seq("simhash"), docIds)

  /** Retract documents from an INGEST index dir — the full takedown:
    * the signature row stops guarding dedup and the clean-store text
    * row (the corpus artifact itself) is tombstoned out of every read
    * through [[cleanStore]], both physically dropped by
    * [[ingestIndexCompact]]. One commit covers both tables. */
  def ingestIndexDelete(s: SparkSession, indexDir: String, docIds: Seq[Long]): Unit =
    IndexMaintenance.delete(s, indexDir,
      "simhash" +: Seq("clean").filter(IndexMaintenance.hasTable(s, indexDir, _)), docIds)

  /** The admitted clean-text corpus with pending deletes filtered out —
    * the read every training consumer should use instead of a raw
    * parquet read of `clean/`. */
  def cleanStore(s: SparkSession, indexDir: String): DataFrame =
    IndexMaintenance.scan(s, indexDir, "clean", "doc_id")

  /** Compact an ingest VERDICT sink (the single table `""` of its own
    * log): few files, (batch, doc_id)-sorted — the same small-file
    * argument as the index stores. Wired into the same ingest cadence. */
  def ingestSinkCompact(s: SparkSession, outDir: String): (Int, Int) =
    if (IndexMaintenance.hasTable(s, outDir, ""))
      IndexMaintenance.compact(s, outDir, "", Seq("batch", "doc_id"))
    else (0, 0)

  /** Compact signature index AND clean store in one commit, dropping
    * tombstones. Stores without data are skipped (a young stream may
    * not have admitted anything yet when the cadence first fires).
    * Returns the SUMMED (files before, files after) across both. */
  def ingestIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    val stores = Seq("clean", "simhash")
    var before = 0
    val after = IndexMaintenance.transact(s, indexDir) { snap =>
      val live = stores.filter(snap.filesOf(_).nonEmpty)
      before = live.map(snap.filesOf(_).size).sum
      IndexMaintenance.Change(replace = live.map(t =>
        t -> IndexMaintenance.rewrite(s, snap, t, Seq("doc_id"), Some("doc_id"))))
    }
    (before, after.map(a => stores.map(a.filesOf(_).size).sum).getOrElse(0))
  }

  /** Incremental (landing-zone) dedup against a PERSISTED signature
    * index: flag each doc of `batchDir` that near-duplicates any doc
    * already in the corpus — the nightly-crawl shape, asymmetric where
    * `dedupSimhash` is a self-join. Exact dups are subsumed (identical
    * text ⇒ identical signature ⇒ hamming 0). The batch is hashed
    * fresh; the corpus side is the signature parquet only, never corpus
    * text, so each batch pays its own hashing plus ONE (band, byte)
    * equi-join with the batch side small enough that AQE broadcasts
    * it. Signatures are deterministic, so the result equals a recompute
    * from corpus text (pinned in `DedupSimilaritySpec`). Every batch
    * doc is returned (is_dup=false for clean ones), so the result
    * composes with an append sink. */
  def dedupIncrementalIndexed(s: SparkSession, batchDir: String, indexDir: String): DataFrame = {
    val batchDocs = Tables(s, batchDir, "documents")
    val near = simBandsOf(simSigOf(batchDocs)).as("x")
      .join(simBandsOf(readSigIndex(s, indexDir)).as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval"))
      .withColumn("hamming",
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long"))
      .filter(col("hamming") <= hammingThreshold)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(min(col("y.doc_id")).as("dup_of"), min(col("hamming")).as("min_hamming"))
    batchDocs
      .select(col("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("min_hamming"))
      .orderBy(col("doc_id"))
  }

  /** The signature index with pending tombstones filtered — every
    * index-side read goes through here so a retracted doc stops
    * matching immediately, before any compaction. */
  private def readSigIndex(s: SparkSession, indexDir: String): DataFrame =
    IndexMaintenance.scan(s, indexDir, "simhash", "doc_id")

  /** (doc_id, dup_of, min_hamming) for every batch signature within
    * [[hammingThreshold]] of the standing index OR a lower-id batch
    * member — the hit set both ingest forms share. */
  private def ingestHits(s: SparkSession, sig: DataFrame, indexDir: String): DataFrame = {
    // the BATCH side is one landed file — bounded per trigger by the
    // landing contract, so hint it (gated) and the index side streams
    // through a static BroadcastHashJoin: no exchange is ever planned,
    // where the unhinted plan paid a full shuffle pair (plus its AQE
    // stage-materialization jobs per micro-batch) before the runtime
    // rewrite
    val batchBands = JoinHints.broadcastIfSmall(simBandsOf(sig))
    val idxBands = simBandsOf(readSigIndex(s, indexDir))
    def near(y: DataFrame, cond: Column) =
      batchBands.as("x").join(y.as("y"),
          col("x.band") === col("y.band") && col("x.bval") === col("y.bval") && cond)
        .withColumn("hamming",
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long"))
        .filter(col("hamming") <= hammingThreshold)
        .select(col("x.doc_id").as("doc_id"),
          col("y.doc_id").as("cand"), col("hamming"))
    // the index join EXCLUDES self-matches: semantically a doc is never
    // its own duplicate, and operationally this is what makes an
    // at-least-once RETRY value-idempotent — a retried batch sees its
    // own first-attempt signatures in the index and would otherwise
    // flag every admitted doc as a dup of itself (caught by the retry
    // spec). For clean runs the predicate is vacuous (batch doc_ids
    // are disjoint from the standing corpus), so the oracle — whose
    // round structure makes self-matches impossible — is unaffected.
    near(idxBands, col("y.doc_id") =!= col("x.doc_id"))
      .unionByName(near(batchBands, col("y.doc_id") < col("x.doc_id")))
      .groupBy(col("doc_id"))
      .agg(min(col("cand")).as("dup_of"), min(col("hamming")).as("min_hamming"))
  }

  /** Per-micro-batch verdict + admission for the STREAMING ingest path
    * ([[graft.streaming.IngestDedup]]): flag each batch doc whose
    * signature lands within [[hammingThreshold]] of any ALREADY-ADMITTED
    * corpus signature (the persisted index) OR of any LOWER-ID member of
    * the same batch — C4-style keep-first masking. A doc is flagged even
    * when its lower-id match was itself flagged; that convention (drop
    * all-but-first of a dup group) is what makes the rule DISTRIBUTIVE
    * inside a batch: verdicts are one banded self-join plus one banded
    * index join, no sequential fold over the batch. Appends the verdicts
    * to `outDir` and the ADMITTED (is_dup = false) signatures to the
    * index, so the next micro-batch dedupes against everything admitted
    * so far. Deliberately returns nothing: a verdict/admission count
    * would cost two extra Spark jobs per micro-batch (the sink parquet
    * is the record), and micro-batch fixed overhead is exactly what an
    * ingest path must keep low.
    *
    * Scale shape: the batch side is one landing file (small by
    * construction — AQE broadcasts it); the index side reads the
    * ~14 B/doc signature parquet, never corpus text. Index growth is
    * append-only; [[dedupIndexCompact]] is the maintenance op. */
  private[graft] def ingestBatch(s: SparkSession, batchDocs: DataFrame,
      indexDir: String, outDir: String, batchId: Long, lineage: String = ""): Unit = {
    val docs = batchDocs.persist()
    try {
      val sig = simSigOf(docs).persist()
      try {
        val verdicts = docs.select(col("doc_id"))
          .join(JoinHints.broadcastIfSmall(ingestHits(s, sig, indexDir)),
            Seq("doc_id"), "left")
          .select(col("doc_id"), lit(batchId).as("batch"),
            col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("min_hamming"))
          .persist()
        try {
          sinkVerdicts(s, outDir, verdicts, lineage, batchId, "ingest-dedup")
          IndexMaintenance.labeledJob(s, s"ingest-dedup b$batchId: sig append") {
            IndexMaintenance.append(s, indexDir, Seq("simhash" ->
              sig.join(JoinHints.broadcastIfSmall(
                verdicts.filter(!col("is_dup")).select(col("doc_id"))), "doc_id")),
              Some(lineage -> batchId))
          }
        } finally verdicts.unpersist()
      } finally sig.unpersist()
    } finally docs.unpersist()
  }

  /** Quality floor for the curation-at-ingest pipeline — the
    * [[TextAnalysis.qualityScore]] threshold `is_quality` uses. */
  val ingestQualityMin = 0.5

  /** Land one trigger's verdicts in the sink's own log, marked with the
    * batch: a retry finds the mark and lands nothing. One file per
    * trigger — the verdict batch is landing-file bounded, and every
    * later read of the sink pays a task per file (32-partition appends
    * made a 3-batch replay's sink 96 files for <1 MB); compaction
    * bounds long-stream layout. */
  private def sinkVerdicts(s: SparkSession, outDir: String, verdicts: DataFrame,
      lineage: String, batchId: Long, loop: String): Unit =
    IndexMaintenance.labeledJob(s, s"$loop b$batchId: verdicts") {
      IndexMaintenance.append(s, outDir, Seq("" -> verdicts.coalesce(1)),
        Some(lineage -> batchId))
    }

  /** Full curation-at-ingest: PII-scrub the batch, reject docs below
    * the quality floor (or with no tokens after scrubbing), near-dup
    * check the SURVIVORS against the admitted index plus lower-id
    * qualifying batch members (signatures over CLEAN text — the corpus
    * being built is the scrubbed one), then append admitted signatures
    * AND admitted clean text. Verdict per doc: 'rejected' (score
    * carried, dup_of null) / 'dup' (dup_of carried) / 'admitted'. One
    * foreachBatch body = the whole crawl-to-corpus hop; every stage is
    * a deterministic per-doc function or the distributive masking rule,
    * so the replay remains DuckDB-oracle-able end to end. */
  private[graft] def ingestCurateBatch(s: SparkSession, batchDocs: DataFrame,
      indexDir: String, outDir: String, batchId: Long, lineage: String = ""): Unit = {
    val toks = TextFns.tokens(col("text"))
    val scored = batchDocs
      .select(col("doc_id"), TextAnalysis.scrubCol(col("text")).as("text"))
      .withColumn("score",
        when(size(toks) >= 1, TextAnalysis.qualityScore(toks)))
      .withColumn("ok", coalesce(col("score") >= ingestQualityMin, lit(false)))
      .persist()
    try {
      val qualified = scored.filter(col("ok"))
      val sig = simSigOf(qualified).persist()
      try {
        val verdicts = scored.select(col("doc_id"), col("score"), col("ok"))
          .join(JoinHints.broadcastIfSmall(ingestHits(s, sig, indexDir)),
            Seq("doc_id"), "left")
          .select(col("doc_id"), lit(batchId).as("batch"),
            when(!col("ok"), lit("rejected"))
              .when(col("dup_of").isNotNull, lit("dup"))
              .otherwise(lit("admitted")).as("verdict"),
            col("dup_of"), col("score"))
          .persist()
        try {
          sinkVerdicts(s, outDir, verdicts, lineage, batchId, "ingest-curate")
          // the verdicts read a pinned index snapshot, so re-evaluating
          // them after the append below still sees the index without
          // this batch; signatures and clean text commit with the mark
          val admitted = JoinHints.broadcastIfSmall(
            verdicts.filter(col("verdict") === "admitted").select(col("doc_id")))
          IndexMaintenance.labeledJob(s, s"ingest-curate b$batchId: appends") {
            IndexMaintenance.append(s, indexDir, Seq(
              "simhash" -> sig.join(admitted, "doc_id"),
              "clean" -> qualified.select(col("doc_id"), col("text")).join(admitted, "doc_id")),
              Some(lineage -> batchId))
          }
        } finally verdicts.unpersist()
      } finally sig.unpersist()
    } finally scored.unpersist()
  }

  /** INGEST-TIME MANIFEST — the streaming form of the batch capstone
    * [[Curation.curateManifest]]: every curation signal resolved into
    * ONE attributable decision per landed doc, at admission time, so a
    * continuously-ingesting pipeline never has to re-run the batch
    * manifest over the whole corpus to learn why a new doc was kept or
    * dropped. Per landed file: scrub → quality score → exact-dup check
    * (md5 of clean text vs the admitted index + lower-id batch members)
    * → near-dup check (simhash bands, same masking rule) → eval-set
    * contamination (bloom screen map-only, exact confirm on the flagged
    * slice — no false negatives, so the streamed n_shared equals the
    * exact shingle join's) → leakage-safe split (md5 bucket of the
    * near-dup representative) — resolved in the SAME fixed precedence
    * as the batch capstone: dup_exact → near_dup → contaminated →
    * low_quality → heldout → train.
    *
    * Unlike [[ingestCurateBatch]] (quality gate FIRST — the operational
    * corpus builder never hashes rejected docs), the manifest hashes
    * every doc so dup status outranks quality exactly as the capstone's
    * CASE does; the index therefore admits every NON-DUP doc (any
    * quality/split), mirroring the capstone's cluster structure over
    * the full corpus. The clean store admits only reason='train' docs —
    * the training set itself.
    *
    * Scale shape per micro-batch: batch-side hashing + two equi-joins
    * against the ~30 B/doc signature index (batch side broadcast), one
    * map-only bloom scan, one flagged-slice join against the eval-sized
    * shingle table, zero corpus-text re-reads. */
  private[graft] def ingestManifestBatch(s: SparkSession, batchDocs: DataFrame,
      indexDir: String, outDir: String, batchId: Long, lineage: String = ""): Unit = {
    val toks = TextFns.tokens(col("text"))
    val scrubbed = batchDocs
      .select(col("doc_id"), TextAnalysis.scrubCol(col("text")).as("text"))
      .withColumn("score", when(size(toks) >= 1, TextAnalysis.qualityScore(toks)))
      .withColumn("tmd5", md5(col("text")))
      .persist()
    try {
      val sig = simSigOf(scrubbed).persist()
      try {
        // exact dups: same clean-text md5 as an admitted index doc or a
        // lower-id batch member (self excluded for retry idempotence,
        // like ingestHits)
        val idxMd = readSigIndex(s, indexDir)
          .select(col("doc_id"), col("tmd5"))
        // batch side bounded per trigger — gated hint, as in ingestHits
        val batchMd = JoinHints.broadcastIfSmall(
          scrubbed.select(col("doc_id"), col("tmd5")))
        def exact(y: DataFrame, cond: Column) =
          batchMd.as("x").join(y.as("y"),
              col("x.tmd5") === col("y.tmd5") && cond)
            .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("cand"))
        val exHits = exact(idxMd, col("y.doc_id") =!= col("x.doc_id"))
          .unionByName(exact(batchMd, col("y.doc_id") < col("x.doc_id")))
          .groupBy(col("doc_id")).agg(min(col("cand")).as("exact_of"))
        val neHits = ingestHits(s, sig, indexDir)
          .select(col("doc_id"), col("dup_of").as("near_of"))
        // contamination: bloom screen (map-only, no false negatives),
        // exact confirm + count on the flagged slice only
        val bloom = Curation.loadBloom(s, indexDir)
        val flagged = scrubbed.select(col("doc_id"),
            filter(graft.plans.VectorFunctions.word_shingle_hashes(
                col("text"), Curation.contamShingleN),
              h => graft.plans.VectorFunctions.bloom_might_contain(h, bloom)).as("maybe"))
          .filter(size(col("maybe")) > 0)
          .select(col("doc_id"), explode(col("maybe")).as("h"))
          // persisted eval-sized table, real file-size stats — gate decides
          .join(JoinHints.broadcastIfSmall(
            Curation.evalShingleIndex(s, indexDir).select(col("h"))), "h")
          .groupBy(col("doc_id")).agg(countDistinct(col("h")).as("n_shared"))
        val verdicts = scrubbed.select(col("doc_id"), col("score"))
          .join(JoinHints.broadcastIfSmall(exHits), Seq("doc_id"), "left")
          .join(JoinHints.broadcastIfSmall(neHits), Seq("doc_id"), "left")
          .join(JoinHints.broadcastIfSmall(flagged), Seq("doc_id"), "left")
          .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
          .withColumn("canon_id", coalesce(col("exact_of"), col("doc_id")))
          .withColumn("rep_id",
            coalesce(least(col("exact_of"), col("near_of")), col("doc_id")))
          .withColumn("split",
            when(pmod(TextFns.md5Int(col("rep_id").cast("string")), lit(100L)) <
              lit(100L - Curation.heldoutPct), lit("train")).otherwise(lit("heldout")))
          .withColumn("reason",
            when(col("doc_id") =!= col("canon_id"), lit("dup_exact"))
              .when(col("doc_id") =!= col("rep_id"), lit("near_dup"))
              .when(col("n_shared") > 0, lit("contaminated"))
              .when(!coalesce(col("score") >= ingestQualityMin, lit(false)),
                lit("low_quality"))
              .when(col("split") === "heldout", lit("heldout"))
              .otherwise(lit("train")))
          .select(col("doc_id"), lit(batchId).as("batch"), col("canon_id"),
            col("rep_id"), col("n_shared"), col("score"), col("split"),
            col("reason"),
            (col("reason") === "train").cast("long").as("include"))
          .persist()
        try {
          sinkVerdicts(s, outDir, verdicts, lineage, batchId, "ingest-manifest")
          // the index admits every NON-DUP doc (signature null for
          // token-less ones — their banded rows never match, but the
          // md5 side still guards their exact twins); admission reads
          // the persisted verdicts, as in ingestCurateBatch
          val nonDup = JoinHints.broadcastIfSmall(verdicts
            .filter(!col("reason").isin("dup_exact", "near_dup")).select(col("doc_id")))
          val train = JoinHints.broadcastIfSmall(verdicts
            .filter(col("reason") === "train").select(col("doc_id")))
          IndexMaintenance.labeledJob(s, s"ingest-manifest b$batchId: appends") {
            IndexMaintenance.append(s, indexDir, Seq(
              "simhash" -> scrubbed.select(col("doc_id"), col("tmd5"))
                .join(nonDup, "doc_id")
                .join(sig, Seq("doc_id"), "left")
                .select(col("doc_id"), col("simhash"), col("tmd5")),
              "clean" -> scrubbed.select(col("doc_id"), col("text")).join(train, "doc_id")),
              Some(lineage -> batchId))
          }
        } finally verdicts.unpersist()
      } finally sig.unpersist()
    } finally scrubbed.unpersist()
  }

  /** Seed the manifest ingest index: an empty 3-column signature table
    * (doc_id, simhash, tmd5 — the md5 column is what the exact-dup tier
    * joins on) plus the eval-set contamination artifacts: the bloom
    * screen and the exact shingle table it confirms against. */
  private[graft] def ingestManifestIndexInit(s: SparkSession, indexDir: String,
      evalDir: String): Unit = {
    IndexMaintenance.replace(s, indexDir, Seq("simhash" ->
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("simhash", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("tmd5", org.apache.spark.sql.types.StringType))))))
    Curation.decontamIndexWrite(s, evalDir, indexDir)
  }

  /** Seed an EMPTY signature index (stream-from-scratch ingest; the
    * batch form seeds from a standing corpus via [[dedupIndexWrite]]). */
  private[graft] def ingestIndexInit(s: SparkSession, indexDir: String): Unit =
    IndexMaintenance.replace(s, indexDir, Seq("simhash" ->
      simSigOf(s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))))))

  /** Registered-query form of [[dedupIncrementalIndexed]]: split the
    * corpus into the modulo landing batch ([[batchMod]]) and standing
    * corpus ONCE per (JVM, corpus) (a standing temp dir), persist the
    * standing side's signature index, and run the indexed check. Bench
    * reps measure the true incremental cost: batch hashing + one
    * equi-join against the signature parquet. */
  def dedupIncrementalIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.tempDir(s"dedup-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-dedup-index").toString
      val docs = Tables(s, dir, "documents")
      docs.filter(col("doc_id") % batchMod === 0)
        .write.mode("overwrite").parquet(s"$d/batch/documents.parquet")
      docs.filter(col("doc_id") % batchMod =!= 0)
        .write.mode("overwrite").parquet(s"$d/corpus/documents.parquet")
      dedupIndexWrite(s, s"$d/corpus", s"$d/index")
      d
    }
    dedupIncrementalIndexed(s, s"$root/batch", s"$root/index")
  }

  /** The exact all-pairs cosine variant refuses corpora above this row
    * count — O(N²) comparisons is the deliberate ground-truth shape for
    * test-scale oracles, not a production path. Above the bound, use
    * `dedupEmbeddingBlocked` (same threshold, IVF-blocked candidates) or
    * the ANN routes in Similarity. Mirrors `unionFindMaxPairs`. */
  val exactCosineMaxRows = 200000L

  /** Exact embedding near-dup: all pairs with cosine ≥ threshold. Kept
    * exact as the ground truth; the scale path is `dedupEmbeddingBlocked`
    * below / `sim_lsh_ann` in Similarity. Double-precision left-fold dot
    * products are bit-identical across engines. */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingCosineBounded(s, dir, exactCosineMaxRows)

  /** Bound-injectable variant so the over-limit refusal is testable
    * without a 200k-row corpus. */
  private[graft] def dedupEmbeddingCosineBounded(
      s: SparkSession, dir: String, maxRows: Long): DataFrame = {
    val dot = (a: Column, b: Column) => graft.plans.VectorFunctions.vec_dot(a, b)
    val n = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0) // zero vectors: see Similarity.normed
    // guard the cartesian product IN the plan (a broadcast 1-row count +
    // raise_error): an unguarded all-pairs run on a full corpus would be
    // a silent O(N²), and an eager driver-side count() here would break
    // the job-free-construction invariant the other dedup ops keep.
    // The guard column must be CONSUMED (the filter below) — a bare
    // drop() lets column pruning + CollapseProject eliminate the
    // raise_error expression entirely (PlanGuardSpec pins raise_error
    // surviving into the optimized plan).
    val guard = Tables(s, dir, "embeddings")
      .agg(count(lit(1)).as("n_emb"))
      .select(when(col("n_emb") <= maxRows, lit(1L))
        .otherwise(raise_error(concat(
          lit("dedupEmbeddingCosine is the exact all-pairs ground truth and refuses "),
          col("n_emb").cast("string"),
          lit(s" > $maxRows rows; use dedupEmbeddingBlocked or the ANN paths at scale"))))
        .as("guard_ok"))
    val a = n.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      .crossJoin(broadcast(guard))
      .filter(col("guard_ok") === 1L).drop("guard_ok")
    val b = n.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** How many nearest centroids each vector is blocked into. 2 probes
    * recovers most near-boundary pairs a 1-probe blocking would cut. */
  val blockProbes = 2

  /** Blocked embedding near-dup — the 100 TB path: vectors are assigned
    * to their `blockProbes` nearest coarse-quantizer centroids (the SAME
    * deterministic IVF assignment as `sim_ivf_topk`), candidate pairs
    * co-occur in a centroid block, and the exact cosine verify runs on
    * candidates only. Cost ≈ sum of block sizes squared instead of N²;
    * with k centroids ∝ √N the expected block is O(√N). Approximate
    * (pairs split across all probed blocks are missed) but fully
    * deterministic — unlike most ANN dedup it is oracle-checkable, and
    * its recall vs the exact variant is asserted in DedupSimilaritySpec.
    * Candidates expand bucket-locally (one assignment subtree, same
    * single-subtree shape as the LSH dedups). */
  def dedupEmbeddingBlocked(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingBlockedWith(s, dir, Similarity.centroidsOf)

  /** Blocked dedup with the TRAINED (k-means) quantizer — same shape,
    * better-balanced blocks (Σ block² drops when no stride-sampled
    * centroid hoards a hot region); shares ONE trained centroid table
    * with `sim_ivf_topk_trained` via the [[Artifacts]] memo. Rows-only for
    * the same float-summation-order reason as the search variant. */
  def dedupEmbeddingBlockedTrained(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingBlockedWith(s, dir, _ => Similarity.trainedCentroidsOf(s, dir))

  /** Tile edge for the blocked-dedup pair enumeration: each (tileA,
    * tileB) cell verifies at most blockTile² candidate cosines. */
  val blockTile = 1024

  private def dedupEmbeddingBlockedWith(
      s: SparkSession, dir: String, centFn: DataFrame => DataFrame): DataFrame = {
    val n = Similarity.normed(s, dir)
    // vectors ride WITH the assignment into the blocks (carry), so pair
    // verification happens inside the block arrays: the previous
    // ids-then-join form shuffled the full vector table into ~50M
    // candidate-pair rows at 250k vectors (~27 GB through two joins) and
    // could not finish the scale experiment. Here the only vector
    // shuffle is N·probes member rows into their blocks plus the bounded
    // tile cells below; the Σ block² cosines stream through whole-stage
    // codegen with no join and no materialization.
    val asg = Similarity.nearestCentroids(centFn(n))(
      n, "vec_id", "embedding", "nrm", blockProbes, carry = Seq("embedding", "nrm"))
    // a pair sharing two probe blocks appears twice with the identical
    // cosine — dedupe AFTER the threshold filter, when few rows remain
    tiledBlockPairs(asg).distinct().orderBy(col("id_a"), col("id_b"))
  }

  /** Within-block threshold-pair enumeration over an assignment frame
    * `(c_id, vec_id, embedding, nrm)` — the shared quadratic kernel of
    * the blocked embedding dedups and [[dedupSemantic]]. Emits every
    * `(id_a < id_b, cosine ≥ cosineThreshold)` pair that co-occurs in a
    * block; callers dedupe across probe blocks if probes > 1. */
  private def tiledBlockPairs(asg: DataFrame,
      threshold: Double = cosineThreshold): DataFrame = {
    // TRIANGLE TILING (found by a 100× scale experiment): expanding a whole block's pairs from its single array row
    // pins Σ m² work to ONE task — a skewed quantizer's mega-block
    // (~100k members under stride centroids here) ran 42 minutes on one
    // core while 31 idled, and the tight codegen loop never reached a
    // safepoint. Instead each block's id-sorted member array is cut
    // into blockTile-sized slices, every (a <= b) slice cell becomes
    // its own row, and a hash repartition spreads the cells over the
    // cluster BEFORE the quadratic work runs: the diagonal cells expand
    // their i<j pairs, off-diagonal cells the full A×B cross (slices
    // are id-ordered, so id_a < id_b holds by construction). Identical
    // pair set, bounded blockTile² work and 2·blockTile·dim cell width
    // per task, regardless of how skewed the quantizer is.
    val nc = ((size(col("items")) + lit(blockTile - 1)) / lit(blockTile)).cast("int")
    val cells = asg
      .groupBy(col("c_id"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(col("c_id"), explode(flatten(transform(sequence(lit(0), nc - 1), a =>
        transform(sequence(a, nc - 1), b =>
          struct(a.as("ta"), b.as("tb"),
            slice(col("items"), a * blockTile + 1, lit(blockTile)).as("ia"),
            slice(col("items"), b * blockTile + 1, lit(blockTile)).as("ib")))))).as("cell"))
      .repartition(col("c_id"), col("cell.ta"), col("cell.tb"))
    // pair expansion + cosine + threshold run inside ONE fused expression
    // (`cell_pairs_cosine`): the nested-transform HOF formulation walks an
    // interpreted lambda tree per candidate pair — ~µs each across
    // Σ block² candidates, which the 100× experiment measured as 250+
    // CPU-minutes on this corpus. The fused loop pays ~ns per candidate
    // and only allocates rows for pairs that pass the threshold.
    cells
      .select(explode(graft.plans.VectorFunctions.cell_pairs_cosine(
        col("cell.ia"), col("cell.ib"),
        col("cell.ta") === col("cell.tb"), threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.cosine").as("cosine"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * coarse-cluster the embeddings, then WITHIN each cluster drop every
    * vector that has cosine ≥ [[cosineThreshold]] with a lower-id member
    * of the same cluster — the paper's upper-triangular masking, with
    * vec_id as the deterministic ordering. Differs from the pair-emitting
    * blocked dedup above in contract: the output is a per-vector KEEP
    * DECISION `(vec_id, c_id, kept)` over the whole corpus, the thing a
    * curation pipeline actually filters by.
    *
    * Scale shape: 1-probe assignment (the paper's — each vector is
    * deduped only against its own cluster), and the quadratic step runs
    * through the same triangle-tiled [[tiledBlockPairs]] kernel as the
    * blocked dedup, so per-task work is bounded by blockTile² regardless
    * of cluster skew. The decision join keys on vec_id (dropped ids are
    * ≤ pairs, few past the threshold) — broadcast-able at any corpus
    * size where dups are rare. Deterministic stride quantizer ⇒ full
    * DuckDB oracle; the trained-quantizer variant would be rows-only
    * like the other `_trained` paths.
    *
    * τ IS A CORPUS-GEOMETRY POLICY, NOT A UNIVERSAL CONSTANT — the
    * clustered-geometry experiment measured the default
    * dropping 247,500 of 250,000 vectors (2,500 planted dups) on a
    * 50-Gaussian mixture: when embeddings cluster (the geometry real
    * sentence embeddings have), within-cluster cosine sits far above a
    * threshold calibrated on scattered corpora, and the keep rule
    * degenerates to one representative per cluster. The τ sweep
    * (PLANS.md) measured the drop-rate curve per geometry; on
    * clustered corpora start from [[semanticTauClustered]], on
    * scattered ones the shared [[cosineThreshold]] holds, and when the
    * duplicate BUDGET is the known quantity (the paper's own tuning
    * loop), use [[dedupSemanticPercentile]], which needs no τ at all. */
  def dedupSemantic(s: SparkSession, dir: String,
      tau: Double = cosineThreshold): DataFrame =
    dedupSemanticWith(s, dir, Similarity.centroidsOf, tau)

  /** SemDeDup with the TRAINED quantizer — the paper's actual recipe
    * (real k-means, better-balanced clusters ⇒ lower Σ cluster² for the
    * quadratic step); shares the ONE memoized training with the IVF
    * search and blocked-dedup paths. Rows-only like every `_trained`
    * variant (float-summation order); its self-check recomputes every
    * keep decision brute-force from the collected trained centroid
    * table ([[graft.SelfChecks]]). Same τ policy as [[dedupSemantic]]. */
  def dedupSemanticTrained(s: SparkSession, dir: String,
      tau: Double = cosineThreshold): DataFrame =
    dedupSemanticWith(s, dir, _ => Similarity.trainedCentroidsOf(s, dir), tau)

  /** Clustered-geometry τ default, from the τ sweep on the
    * 250k-vector scale corpora (PLANS.md has the full drop-rate
    * table per geometry). The measured cliff: on the 50-Gaussian
    * clustered family the drop rate is still 98.4% at τ=0.95 and falls
    * to 1.1% at τ=0.99 (planted-dup recall 0.936, false-drop 0.18%) —
    * the within-cluster cosine mass sits between 0.95 and 0.99, so any
    * τ below it flushes whole clusters. On the near-orthogonal family
    * the same cliff sits between 0.80 and 0.90. The cliff POSITION is a
    * corpus property, which is why the right production move is a
    * one-pass calibration on a corpus sample — exactly what
    * [[dedupSemanticPercentile]] automates. */
  val semanticTauClustered = 0.99

  private def dedupSemanticWith(s: SparkSession, dir: String,
      centFn: DataFrame => DataFrame, tau: Double = cosineThreshold): DataFrame = {
    val n = Similarity.normed(s, dir)
    val asg = Similarity.nearestCentroids(centFn(n))(
      n, "vec_id", "embedding", "nrm", 1, carry = Seq("embedding", "nrm"))
    // probes = 1 ⇒ each pair appears in exactly one block: no distinct
    val dropped = tiledBlockPairs(asg, tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dup", lit(1L))
    asg.select(col("vec_id"), col("c_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        (lit(1L) - coalesce(col("dup"), lit(0L))).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Fraction of the corpus the percentile keep rule drops — the
    * duplicate BUDGET. 1% is the conservative production default
    * (dedup budgets are set from an expected duplication rate, not a
    * similarity scale). */
  val semanticDropFrac = 0.01

  /** Candidate floor for the percentile scoring: pairs below this
    * cosine can never be in the dropped head at any sane budget, so the
    * quadratic kernel does not materialize them. Must sit BELOW any
    * cutoff the budget could select — 0.3 is far under the clustered
    * within-cluster mass the sweep measured. */
  val semanticPairFloor = 0.3

  /** Head sizes up to this run through a plain TakeOrderedAndProject
    * (one bounded heap-merge — cheapest possible for a small K); above
    * it the selection switches to the distributed rank-threshold cutoff
    * of [[semanticHeadRank]]. At the operator's production default
    * (dropFrac = 1%) K crosses this at a ~100k-vector corpus — far
    * before a K-row single-point merge could hurt, and far before
    * `limit(k.toInt)` could overflow. */
  val semanticHeadTakeOrderedMax = 1024L

  /** Order-preserving id-range slices for the boundary-rank selection
    * inside [[semanticHeadRank]] — bounds every per-slice stage of the
    * tie-break to ~|tie group|/4096. */
  val semanticHeadBuckets = 4096L

  /** Percentile-based SemDeDup — the τ-free form of the keep decision,
    * for when the duplicate BUDGET is the known quantity (the common
    * production case; the SemDeDup paper itself tunes τ against a
    * target drop fraction). Each vector's redundancy score is its
    * maximum cosine to a lower-id member of its cluster (the same
    * masking orientation as [[dedupSemantic]]); the `dropFrac` most
    * redundant vectors corpus-wide are dropped. Self-calibrating by
    * construction: on clustered geometry the cutoff lands wherever the
    * within-cluster mass puts it, instead of a fixed τ silently
    * flushing 99% of the corpus.
    *
    * Scale shape: the same 1-probe triangle-tiled kernel; the head
    * selection is exact top-K by (score desc, vec_id) in BOTH forms —
    * a TakeOrderedAndProject while K ≤ `headTakeOrderedMax` (small
    * heads don't deserve an extra shuffle), and above that the
    * distributed rank-threshold cutoff of [[semanticHeadRank]]: no
    * stage anywhere funnels K corpus rows through one task, and K is
    * a Long throughout (the previous `limit(k.toInt)` silently
    * overflowed past 2³¹ — K is ~1% of the corpus at the production
    * default). Scores are rounded to 6 decimals with a vec_id
    * tie-break, which makes the head deterministic and
    * DuckDB-restatable (the oracle reorders float sums); the two
    * forms are byte-identical (pinned by `DedupSimilaritySpec`). */
  def dedupSemanticPercentile(s: SparkSession, dir: String,
      dropFrac: Double = semanticDropFrac,
      headTakeOrderedMax: Long = semanticHeadTakeOrderedMax): DataFrame = {
    val n = Similarity.normed(s, dir)
    val asg = Similarity.nearestCentroids(Similarity.centroidsOf(n))(
      n, "vec_id", "embedding", "nrm", 1, carry = Seq("embedding", "nrm"))
    // the assignment emits exactly one row per normed vector (keep=1),
    // so the budget's N comes from the cheap normed scan — counting asg
    // would pay the whole nearest-centroid kernel a second time
    val k = math.floor(dropFrac * n.count()).toLong
    val scores = tiledBlockPairs(asg, semanticPairFloor)
      .groupBy(col("id_b").as("vec_id"))
      .agg(round(max(col("cosine")), 6).as("score"))
    val head =
      if (k <= 0L) scores.select(col("vec_id")).limit(0)
      else if (k <= headTakeOrderedMax)
        scores.orderBy(col("score").desc, col("vec_id"))
          .limit(k.toInt).select(col("vec_id"))
      else semanticHeadRank(s, dir, scores, k)
    val dropped = head.select(col("vec_id"), lit(1L).as("dup"))
    asg.select(col("vec_id"), col("c_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        (lit(1L) - coalesce(col("dup"), lit(0L))).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Distributed top-K head by (score desc, vec_id): the K-th-rank
    * CUTOFF is derived from the aggregated score distribution, then the
    * head is a plain filter — the scale-safe replacement for a global
    * `orderBy().limit(K)` whose single TakeOrdered merge point receives
    * all K rows (K ~1% of the corpus at the production default).
    *
    * Shape, stage by stage — no stage is corpus-proportional on one
    * task:
    *  1. score-frequency table + cumulative counts, the exact
    *     [[graft.ops.TextAnalysis.textLengthQuantiles]] integer rank
    *     arithmetic. The cumulative window is a single partition, but
    *     over the DISTINCT 6-decimal rounded scores — ≤ ~700k rows in
    *     [pairFloor, 1] regardless of corpus size, a constant bound.
    *     The cutoff row (smallest score whose descending cumulative
    *     count reaches K) gives the boundary score c and the residual
    *     rank r = K − |score > c| to fill from the tie group.
    *  2. the boundary vec_id (r-th smallest id among score == c) via
    *     order-preserving id-range slices: per-slice counts locate the
    *     slice containing rank r (≤ [[semanticHeadBuckets]] rows
    *     through the tiny cumulative window), and only THAT slice —
    *     ~|ties|/4096 rows — is sorted for the residual pick. A slice
    *     still too deep to sort (ties ~2³¹-deep AND packed into 1/4096
    *     of their own id range) recurses — [[boundaryIdOf]] re-slices
    *     within the boundary slice, so adversarial packing degrades to
    *     a few more O(slice) passes instead of failing.
    *  3. the head itself: `score > c OR (score == c AND vec_id ≤
    *     boundary)` — a filter, shuffled nowhere.
    *
    * Exact-K tie behavior: identical to the TakeOrdered form — of the
    * vectors tied at the cutoff score, the r smallest vec_ids enter
    * the head, the rest stay kept. The scores frame is memoized
    * ([[Artifacts]]) so the cutoff collects and the returned filter
    * evaluate the quadratic pair kernel exactly once. */
  private def semanticHeadRank(s: SparkSession, dir: String,
      scoresRaw: DataFrame, k: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keyed by dir ALONE (budget-independent), under the repo-wide
    // "$dir|name" convention so a consumer's dir-prefix invalidation
    // after replacing corpus files sweeps this memo like every other
    val scores = Artifacts.frame(s, s"$dir|semantic_pctl_scores")(scoresRaw)
    val cumW = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = scores.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .filter(col("cum") >= k && col("cum") - col("cnt") < k)
      .select(col("score"), (lit(k) - (col("cum") - col("cnt"))).as("r"))
      .collect()
    if (cut.isEmpty) return scores.select(col("vec_id")) // K ≥ scored: all drop
    val c = cut(0).getDouble(0)
    val r = cut(0).getLong(1)
    val ties = scores.filter(col("score") === c)
    val st = ties.agg(min(col("vec_id")), max(col("vec_id")), count(lit(1))).collect()(0)
    val (lo, hi, nTies) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val boundary = if (r >= nTies) hi else boundaryIdOf(ties, lo, hi, r)
    scores.filter(col("score") > c || (col("score") === c && col("vec_id") <= boundary))
      .select(col("vec_id"))
  }

  /** The `rank`-th smallest vec_id (1-based) among `ties`, all of whose
    * ids lie in [lo, hi]: order-preserving id-range slices locate the
    * slice holding the rank, and only that slice is sorted — RECURSING
    * into it when its tied population is still too large to sort
    * through one limit (adversarially packed ties). Each level divides
    * the id RANGE by [[semanticHeadBuckets]] and ids are unique, so a
    * slice of width 1 holds ≤ 1 row — depth is bounded by
    * log_4096(range) ≤ 6 over the full Long range, and the degenerate
    * packing that used to `require`-fail now degrades to one more
    * O(slice) pass. `sortCap` (tests shrink it to force the recursive
    * leg) is how many tied rows one limit-sort is allowed to absorb. */
  @annotation.tailrec
  private[graft] def boundaryIdOf(ties: DataFrame, lo: Long, hi: Long, rank: Long,
      sortCap: Long = Int.MaxValue): Long = {
    import org.apache.spark.sql.expressions.Window
    val width = ((BigInt(hi) - BigInt(lo)) / semanticHeadBuckets + 1).toLong
    val bucket = expr(s"(vec_id - (${lo}L)) div ${width}L")
    val brow = ties.groupBy(bucket.as("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") >= rank && col("cum") - col("cnt") < rank)
      .select(col("b"), (lit(rank) - (col("cum") - col("cnt"))).as("rr"),
        col("cnt"))
      .collect()(0)
    val b = brow.getLong(0)
    val rr = brow.getLong(1)
    val cnt = brow.getLong(2)
    val slice = ties.filter(bucket === b)
    if (cnt <= sortCap)
      slice.orderBy(col("vec_id")).limit(rr.toInt)
        .agg(max(col("vec_id"))).collect()(0).getLong(0)
    else {
      val bLo = lo + b * width
      boundaryIdOf(slice, bLo, math.min(hi, bLo + width - 1), rr, sortCap)
    }
  }

  /** Cluster representative selection — the step AFTER clustering in a
    * real dedup pipeline: of each near-dup cluster, keep the
    * highest-quality member (quality score from `TextAnalysis
    * .textQuality`, ties to the smaller doc_id), not blindly the
    * smallest id. Composes the cluster labels with the shuffle-free
    * quality columns in one plan: the join and both windows key on
    * cluster_id/doc_id, and per-cluster state is bounded by cluster
    * size (near-dup clusters are small by construction — the pair
    * threshold caps them), so no single-task window trap. Eager at call
    * time like its input `dedupClusters` (the hybrid CC decision). */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(s, dir)
    val quality = TextAnalysis.textQuality(s, dir).select(col("doc_id"), col("score"))
    val wRank = Window.partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("cluster_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc"),
        col("score").as("best_score"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Word length of an exact span: two documents "share a span" when an
    * identical [[spanShingleN]]-word window occurs in both. 8 words
    * here; the published choice (50 BPE tokens — Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022)
    * only changes this constant, not the plan. */
  val spanShingleN = 8

  /** A document more than this fraction of whose distinct spans also
    * occur elsewhere in the corpus is span-duplicated. */
  val sharedSpanFracMax = 0.2

  /** Intra-corpus exact shared-span profile — the signal near-dup
    * similarity misses: a document that merely QUOTES a long passage of
    * another shares an exact span while its Jaccard/cosine similarity
    * stays low. Every distinct [[spanShingleN]]-word window is hashed
    * (the fused `word_shingle_hashes` expression — set semantics per
    * doc); a hash occurring in 2+ documents marks a shared span; each
    * document reports its distinct-span count, how many of those are
    * shared, and the shared fraction.
    *
    * Scale shape: the TEXT is scanned and hashed exactly once — the
    * (doc_id, span_hash) rows go through a grouped frame whose exchange
    * both consumers (the document-frequency aggregate and the join-back)
    * share at runtime via AQE `ReusedExchange`, the `text_unigram_lm`
    * tfc pattern; every later stage shuffles narrow 24-byte hash rows,
    * never text. The span-vocabulary side of the join is corpus-sized,
    * correctly left to stats (NOT broadcast at scale). The final
    * per-doc aggregate and left join key on doc_id. No window, no
    * collect_list — a boilerplate span occurring in a million documents
    * costs a 1-row count, never a posting-list buffer. This is the
    * shape exact-substring dedup keeps at 100 TB: every stage is a
    * linear hash shuffle. */
  def dedupSharedSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // (doc_id, h) is already distinct (set semantics in the fused
    // expression); the groupBy's job is plan shape, not semantics — it
    // turns the explode into ONE exchange-rooted subtree that the freq
    // aggregate AND the join below both consume, so AQE reuses one
    // shuffle instead of tokenizing the corpus per consumer
    // the explicit isNotNull matches the constraint the left-outer join
    // below infers and pushes into the join branch only — without it the
    // two consumers' subtrees canonicalize differently and AQE cannot
    // reuse the exchange (observed: corpus tokenized twice)
    val sh = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(graft.plans.VectorFunctions.word_shingle_hashes(col("text"), spanShingleN)).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c")).drop("c")
    // one row per (doc, span): count per h IS the span's document frequency
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    val per = sh.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_frac", when(col("n_spans") > 0,
        round(col("n_shared").cast("double") / col("n_spans").cast("double"), 6)))
      .withColumn("is_span_dup",
        coalesce(col("shared_frac") > sharedSpanFracMax, lit(false)))
      .orderBy(col("doc_id"))
  }

  /** Span REWRITE — the corpus-mutating counterpart of
    * [[dedupSharedSpans]] (C4/RefinedWeb-style exact-substring removal;
    * Lee et al. 2022 drop one occurrence, Penedo et al. 2023 rewrite —
    * this implements the rewrite): every word covered by a
    * [[spanShingleN]]-word window that occurs in 2+ documents is
    * removed from BOTH, and the survivors re-join into `text_clean`.
    *
    * Positions matter here, so the shingle expansion is the POSITIONAL
    * `word_shingle_hashes_pos` (one row per window start, not the
    * set-semantics form) — a boilerplate window repeated mid-document
    * must scrub every occurrence. Document frequency still counts
    * DISTINCT docs per hash (the `.distinct()` before the freq
    * aggregate), so intra-doc repetition alone never marks a span
    * shared.
    *
    * Scale shape: text is tokenized+hashed once; the shared-start
    * positions per doc come back as ONE sorted array per document
    * (bounded by its own window count) and the interval-union + rebuild
    * runs inside the fused `span_scrub` kernel — there is no per-WORD
    * explode/anti-join/re-aggregate: every shuffle after the scan
    * carries narrow (doc_id, hash/position) rows, and the rebuilt text
    * is produced in the same task that holds the original. */
  def dedupSpanRewrite(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // ONE grouped (doc_id, span-hash → position list) frame, then the
    // document frequency as a COUNT WINDOW over h on that same frame —
    // a row per (doc, h) means the window count IS the distinct-doc
    // frequency, so there is no frequency aggregate and no join-back at
    // all: the corpus is tokenized+hashed exactly once in a single
    // pipeline. (The dedupSharedSpans join-back shape relies on AQE
    // exchange reuse, which breaks HERE because column pruning
    // specializes the two copies — the frequency branch drops the
    // position lists, the join branch keeps them, and the canonical
    // forms no longer match. The window shape has nothing to reuse.)
    // The window partitions by h: rows per partition = docs sharing
    // that span, bounded by corpus df like the boilerplate window.
    val sh = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.plans.VectorFunctions.word_shingle_hashes_pos(
          col("text"), spanShingleN)).as(Seq("p0", "h")))
      .groupBy(col("doc_id"), col("h"))
      .agg(collect_list(col("p0").cast("long")).as("ps"))
    val starts = sh
      .withColumn("n_docs", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("n_docs") > 1)
      .select(col("doc_id"), explode(col("ps")).as("p0"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p0"))).as("starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), graft.plans.VectorFunctions.span_scrub(
        col("text"),
        coalesce(col("starts"), array().cast("array<bigint>")),
        spanShingleN).as("r"))
      .select(col("doc_id"), col("r.n_words").as("n_words"),
        col("r.n_removed").as("n_removed"), col("r.text_clean").as("text_clean"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_shared_spans" -> dedupSharedSpans _,
    "dedup_span_rewrite" -> dedupSpanRewrite _,
    "dedup_keep_best" -> dedupKeepBest _,
    "dedup_exact" -> dedupExact _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "dedup_minhash_lsh" -> dedupMinhashLsh _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_incremental" -> dedupIncrementalIndexedQuery _,
    "dedup_incremental_indexed" -> dedupIncrementalIndexedQuery _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine _,
    "dedup_embedding_blocked" -> dedupEmbeddingBlocked _,
    "dedup_embedding_blocked_trained" -> dedupEmbeddingBlockedTrained _,
    "dedup_semantic" -> ((s, d) => dedupSemantic(s, d)),
    "dedup_semantic_trained" -> ((s, d) => dedupSemanticTrained(s, d)),
    "dedup_semantic_pctl" -> ((s, d) => dedupSemanticPercentile(s, d)),
  )

  private val mhValuesSql =
    mhParams.map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")
  private val bitValuesSql =
    (0 until 60).map(b => s"($b, ${1L << b})").mkString(", ")
  private val bandValuesSql =
    Seq(0, 1, 2, 3).map(k => s"($k, ${1L << (15 * k)})").mkString(", ")

  /** SQL form of the SemDeDup keep decision (`sem(vec_id, c_id, kept)`),
    * shared by the dedup_semantic oracle and Curation's topic-mix card. */
  private[ops] lazy val semanticCteSql: String =
    s"""n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding,
       |      sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
       |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
       |         FROM n WHERE vec_id % ${Similarity.centroidStride} = 1),
       |asgn AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY list_sum(list_transform(range(1, len(v.embedding) + 1),
       |          i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))) / (v.nrm * c.c_nrm) DESC,
       |          c.c_id) AS c_rk
       |    FROM n v, cent c)
       |  WHERE c_rk = 1),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM asgn x JOIN asgn y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
       |  JOIN n a ON x.vec_id = a.vec_id JOIN n b ON y.vec_id = b.vec_id
       |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) >= $cosineThreshold),
       |sem AS (
       |  SELECT asgn.vec_id, c_id,
       |    CAST(CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |  FROM asgn LEFT JOIN dropped ON asgn.vec_id = dropped.vec_id)""".stripMargin

  /** The SQL simhash pipeline shared by the incremental and streaming
    * ingest oracles: documents → token hashes → 32-bit signatures →
    * 4 byte-bands. Generated from the same Scala constants the Spark
    * expressions use. */
  /** Same pipeline over an arbitrary (doc_id, text) relation name. */
  private def sigBandedCteSqlFrom(rel: String): String =
    s"""tok AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest($tokSql) AS token FROM $rel)),
       |bits AS (SELECT * FROM (VALUES $bitValuesSql) AS t(bit, pow)),
       |sig AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN w > 0 THEN pow ELSE 0 END) AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id, bit, pow, sum(CASE WHEN (h // pow) % 2 = 1 THEN 1 ELSE -1 END) AS w
       |    FROM tok, bits GROUP BY doc_id, bit, pow)
       |  GROUP BY doc_id),
       |bp AS (SELECT * FROM (VALUES $bandValuesSql) AS t(band, bpow)),
       |banded AS (SELECT doc_id, simhash, band, (simhash // bpow) % 32768 AS bval FROM sig, bp)""".stripMargin

  private lazy val sigBandedCteSql = sigBandedCteSqlFrom("documents")

  /** The unrolled admission rounds over a (doc_id, …) relation whose
    * banded signatures are already in scope — shared by the plain and
    * curated ingest oracles. Produces i/h/v/a CTEs for each round. */
  private def ingestRoundsSql(docRel: String): String = {
    val nb = ingestBatches
    (0 until nb).map { k =>
      val admitted =
        if (k == 0) ""
        else {
          val u = (0 until k).map(j => s"SELECT doc_id FROM a$j").mkString(" UNION ALL ")
          s"y.doc_id IN ($u) OR "
        }
      s"""i$k AS (
         |  SELECT x.doc_id, y.doc_id AS cand,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bval = y.bval
         |  WHERE x.doc_id % $nb = $k
         |    AND bit_count(xor(x.simhash, y.simhash)) <= $hammingThreshold
         |    AND ($admitted(y.doc_id % $nb = $k AND y.doc_id < x.doc_id))),
         |h$k AS (SELECT doc_id, min(cand) AS dup_of, min(hamming) AS min_hamming
         |        FROM i$k GROUP BY doc_id),
         |v$k AS (
         |  SELECT d.doc_id, CAST($k AS BIGINT) AS batch,
         |    h$k.dup_of IS NOT NULL AS is_dup, h$k.dup_of, h$k.min_hamming
         |  FROM (SELECT doc_id FROM $docRel WHERE doc_id % $nb = $k) d
         |  LEFT JOIN h$k ON d.doc_id = h$k.doc_id),
         |a$k AS (SELECT doc_id FROM v$k WHERE NOT is_dup)""".stripMargin
    }.mkString(",\n")
  }

  private def ingestVerdictUnionSql: String =
    (0 until ingestBatches).map(k => s"SELECT * FROM v$k").mkString(" UNION ALL ")

  /** Oracle for the streaming ingest replay: [[ingestBatches]] admission
    * rounds unrolled as chained CTEs. Round k's hit set is (admitted in
    * rounds < k) ∪ (same batch, lower id); admitted = not flagged. The
    * batch column doubles as a replay-order check — the Spark side
    * records the ACTUAL foreachBatch id. */
  private[graft] lazy val ingestOracleSql: String =
    s"""WITH $sigBandedCteSql,
       |${ingestRoundsSql("documents")}
       |SELECT doc_id, batch, is_dup, dup_of, min_hamming FROM ($ingestVerdictUnionSql)
       |ORDER BY doc_id""".stripMargin

  /** Oracle for the CURATED ingest replay: scrub → score → qualifying
    * docs feed the same admission rounds (signatures over CLEAN text);
    * rejected docs re-enter at the verdict union. Score arithmetic is
    * restated in the exact [[TextAnalysis.qualityScore]] expression
    * order, so the doubles hash-match. */
  private[graft] lazy val ingestCurateOracleSql: String = {
    val e = TextAnalysis.piiEmailRe
    val ip = TextAnalysis.piiIpRe
    val num = TextAnalysis.piiNumRe
    val stopList = TextAnalysis.stopEn.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH scrub AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(
       |      text, '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$num', '<NUM>', 'g') AS text
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, text,
       |    CASE WHEN len(toks) >= 1 THEN
       |      (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
       |      + least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
       |      + (CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE)
       |         / CAST(len(toks) AS DOUBLE)) * 0.2
       |    END AS score
       |  FROM (SELECT doc_id, text, $tokSql AS toks FROM scrub)),
       |cdocs AS (SELECT doc_id, text, score FROM q WHERE score >= $ingestQualityMin),
       |${sigBandedCteSqlFrom("cdocs")},
       |${ingestRoundsSql("cdocs")},
       |vall AS ($ingestVerdictUnionSql)
       |SELECT q.doc_id, CAST(q.doc_id % $ingestBatches AS BIGINT) AS batch,
       |  CASE WHEN q.score IS NULL OR q.score < $ingestQualityMin THEN 'rejected'
       |       WHEN vall.dup_of IS NOT NULL THEN 'dup'
       |       ELSE 'admitted' END AS verdict,
       |  vall.dup_of, q.score
       |FROM q LEFT JOIN vall ON q.doc_id = vall.doc_id
       |ORDER BY q.doc_id""".stripMargin
  }

  /** Admission rounds for the MANIFEST ingest oracle: each round runs
    * an exact tier (clean-text md5 equality) and a near tier (banded
    * simhash) against (admitted in rounds < k) ∪ (same round, lower
    * id); admitted = neither tier hit (dup status outranks every other
    * signal, so quality/contamination/split never gate admission —
    * exactly the index rule [[ingestManifestBatch]] applies). */
  private def manifestRoundsSql: String = {
    val nb = ingestBatches
    (0 until nb).map { k =>
      val admitted =
        if (k == 0) ""
        else {
          val u = (0 until k).map(j => s"SELECT doc_id FROM a$j").mkString(" UNION ALL ")
          s"y.doc_id IN ($u) OR "
        }
      s"""ex$k AS (
         |  SELECT x.doc_id, min(y.doc_id) AS exact_of
         |  FROM md x JOIN md y ON x.tmd5 = y.tmd5
         |  WHERE x.doc_id % $nb = $k
         |    AND ($admitted(y.doc_id % $nb = $k AND y.doc_id < x.doc_id))
         |  GROUP BY x.doc_id),
         |ne$k AS (
         |  SELECT x.doc_id, min(y.doc_id) AS near_of
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bval = y.bval
         |  WHERE x.doc_id % $nb = $k
         |    AND bit_count(xor(x.simhash, y.simhash)) <= $hammingThreshold
         |    AND ($admitted(y.doc_id % $nb = $k AND y.doc_id < x.doc_id))
         |  GROUP BY x.doc_id),
         |v$k AS (
         |  SELECT d.doc_id, CAST($k AS BIGINT) AS batch,
         |    COALESCE(ex$k.exact_of, d.doc_id) AS canon_id,
         |    COALESCE(least(ex$k.exact_of, ne$k.near_of), d.doc_id) AS rep_id
         |  FROM (SELECT doc_id FROM scrub WHERE doc_id % $nb = $k) d
         |  LEFT JOIN ex$k ON d.doc_id = ex$k.doc_id
         |  LEFT JOIN ne$k ON d.doc_id = ne$k.doc_id),
         |a$k AS (SELECT doc_id FROM v$k WHERE doc_id = canon_id AND doc_id = rep_id)""".stripMargin
    }.mkString(",\n")
  }

  /** Oracle for the streaming MANIFEST replay: the landed set is the
    * train side (eval slice excluded, as the batch capstone's base
    * filter), scrub → score → the unrolled exact+near admission rounds
    * over CLEAN text, the exact contamination join (the Spark side's
    * bloom screen has no false negatives and exact-confirms flagged
    * docs, so its n_shared is bit-identical to this join), the rep-id
    * md5 split, and the capstone's CASE precedence. */
  private[graft] lazy val ingestManifestOracleSql: String = {
    val e = TextAnalysis.piiEmailRe
    val ip = TextAnalysis.piiIpRe
    val num = TextAnalysis.piiNumRe
    val stopList = TextAnalysis.stopEn.map(w => s"'$w'").mkString("[", ", ", "]")
    val csn = Curation.contamShingleN
    def shingleCte(rel: String): String =
      s"""SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - ${csn - 2}),
         |      i -> array_to_string(tk[i:i+${csn - 1}], ' ')))) AS shingle
         |    FROM (SELECT doc_id, $tokSql AS tk FROM $rel))""".stripMargin
    s"""WITH landed AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % ${Curation.evalStride} <> 0),
       |scrub AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(
       |      text, '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$num', '<NUM>', 'g') AS text
       |  FROM landed),
       |q AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= 1 THEN
       |      (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
       |      + least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
       |      + (CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE)
       |         / CAST(len(toks) AS DOUBLE)) * 0.2
       |    END AS score
       |  FROM (SELECT doc_id, $tokSql AS toks FROM scrub)),
       |md AS (SELECT doc_id, md5(text) AS tmd5 FROM scrub),
       |${sigBandedCteSqlFrom("scrub")},
       |$manifestRoundsSql,
       |csh AS (
       |  ${shingleCte("scrub")}),
       |cev AS (
       |  SELECT DISTINCT h FROM (${shingleCte(
             s"(SELECT doc_id, text FROM documents WHERE doc_id % ${Curation.evalStride} = 0)")})),
       |chit AS (
       |  SELECT csh.doc_id, count(DISTINCT csh.h) AS n_shared
       |  FROM csh JOIN cev ON csh.h = cev.h GROUP BY csh.doc_id),
       |vall AS (${(0 until ingestBatches).map(k => s"SELECT * FROM v$k").mkString(" UNION ALL ")}),
       |m AS (
       |  SELECT v.doc_id, v.batch, v.canon_id, v.rep_id,
       |    CAST(COALESCE(chit.n_shared, 0) AS BIGINT) AS n_shared, q.score,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(v.rep_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 < ${100 - Curation.heldoutPct} THEN 'train' ELSE 'heldout' END AS split
       |  FROM vall v
       |  LEFT JOIN chit ON v.doc_id = chit.doc_id
       |  LEFT JOIN q ON v.doc_id = q.doc_id),
       |r AS (
       |  SELECT *, CASE WHEN doc_id <> canon_id THEN 'dup_exact'
       |    WHEN doc_id <> rep_id THEN 'near_dup'
       |    WHEN n_shared > 0 THEN 'contaminated'
       |    WHEN score IS NULL OR score < $ingestQualityMin THEN 'low_quality'
       |    WHEN split = 'heldout' THEN 'heldout'
       |    ELSE 'train' END AS reason
       |  FROM m)
       |SELECT doc_id, batch, canon_id, rep_id, n_shared, score, split, reason,
       |  CAST(CASE WHEN reason = 'train' THEN 1 ELSE 0 END AS BIGINT) AS include
       |FROM r ORDER BY doc_id""".stripMargin
  }

  private lazy val incrementalOracleSql =
    s"""WITH $sigBandedCteSql,
       |near AS (
       |  SELECT x.doc_id AS doc_id, min(y.doc_id) AS dup_of,
       |    min(CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT)) AS min_hamming
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bval = y.bval
       |    AND x.doc_id % $batchMod = 0 AND y.doc_id % $batchMod <> 0
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $hammingThreshold
       |  GROUP BY x.doc_id)
       |SELECT d.doc_id, near.dup_of IS NOT NULL AS is_dup, near.dup_of, near.min_hamming
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $batchMod = 0) d
       |LEFT JOIN near ON d.doc_id = near.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS copies, md5(text) AS text_md5
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_shared_spans" ->
      s"""WITH sh AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - ${spanShingleN - 2}),
         |      i -> array_to_string(tk[i:i+${spanShingleN - 1}], ' ')))) AS shingle
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents))),
         |freq AS (SELECT h, count(*) AS n_docs FROM sh GROUP BY h),
         |per AS (
         |  SELECT sh.doc_id, count(*) AS n_spans,
         |    CAST(sum(CASE WHEN freq.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM sh JOIN freq USING (h) GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(per.n_spans, 0) AS n_spans,
         |  COALESCE(per.n_shared, 0) AS n_shared,
         |  CASE WHEN per.n_spans > 0 THEN round(per.n_shared / per.n_spans, 6) END AS shared_frac,
         |  COALESCE(round(per.n_shared / per.n_spans, 6) > $sharedSpanFracMax, false) AS is_span_dup
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_span_rewrite" ->
      s"""WITH tokd AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |shp AS (
         |  SELECT doc_id,
         |    unnest(generate_series(1, len(tk) - ${spanShingleN - 1})) AS i, tk
         |  FROM tokd),
         |shh AS (
         |  SELECT doc_id, i,
         |    CAST(('0x' || substr(md5(array_to_string(tk[i:i+${spanShingleN - 1}], ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM shp),
         |freq AS (SELECT h, count(*) AS n_docs
         |         FROM (SELECT DISTINCT doc_id, h FROM shh) GROUP BY h),
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(i, i + ${spanShingleN - 1})) AS w
         |  FROM shh JOIN freq USING (h) WHERE n_docs > 1),
         |words AS (
         |  SELECT doc_id, unnest(generate_series(1, len(tk))) AS w, tk
         |  FROM tokd),
         |kept AS (
         |  SELECT words.doc_id, words.w, words.tk[words.w] AS word
         |  FROM words LEFT JOIN cov ON words.doc_id = cov.doc_id AND words.w = cov.w
         |  WHERE cov.w IS NULL),
         |agg AS (
         |  SELECT doc_id, string_agg(word, ' ' ORDER BY w) AS text_clean,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(len(t.tk) AS BIGINT) AS n_words,
         |  CAST(len(t.tk) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(agg.text_clean, '') AS text_clean
         |FROM tokd t LEFT JOIN agg ON t.doc_id = agg.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${allPairsSql.stripPrefix("WITH ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM jpairs
         |      UNION ALL SELECT id_b, id_a FROM jpairs),
         |r AS (
         |  SELECT src AS doc, src AS lab FROM e
         |  UNION
         |  SELECT e.dst AS doc, r.lab FROM r JOIN e ON r.doc = e.src)
         |SELECT doc AS doc_id, min(lab) AS cluster_id FROM r
         |GROUP BY doc ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE ${allPairsSql.stripPrefix("WITH ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM jpairs
         |      UNION ALL SELECT id_b, id_a FROM jpairs),
         |r AS (
         |  SELECT src AS doc, src AS lab FROM e
         |  UNION
         |  SELECT e.dst AS doc, r.lab FROM r JOIN e ON r.doc = e.src),
         |cl AS (SELECT doc AS doc_id, min(lab) AS cluster_id FROM r GROUP BY doc),
         |${TextAnalysis.qualityScoreCteSql},
         |ranked AS (
         |  SELECT cl.cluster_id, cl.doc_id, q.score,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY q.score DESC, cl.doc_id) AS rk,
         |    count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
         |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
         |SELECT cluster_id, doc_id AS best_doc, score AS best_score, n_members
         |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH sh AS ($shingleSql),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |${jaccardVerifySql("cand")}""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH sh AS ($shingleSql),
         |hp AS (SELECT * FROM (VALUES $mhValuesSql) AS t(j, a, b)),
         |hsh AS (SELECT doc_id, shingle, $md5IntSql AS h FROM sh),
         |mh AS (SELECT doc_id, j, min((a * h + b) % $P) AS mh FROM hsh, hp GROUP BY doc_id, j),
         |bands AS (
         |  SELECT doc_id, j // 4 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
         |  FROM mh GROUP BY doc_id, j // 4),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |${jaccardVerifySql("cand")}""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest($tokSql) AS token FROM documents)),
         |bits AS (SELECT * FROM (VALUES $bitValuesSql) AS t(bit, pow)),
         |sig AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN w > 0 THEN pow ELSE 0 END) AS BIGINT) AS simhash
         |  FROM (
         |    SELECT doc_id, bit, pow, sum(CASE WHEN (h // pow) % 2 = 1 THEN 1 ELSE -1 END) AS w
         |    FROM tok, bits GROUP BY doc_id, bit, pow)
         |  GROUP BY doc_id),
         |bp AS (SELECT * FROM (VALUES $bandValuesSql) AS t(band, bpow)),
         |banded AS (SELECT doc_id, simhash, band, (simhash // bpow) % 32768 AS bval FROM sig, bp),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    x.simhash AS sh_a, y.simhash AS sh_b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= $hammingThreshold
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_incremental" -> incrementalOracleSql,
    // the indexed form reads persisted signatures instead of re-hashing
    // corpus text, but signatures are deterministic — byte-identical
    // result, identical oracle (equivalence pinned in DedupSimilaritySpec)
    "dedup_incremental_indexed" -> incrementalOracleSql,
    "dedup_embedding_blocked" ->
      s"""WITH n AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding,
         |      sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
         |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |    FROM embeddings) WHERE nrm > 0),
         |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |         FROM n WHERE vec_id % ${Similarity.centroidStride} = 1),
         |asgn AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT v.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_sum(list_transform(range(1, len(v.embedding) + 1),
         |          i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))) / (v.nrm * c.c_nrm) DESC,
         |          c.c_id) AS c_rk
         |    FROM n v, cent c)
         |  WHERE c_rk <= $blockProbes),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM asgn x JOIN asgn y ON x.c_id = y.c_id AND x.vec_id < y.vec_id)
         |SELECT id_a, id_b,
         |  list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cosine
         |FROM cand JOIN n a ON id_a = a.vec_id JOIN n b ON id_b = b.vec_id
         |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) >= $cosineThreshold
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $semanticCteSql
         |SELECT vec_id, c_id, kept FROM sem ORDER BY vec_id""".stripMargin,
    // percentile (budget) form: per-vector redundancy score = max cosine
    // to a lower-id same-cluster member (candidates floored at
    // semanticPairFloor), global top floor(dropFrac*N) head dropped.
    // Scores are rounded to 6 decimals with a vec_id tie-break in BOTH
    // engines, so the head membership is deterministic.
    "dedup_semantic_pctl" ->
      s"""WITH n AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding,
         |      sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
         |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |    FROM embeddings) WHERE nrm > 0),
         |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |         FROM n WHERE vec_id % ${Similarity.centroidStride} = 1),
         |asgn AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT v.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_sum(list_transform(range(1, len(v.embedding) + 1),
         |          i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))) / (v.nrm * c.c_nrm) DESC,
         |          c.c_id) AS c_rk
         |    FROM n v, cent c)
         |  WHERE c_rk = 1),
         |scored AS (
         |  SELECT y.vec_id, round(max(
         |      list_sum(list_transform(range(1, len(a.embedding) + 1),
         |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm)), 6) AS score
         |  FROM asgn x JOIN asgn y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
         |  JOIN n a ON x.vec_id = a.vec_id JOIN n b ON y.vec_id = b.vec_id
         |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) >= $semanticPairFloor
         |  GROUP BY y.vec_id),
         |kk AS (SELECT CAST(floor($semanticDropFrac * count(*)) AS BIGINT) AS k FROM asgn),
         |dropped AS (
         |  SELECT vec_id FROM (
         |    SELECT s.vec_id, row_number() OVER (ORDER BY s.score DESC, s.vec_id) AS rk, kk.k
         |    FROM scored s CROSS JOIN kk)
         |  WHERE rk <= k)
         |SELECT asgn.vec_id, c_id,
         |  CAST(CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM asgn LEFT JOIN dropped ON asgn.vec_id = dropped.vec_id
         |ORDER BY asgn.vec_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH n AS (
         |  SELECT * FROM (
         |    SELECT vec_id, embedding,
         |      sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
         |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |    FROM embeddings) WHERE nrm > 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cosine
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) >= $cosineThreshold
         |ORDER BY id_a, id_b""".stripMargin,
  )
}
