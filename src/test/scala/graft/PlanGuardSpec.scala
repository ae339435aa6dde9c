package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan-regression guards: structural invariants of the physical plans
  * the round-2/3 verdicts hand-audited, pinned so the double-compute
  * class of bug (the round-2 MinHash defect — only caught by diffing
  * PLANS.md between rounds) cannot silently return.
  *
  * Assertions run on `sparkPlan` (the pre-AQE physical tree —
  * `AdaptiveSparkPlanExec` is a leaf, so `executedPlan.collect` would
  * see nothing under AQE) and on plan text where the detail only exists
  * there (PushedFilters / ReadSchema).
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)
  private def plan(name: String): SparkPlan = q(name).queryExecution.sparkPlan

  test("dedup_minhash_lsh has exactly ONE signature-aggregation subtree") {
    // the 16-column min(pmod(a*h+b, P)) aggregation: one logical subtree
    // = one partial + one final HashAggregate. The round-2 bug (bucket
    // self-join) placed TWO copies of the subtree in the plan => 4.
    val sigAggs = plan("dedup_minhash_lsh").collect {
      case h: HashAggregateExec if h.aggregateExpressions.mkString(",").contains("pmod") => h
    }
    assert(sigAggs.nonEmpty, "signature aggregation missing entirely")
    assert(sigAggs.length <= 2,
      s"${sigAggs.length} signature HashAggregates — the aggregation subtree is duplicated")
  }

  test("no CartesianProduct outside the guarded exact-cosine ground truth") {
    val allowed = Set("dedup_embedding_cosine")
    // streaming queries execute eagerly and return collected local
    // results — there is no lazy plan to guard
    val names = SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.sorted
    val offenders = names.filterNot(allowed).flatMap { n =>
      val cart = plan(n).collect { case c: CartesianProductExec => c }
      if (cart.nonEmpty) Some(n) else None
    }
    assert(offenders.isEmpty, s"unguarded cartesian products in: $offenders")
  }

  test("q5_region_revenue joins are all broadcast (fact side never shuffles)") {
    val p = plan("q5_region_revenue")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    val shuffled = p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(bhj.size >= 3, s"expected all-broadcast dims, found ${bhj.size} BHJ")
    assert(shuffled.isEmpty, s"dim join fell back to a shuffle join: $shuffled")
  }

  test("sim_topk_bruteforce prunes map-side with WindowGroupLimit") {
    val txt = plan("sim_topk_bruteforce").toString
    assert(txt.contains("WindowGroupLimit"),
      "rank-filter no longer decorrelates to WindowGroupLimit — full window sort is back")
  }

  test("q6_revenue_filter pushes filters into the scan and prunes columns") {
    val txt = q("q6_revenue_filter").queryExecution.executedPlan.toString
    val pushed = txt.linesIterator.find(_.contains("PushedFilters: [")).getOrElse("")
    assert(pushed.nonEmpty && !pushed.contains("PushedFilters: []"),
      s"no filters pushed to parquet: $pushed")
    // 4 of lineitem's 11 columns survive pruning (SURVEY.md plan audit)
    val scanCols = "\\[(l_[a-z_#0-9,]+)\\]".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    assert(scanCols.split(",").length <= 4, s"scan reads too many columns: $scanCols")
  }

  test("dedup_embedding_cosine keeps its raise_error scale guard after optimization") {
    val optimized = q("dedup_embedding_cosine").queryExecution.optimizedPlan.toString
    assert(optimized.contains("raise_error"), "O(N²) guard was pruned from the plan")
  }

  test("sim_lsh_ann hashes through the fused expressions, not per-plane literals") {
    // the per-plane literal formulation put 160 vec_dot nodes (each with a
    // 64-element literal array) in the tree — 3.8 s of per-action
    // analysis+codegen. Fused: lsh_projections/lsh_buckets appear, and
    // vec_dot survives only in the exact rescoring step.
    val txt = plan("sim_lsh_ann").toString
    assert(txt.contains("lsh_projections") && txt.contains("lsh_buckets"),
      "LSH hashing no longer uses the fused expressions")
    // the exact rescoring + the hot-tiling path's norm columns account
    // for ~13 vec_dot nodes; the per-plane literal regression this guards
    // against put 160+ in the tree
    val dots = "vec_dot".r.findAllIn(txt).length
    assert(dots <= 20, s"$dots vec_dot nodes in sim_lsh_ann — per-plane literal hashing is back")
  }

  test("custom expressions COMPILE under codegen (no silent interpreted fallback)") {
    // janino rejecting one generated assignment (e.g. an Any-returning
    // kernel helper assigned into an InternalRow slot — the span_scrub
    // round-5 bug) doesn't fail the query: Spark logs and falls back to
    // interpreted eval, silently costing the codegen speedup. With
    // fallback disabled the same defect throws. One query per custom
    // expression family.
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      for (name <- Seq("dedup_span_rewrite", "sim_pq_topk", "sim_pq_rescore",
          "dedup_shared_spans", "sim_lsh_ann", "dedup_embedding_blocked",
          "text_fingerprint", "dedup_minhash_lsh", "sim_topk_bruteforce",
          "text_compress_ratio", "decontaminate_bloom_served")) {
        assert(q(name).count() > 0, s"$name returned no rows under codegen-only eval")
      }
    } finally spark.conf.set(key, old)
  }

  test("sim_pq_topk scans compressed: fused encode/LUT/cell kernels in-plan") {
    // the compressed-scan contract: corpus vectors are encoded to codes
    // by the fused pq_codes projection, queries carry pq_lut tables, and
    // scoring runs through cell_pq_topk — if any of the three fall out
    // (e.g. a rewrite to a join on raw embeddings), the scan stops being
    // ~32x narrower than the vector corpus and this trips.
    val txt = plan("sim_pq_topk").toString
    assert(txt.contains("pq_codes") && txt.contains("pq_lut") && txt.contains("cell_pq_topk"),
      "PQ ANN no longer runs through the fused compressed-scan kernels")
    // vec_dot survives only inside the two norm computations
    val dots = "vec_dot".r.findAllIn(txt).length
    assert(dots <= 6, s"$dots vec_dot nodes in sim_pq_topk — full-vector scoring is back")
  }

  test("text_inverted_index builds from ONE token subtree (no stats/heads split)") {
    // the first draft computed the scan→explode→tf aggregate twice (once
    // for df/cf, once for the posting heads) — the minhash double-compute
    // shape. Fused: exactly one Generate (explode) in the whole plan, and
    // one partial+final tf HashAggregate pair.
    val p = plan("text_inverted_index")
    val generates = p.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.length == 1,
      s"${generates.length} Generate nodes — the token explode subtree is duplicated")
  }

  test("text_bm25_search is shuffle-free: stats broadcast + TakeOrdered, no exchange") {
    val p = plan("text_bm25_search")
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only legal exchange is the 1-row stats aggregate's
    // SinglePartition gather; the document side must never shuffle
    assert(exchanges.length <= 1,
      s"${exchanges.length} shuffle exchanges in BM25 — the doc scan is being shuffled")
    assert(p.toString.contains("TakeOrderedAndProject"),
      "top-k no longer compiles to TakeOrderedAndProject")
  }

  test("q_merge_upsert joins on the aggregation partitioning (no re-shuffle)") {
    // both sides pre-aggregate per customer; the full-outer SMJ must
    // consume those exchanges directly: 2 aggregate exchanges + 1
    // presentation sort range exchange = 3 total, none between agg and join
    val p = plan("q_merge_upsert")
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 3,
      s"${exchanges.length} exchanges — the merge join no longer reuses the groupBy partitioning")
    assert(p.collect { case j: SortMergeJoinExec if j.joinType.toString == "FullOuter" => j }.nonEmpty,
      "MERGE semantics lost the full-outer join shape")
  }

  test("dedup_embedding_blocked keeps the tiled fused-pair shape") {
    // the 100× experiment's defects 4+5: without tiling, one mega-block's
    // Σ m² pairs run in a single task; without the fused expression each
    // candidate pays an interpreted lambda walk. Both must stay in the
    // plan: the cell repartition exchange and cell_pairs_cosine.
    val txt = plan("dedup_embedding_blocked").toString
    assert(txt.contains("cell_pairs_cosine"),
      "pair expansion no longer goes through the fused cell_pairs_cosine expression")
    assert(txt.contains("hashpartitioning(c_id"),
      "tile cells are no longer repartitioned — a mega-block runs in one task again")
  }

  test("dedup_semantic keeps the tiled kernel; the decision join is keyed, never cartesian") {
    // same tiling contract as the blocked dedup (one mega-cluster must
    // never run its quadratic step in a single task). The keep-decision
    // join is left to AQE on purpose — dropped ids are usually tiny but
    // are corpus-scale under a loose τ, so a forced broadcast hint would
    // be the pqRescoreOver mistake (round-5 advice) — but it must stay
    // an equi-join on vec_id.
    val p = plan("dedup_semantic")
    val txt = p.toString
    assert(txt.contains("cell_pairs_cosine"),
      "within-cluster pair test no longer goes through the fused kernel")
    assert(txt.contains("hashpartitioning(c_id"),
      "tile cells are no longer repartitioned — a mega-cluster runs in one task")
    // (the 1-row centroid-array broadcast is a deliberate nested-loop
    // cross join; what must never appear is a shuffled cartesian)
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "the keep-decision join degenerated to a cartesian product")
  }

  test("dedup_semantic_pctl rank-threshold head: no global sort/limit merge point") {
    // the round-10/11 scale-killer: the head was orderBy(score desc,
    // vec_id).limit(K) — K (~1% of the corpus) rows through ONE
    // TakeOrdered merge, with k.toInt overflowing past 2^31. The rank
    // form derives a cutoff from the aggregated score distribution and
    // the head is a filter: the returned plan must contain NO
    // TakeOrderedAndProject and NO global limit anywhere. (The default
    // small-K form keeps TakeOrdered on purpose — cheapest at small K.)
    val df = graft.ops.Dedup.dedupSemanticPercentile(spark, sf0001,
      headTakeOrderedMax = 0L)
    val txt = df.queryExecution.sparkPlan.toString
    assert(!txt.contains("TakeOrderedAndProject"),
      "rank-threshold head regressed to a global TakeOrdered merge")
    assert(!txt.contains("GlobalLimit") && !txt.contains("CollectLimit"),
      "rank-threshold head regressed to a global limit")
    // sanity: the filter form drops exactly what the TakeOrdered form does
    def drops(d: DataFrame): Long =
      d.filter(org.apache.spark.sql.functions.col("kept") === 0L).count()
    val dRank = drops(df)
    val dTake = drops(graft.ops.Dedup.dedupSemanticPercentile(spark, sf0001))
    assert(dRank == dTake, s"rank head dropped $dRank, TakeOrdered $dTake")
    graft.ops.Artifacts.invalidate(spark, s"$sf0001|semantic_pctl_scores")
  }

  test("curate_split_leakage joins pairs-sized clusters broadcast-side onto a 1-column scan") {
    val p = plan("curate_split_leakage")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, "the cluster join lost its broadcast shape — a corpus shuffle at scale")
    val scans = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("documents") => f
    }
    assert(scans.nonEmpty && scans.exists(_.schema.fieldNames.sameElements(Array("doc_id"))),
      "the documents scan reads more than doc_id — column pruning lost")
  }

  test("sim_lsh_ann_auto scores through tiled cells, never a candidate-pair join") {
    val txt = plan("sim_lsh_ann_auto").toString
    assert(txt.contains("cell_topk_pairs"),
      "bucket scoring no longer goes through the fused cell_topk_pairs path — " +
        "dense pockets flood a candidate-pair shuffle again (round-4 defect 6)")
    assert(txt.contains("hashpartitioning(tbl"),
      "tile cells are no longer repartitioned — a dense bucket runs in one task")
  }

  test("sim_lsh_ann_served hashes ONLY the query side; members come from the persisted index") {
    // the point of the persisted index: the corpus is never re-hashed at
    // serve time. The serve plan must hash the (tiny) query frame once —
    // exactly ONE lsh_projections subtree — and read bucket membership
    // from the index parquet. An in-session shape leaking in would show a
    // second projection subtree feeding the member side.
    val txt = plan("sim_lsh_ann_served").toString
    val hashes = "lsh_projections".r.findAllIn(txt).length
    assert(hashes == 1,
      s"$hashes lsh_projections subtrees in the serve plan — corpus re-hashed at serve time")
    assert(txt.contains("cell_topk_pairs"),
      "serving no longer scores through the tiled fused kernel")
  }

  test("ivfIndexServe pushProbedCells pushes the probed c_id set into the list scan") {
    // the point-lookup serve shape (round 8): the probed-cell set is
    // collected and must reach the LIST table's parquet scan as a
    // pushed In(c_id, ...) — which row-group-skips after the compact's
    // c_id sort. The default (big-batch) serve keeps the full scan.
    val tmp = java.nio.file.Files.createTempDirectory("pgs-ivf-push").toString
    graft.Tables(spark, sf0001, "embeddings")
      .write.mode("overwrite").parquet(s"$tmp/c/embeddings.parquet")
    graft.ops.AnnIndex.ivfIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    val queries = graft.Tables(spark, sf0001, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") === 1)
      .select(org.apache.spark.sql.functions.col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val pushed = graft.ops.AnnIndex.ivfIndexServe(spark, s"$tmp/idx", Seq(s"$tmp/c"),
        queries, pushProbedCells = true)
      .queryExecution.executedPlan.toString
    assert(pushed.contains("In(c_id") || pushed.contains("EqualTo(c_id"),
      "probed-cell predicate did not reach the list scan's PushedFilters")
    graft.ops.Artifacts.invalidate(spark, s"$tmp/idx|")
    val full = graft.ops.AnnIndex.ivfIndexServe(spark, s"$tmp/idx", Seq(s"$tmp/c"), queries)
      .queryExecution.executedPlan.toString
    assert(!full.contains("In(c_id"), "default serve unexpectedly filters the list scan")
  }

  test("text_bm25_served reads ONLY the query terms' postings (pushed filter, no tokenize)") {
    // the point of the persisted text index: serving never re-tokenizes
    // the corpus — the term IN (...) predicate reaches the postings
    // parquet scan, and no tokenizer appears anywhere in the plan
    val txt = q("text_bm25_served").queryExecution.executedPlan.toString
    assert(txt.contains("PushedFilters") && txt.contains("In(term"),
      "query-term filter not pushed into the postings scan")
    assert(!txt.contains("split("),
      "serving plan tokenizes text — the corpus is being re-scanned at query time")
  }

  test("text_phrase_served reads ONLY the query terms' positional postings") {
    // same serving contract as BM25: the In(term) predicate reaches the
    // postings scan; the corpus is never re-tokenized at query time
    val txt = q("text_phrase_served").queryExecution.executedPlan.toString
    assert(txt.contains("PushedFilters") && txt.contains("In(term"),
      "query-term filter not pushed into the positional postings scan")
    assert(!txt.contains("split("),
      "phrase serving tokenizes text — the corpus is being re-scanned at query time")
  }

  test("text_pii_scrub is shuffle-free codegen: one scan, no hash exchange") {
    val txt = plan("text_pii_scrub").toString
    assert("Exchange hashpartitioning".r.findAllIn(txt).isEmpty,
      "PII scrub grew a shuffle — it must stay a pure projection")
    assert("FileScan".r.findAllIn(txt).length == 1, "documents scanned more than once")
  }

  test("text_boilerplate tokenizes the corpus exactly once (df via window, no re-scan)") {
    // the df-aggregate-then-join-back alternative re-expands the
    // tokenize+explode subtree — this pins the single-pass shape
    val txt = plan("text_boilerplate").toString
    assert("FileScan".r.findAllIn(txt).length == 1,
      "documents scanned more than once — the gram subtree is duplicated")
  }

  test("text_entropy is one two-level aggregate chain: corpus scanned once") {
    val txt = plan("text_entropy").toString
    assert("FileScan".r.findAllIn(txt).length == 1,
      "documents scanned more than once — the entropy normalizer re-expanded the subtree")
  }

  test("text_unigram_lm tokenizes once at runtime (AQE reuses the tfc exchange)") {
    // pre-AQE the shared (doc, term)-count subtree appears under all
    // three consumers (join input, cf, total); at runtime AQE must
    // collapse them onto one exchange or the corpus is tokenized 3x
    val df = q("text_unigram_lm")
    df.collect()
    val txt = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("ReusedExchange".r.findAllIn(txt).length >= 2,
      "tfc exchange not reused — corpus tokenized more than once at runtime")
    assert("Scan parquet".r.findAllIn(txt).length == 1,
      "final plan scans documents more than once")
  }

  /** Count LIVE FileSource scans in the runtime plan: recurse through
    * AQE wrappers and query stages, but NOT into cached relations (the
    * plan PRINTED inside an InMemoryRelation is lineage, not work) or
    * reused-exchange references (already counted at their source). */
  private def liveScans(p: SparkPlan): Int = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      liveScans(a.executedPlan)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => liveScans(qs.plan)
    case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 0
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0
    case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
    case other => other.children.map(liveScans).sum
  }

  /** Key-column names of every hash-partitioned shuffle exchange in the
    * runtime plan, one Seq per exchange: recurses through AQE wrappers
    * (final AND initial plan), query stages, subqueries and the plans
    * inside cached relations; a reused exchange is counted at its
    * source. */
  private def hashExchangeKeys(p: SparkPlan): Seq[Seq[String]] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      hashExchangeKeys(a.executedPlan) ++ hashExchangeKeys(a.initialPlan)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => hashExchangeKeys(qs.plan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      hashExchangeKeys(m.relation.cachedPlan)
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      val here = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          Seq(h.expressions.flatMap(_.references.map(_.name)))
        case _ => Nil
      }
      here ++ e.children.flatMap(hashExchangeKeys)
    case other => (other.children ++ other.subqueries).flatMap(hashExchangeKeys)
  }

  test("text_bpe_encode serves from the doc-counts memo; no forced broadcast") {
    // the r13 review fix: explode_outer folds the zero-token docs into
    // ONE corpus scan (inside the memoized counts) instead of a second
    // documents read + re-join; the memo then serves every consumer
    val df = q("text_bpe_encode")
    df.collect() // materializes the memoized encoded vocabulary
    val txt = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("InMemoryTableScan".r.findAllIn(txt).nonEmpty,
      "encoded vocabulary not served from the Artifacts memo")
    assert(liveScans(df.queryExecution.executedPlan) == 0,
      "corpus re-scanned — the per-doc counts must come from the bpe_doc_counts memo")
    // the vocabulary grows with the corpus: the join strategy must come
    // from stats/AQE, never a hint baked into the plan
    assert(!df.queryExecution.logical.toString.contains("UnresolvedHint") &&
      !df.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      "encode join carries a broadcast hint on the growing vocabulary")
  }

  test("curate_pack_bpe consumes the memoized doc counts twice, scans the corpus never") {
    // the prefix scan reads its base TWICE (bucket totals + join-back);
    // without the bpe_doc_counts memo each copy re-ran the corpus
    // explode + vocabulary join
    val df = q("curate_pack_bpe")
    df.collect()
    val txt = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("InMemoryTableScan".r.findAllIn(txt).length >= 2,
      "prefix-scan copies not served from the doc-counts memo")
    assert(liveScans(df.queryExecution.executedPlan) == 0,
      "packing twin re-reads documents — both copies must come from the memo")
  }

  test("text_bigram_lm: exactly the two designed corpus passes (pairs + unigram back-off)") {
    val df = q("text_bigram_lm")
    df.collect()
    assert(liveScans(df.queryExecution.executedPlan) <= 2,
      "bigram LM scans documents more than its two designed passes")
    // round 17: per-(doc, v, w) pair counts come out of the fused
    // row-local token_pair_counts expression — the former corpus-sized
    // groupBy(doc_id, v, w) / groupBy(doc_id, term) exchanges (which
    // grouped rows that were never apart) must stay gone; the only
    // doc_id exchanges left are the gated scan spread and the final
    // per-doc scoring aggregation
    val txt = df.queryExecution.executedPlan.toString
    assert(txt.contains("token_pair_counts"),
      "bigram pair generation no longer uses the fused row-local expression")
    val keys = hashExchangeKeys(df.queryExecution.executedPlan)
    assert(keys.exists(_.contains("doc_id")),
      s"the walk found no doc_id exchange at all — it has lost track of the plan: $keys")
    assert(!keys.exists(k => k.contains("doc_id") && k.contains("v")),
      s"a corpus-sized (doc_id, v, w) exchange crept back into the bigram LM: $keys")
  }

  test("dedup_shared_spans hashes the corpus once (grouped-frame exchange reused)") {
    // the (doc_id, h) grouped subtree feeds BOTH the span-frequency
    // aggregate and the join-back; the explicit isNotNull(doc_id) in the
    // operator keeps the two copies canonically identical so AQE
    // collapses them onto one exchange — without it the left-outer
    // join's inferred constraint lands in one branch only and the text
    // is tokenized+hashed twice (observed before the fix)
    val df = q("dedup_shared_spans")
    df.collect()
    val txt = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("ReusedExchange".r.findAllIn(txt).length >= 1,
      "grouped-frame exchange not reused — corpus hashed more than once at runtime")
    assert("word_shingle_hashes".r.findAllIn(txt).length == 1,
      "span hashing appears in more than one scan branch")
  }

  test("dedup_span_rewrite tokenizes once (window df, no frequency join-back)") {
    // the REWRITE's document frequency is a count WINDOW over h on the
    // single grouped positional frame — no second aggregate, no
    // join-back, so the positional hashing expression must appear in
    // exactly one branch of the runtime plan (the shared-spans reuse
    // trick does not survive column pruning here; the window shape
    // needs no reuse at all)
    val df = q("dedup_span_rewrite")
    df.collect()
    val txt = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("word_shingle_hashes_pos".r.findAllIn(txt).length == 1,
      "positional span hashing appears in more than one scan branch")
  }

  test("curate_source_mix: grand total over the grouped frame, corpus scanned once") {
    val txt = plan("curate_source_mix").toString
    assert("FileScan".r.findAllIn(txt).length == 1,
      "documents scanned more than once — the total re-expanded the aggregate subtree")
  }

  test("q_corr_stats moments combine map-side (partial_corr before the exchange)") {
    val txt = plan("q_corr_stats").toString
    assert(txt.contains("partial_corr"),
      "corr is not map-side combined — moments shuffled as raw rows")
  }

  test("q_skew_join stays a sort-merge join (the shape AQE skew-split requires)") {
    val p = plan("q_skew_join")
    assert(p.collect { case j: SortMergeJoinExec => j }.nonEmpty,
      "merge hint lost — broadcast would disable the runtime skew-split demo")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      "part side broadcast — the skewed shuffle partition never forms")
  }

  test("curate_shuffle is one range-sort per epoch set: no window, no global row-number") {
    // the shuffle op's whole claim is "global reorder = ONE balanced
    // total sort on a hash key" — a Window/row_number formulation would
    // funnel the corpus through one task. Exchanges land in the
    // prepared plan, so assert there.
    val txt = q("curate_shuffle").queryExecution.executedPlan.toString
    assert(txt.contains("rangepartitioning(epoch"),
      "shuffle order is not a range-partitioned total sort")
    assert(!txt.contains("Window"),
      "a window crept into the shuffle — global row-numbering funnels one task")
  }

  test("search_hybrid_rrf_served serves ARTIFACT reads — one query-slice text scan, " +
      "distributed rank relations, no driver-collected snapshot") {
    // round 17 (re-targeted per the r16 verdict, items 1–3): the
    // honest served-hybrid plan reads the PERSISTED index artifacts —
    // postings/doclen parquet on the lexical side, the LSH bucket
    // table on the semantic side — plus exactly ONE corpus text scan,
    // the query-term slice (queries are corpus-defined; candidates are
    // never re-tokenized). The rank relations are DISTRIBUTED cached
    // frames (InMemoryTableScan), never a LocalTableScan: the r16
    // driver-collected rank snapshot grew with the corpus (~corpus/5
    // rows on the driver) and made the steady-state plan an empty
    // memo read. The scan-form twin must keep COMPUTING: several
    // corpus text scans (tokenize + postings derivation), not a cache
    // read.
    // counted on the plan tree, not its text: a cached relation that is
    // already materialised renders its scans twice (AQE final + initial)
    def textScans(p: SparkPlan): Int = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        textScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => textScans(qs.plan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        textScans(m.relation.cachedPlan)
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.requiredSchema.catalogString == "struct<doc_id:bigint,text:string>") 1 else 0
      case other => (other.children ++ other.subqueries).map(textScans).sum
    }
    def textScansOf(name: String): Int = textScans(q(name).queryExecution.executedPlan)
    val servedTxt = q("search_hybrid_rrf_served").queryExecution.executedPlan.toString
    assert(textScansOf("search_hybrid_rrf_served") == 1,
      "served hybrid must read corpus text exactly once (the query-term slice)")
    assert(!servedTxt.contains("LocalTableScan"),
      "served hybrid fuses a driver-collected local relation — ranks must stay distributed")
    assert(servedTxt.contains("InMemoryTableScan"),
      "served hybrid no longer fuses the memoized distributed rank relations")
    assert(servedTxt.contains("term") && servedTxt.contains("tf"),
      "served hybrid lost the persisted-postings artifact read")
    assert(textScansOf("search_hybrid_rrf") >= 2,
      "scan-form hybrid no longer computes its lexical ranks from the corpus")
  }

  test("maxscore floor + contender filter share ONE cheap-postings computation") {
    // r10 What's wrong #4: the cheap e-scores were evaluated twice —
    // once for the top-k floor collect, once for the contender filter.
    // maxScoreCandFrame now folds both into one frame whose shared
    // aggregation exchange AQE collapses at runtime (the text_unigram_lm
    // shape), and maxScoreContenders drains it in ONE action.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("guard-maxscore").toString
    (1L to 40L).map(i => (i,
        (if (i <= 38) "spark " else "") + (if (i % 2 == 0) "join " else "") +
          (if (i % 3 == 0) "vector " else "") + s"w$i x$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    graft.ops.TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    val cheap = Seq("join", "vector")
    val idfOf = cheap.map(_ -> 1.0).toMap
    val df = graft.ops.TextAnalysis.maxScoreCandFrame(spark, s"$tmp/idx",
      cheap, idfOf, 5.0, 0.1)
    df.collect()
    val txt = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("ReusedExchange".r.findAllIn(txt).length >= 1,
      "e-score exchange not reused — cheap postings computed twice at runtime")
    val postingsScans = txt.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("postings"))
    assert(postingsScans == 1,
      s"$postingsScans postings scans in the final plan — the e-score subtree is duplicated")
  }

  test("bounded BM25 serve: the banned term is absent from the pushed postings filter") {
    // the df-share cut's whole point: the mega-posting term must not
    // appear in the scan predicate at all — its posting list is pruned
    // at the row-group level, not read-then-filtered
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("guard-bounded").toString
    (1L to 40L).map(i => (i,
        "spark " + (if (i % 5 == 0) "join " else "") + s"w$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    graft.ops.TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    val txt = graft.ops.TextAnalysis.textBm25Served(spark, s"$tmp/idx",
        maxDfShare = Some(graft.ops.TextAnalysis.bm25MaxDfShare))
      .queryExecution.executedPlan.toString
    val pushed = txt.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("In(term"), "bounded serve lost the pushed term filter")
    assert(!pushed.contains("spark"),
      "the banned mega-posting term reached the postings scan predicate")
    assert(pushed.contains("join"),
      "a surviving sparse term is missing from the pushed filter")
  }

  test("decontaminate_report shuffles narrow shingle hashes, never text") {
    // after the shingle explode, every exchange carries (id, h) rows;
    // text reaching an exchange would ship the corpus through the join
    val txt = q("decontaminate_report").queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(txt).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, "report lost its equi-join shape")
    assert(!exchanges.exists(_.contains("text")),
      s"an exchange carries document text: $exchanges")
  }
}
