package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns

/** Hybrid retrieval: reciprocal-rank fusion (RRF) of a lexical BM25
  * ranking and a semantic ANN ranking over the SAME document corpus —
  * the standard two-tower retrieval shape a training-data pipeline uses
  * to surface candidate documents ("find docs that either mention the
  * query terms or live near the query embedding"). The testdata's
  * `documents.doc_id` and `embeddings.vec_id` share an id space, which
  * is exactly the deployment layout (one embedding row per document).
  *
  * RRF (Cormack et al.'s rank-fusion rule): score(q, d) = Σ_lists
  * 1/(k + rank_list(q, d)), with k = [[rrfK]] damping the head and
  * absent docs contributing 0. Rank-based fusion needs NO score
  * calibration between the BM25 log-scale and the cosine scale — which
  * is why it is the default fusion in production hybrid search.
  *
  * The whole path is QUERY-SET shaped (a generalization of the single
  * hardcoded query): every stride doc is a hybrid query — its
  * embedding probes the persisted LSH index, and its first
  * [[hybridQueryTerms]] distinct tokens form its lexical query. Scale
  * shape: the semantic side scores only the query set's probed buckets
  * (the [[AnnIndex.lshIndexServe]] path); the lexical side is ONE
  * (term) equi-join of the per-query term table (queries × 3 rows —
  * broadcast) against the per-doc term frequencies (the inverted-index
  * relation — in production the persisted postings, here built in one
  * token-explode pass), then a per-(query, doc) pivot to FIXED term
  * slots so the score sum has a deterministic order. Fusion joins two
  * rank frames of ≤topK rows per query on (q_id, doc_id). No stage
  * touches corpus × queries pairs outside the term/bucket joins. */
object Retrieval {

  /** RRF damping constant (the conventional value from the TREC fusion
    * literature — small enough to prefer agreement over single-list
    * rank-1 hits). */
  val rrfK = 60

  /** Lexical terms drawn per hybrid query: the query doc's first
    * distinct tokens, a deterministic, oracle-able stand-in for a user
    * query string. */
  val hybridQueryTerms = 3

  val hybridTopK = 10

  /** Per-query lexical term slots: (q_id, pos 1..[[hybridQueryTerms]],
    * qt) — first-occurrence-distinct tokens of each stride query doc. */
  private def hybridQueryTermsOf(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") % Similarity.queryStride === 0)
      .select(col("doc_id").as("q_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("q_id"), posexplode(slice(
        filter(col("toks"), (t, i) => array_position(col("toks"), t) === i + 1),
        1, hybridQueryTerms)).as(Seq("pos0", "qt")))
      .select(col("q_id"), (col("pos0") + 1).cast("long").as("pos"), col("qt"))

  /** Per-(query, doc) BM25 over the query-set term table — the grouped
    * generalization of [[TextAnalysis.textBm25Search]]'s fixed query:
    * same k1/b, same 6-decimal score quantization, score summed over
    * the FIXED pos slots so both engines evaluate the identical double
    * expression order. Returns (q_id, doc_id, lex_rk ≤ bm25TopK). */
  private def lexRanks(s: SparkSession, dir: String): DataFrame = {
    val postings = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    lexRanksOver(s, dir, postings)
  }

  /** The lexical tail over an arbitrary (doc_id, term, tf) relation —
    * shared by the in-session scan and the persisted-postings serve.
    * By default everything downstream derives from the posting rows
    * alone: dl is the per-doc tf sum (≡ token count — tokenize runs
    * ONCE, and the served form never tokenizes at all), df/n_docs/avgdl
    * follow from the same grouped frame. The SERVED form passes
    * `doclenStats` (the persisted doc-values table + its statistics,
    * [[TextAnalysis.textIndexDoclenStats]]) instead: identical longs by
    * the index writer's construction, one narrow table scan instead of
    * a corpus-wide posting aggregation, and — decisively — the SAME
    * sources its MaxScore form prices its bounds against. */
  private[graft] def lexRanksOver(s: SparkSession, dir: String, postings: DataFrame,
      bannedTerms: Seq[String] = Seq.empty,
      doclenStats: Option[(DataFrame, DataFrame => DataFrame)] = None): DataFrame = {
    // dl/avgdl/df are WHOLE-CORPUS statistics and never shrink under
    // the df-share bound — only the scoring join excludes the banned
    // head, so a stopword slot contributes 0 without re-shaping every
    // other term's score (frozen-statistics serving, as in the bounded
    // BM25 form)
    val doclen = doclenStats.fold(
      postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))(_._1)
    val dfr = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withStats = doclenStats.fold(TextAnalysis.withLiveStats(doclen) _)(_._2)
    val scoring =
      if (bannedTerms.isEmpty) postings
      else postings.filter(!col("term").isin(bannedTerms: _*))
    val pivots = slotPivots("", "df")
    val piv = hybridQueryTermsOf(s, dir)
      .join(scoring, col("qt") === col("term"))
      .join(dfr, "term")
      .groupBy(col("q_id"), col("doc_id"))
      .agg(pivots.head, pivots.tail: _*)
    lexTopK(withStats(piv.join(doclen, "doc_id")), i => col(s"tf_$i"), i => col(s"df_$i"))
  }

  /** Per-query lexical ranks (q_id, doc_id, lex_rk ≤ bm25TopK) of
    * scored rows: the 6-decimal [[slotScore]], ties broken by doc_id. */
  private def lexTopK(scored: DataFrame, tf: Int => Column, df: Int => Column): DataFrame =
    scored.withColumn("score", round(slotScore(tf, df), 6))
      .withColumn("lex_rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("lex_rk") <= TextAnalysis.bm25TopK)
      .select(col("q_id"), col("doc_id"), col("lex_rk"))

  /** Per-slot pivot aggregates over (pos, tf, `dfCol`) rows:
    * `<prefix>tf_i` sums the slot's tf, `<prefix>df_i` carries its df. */
  private def slotPivots(prefix: String, dfCol: String): Seq[Column] =
    (1 to hybridQueryTerms).flatMap { i =>
      Seq(sum(when(col("pos") === i, col("tf"))).as(s"${prefix}tf_$i"),
        max(when(col("pos") === i, col(dfCol))).as(s"${prefix}df_$i"))
    }

  /** The fixed-slot lexical score: the slots' BM25 contributions
    * ([[TextAnalysis.bm25Contrib]]) summed in slot order, an absent slot
    * contributing 0 — one expression for every hybrid scorer. */
  private def slotScore(tf: Int => Column, df: Int => Column): Column =
    (1 to hybridQueryTerms).map(i =>
      coalesce(TextAnalysis.bm25Contrib(tf(i), df(i)), lit(0.0))).reduce(_ + _)

  /** Fused ranking over the stride query set: q_id, per-query fused
    * rank, doc_id, the two per-list ranks (null when the doc is absent
    * from that list), and the RRF score. Exact over both input
    * rankings, so it carries a full DuckDB oracle composed from the LSH
    * oracle CTE chain and the grouped-BM25 restatement. The SCAN form
    * computes its lexical ranks per call: a per-session result memo
    * would make every bench rep after the first measure a cache read
    * instead of the declared tokenize + pivot + rank computation; the
    * serving-shaped memo lives only on the `_served` twins, whose
    * declared computation IS an artifact read. */
  def searchHybridRrf(s: SparkSession, dir: String): DataFrame =
    fuse(s, dir, lexRanks(s, dir))

  /** The semantic ranks every hybrid form fuses — the stride query set
    * probed against the persisted LSH index, per-query-top-k bounded.
    * Memoized per INDEX GENERATION as a DISTRIBUTED cached frame
    * ([[Artifacts.frameAtGeneration]]): the ranks are a pure function
    * of the frozen bucket table + corpus query set, shared by every
    * registered hybrid form (the bucket-scoring kernel is the family's
    * most expensive stage); any append/compact/retrain of the index
    * moves the generation and the next serve re-derives. The rank rows
    * stay on the EXECUTORS — queries × topK ≈ corpus/5 rows never
    * reach the driver. */
  private def semRanks(s: SparkSession, dir: String): DataFrame = {
    val idxDir = AnnIndex.lshIndexFor(s, dir)
    Artifacts.frameAtGeneration(s, IndexMaintenance.snapshot(s, idxDir), s"hybrid-sem-ranks|$dir") {
      AnnIndex.lshIndexServe(s, idxDir, Seq(dir),
          Similarity.normed(s, dir)
            .filter(col("vec_id") % Similarity.queryStride === 0)
            .select(col("vec_id").as("q_id"), col("embedding")))
        .select(col("q_id"), col("cand_id").as("doc_id"), col("rk").as("sem_rk"))
    }
  }

  /** SERVED hybrid retrieval: the lexical side reads the PERSISTED
    * posting table (the shared text-index memo) instead of
    * re-tokenizing the corpus; tombstoned docs are filtered like every
    * index read. The posting rows are the identical (doc_id, term, tf)
    * integers the scan derives, so the unbounded form shares the scan
    * form's oracle and is byte-identical to it (pinned in
    * `OperatorSpec`).
    *
    * `bound` picks the lexical read:
    *  - [[TextAnalysis.Bound.DfShare]]: the query terms are per-query
    *    slots, so the banned head (resolved once) is an anti-filter on
    *    the scoring postings — a stopword slot contributes 0 instead of
    *    dragging an O(corpus) posting list through the pivot join. The
    *    result carries per-slot `act_i` flags (0 = banned) from that
    *    same head, which the oracle recomputes from corpus statistics.
    *  - [[TextAnalysis.Bound.MaxScore]]: per-query MaxScore
    *    ([[hybridMaxScoreLex]]), result-identical to the unbounded serve
    *    (every uncertain query falls back individually), so it shares
    *    that oracle. Its `minMegaRows` is not read.
    *
    * The serve takes ONE index snapshot and every read below — the job
    * label, the banned head, the MaxScore decision, the doc-length
    * statistics and the postings scan — reads that snapshot, so a
    * commit landing mid-construction cannot pair one dictionary's
    * banned list with another's `is_mega` slots. The lex ranks are
    * memoized per index generation, materialised inside the build
    * ([[Artifacts.frameAtGeneration]]), so a returned frame holds the
    * index state it was built at however late it is consumed; any
    * append/compact/delete moves the generation (pinned in
    * `BoundedServeSpec`). */
  def searchHybridRrfServed(s: SparkSession, dir: String,
      bound: TextAnalysis.Bound = TextAnalysis.Bound.Unbounded): DataFrame = {
    import TextAnalysis.Bound
    val snap = IndexMaintenance.snapshot(s, TextAnalysis.textIndexFor(s, dir))
    def servedLex(banned: Seq[String]): DataFrame =
      Artifacts.frameAtGeneration(s, snap,
          s"hybrid-lex-served|${banned.sorted.mkString("\u0001")}|$dir") {
        val postings = snap.scan(s, "postings", "doc_id")
          .select(col("doc_id"), col("term"), col("tf"))
        lexRanksOver(s, dir, postings, banned,
          doclenStats = Some(TextAnalysis.textIndexDoclenStats(s, snap)))
      }
    val label = TextAnalysis.serveLabel("search_hybrid_rrf_served", bound, snap)
    IndexMaintenance.labeledJob(s, label) {
      bound match {
        case Bound.Unbounded => fuse(s, dir, servedLex(Nil))
        case Bound.MaxScore(share, _) =>
          Artifacts.frameOptAtGeneration(s, snap, s"hybrid-maxscore-lex|$share|$dir")(
            hybridMaxScoreLex(s, dir, snap, share).map(_._1)) match {
            case None => fuse(s, dir, servedLex(Nil))
            case Some(lex) => fuse(s, dir, lex)
          }
        case Bound.DfShare(share) =>
          val banned = TextAnalysis.bannedTerms(s, snap, share)
          val actCols = (1 to hybridQueryTerms).map { i =>
            max(when(col("pos") === i,
              when(if (banned.isEmpty) lit(false) else col("qt").isin(banned: _*), 0L)
                .otherwise(1L))).as(s"act_$i")
          }
          val acts = hybridQueryTermsOf(s, dir)
            .groupBy(col("q_id")).agg(actCols.head, actCols.tail: _*)
          // gated, not forced: acts grows with the query set
          // (corpus/queryStride rows), so past the threshold the
          // planner/AQE decide
          fuse(s, dir, servedLex(banned))
            .join(JoinHints.broadcastIfSmall(acts, 1.0 / Similarity.queryStride),
              Seq("q_id"), "left")
            .select(col("q_id") +: col("rk") +: col("doc_id") +: col("lex_rk") +:
              col("sem_rk") +: col("rrf") +:
              (1 to hybridQueryTerms).map(i => coalesce(col(s"act_$i"), lit(1L)).as(s"act_$i")): _*)
            .orderBy(col("q_id"), col("rk"))
      }
    }
  }

  /** One 6-decimal rounding quantum — see
    * [[TextAnalysis.maxScoreRoundEps]] (the one definition both
    * MaxScore forms slacken their cuts by). */
  private def roundEps = TextAnalysis.maxScoreRoundEps

  /** MaxScore for the hybrid's DYNAMIC per-query term slots — the
    * generalization of [[TextAnalysis.maxScoreContenders]] from the one
    * fixed query to a query SET, decided PER QUERY and entirely
    * in-plan (no driver collect grows with the query count, which is
    * corpus/queryStride here — the constraint the fixed-query form's
    * collected contender list cannot meet):
    *
    *  1. each query's slots split at the df-share cut against the term
    *     dictionary: CHEAP slots vs MEGA slots (the global banned head,
    *     collected once — Zipf-bounded);
    *  2. the cheap pass scores every (query, doc) pair over the cheap
    *     slots only — the postings scan EXCLUDES the banned head, so
    *     the mega lists never enter the pivot join — and seats a
    *     per-query floor (k-th best cheap underestimate);
    *  3. per query, one of three modes: PURE (no mega slot — the cheap
    *     scores already are the exact scores), PRUNED (Σ ub(mega
    *     slots) < floor − ε: mega-only docs provably can't reach the
    *     top k; contenders are the cheap candidates within ub of the
    *     floor), FALLBACK (bound inconclusive or the cheap floor
    *     unseated: that one query keeps the unbounded semantics —
    *     exactness is never traded);
    *  4. mega tf re-reads are CONTENDER-BOUNDED: pruned queries join
    *     the mega postings on (term, doc_id) against their contender
    *     pairs, so the mega list's rows move once through one narrow
    *     equi-join instead of exploding per query through the pivot
    *     (the unbounded form's Q × |posting| candidate stream);
    *  5. merged cheap+mega slot frequencies re-score through the
    *     IDENTICAL fixed-slot expression and ranking tail.
    *
    * SEGMENT MODEL (the fixed-query model, per query): an appended
    * tail does not force the unbounded serve. The dictionary exactly describes the COMPACTED segment; the tail's
    * query-term df lands as an in-plan per-term count joined onto the
    * slots (live df = dict + tail, equal to the posting-row count the
    * unbounded serve derives), dl/n_docs/avgdl come from the SAME
    * [[TextAnalysis.textIndexDoclenStats]] frames the unbounded serve
    * scores with (the frozen statistics facts when provably equal, the
    * live doclen aggregate under a tail), and every tail doc matching a
    * mega term joins its query's contenders BY INCLUSION (tail docs
    * have no dictionary bound). Dictionary `ub` bounds BASE docs only,
    * and — unlike the fixed-query serve, whose frozen-stats scoring
    * keeps idf monotone in df — the hybrid scores with LIVE n_docs,
    * which can RAISE idf past the frozen value when the tail grows the
    * corpus faster than the term: each mega slot's bound is therefore
    * rescaled by max(1, idf_live/idf_frozen) (maxTf is frozen — a base
    * posting's tf cannot exceed the dictionary-time max — so the idf
    * factor is the only live correction; the ratio is 1.0 exactly on a
    * tail-less index, and the ±1-ulp division noise sits 9 orders
    * under the ε the cut is already slackened by).
    *
    * TOMBSTONES (as in the fixed-query form): pending
    * takedowns do not force the unbounded serve either. Every
    * posting read here is tombstone-masked (free when none pending),
    * the shared doclen source already masks, and the per-slot
    * live df switches from dictionary+tail arithmetic to ONE masked
    * per-term posting count — the same relation the unbounded serve's
    * dfr aggregates, so equality holds by shared source. That count
    * scans the masked postings once (the sequenced mask cannot be
    * priced per-term from the dictionary), which the unbounded serve
    * pays anyway — the savings that remain are the ones that matter:
    * no corpus-wide pivot/window ever sees the mega rows. The ub
    * rescale stays sound under deletes: maxTf only shrinks, the
    * frozen bound's dl→0 limit is avgdl-free, and max(1, ratio)
    * absorbs idf moving in either direction.
    *
    * Returns None — caller serves unbounded — when the dictionary
    * predates `ub` or no term crosses the df-share cut (nothing to
    * avoid).
    *
    * The Some payload is (lexRanks frame, per-query decision frame
    * (q_id, mode)) — the decisions feed the BoundedServeSpec
    * engagement and scan-row pins. Like the fixed-query form,
    * every read is of the caller's snapshot `snap` (tail file list,
    * banned head, dictionary, statistics, postings); the served form
    * memoizes the result materialised per index generation. */
  private[graft] def hybridMaxScoreLex(s: SparkSession, dir: String,
      snap: IndexMaintenance.Snapshot,
      maxDfShare: Double = TextAnalysis.bm25MaxDfShare): Option[(DataFrame, DataFrame)] = {
    val ts = snap.read(s, "termstats")
    val tombPending =
      snap.tombstonesOf("postings").nonEmpty || snap.tombstonesOf("doclen").nonEmpty
    val banned = scala.util.Try(
      TextAnalysis.bannedTerms(s, snap, maxDfShare)).getOrElse(return None)
    if (banned.isEmpty) return None // no mega posting to avoid
    val nDocsFrozen = TextAnalysis.corpusStats(snap)._1
    val k = TextAnalysis.bm25TopK.toLong
    val tail = snap.tail(s, "postings", "doc_id")
    // dl + live statistics — the exact sources the unbounded serve
    // scores with (consistency by shared source, not by precondition)
    val (doclen, withStats) = TextAnalysis.textIndexDoclenStats(s, snap)

    // per-query slots classified against the dictionary (terms absent
    // from the vocabulary: df 0, ub 0, cheap — they match nothing in
    // the base segment; tail rows still count into the live df).
    // is_mega stays a DICTIONARY-df decision — it must agree with the
    // banned list the cheap scan anti-filters on.
    val dictSlots = hybridQueryTermsOf(s, dir)
      .join(ts.select(col("term"), col("df"), col("ub")),
        col("qt") === col("term"), "left")
      .select(col("q_id"), col("pos"), col("qt"),
        coalesce(col("df"), lit(0L)).as("dict_df"),
        coalesce(col("ub"), lit(0.0)).as("ub"))
    val maskedPostings = snap.scan(s, "postings", "doc_id")
    val qslots = (if (tombPending) {
        // pending deletes: dict+tail arithmetic can't see which rows the
        // sequenced mask hides — join the masked per-term count instead
        // (the identical relation the unbounded dfr aggregates), semi-
        // join-pruned to the query slot terms first so the aggregation
        // sees ~|queries|×3 terms' rows, not the whole vocabulary
        val slotTerms = hybridQueryTermsOf(s, dir)
          .select(col("qt").as("term")).distinct()
        val liveDf = maskedPostings
          .join(slotTerms, Seq("term"), "left_semi")
          .groupBy(col("term").as("_tt")).agg(count(lit(1)).as("_live_df"))
        dictSlots.join(liveDf, col("qt") === col("_tt"), "left")
          .withColumn("df", coalesce(col("_live_df"), lit(0L)))
          .drop("_tt", "_live_df")
      } else if (tail.isEmpty) dictSlots.withColumn("df", col("dict_df"))
      else {
        val tailDf = tail.get
          .groupBy(col("term").as("_tt")).agg(count(lit(1)).as("_tail_df"))
        dictSlots.join(tailDf, col("qt") === col("_tt"), "left")
          .withColumn("df", col("dict_df") + coalesce(col("_tail_df"), lit(0L)))
          .drop("_tt", "_tail_df")
      })
      .withColumn("is_mega", col("dict_df").cast("double") >
        lit(maxDfShare) * lit(nDocsFrozen.toDouble))
    val ubMega = withStats(qslots)
      .withColumn("ub_adj", col("ub") * greatest(lit(1.0),
        TextAnalysis.bm25Idf(col("df"), col("n_docs").cast("double")) /
          TextAnalysis.bm25Idf(col("dict_df"), lit(nDocsFrozen.toDouble))))
      .groupBy(col("q_id")).agg(
        sum(when(col("is_mega"), col("ub_adj")).otherwise(lit(0.0))).as("ub_mega"),
        sum(when(col("is_mega"), 1L).otherwise(0L)).as("n_mega"))

    // the cheap pass: the banned head never enters the scan (the scan
    // spans base + tail files — tail cheap rows flow through the floor
    // like base rows — and is tombstone-masked: a deleted doc seating
    // the floor would push it too high, an unsound prune)
    val cheapPost = maskedPostings
      .filter(!col("term").isin(banned: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    val cpivots = slotPivots("c", "df")
    val cpiv = qslots.filter(!col("is_mega"))
      .join(cheapPost, col("qt") === col("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(cpivots.head, cpivots.tail: _*)
    // slotScore is the IDENTICAL expression the unbounded lexRanksOver
    // evaluates, over the identical live df and statistics columns, so
    // the merged re-score below is bit-for-bit the unbounded score
    val eScored = withStats(cpiv.join(doclen, "doc_id"))
      .withColumn("e", slotScore(i => col(s"ctf_$i"), i => col(s"cdf_$i")))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("e").desc, col("doc_id"))
    val floors = eScored
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= TextAnalysis.bm25TopK)
      .groupBy(col("q_id")).agg(min(col("e")).as("floor"), count(lit(1)).as("n_top"))

    // per-query mode — pure / pruned / fallback
    val qdec = ubMega.join(floors, Seq("q_id"), "left")
      .withColumn("mode",
        when(col("n_mega") === 0L, lit("pure"))
          .when(col("n_top") === lit(k) &&
            col("ub_mega") < col("floor") - lit(roundEps), lit("pruned"))
          .otherwise(lit("fallback")))
      .select(col("q_id"), col("mode"), col("ub_mega"), col("floor"))

    // tail docs matching a query's mega slot: contenders BY INCLUSION
    // (no dictionary bound covers them) — their cheap rows, if any,
    // already scored through eScored; this brings back the pairs the
    // floor filter would otherwise prune and the cheap-only pairs the
    // pivot never saw
    val megaSlots = qslots.filter(col("is_mega"))
      .select(col("q_id"), col("pos"), col("qt"), col("df").as("mdf"))
    val tailMegaPairs: Option[DataFrame] = tail.map(_
        .filter(col("term").isin(banned: _*))
        .select(col("term").as("qt"), col("doc_id"))
        .join(megaSlots.select(col("q_id"), col("qt")), "qt")
        .select(col("q_id"), col("doc_id")).distinct())

    // cheap-side final pairs: everything for pure/fallback queries,
    // floor-survivors (plus tail-mega inclusions) for pruned ones
    val cheapScored = eScored.join(qdec, "q_id")
    val cheapKept = tailMegaPairs.fold(
      cheapScored.filter(col("mode") =!= "pruned" ||
        col("e") + col("ub_mega") >= col("floor") - lit(roundEps))) { tm =>
      cheapScored.join(tm.withColumn("_tm", lit(true)), Seq("q_id", "doc_id"), "left")
        .filter(col("mode") =!= "pruned" ||
          col("e") + col("ub_mega") >= col("floor") - lit(roundEps) ||
          coalesce(col("_tm"), lit(false)))
    }
    val cheapFinal = cheapKept
      .select(col("q_id") +: col("doc_id") +:
        (1 to hybridQueryTerms).flatMap(i => Seq(col(s"ctf_$i"), col(s"cdf_$i"))): _*)
    // the pruned arm's contender pairs for the mega re-read: the kept
    // cheap pairs plus the tail-mega inclusions that matched no cheap
    // slot at all (distinct — a doubled pair would double its tf sum)
    val prunedPairs = tailMegaPairs.fold(
      cheapFinal.select(col("q_id"), col("doc_id")))(tm =>
      cheapFinal.select(col("q_id"), col("doc_id")).union(tm).distinct())

    // mega tf re-reads: contender-bounded for pruned queries, full for
    // fallback ones (their exactness demands the unbounded candidates);
    // the masked read spans base + tail, so tail mega rows re-read
    // exactly like base rows and a deleted contender contributes none
    val megaPost = maskedPostings
      .filter(col("term").isin(banned: _*))
      .select(col("term").as("qt"), col("doc_id"), col("tf"))
    val mpPruned = megaSlots
      .join(qdec.filter(col("mode") === "pruned").select(col("q_id")), "q_id")
      .join(prunedPairs, "q_id")
      .join(megaPost, Seq("qt", "doc_id"))
    val mpFallback = megaSlots
      .join(qdec.filter(col("mode") === "fallback").select(col("q_id")), "q_id")
      .join(megaPost, "qt")
    val mpivots = slotPivots("m", "mdf")
    val mpiv = mpPruned.select(col("q_id"), col("doc_id"), col("pos"), col("mdf"), col("tf"))
      .union(mpFallback.select(col("q_id"), col("doc_id"), col("pos"), col("mdf"), col("tf")))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(mpivots.head, mpivots.tail: _*)

    // merge (slots are disjoint per query: a slot is cheap or mega,
    // never both) and re-score through the identical expression + tail
    val merged = cheapFinal.join(mpiv, Seq("q_id", "doc_id"), "full_outer")
    val lex = lexTopK(withStats(merged.join(doclen, "doc_id")),
      i => coalesce(col(s"ctf_$i"), col(s"mtf_$i")),
      i => coalesce(col(s"cdf_$i"), col(s"mdf_$i")))
    Some((lex, qdec.select(col("q_id"), col("mode"))))
  }

  /** The fusion tail shared by the scan and served forms. */
  private def fuse(s: SparkSession, dir: String, lex: DataFrame): DataFrame = {
    val sem = semRanks(s, dir)
    // fixed-order fusion sum (lex term + sem term), absent list -> 0.0:
    // both engines evaluate the identical double expression
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rk")), lit(0.0)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= hybridTopK)
      .select(col("q_id"), col("rk"), col("doc_id"),
        col("lex_rk"), col("sem_rk"), col("rrf"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The served hybrid family's registry table: one row per
    * [[TextAnalysis.servedVariants]] entry. The unbounded and MaxScore
    * rows read identical (doc_id, term, tf) integers from the persisted
    * postings and are result-identical to each other, so they share the
    * scan form's oracle; the df-share row's oracle restates the cut as
    * a banned-term anti filter with per-slot act flags recomputed from
    * the same corpus statistics. */
  private lazy val servedRows = TextAnalysis.servedRows("search_hybrid_rrf_served", {
    case TextAnalysis.Bound.DfShare(share) => hybridOracleSqlOf(Some(share))
    case _ => hybridOracleSql
  })

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("search_hybrid_rrf" -> (searchHybridRrf _)) ++
      servedRows.map(r => r.key -> r.query(searchHybridRrfServed))

  private lazy val tokSql =
    graft.functions.TextFns.duckTokSql

  val oracles: Map[String, String] = Map(
    // semantic side: the LSH chain's `ranked` over the full stride set;
    // lexical side: the grouped BM25 restated with the same fixed-slot
    // pivot and 6-decimal quantization; fusion per (q_id, doc_id)
    "search_hybrid_rrf" -> hybridOracleSql
  ) ++ servedRows.map(r => r.key -> r.oracle)

  private lazy val hybridOracleSql: String = hybridOracleSqlOf(None)

  private def hybridOracleSqlOf(bound: Option[Double]): String = {
      val k1 = TextAnalysis.bm25K1
      val b = TextAnalysis.bm25B
      val slots = 1 to hybridQueryTerms
      val pivotCols = slots.map { i =>
        s"""    sum(CASE WHEN pos = $i THEN tf END) AS tf_$i,
           |    max(CASE WHEN pos = $i THEN df END) AS df_$i""".stripMargin
      }.mkString(",\n")
      val contribSql = slots.map { i =>
        s"""COALESCE(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
           |      / (CAST(df_$i AS DOUBLE) + 0.5))
           |    * (CAST(tf_$i AS DOUBLE) * ${k1 + 1.0})
           |    / (CAST(tf_$i AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl)), 0.0)""".stripMargin
      }.mkString("\n    + ")
      val bannedCte = bound.fold("") { share =>
        s"""banned AS (
           |  SELECT term FROM dfr CROSS JOIN lstats
           |  WHERE CAST(df AS DOUBLE) > $share * CAST(n_docs AS DOUBLE)),
           |""".stripMargin
      }
      // the scoring postings: anti-filtered against the banned head in
      // the bounded form, the plain posting rows otherwise — dl, df,
      // and the global stats always aggregate the UNFILTERED corpus
      // (frozen-statistics serving, as in the code path)
      val spostCte = bound.fold("spost AS (SELECT * FROM post)")( _ =>
        "spost AS (SELECT * FROM post WHERE term NOT IN (SELECT term FROM banned))")
      val actsCte = bound.fold("") { _ =>
        val cols = (1 to hybridQueryTerms).map(i =>
          s"    max(CASE WHEN pos = $i THEN (CASE WHEN qt IN (SELECT term FROM banned) " +
          s"THEN 0 ELSE 1 END) END) AS act_$i").mkString(",\n")
        s""",
           |acts AS (
           |  SELECT q_id,
           |$cols
           |  FROM qt GROUP BY q_id)""".stripMargin
      }
      val finalSelect = bound.fold(
        s"""SELECT q_id, rk, doc_id, lex_rk, sem_rk, rrf FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
           |  FROM fused)
           |WHERE rk <= $hybridTopK
           |ORDER BY q_id, rk""".stripMargin) { _ =>
        val actSel = (1 to hybridQueryTerms)
          .map(i => s"CAST(COALESCE(a.act_$i, 1) AS BIGINT) AS act_$i").mkString(", ")
        s"""SELECT r.q_id, rk, doc_id, lex_rk, sem_rk, rrf, $actSel FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
           |  FROM fused) r
           |LEFT JOIN acts a ON r.q_id = a.q_id
           |WHERE rk <= $hybridTopK
           |ORDER BY r.q_id, rk""".stripMargin
      }
      s"""WITH ${Similarity.lshAnnOracleCtes("TRUE")},
         |lbase AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl
         |  FROM (SELECT doc_id, $tokSql AS toks FROM documents)
         |  WHERE len(toks) >= 1),
         |post AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM lbase)
         |  GROUP BY doc_id, term),
         |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
         |lstats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM lbase),
         |${bannedCte}$spostCte,
         |qtl AS (
         |  SELECT doc_id AS q_id,
         |    list_filter(toks, (t, i) -> list_position(toks, t) = i)[1:$hybridQueryTerms] AS l
         |  FROM lbase WHERE doc_id % ${Similarity.queryStride} = 0),
         |qt AS (
         |  SELECT q_id, pos, l[pos] AS qt FROM (
         |    SELECT q_id, l, unnest(generate_series(1, len(l))) AS pos FROM qtl))$actsCte,
         |piv AS (
         |  SELECT qt.q_id, spost.doc_id,
         |$pivotCols
         |  FROM qt JOIN spost ON spost.term = qt.qt JOIN dfr ON dfr.term = qt.qt
         |  GROUP BY qt.q_id, spost.doc_id),
         |lscored AS (
         |  SELECT q_id, piv.doc_id,
         |    round($contribSql, 6) AS score
         |  FROM piv JOIN lbase ON piv.doc_id = lbase.doc_id CROSS JOIN lstats),
         |lexr AS (
         |  SELECT q_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rk
         |  FROM lscored
         |  QUALIFY lex_rk <= ${TextAnalysis.bm25TopK}),
         |sem AS (
         |  SELECT q_id, cand_id AS doc_id, rk AS sem_rk FROM ranked
         |  WHERE rk <= ${Similarity.topK}),
         |fused AS (
         |  SELECT COALESCE(lexr.q_id, sem.q_id) AS q_id,
         |    COALESCE(lexr.doc_id, sem.doc_id) AS doc_id,
         |    lexr.lex_rk AS lex_rk, sem.sem_rk AS sem_rk,
         |    COALESCE(1.0 / ($rrfK + lexr.lex_rk), 0.0)
         |      + COALESCE(1.0 / ($rrfK + sem.sem_rk), 0.0) AS rrf
         |  FROM lexr FULL OUTER JOIN sem
         |    ON lexr.q_id = sem.q_id AND lexr.doc_id = sem.doc_id)
         |$finalSelect""".stripMargin
  }
}
