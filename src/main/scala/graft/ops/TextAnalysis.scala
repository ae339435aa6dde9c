package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns

/** Text-analysis operators over `documents` — the training-data-pipeline
  * extensions (language ID, quality scoring, token statistics, document
  * fingerprinting). All per-document work is embarrassingly parallel
  * column computation inside whole-stage codegen: no shuffle at all until
  * an (optional) aggregate, so these scale linearly to any corpus size.
  *
  * The stopword lists and score formulas are mirrored verbatim into the
  * DuckDB oracle SQL (generated from the same Scala constants below).
  */
object TextAnalysis {

  val stopEn = Seq("the", "a", "and", "of", "to", "in", "is")
  val stopFr = Seq("le", "la", "les", "de", "et", "un")
  val stopDe = Seq("der", "die", "das", "und", "ein")
  val stopEs = Seq("el", "la", "los", "de", "y", "un")

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private def stopCount(toks: Column, ws: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(ws))).cast("long")

  /** Token statistics: token count, distinct count, type-token ratio,
    * mean token length. */
  def textTokenStats(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      // docs with zero tokens have no defined per-token stats (and ANSI
      // mode makes the ratio a div-by-zero error): excluded in both engines
      .filter(size(col("toks")) >= 1)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        length(col("text")).cast("long").as("n_chars"),
        (aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(col("toks")).cast("double")).as("mean_token_len"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("ttr"))
      .orderBy(col("doc_id"))

  /** Heuristic quality score: lexical diversity + length + stopword
    * density, plus punctuation/space counts. The kind of cheap filter a
    * 100 TB pretraining pipeline runs before anything expensive. */
  /** The full 3-stage scrub as ONE column expression (email → IP →
    * digit-run, same order as [[textPiiScrub]]) — for pipelines that
    * need the clean text without the count columns. */
  private[ops] def scrubCol(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      text, piiEmailRe, "<EMAIL>"), piiIpRe, "<IP>"), piiNumRe, "<NUM>")

  /** The [[textQuality]] score over a token array — shared with the
    * ingest-curation pipeline so both paths score identically (same
    * expression order ⇒ bit-identical doubles). Caller guards
    * size(toks) >= 1. */
  private[ops] def qualityScore(toks: Column): Column =
    (size(array_distinct(toks)).cast("double") / size(toks).cast("double")) * 0.4 +
      least(size(toks).cast("double") / 50.0, lit(1.0)) * 0.4 +
      (stopCount(toks, stopEn).cast("double") / size(toks).cast("double")) * 0.2

  def textQuality(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .filter(size(col("toks")) >= 1) // see textTokenStats
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio", stopCount(col("toks"), stopEn).cast("double") / col("n_tokens").cast("double"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
      .withColumn("score",
        col("uniq_ratio") * 0.4 +
          least(col("n_tokens").cast("double") / 50.0, lit(1.0)) * 0.4 +
          col("stop_ratio") * 0.2)
      .select(col("doc_id"), col("n_tokens"), col("uniq_ratio"), col("stop_ratio"),
        col("n_punct"), col("score"),
        // same floor as the ingest gate and curate_manifest's low_quality
        // reason — one constant, so the three can never silently diverge
        (col("score") >= Dedup.ingestQualityMin).as("is_quality"))
      .orderBy(col("doc_id"))

  /** zlib level for the compression-ratio signal: 6 is the zlib
    * default — the published filters (Gopher's repetition heuristics,
    * CCNet's LM-free pre-filters) care about the RATIO's ordering, not
    * the absolute bytes, and any fixed level preserves it. */
  val deflateLevel = 6

  /** A doc whose deflate ratio falls below this compresses far beyond
    * typical prose — boilerplate/repetition (near-constant text
    * deflates to ~1-5%; the synthetic corpus floor measures 0.391);
    * above [[compressRatioMax]] it barely compresses — high-entropy
    * junk for natural text (random printable chars measure ~0.92,
    * base64 blobs ~0.85, long prose ~0.4-0.6). The junk tail only
    * applies at ≥ [[compressMinBytes]]: deflate's fixed overhead makes
    * ratio length-confounded below that (a 78-byte prose sentence
    * measures 0.92 — indistinguishable from junk by ratio alone). */
  val compressRatioMin = 0.2
  val compressRatioMax = 0.8
  val compressMinBytes = 256L

  /** Compression-ratio quality signal (the Gopher-style "too
    * compressible = repetitive, incompressible = junk" filter):
    * deflate each document at a pinned zlib level INSIDE codegen (the
    * fused `deflate_length` expression — no UDF, no intermediate
    * binary column) and flag both tails. Pure projection — no shuffle
    * at any corpus size; cost is the deflate itself, linear in corpus
    * bytes. Rows-only: DuckDB has no deflate, so the self-check
    * recomputes every row's compressed length with the same JVM zlib
    * (bit-exact) and re-derives the flags. */
  def textCompressRatio(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"),
        graft.plans.VectorFunctions.deflate_length(col("text"), deflateLevel).as("deflate_bytes"))
      .withColumn("ratio", when(col("n_bytes") > 0,
        round(col("deflate_bytes").cast("double") / col("n_bytes").cast("double"), 6)))
      .withColumn("is_repetitive", coalesce(col("ratio") < compressRatioMin, lit(false)))
      .withColumn("is_junk", coalesce(
        col("ratio") > compressRatioMax && col("n_bytes") >= compressMinBytes, lit(false)))
      .orderBy(col("doc_id"))

  /** Stopword-overlap language ID (n-gram-free heuristic): score each
    * candidate language by stopword hits, argmax with a fixed tie order. */
  def textLangId(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("s_en", stopCount(col("toks"), stopEn))
      .withColumn("s_fr", stopCount(col("toks"), stopFr))
      .withColumn("s_de", stopCount(col("toks"), stopDe))
      .withColumn("s_es", stopCount(col("toks"), stopEs))
      .withColumn("detected",
        when(col("s_en") > 0 && col("s_en") >= col("s_fr") && col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
          .when(col("s_fr") > 0 && col("s_fr") >= col("s_de") && col("s_fr") >= col("s_es"), "fr")
          .when(col("s_de") > 0 && col("s_de") >= col("s_es"), "de")
          .when(col("s_es") > 0, "es")
          .otherwise("und"))
      .select(col("doc_id"), col("lang"), col("detected"),
        col("s_en"), col("s_fr"), col("s_de"), col("s_es"))
      .orderBy(col("doc_id"))

  /** Document fingerprints: polynomial rolling hash + md5 prefix. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .select(
        col("doc_id"),
        TextFns.polyHash(col("text")).as("fp_poly"),
        substring(md5(col("text")), 1, 16).as("fp_md5"))
      .orderBy(col("doc_id"))

  /** The end-to-end corpus-cleaning pipeline a pretraining run starts
    * with: quality-score filter + near-dup removal (keep the lower doc_id
    * of every verified Jaccard pair). Composes the quality and dedup
    * operators into one declarative plan — Catalyst fuses the whole thing;
    * nothing is materialized in between. */
  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val quality = textQuality(s, dir).select(col("doc_id"), col("n_tokens"), col("score"))
    val dupIds = Dedup.dedupNgramJaccard(s, dir)
      .select(col("id_b").as("doc_id")).distinct()
    quality.filter(col("score") >= 0.5)
      .join(dupIds, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Top character trigrams across the corpus — the char-n-gram side of
    * n-gram analysis (the word-n-gram side lives in Dedup). Deterministic
    * top-50 via (count, gram) ordering. */
  def textNgramFreq(s: SparkSession, dir: String): DataFrame =
    docsScanSpread(s, dir)
      // guard: Spark sequence(1, n) runs DESCENDING when n < 1 (texts
      // shorter than 3 chars would yield bogus grams); DuckDB's range is
      // empty there, so filter to keep parity
      .filter(length(col("text")) >= 3)
      .select(explode(transform(sequence(lit(1), length(col("text")) - 2),
        i => col("text").substr(i, lit(3)))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(50)

  /** Token counting with a BPE-style pre-tokenizer (GPT-2-shaped, minus
    * the lookahead RE2 lacks): runs of letters / digits / other, each
    * with an optional leading space — the unit a byte-pair encoder would
    * merge from. Reported next to the whitespace token count. \p{L}/\p{N}
    * are Unicode classes in both Java regex and RE2, so the counts agree
    * cross-engine on non-ASCII text too. */
  // explicit whitespace set in the negated class — Java \s and RE2 \s
  // disagree on \x0B, which would make "other" token counts diverge
  val bpeRegex = """ ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"""

  def textBpeTokens(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(text, '${bpeRegex.replace("\\", "\\\\")}', 0)"))
          .cast("long").as("n_bpe"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_ws"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Merge steps the BPE trainer learns. */
  /** The documents scan the text-analysis operators start from. */
  private def docsScan(s: SparkSession, dir: String) =
    Tables(s, dir, "documents")

  /** [[docsScan]] through the gated scale-adaptive spread
    * ([[graft.Tables.spreadIfTiny]]): one hash repartition on doc_id
    * when (and only when) the file's effective split count is below
    * the session parallelism. Used ONLY by the operators whose
    * per-row compute measurably dwarfs the added exchange — the
    * char-trigram explode (~50x row amplification in the map side;
    * 1.8 s -> 0.6-0.95 s across every A/B run). Everything else
    * measured at or under the ambient noise band — or LOST to the
    * extra exchange + 32-way tiny stages — so only the one decisive
    * winner keeps it (A/B-benched per query). */
  private def docsScanSpread(s: SparkSession, dir: String) =
    Tables.spreadIfTiny(s, dir, "documents", "doc_id")

  val bpeTrainMerges = 12

  /** BPE TOKENIZER INDUCTION — learn a merge table from the corpus
    * (Sennrich-style byte/word-level BPE, the step every LLM pipeline
    * runs before anything tokenizes). The corpus is read ONCE: the
    * initial word-frequency aggregation is the only corpus-sized job,
    * and all [[bpeTrainMerges]] iterations run over the VOCABULARY
    * (word TYPES with frequencies — millions of rows at 100 TB, not
    * trillions of tokens), each one small pair-count shuffle plus a
    * 1-row argmax collect. Per step: count adjacent symbol pairs
    * weighted by word frequency (overlap-counted — the classic rule),
    * pick the most frequent (ties: lexicographic on left, then right),
    * and merge it everywhere ANCHORED ON WHOLE SYMBOLS. Symbol
    * sequences are space-delimited strings padded with one space at
    * each end, so the pattern " l r " can only match at symbol
    * boundaries (an unanchored replace would fuse "l ow" on the merge
    * (l,o) — a merge that was never learned; regex lookaround is
    * unavailable because DuckDB's RE2 lacks it). The replace runs
    * TWICE per step: a forward scan continues past each replacement,
    * so an alternating chain " l o l o l o " leaves every other
    * occurrence unmerged (its leading space was consumed by the
    * previous match); pass-1 misses are never adjacent, so the second
    * pass reaches the fixed point — semantics verified identical in
    * Spark and DuckDB, which is what lets an ITERATIVE training
    * algorithm carry a full SQL oracle: the merge loop unrolls into
    * [[bpeTrainMerges]] CTE triples. Output: one row per learned
    * merge (step, lhs, rhs, merged, pair_count).
    *
    * NOTE on apply semantics: the fixed point of two-pass anchored
    * replace is NOT canonical leftmost-greedy segmentation on runs of
    * a repeated symbol — merging (a,a) over "a a a a a a a" yields
    * [aa, a, aa, aa] where Sennrich's left-to-right scan yields
    * [aa, aa, aa, a] — so later pair counts (and learned merges) can
    * diverge from a standard sequential BPE trainer on such runs. The
    * Spark path, the DuckDB oracle, and the spec's in-memory reference
    * all implement the SAME two-pass idiom deliberately (RE2 lacks
    * lookaround; SQL lacks a stateful scan), so this form is
    * internally consistent and cross-engine exact. When canonical BPE
    * compatibility matters, use [[textBpeTrainScaled]], whose
    * `aggregate`-fold apply IS the canonical scan. */
  def textBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = docsScan(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(" ", split(col("word"), "")).as("w"), col("freq"))
      .cache() // vocabulary-sized
    try {
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
      var cur: DataFrame = words
      var step = 1
      var exhausted = false
      while (step <= bpeTrainMerges && !exhausted) {
        val sym = split(col("w"), " ")
        val best = cur
          .select(col("freq"), explode(arrays_zip(
            slice(sym, lit(1), size(sym) - 1).as("l"),
            slice(sym, lit(2), size(sym) - 1).as("r"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, cnt) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
          merges += ((step.toLong, l, r, l + r, cnt))
          val (pat, rep) = (lit(s" $l $r "), lit(s" ${l + r} "))
          val padded = concat(lit(" "), col("w"), lit(" "))
          cur = cur.withColumn("w", trim(
            org.apache.spark.sql.functions.replace(
              org.apache.spark.sql.functions.replace(padded, pat, rep), pat, rep)))
          step += 1
        }
      }
      merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count").orderBy(col("step"))
    } finally { words.unpersist(); () }
  }

  /** Scale-mode knobs: merges admitted per driver round-trip, and how
    * often the vocabulary's plan lineage is truncated. */
  val bpeBatchMerges = 32
  val bpeCheckpointRounds = 4

  /** BPE induction AT PRODUCTION MERGE COUNTS — the scale mode of
    * [[textBpeTrain]]. The demo form is the cross-engine semantics pin
    * (12 merges, each a driver argmax + a chained replace, fully
    * DuckDB-oracled); at a real tokenizer's ~32k merges that loop dies
    * on the K axis — K driver round-trips and an O(K)-deep
    * chained-`withColumn` lineage whose cumulative analysis cost is
    * O(K²). This form fixes both, the way fast BPE trainers do
    * (Sennrich's batched variant):
    *
    *  - BATCHED SELECTION: each round counts pairs once and admits up
    *    to [[bpeBatchMerges]] NON-CONFLICTING pairs (greedy by count
    *    desc, lex tie-break) — a pair is admitted only if its symbols
    *    AND its merged string are disjoint from every earlier admission
    *    this round. Disjointness makes the pre-round counts EXACT for
    *    every admitted pair (merging one pair can neither create nor
    *    destroy an adjacency of another — new adjacencies involve only
    *    the new merged symbol, which no other admitted pair mentions),
    *    so batching changes only which CANDIDATES a later merge can see
    *    (a merge-of-a-merge waits one round), not any reported count.
    *    Driver round-trips fall K → K/M.
    *  - CANONICAL APPLY: merges apply through a left-to-right
    *    `aggregate` fold over the symbol array (a map lookup on each
    *    (pending, next) adjacency), which is Sennrich's leftmost
    *    non-overlapping scan — on "a a a a a" the merge (a,a) yields
    *    [aa aa a], where the demo form's two-pass anchored replace
    *    (shared with its DuckDB oracle, which cannot express a stateful
    *    scan) reaches a different fixed point on odd same-symbol runs.
    *    The in-memory reference in `BpeTrainSpec` implements these
    *    exact batched+canonical rules independently.
    *  - LINEAGE TRUNCATION: every [[bpeCheckpointRounds]] rounds the
    *    vocabulary localCheckpoints, so plan depth (and per-round
    *    analysis cost) is bounded by a constant instead of growing with
    *    the merge count — flat per-merge cost, pinned in BpeTrainSpec as
    *    Spark jobs per batch of merges at 100 and 500 merges.
    *
    * The corpus is still read ONCE (the word-frequency aggregation);
    * every round runs over the vocabulary. Output schema matches the
    * demo form: (step, lhs, rhs, merged, pair_count), steps numbered in
    * admission order. */
  def textBpeTrainScaled(s: SparkSession, dir: String, merges: Int,
      batchM: Int = bpeBatchMerges,
      checkpointEvery: Int = bpeCheckpointRounds): DataFrame = {
    import s.implicits._
    require(merges > 0 && batchM > 0 && checkpointEvery > 0)
    var cur = docsScan(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(" ", split(col("word"), "")).as("w"), col("freq"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var round = 0
    var exhausted = false
    while (out.size < merges && !exhausted) {
      val sym = split(col("w"), " ")
      val want = math.min(batchM, merges - out.size)
      val cand = cur
        .select(col("freq"), explode(arrays_zip(
          slice(sym, lit(1), size(sym) - 1).as("l"),
          slice(sym, lit(2), size(sym) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(want * 4 + 16) // conflict headroom; selection re-sorts nothing
        .collect()
      if (cand.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val admitted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        cand.iterator.takeWhile(_ => admitted.size < want).foreach { r0 =>
          val (l, r, c) = (r0.getString(0), r0.getString(1), r0.getLong(2))
          if (!used(l) && !used(r) && !used(l + r)) {
            admitted += ((l, r, c)); used += l; used += r; used += (l + r)
          }
        }
        admitted.foreach { case (l, r, c) =>
          out += ((out.size + 1L, l, r, l + r, c))
        }
        val mergeMap = map(admitted.flatMap { case (l, r, _) =>
          Seq(lit(s"$l $r"), lit(l + r)) }.toSeq: _*)
        val folded = aggregate(
          sym,
          struct(lit(Array.empty[String]).as("out"), lit("").as("pend")),
          (acc, x) => {
            val o = acc.getField("out"); val p = acc.getField("pend")
            val m = element_at(mergeMap, concat(p, lit(" "), x))
            when(m.isNotNull,
                struct(concat(o, array(m)).as("out"), lit("").as("pend")))
              .otherwise(struct(
                when(p === "", o).otherwise(concat(o, array(p))).as("out"),
                x.as("pend")))
          },
          acc => array_join(
            when(acc.getField("pend") === "", acc.getField("out"))
              .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))),
            " "))
        cur = cur.select(folded.as("w"), col("freq"))
        round += 1
        // skip the checkpoint when this was the LAST round: nothing
        // ever reads the truncated lineage, so it would be one wasted
        // eager materialization of the full folded vocabulary per train
        if (round % checkpointEvery == 0 && out.size < merges)
          cur = cur.localCheckpoint()
      }
    }
    out.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count").orderBy(col("step"))
  }

  /** Tokens reported by [[textBpeTokenFreq]]. */
  val bpeTokenFreqTopK = 40

  /** Merge count of the REGISTERED scaled-trainer query — enough for
    * several batched rounds (48 = a full 32-batch plus a 16-batch). */
  val bpeScaledTrainMerges = 48

  /** Registered-query form of [[textBpeTrainScaled]] — the code path a
    * production deployment trains its artifact with, under the
    * per-round gate at a bounded merge count. `checkpointEvery = 1`
    * (not the production default 4) so the 2-round gate run trains
    * THROUGH a truncated lineage — round 2's pair counting consumes
    * round 1's checkpoint — rather than merely calling the branch; at
    * the default the truncation path would ship unexercised by the
    * gate (the final-round checkpoint is skipped as dead work by the
    * trainer itself). Rows-only by design (the batched+canonical scan
    * is stateful — no tractable SQL restatement); its per-Verify
    * self-check replays the training against an independent in-memory
    * reference of the same rules over the collected word-frequency
    * vocabulary (the same reference `BpeTrainSpec` pins), bit-equal on
    * every (step, lhs, rhs, merged, pair_count) row (checkpointing
    * truncates plan lineage only, never content — so the reference
    * needs no notion of it). */
  def textBpeTrainScaledQuery(s: SparkSession, dir: String): DataFrame =
    textBpeTrainScaled(s, dir, bpeScaledTrainMerges, checkpointEvery = 1)

  /** Learned merge table, memoized per (session, corpus) so the
    * registered trainer and the model write ([[bpeModelFor]]) train
    * ONCE per session: [[textBpeTrain]] is eager (the merge loop
    * collects its argmax per step), so memoizing the bounded
    * [[bpeTrainMerges]]-row output frame memoizes the training work
    * itself. */
  private[graft] def bpeMergesDf(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, s"$dir|bpe_merges")(textBpeTrain(s, dir))

  /** ENCODED VOCABULARY — every distinct word of `dir` with its BPE
    * segmentation under the PERSISTED model at `modelDir`, `(word, w,
    * freq)` where `w` is the space-joined symbol sequence. This is where
    * the 100 TB scale story of BPE ENCODING lives: merges are applied
    * to word TYPES (a vocabulary — millions of rows), never to the
    * trillions of corpus tokens; the corpus pays one word-frequency
    * aggregation plus, per consumer, a hash join back from words to
    * their encodings. The merges are a bounded artifact read (one row
    * per merge), applied through [[bpeApplyDispatch]] — for the demo
    * trainer's own model ([[bpeModelFor]]) the merge-ordered chain of
    * boundary-anchored two-pass replaces, operation-for-operation the
    * trainer's apply ([[textBpeTrain]]'s scaladoc explains the two-pass
    * fixed point), so the vocabulary is bit-identical to the trainer's
    * final internal state and to the DuckDB oracle's `s{K}` CTE. The
    * authority is the FILE: a hand-edited merge table changes the
    * output (no retraining sneaks in). Memoized per (session, corpus,
    * model) — the one vocabulary every BPE encode consumer reads. */
  private[graft] def bpeEncodedVocab(s: SparkSession, dir: String, modelDir: String): DataFrame =
    Artifacts.frame(s, s"$dir|bpe_encoded_vocab@$modelDir")(
      bpeApplyDispatch(bpeWordVocab(s, dir), bpeModelMerges(s, modelDir),
        bpeModelApplyForm(s, modelDir)))

  /** The corpus word-frequency vocabulary with the word kept:
    * `(word, w, freq)`, `w` the split-symbol form. */
  private def bpeWordVocab(s: SparkSession, dir: String): DataFrame =
    docsScan(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"),
        concat_ws(" ", split(col("word"), "")).as("w"), col("freq"))

  /** Fold a merge list (step order) over a `(…, w, …)` vocabulary with
    * the trainer's boundary-anchored two-pass replace — all merges in
    * ONE projection, no per-merge driver round-trip. */
  private def bpeApplyMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(words) { case (cur, (l, r)) =>
      val (pat, rep) = (lit(s" $l $r "), lit(s" ${l + r} "))
      val padded = concat(lit(" "), col("w"), lit(" "))
      cur.withColumn("w", trim(
        org.apache.spark.sql.functions.replace(
          org.apache.spark.sql.functions.replace(padded, pat, rep), pat, rep)))
    }

  /** Longest merge table the demo replace-chain apply is used for. The
    * chain folds 2 nested `replace` nodes per merge into one projection
    * — ideal at [[bpeTrainMerges]] = 12 (and exactly restatable in the
    * DuckDB oracle), but a ~30k-merge production artifact would build a
    * ~60k-node expression tree: the per-plane-literal analysis blowup
    * this repo already measured and fixed once (`LshProjections`,
    * README: a ~10k-node tree cost 3.8 s of analysis). Above this,
    * [[bpeApplyMergesAuto]] dispatches to the scaled encoder. */
  private[graft] val bpeReplaceChainMax = 32

  /** SCALED merge apply — the serve path for production-sized
    * artifacts: one deterministic JVM encoder per word over the
    * vocabulary, the merge table rides the closure (one broadcast per
    * stage; ~MBs at 30k merges — model-sized, never corpus-sized).
    * Plan depth is CONSTANT in the merge count: one projection, one
    * non-codegen UDF call per word TYPE (the corpus itself still pays
    * only its explode + hash join — the UDF is off the corpus hot
    * path by the vocabulary design of [[bpeEncodedVocab]]).
    *
    * Semantics: the CANONICAL sequential apply — for each merge in
    * step order, one left-to-right non-overlapping pass — i.e. the
    * scaled trainer's own internal state ([[textBpeTrainScaled]]'s
    * per-round fold, which batches only symbol-disjoint pairs, so
    * per-round simultaneous application equals per-merge sequential
    * application). [[bpeEncodeSequential]] implements it as a
    * monotone-rank scan (jump to the lowest applicable rank above the
    * last applied one) — O(applied merges × |word|) per word instead
    * of O(K × |word|), and EXACTLY sequential: between two applied
    * ranks the symbol state does not change, so every skipped rank was
    * equally absent at its own sequential turn, and a rank once passed
    * is never revisited. Byte-identity to an independent in-memory
    * sequential encoder over a 500-merge trained artifact is pinned in
    * `BpeTrainSpec`. */
  private def bpeApplyMergesScaled(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val mergeArr = merges.toArray
    // a pair can legitimately recur in a merge table (re-learned after
    // later merges recreate its adjacency): keep EVERY rank, sorted, so
    // the sequential replay applies each occurrence at its own turn
    val ranksAll: Map[(String, String), Array[Int]] =
      merges.zipWithIndex.groupBy(_._1)
        .map { case (p, g) => p -> g.map(_._2).sorted.toArray }
    val enc = udf { (w: String) =>
      if (w == null || w.isEmpty) w
      else bpeEncodeSequential(w.split(" "), mergeArr, ranksAll).mkString(" ")
    }
    words.withColumn("w", enc(col("w")))
  }

  /** One word's canonical sequential BPE apply (see
    * [[bpeApplyMergesScaled]]): repeatedly find the lowest merge rank
    * STRICTLY ABOVE the last applied one whose pair is adjacent in the
    * current symbols, and run that merge's single left-to-right
    * non-overlapping pass. */
  private[graft] def bpeEncodeSequential(word: Array[String],
      mergeArr: Array[(String, String)],
      ranksAll: Map[(String, String), Array[Int]]): Array[String] = {
    var syms = word
    var lastApplied = -1
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        ranksAll.get((syms(i), syms(i + 1))).foreach { rs =>
          var j = 0
          while (j < rs.length && rs(j) <= lastApplied) j += 1
          if (j < rs.length && rs(j) < best) best = rs(j)
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = mergeArr(best)
        val lr = l + r
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += lr; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
        lastApplied = best
      }
    }
    syms
  }

  /** Merge apply with the scale dispatch: the demo replace chain (the
    * DuckDB-oracle semantics) up to [[bpeReplaceChainMax]] merges, the
    * scaled canonical encoder above. The dispatch is also a SEMANTICS
    * boundary, deliberately aligned with artifact provenance: every
    * ≤[[bpeTrainMerges]]-merge artifact in this engine comes from the
    * demo trainer (whose internal state IS the two-pass replace), while
    * every production-sized artifact comes from [[textBpeTrainScaled]]
    * (whose internal state is the canonical scan) — the two forms
    * differ only on odd same-symbol runs (see the trainers' scaladoc). */
  private def bpeApplyMergesAuto(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    if (merges.size <= bpeReplaceChainMax) bpeApplyMerges(words, merges)
    else bpeApplyMergesScaled(words, merges)

  /** BPE ENCODE — apply the corpus-trained tokenizer, persisted once
    * per (JVM, corpus) as [[bpeModelFor]], to the corpus: per-doc
    * token counts under the learned merge table, the number every
    * downstream packing / token-budget / mixing step actually needs
    * (whitespace-token counts under- or over-state a real tokenizer's
    * sequence lengths; this closes the train → APPLY half of the
    * tokenizer story). Output: (doc_id, n_words, n_tokens,
    * chars_per_token) for every document — n_tokens is the encoded
    * sequence length, chars_per_token the corpus-side compression the
    * tokenizer achieves on that doc (0.0 for token-less docs).
    *
    * Scale shape: encoding runs on the VOCABULARY once
    * ([[bpeEncodedVocab]]), under the bounded model read; the corpus side is one explode + hash join
    * on `word` + per-doc aggregation — partial aggregation applies,
    * nothing corpus-sized crosses the driver, and the join key is the
    * word (Zipf-distributed, but the heavy words are few and the
    * per-row payload is one small struct; AQE's skew handling covers
    * the head). No broadcast hint: the vocabulary grows with the
    * corpus (millions of word types at 100 TB), so the planner decides
    * from its size estimate. */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodePresentation(bpeDocCounts(s, dir))

  /** The encode queries' output shape over a [[bpeDocCountsWith]]
    * frame. */
  private def bpeEncodePresentation(counts: DataFrame): DataFrame =
    counts
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(round(
            col("n_word_chars").cast("double") / col("n_tokens").cast("double"),
            6))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))

  /** Unsorted per-doc encode counts `(doc_id, source, n_words,
    * n_tokens, n_word_chars)`, every document present (token-less docs
    * as zeros) — the core [[textBpeEncode]] sorts for presentation and
    * the BPE-counted curation compositions consume as-is (no global
    * sort under their own shuffles). ONE corpus scan: `explode_outer`
    * keeps token-less docs as a null-word row the vocabulary join
    * leaves unmatched, so the zero rows fall out of the same
    * aggregation instead of a second documents scan + doc_id join;
    * `source` rides along (functionally dependent on doc_id) so the
    * packing twin needs no re-join either. MEMOIZED per (session,
    * corpus): the packing twin's two-level prefix scan consumes the
    * frame TWICE (bucket totals + join-back), and without the memo
    * each copy re-runs the corpus explode + vocabulary join — the memo
    * makes both copies (and the encode query itself) one
    * InMemoryTableScan, pinned in `PlanGuardSpec`. One row per doc —
    * the same cache weight class as the dedup shingle memos. */
  private[ops] def bpeDocCounts(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, s"$dir|bpe_doc_counts")(
      bpeDocCountsWith(s, dir, bpeEncodedVocab(s, dir, bpeModelFor(s, dir))))

  /** [[bpeDocCounts]] under an explicit encoded vocabulary. */
  private def bpeDocCountsWith(s: SparkSession, dir: String,
      vocab: DataFrame): DataFrame = {
    val enc = vocab
      .select(col("word"), size(split(col("w"), " ")).cast("long").as("n_syms"))
    docsScan(s, dir)
      .select(col("doc_id"), col("source"),
        explode_outer(TextFns.tokens(col("text"))).as("word"))
      .join(enc, Seq("word"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(col("word")).as("n_words"),
        coalesce(sum(col("n_syms")), lit(0L)).as("n_tokens"),
        coalesce(sum(length(col("word")).cast("long")), lit(0L)).as("n_word_chars"))
  }

  /** PERSISTED TOKENIZER ARTIFACT — the merge table as a shippable
    * model: train once on a reference corpus, write `(step, lhs, rhs,
    * merged, pair_count)` under `modelDir/merges`, and every consumer
    * (a batch encode on another corpus, a streaming admission path,
    * another cluster) applies it WITHOUT retraining — the deploy shape
    * of every production tokenizer. The artifact is tiny (one row per
    * merge) and STATIC: a changed tokenizer is a NEW model, trained and
    * shipped whole, so unlike the six persisted index families there is
    * no landing zone, tombstone, or compaction lifecycle — one
    * overwrite write is the whole story. */
  def bpeModelWrite(s: SparkSession, corpusDir: String, modelDir: String): Unit =
    bpeModelPersist(s, bpeMergesDf(s, corpusDir), modelDir, applyForm = "two_pass")

  /** Persist a SCALED-trained tokenizer artifact: [[textBpeTrainScaled]]
    * at `merges`, stamped `canonical` — the apply semantics that ARE
    * that trainer's internal state. The production artifact-write path. */
  def bpeModelWriteScaled(s: SparkSession, corpusDir: String, modelDir: String,
      merges: Int): Unit =
    bpeModelPersist(s, textBpeTrainScaled(s, corpusDir, merges), modelDir,
      applyForm = "canonical")

  /** Write a merge table and its APPLY FORM as ONE commit of the index
    * log at `modelDir`: the `merges` table plus the `merges.apply_form`
    * prop — `two_pass` for the demo trainer's boundary-anchored two-pass
    * replace, `canonical` for the scaled trainer's leftmost sequential
    * scan. The prop records the artifact's PROVENANCE, so the serve side
    * dispatches on what the trainer's internal state actually was
    * instead of inferring it from table size — a ≤32-merge scaled
    * artifact (a small corpus exhausting early) would otherwise be
    * served with the wrong fixed point on same-symbol runs. A model
    * committed without the prop (a hand-built merge table) keeps the
    * size heuristic ([[bpeApplyMergesAuto]]). A crash before the commit
    * leaves the previous model serving; a dir with no committed model
    * fails loudly in every reader. */
  def bpeModelPersist(s: SparkSession, mergesDf: DataFrame, modelDir: String,
      applyForm: String): Unit = {
    require(applyForm == "two_pass" || applyForm == "canonical",
      s"unknown BPE apply form '$applyForm'")
    IndexMaintenance.labeledJob(s, s"bpe-model: persist $applyForm") {
      IndexMaintenance.replace(s, modelDir, Seq("merges" -> mergesDf),
        props = Map("merges.apply_form" -> applyForm))
    }
  }

  /** The committed model at `modelDir`. A dir without a committed
    * merge table fails loudly instead of serving a truncated or foreign
    * tokenizer. */
  private def committedModel(s: SparkSession, modelDir: String): IndexMaintenance.Snapshot =
    IndexMaintenance.snapshotIfAny(s, modelDir).filter(_.hasTable("merges")).getOrElse(
      throw new IllegalStateException(
        s"BPE model at $modelDir has no committed merge table — the artifact is " +
        "incomplete (a crash before its commit, or a dir not written through " +
        "bpeModelPersist or IndexMaintenance.replace); re-persist it"))

  /** The persisted model's recorded apply form, if it carries one. */
  private[graft] def bpeModelApplyForm(s: SparkSession, modelDir: String): Option[String] =
    committedModel(s, modelDir).props.get("merges.apply_form")

  /** Merge apply dispatched on the artifact's recorded provenance
    * ([[bpeModelApplyForm]]); models without one fall back to the size
    * heuristic. A `two_pass` form on a table past
    * [[bpeReplaceChainMax]] fails loudly — the demo trainer never
    * produces one, and silently building its 2-nodes-per-merge
    * expression tree at production size is the analysis blowup the
    * dispatch exists to prevent. */
  private def bpeApplyDispatch(words: DataFrame, merges: Seq[(String, String)],
      form: Option[String]): DataFrame = form match {
    case Some("canonical") => bpeApplyMergesScaled(words, merges)
    case Some("two_pass") =>
      require(merges.size <= bpeReplaceChainMax,
        s"a two_pass-marked model with ${merges.size} merges exceeds the replace-chain " +
        s"bound ($bpeReplaceChainMax) — demo artifacts are bounded by construction; " +
        "re-train through textBpeTrainScaled/bpeModelWriteScaled for production sizes")
      bpeApplyMerges(words, merges)
    case Some(other) => throw new IllegalArgumentException(
      s"unknown BPE apply form '$other' in the model")
    case None => bpeApplyMergesAuto(words, merges)
  }

  /** Step-ordered merge list of a persisted model — a bounded read
    * (one row per merge) of its committed files. */
  private[graft] def bpeModelMerges(s: SparkSession, modelDir: String): Seq[(String, String)] =
    committedModel(s, modelDir).read(s, "merges")
      .select(col("step"), col("lhs"), col("rhs")).orderBy(col("step"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** [[textBpeEncode]] under ANY persisted model: per-doc token counts
    * over `dir` under the model at `modelDir`, whatever corpus that
    * model was trained on. */
  def textBpeEncodeServed(s: SparkSession, dir: String, modelDir: String): DataFrame =
    bpeEncodePresentation(bpeDocCountsWith(s, dir, bpeEncodedVocab(s, dir, modelDir)))

  /** Per-source `(source, n_docs, n_tokens)` of a DOCUMENT FRAME under
    * an explicit merge list — the streaming token ledger's per-trigger
    * unit of work. The apply runs over the frame's own DISTINCT words
    * (batch-vocabulary-sized — per-trigger cost is proportional to the
    * batch, never the corpus), then the frame pays one explode + word
    * join + two-level aggregation; token-less docs count toward
    * `n_docs` with zero tokens, exactly like [[bpeDocCounts]]. Encoding
    * is per-word and the merges are FROZEN, so counting batch-by-batch
    * and summing equals one whole-corpus encode — bit-exactly. */
  private[graft] def bpeSourceCounts(docs: DataFrame,
      merges: Seq[(String, String)],
      applyForm: Option[String] = None): DataFrame = {
    val vocab = bpeApplyDispatch(
      docs.select(explode(TextFns.tokens(col("text"))).as("word")).distinct()
        .select(col("word"), concat_ws(" ", split(col("word"), "")).as("w")),
      merges, applyForm)
    val enc = vocab.select(col("word"),
      size(split(col("w"), " ")).cast("long").as("n_syms"))
    docs.select(col("doc_id"), col("source"),
        explode_outer(TextFns.tokens(col("text"))).as("word"))
      .join(enc, Seq("word"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(coalesce(sum(col("n_syms")), lit(0L)).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
  }

  /** The persisted tokenizer model for `dir`, written once per (JVM,
    * corpus) as a standing [[Artifacts]] temp dir — the model every
    * registered encode consumer reads, mirroring [[textIndexFor]]. */
  private[graft] def bpeModelFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"bpe-model|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-bpe-model").toString
      bpeModelWrite(s, dir, d)
      d
    }

  /** The persisted SCALED tokenizer artifact for `dir`: the
    * production write path ([[bpeModelWriteScaled]]) at the gate merge
    * count, once per JVM. Content-identical to the registered trainer
    * form's output — the checkpoint cadence truncates plan lineage
    * only, never the merge table. */
  private[graft] def scaledBpeModelFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"bpe-model-scaled|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-bpe-model-scaled").toString
      bpeModelWriteScaled(s, dir, d, bpeScaledTrainMerges)
      d
    }

  /** Registered SCALED-serve form: train the PRODUCTION
    * trainer at the gate merge count, persist with the canonical
    * apply form, serve the encode under the artifact — so the code path a
    * deployment actually serves with (apply-form dispatch → the
    * constant-plan-depth canonical encoder) rides the per-round gate,
    * not just its specs. Rows-only by design (the canonical leftmost
    * scan is stateful — the same no-SQL-restatement reason as the
    * trainer); the self-check recomputes every per-doc row from an
    * independent in-memory reference trainer + reference canonical
    * encoder. */
  def textBpeEncodeScaledServedQuery(s: SparkSession, dir: String): DataFrame =
    textBpeEncodeServed(s, dir, scaledBpeModelFor(s, dir))

  /** Corpus token distribution under the TRAINED tokenizer — the top
    * [[bpeTokenFreqTopK]] tokens by total occurrence count (ties broken
    * lexicographically). Computed entirely over the encoded VOCABULARY
    * (symbols weighted by word frequency) — the corpus is never
    * re-touched, so the whole query is vocabulary-sized regardless of
    * corpus scale. The vocabulary-side identity
    * Σ_word freq(word)·|encode(word)| = Σ_doc n_tokens(doc) is pinned
    * against [[textBpeEncode]] in `BpeTrainSpec`. */
  def textBpeTokenFreq(s: SparkSession, dir: String): DataFrame =
    bpeEncodedVocab(s, dir, bpeModelFor(s, dir))
      .select(explode(split(col("w"), " ")).as("token"), col("freq"))
      .groupBy(col("token")).agg(sum(col("freq")).cast("long").as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(bpeTokenFreqTopK)

  /** Discrete quantile percentages for the corpus profile. */
  val quantilePs = Seq(50, 90, 99)

  /** Per-language token-count quantiles (p50/p90/p99) — the first plot
    * anyone makes of a new corpus. Discrete quantiles via integer rank
    * arithmetic (the value at rank `max(1, ceil(p·n/100))` of the sorted
    * multiset) rather than interpolating percentile functions, whose
    * interpolation arithmetic differs across engines.
    *
    * Scale shape: computed over the VALUE-FREQUENCY table, not the rows —
    * a shuffle-parallel groupBy(lang, n_tokens) first, then cumulative
    * counts over the per-language DISTINCT values (thousands at most, so
    * the per-language window is trivially small). Ranking the raw rows
    * instead would sort an entire language's documents in one window
    * task — exactly the single-task-per-group trap this avoids. The
    * value at quantile rank k is the smallest value whose cumulative
    * frequency reaches k — identical to row-ranking, bit-for-bit. */
  def textLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docsScan(s, dir)
      .select(col("lang"), size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("n_tokens")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy(col("lang"))
    freq
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wl))
      .select(col("lang"), col("n_tokens"), col("cnt"), col("cum"), col("n"),
        explode(array(quantilePs.map(lit): _*)).as("p"))
      .withColumn("k", greatest(lit(1L), expr("(p * n + 99) div 100")))
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("lang"), col("p"), col("n_tokens").as("tokens_at_p"))
      .orderBy(col("lang"), col("p"))
  }

  /** Repetition thresholds: a doc is flagged when over `dupFracMax` of
    * its word 2-grams are repeats, or one 2-gram alone accounts for over
    * `topShareMax` of them — the standard boilerplate/loop signals a
    * pretraining quality pass filters on. */
  val dupFracMax = 0.4
  val topShareMax = 0.15

  /** Per-document repetition profile over word 2-grams: total / distinct
    * counts, duplicate fraction, the share of the single most frequent
    * 2-gram, and the filter flag. Shape: explode → two-level aggregate —
    * per-(doc, gram) counts first, then per-doc — one linear shuffle
    * whose key space is (doc × distinct grams), never a per-doc sort or
    * an O(grams²) in-row fold. Docs with fewer than two tokens have no
    * 2-grams (and an ANSI div-by-zero) — excluded in both engines. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val grams = docsScan(s, dir)
      // toks as its OWN projected column: a lambda over an attribute
      // reference — inlining the tokenizer into the transform() would
      // re-split the text once per gram (the HOF per-element re-eval trap)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      // total expression for the same reason as textBoilerplate's grams:
      // inferred generate filters + subexpression elimination can
      // evaluate this before the size >= 2 guard — clamp the sequence
      // bound (descending below 1 emits invalid index 0) and use
      // try_element_at (ANSI element_at throws out-of-range); surviving
      // rows index in range either way
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(col("toks")) - 1, lit(1))),
        i => concat_ws(" ", try_element_at(col("toks"), i), try_element_at(col("toks"), i + 1)))).as("gram"))
    grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n2_total"),
        count(lit(1)).as("n2_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n2_total"), col("n2_distinct"),
        ((col("n2_total") - col("n2_distinct")).cast("double") / col("n2_total").cast("double")).as("dup2_frac"),
        (col("top_c").cast("double") / col("n2_total").cast("double")).as("top2_share"))
      .withColumn("is_repetitive",
        col("dup2_frac") > dupFracMax || col("top2_share") > topShareMax)
      .orderBy(col("doc_id"))
  }

  /** Per-document token Shannon entropy (nats) and entropy efficiency
    * (H / ln(n_uniq) — 1.0 means uniform over the observed vocabulary).
    * A low-entropy document is boilerplate/spam even when the repetition
    * filter's fixed 2-gram window misses it. Shape: the same two-level
    * (doc, token) aggregate as textRepetition — one linear map-side-
    * combined shuffle whose key space is doc × distinct tokens, never a
    * per-doc sort. The entropy itself uses the single-aggregate identity
    * H = ln(n) − (Σ c·ln c)/n, so no second pass for the normalizer and
    * no per-token p=c/n division. Zero-token docs simply produce no
    * (doc, token) rows; single-term docs have H = 0 and an undefined
    * efficiency (ln(1) = 0) — NULL in both engines. Scores quantized to
    * 6 decimals against Σ-order float divergence vs the oracle. */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val ent = log(col("n_tokens").cast("double")) -
      col("clnc") / col("n_tokens").cast("double")
    docsScan(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_uniq"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        round(ent, 6).as("entropy"),
        when(col("n_uniq") > 1,
          round(ent / log(col("n_uniq").cast("double")), 6)).as("efficiency"))
      .orderBy(col("doc_id"))
  }

  /** Per-document cross-entropy under the corpus's own unigram LM
    * (nats/token, plus perplexity) — the CCNet-style "how surprising is
    * this document" quality signal, here with the MLE model trained on
    * the scored corpus itself so every token is in-vocabulary and no
    * smoothing constant leaks into the oracle contract. (A deployment
    * trains the LM on a held-out reference corpus and adds smoothing;
    * the plan shape is identical — only the `cf` side changes.) Shape:
    * ONE tokenize into per-(doc, term) counts; the term frequencies `cf`
    * aggregate from that GROUPED frame (group-count rows, not corpus
    * tokens — the curate_source_mix lesson); the corpus total is a 1-row
    * broadcast like BM25's stats; and `cf` joins back on term with the
    * join strategy left to stats — broadcast while the vocabulary fits
    * the threshold, shuffle join once it is corpus-sized (the TF-IDF df
    * shape). AQE reuses the shared tfc subtree's exchange instead of
    * re-tokenizing (pinned in PlanGuardSpec). */
  def textUnigramLm(s: SparkSession, dir: String): DataFrame = {
    val tfc = docsScan(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val cf = tfc.groupBy(col("term")).agg(sum(col("c")).as("cf"))
    val tot = cf.agg(sum(col("cf")).cast("double").as("total"))
    tfc.join(cf, "term")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        (-sum(col("c").cast("double") *
            (log(col("cf").cast("double")) - log(col("total")))) /
          sum(col("c")).cast("double")).as("xent_raw"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("xent_raw"), 6).as("xent_nats"),
        round(exp(col("xent_raw")), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** Interpolation weight on the bigram model in [[textBigramLm]] (the
    * unigram back-off gets 1 − λ). 0.75 and 0.25 are both exactly
    * binary-representable, so the two engines' interpolation arithmetic
    * starts from identical constants. */
  val bigramLambda = 0.75

  /** BIGRAM-INTERPOLATED LM document scoring — the CCNet-style quality
    * filter [[textUnigramLm]] approximates, with the real conditional
    * model: per-doc cross-entropy under p(w|v) = λ·c(v,w)/c(v,·) +
    * (1−λ)·cf(w)/total, MLE-trained on the corpus itself (c(v,·) sums
    * bigram counts over the follower, so the conditional is a proper
    * distribution; the unigram back-off makes every observed bigram
    * scoreable even where the context is rare). Repetitive boilerplate
    * scores low (predictable under its own statistics), token salad
    * scores high — the standard perplexity-bucketing signal.
    *
    * Scale shape, per the unigram operator's lesson: ONE corpus-sized
    * adjacent-pair aggregation into per-(doc, v, w) counts; the model
    * tables (`bc`, then context totals `ctx`) aggregate from that
    * GROUPED frame — model-sized, not corpus-sized; the unigram side
    * reuses the same grouped-frame trick; the corpus total is a 1-row
    * broadcast; model tables join back with the strategy left to stats
    * (broadcast while the bigram vocabulary fits, shuffle join once it
    * is corpus-sized). Docs with fewer than two tokens have no bigram
    * positions and drop out, exactly like token-less docs in the
    * unigram form. */
  def textBigramLm(s: SparkSession, dir: String): DataFrame = {
    // both corpus passes (bigram pairs + unigram counts) go through the
    // gated scan spread: a profile showed the two tokenize map stages
    // serialized on ONE task each (0.57 s + 0.34 s on the
    // single-row-group layout) — the same compute-dense one-pass shape
    // the char-trigram spread won on
    val toks = docsScanSpread(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    // per-(doc, v, w) counts come out of ONE fused row-local expression:
    // a doc's positions all live in its tokens
    // array, so the former explode(arrays_zip) → groupBy(doc_id, v, w)
    // chain paid a corpus-sized exchange plus partial+final hash
    // aggregation over every token POSITION to group rows that were
    // never apart. Counts are identical longs; the only exchanges left
    // on the bigram side are the model-sized (v, w) ones below.
    val dbc = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(graft.plans.VectorFunctions.token_pair_counts(col("toks"))).as("p"))
      .select(col("doc_id"), col("p.v").as("v"), col("p.w").as("w"), col("p.c").as("c"))
    val bc = dbc.groupBy(col("v"), col("w")).agg(sum(col("c")).as("bc"))
    val ctx = bc.groupBy(col("v")).agg(sum(col("bc")).as("cfx"))
    // corpus-wide term counts aggregate STRAIGHT off the token explode:
    // the former per-(doc, term) grouping was consumed only by this sum
    // (Σ per-doc counts ≡ total count, exact longs), so its own
    // corpus-sized exchange bought nothing
    val cf = docsScanSpread(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tot = cf.agg(sum(col("cf")).cast("double").as("total"))
    dbc.join(bc, Seq("v", "w"))
      .join(ctx, Seq("v"))
      .join(cf.withColumnRenamed("term", "w"), Seq("w"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_bigrams"),
        (-sum(col("c").cast("double") *
            log(lit(bigramLambda) * (col("bc").cast("double") / col("cfx").cast("double"))
              + lit(1.0 - bigramLambda) * (col("cf").cast("double") / col("total")))) /
          sum(col("c")).cast("double")).as("xr"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("xr"), 6).as("xent_nats"),
        round(exp(col("xr")), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns, shared verbatim with the oracle SQL: dialect-neutral
    * regexes (character classes and bounded repeats only — no lookaround,
    * so Java regex and RE2 agree) applied in a FIXED order, each stage
    * counting and replacing on the previous stage's output, so the two
    * engines see the identical occurrences (an email's digits are already
    * `<EMAIL>` by the time the digit-run pass scans). */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val piiNumRe = "[0-9]{7,}"

  /** PII scrubbing: redact emails, IPv4 literals, and long digit runs
    * (phone/SSN-shaped), reporting per-document hit counts — the
    * compliance pass every pretraining pipeline runs before anything
    * else sees the text. Pure codegen column work (three regexp stages
    * fused into one whole-stage-codegen projection), no shuffle at all:
    * scales linearly and is bounded by the scan. The synthetic corpus is
    * PII-free by construction (all counts 0, scrubbed = text — itself a
    * meaningful no-false-positives check); the hit paths are exercised
    * by `OperatorSpec` on a purpose-built corpus and by the adversarial
    * fuzz harness. */
  def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val d = docsScan(s, dir)
      .withColumn("n_emails", regexp_count(col("text"), lit(piiEmailRe)).cast("long"))
      .withColumn("t1", regexp_replace(col("text"), piiEmailRe, "<EMAIL>"))
      .withColumn("n_ips", regexp_count(col("t1"), lit(piiIpRe)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), piiIpRe, "<IP>"))
      .withColumn("n_nums", regexp_count(col("t2"), lit(piiNumRe)).cast("long"))
    d.select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_nums"),
        (col("n_emails") + col("n_ips") + col("n_nums") > 0).as("has_pii"),
        regexp_replace(col("t2"), piiNumRe, "<NUM>").as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** A word 3-gram is a source's boilerplate when it appears in at least
    * this many distinct documents of that source. */
  val boilMinDocs = 3

  /** Per-source template/boilerplate profile: distinct word 3-grams that
    * recur across [[boilMinDocs]]+ documents of one source are that
    * source's boilerplate (crawl headers, license footers, nav chrome);
    * each document reports what fraction of its distinct 3-grams is
    * boilerplate. ONE tokenize pass: per-row `array_distinct` replaces a
    * DISTINCT shuffle, the document frequency comes from a count window
    * over (source, gram) — partitions are bounded by docs-per-source, so
    * no mega-task — and the same rows then aggregate per document. The
    * alternative (aggregate df, join the boilerplate set back) would
    * re-tokenize the corpus in a second subtree — the minhash
    * double-compute lesson. */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // word_shingles: the fused codegen expression (same whitespace
    // tokenizer, distinct space-joined n-grams via LinkedHashSet — i.e.
    // array_distinct of the 3-grams in document order). The composed
    // HOF form (transform + element_at over sequence) was ~10x slower
    // here: the optimizer infers a size(grams) > 0 filter from the
    // explode and re-evaluates the whole interpreted gram build per
    // row in the filter AND the projection — and ANSI element_at made
    // it throw on sub-3-token docs on top (fuzz-caught). The fused
    // expression is total (short docs yield an empty array) and one
    // compiled call, so the duplicate reference costs nothing.
    val g = docsScan(s, dir)
      .select(col("doc_id"), col("source"),
        graft.plans.VectorFunctions.word_shingles(col("text"), 3).as("grams"))
      .filter(size(col("grams")) >= 1)
      .select(col("doc_id"), col("source"), explode(col("grams")).as("gram"))
    g.withColumn("df", count(lit(1)).over(Window.partitionBy(col("source"), col("gram"))))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= boilMinDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_grams").cast("double"), 6))
      .withColumn("is_template", col("boiler_frac") >= 0.5)
      .select(col("doc_id"), col("source"), col("n_grams"), col("n_boiler"),
        col("boiler_frac"), col("is_template"))
      .orderBy(col("doc_id"))
  }

  /** CMS parameters: ±eps·N error at the given confidence; fixed seed
    * makes the sketch fully deterministic (counts are additive, so the
    * merge order across partitions cannot change the result). */
  val cmsEps = 0.0005
  val cmsConfidence = 0.99
  val cmsSeed = 42

  /** Heavy-hitter words via Count-Min Sketch — the bounded-memory
    * frequency sketch a streaming/multi-pass system serves lookups from
    * (HLL answers "how many distinct", CMS answers "how often is X").
    * The sketch is a single `treeAggregate` pass of fixed size
    * regardless of corpus scale; the exact top-20 (computed by the
    * ordinary distributed count for comparison) is then probed against
    * it. Rows-only: sketches have no SQL oracle — the overestimate
    * bound `exact <= est <= exact + eps·N` is asserted in
    * `SinkAndApproxSpec`. NOTE: eager by nature — the sketch build and
    * probe run at call time (like `dedupClusters`' hybrid decision) and
    * the result is a small driver-local frame, unlike the lazy plans
    * every other query returns. */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = docsScan(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
    val cms = words.stat.countMinSketch("word", cmsEps, cmsConfidence, cmsSeed)
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("word")).limit(20).collect()
    import s.implicits._
    top.map(r => (r.getString(0), r.getLong(1), cms.estimateCount(r.getString(0))))
      .toSeq.toDF("word", "exact_cnt", "cms_est")
      .orderBy(col("exact_cnt").desc, col("word"))
  }

  /** Serving threshold for the sketch-only heavy-hitter path, as a
    * fraction of total word count, and the per-partition Misra-Gries
    * counter budget. MG guarantees any word with local frequency >
    * n_p/(k+1) survives in the counter set; a globally-heavy word
    * (freq ≥ T) has local freq ≥ T/P in some partition by pigeonhole,
    * so with balanced partitions the budget needs k+1 > 1/hhFraction —
    * 1024 counters give ~5× headroom over 1/0.005 for skew. */
  val hhFraction = 0.005
  val mgCounters = 1024

  /** Sketch-ONLY heavy hitters — the serving path `textHeavyHitters`'
    * exact comparison pass would defeat at scale.
    * No exact global word count anywhere:
    *
    *  1. ONE bounded pass builds the CMS (`treeAggregate`, fixed size);
    *     its `totalCount` supplies N — no separate count job.
    *  2. Candidates come from per-partition Misra-Gries summaries
    *     (`mapPartitions`, ≤ `mgCounters` strings each, no shuffle of
    *     the word stream): every word with global freq ≥ threshold has
    *     local freq ≥ threshold/P somewhere (pigeonhole) and therefore
    *     survives its partition's counter set — a PROVABLE superset,
    *     asserted in SinkAndApproxSpec.
    *  3. The ≤ k·P candidates probe the broadcast CMS distributed-side;
    *     est ≥ threshold keeps every true heavy hitter (CMS never
    *     underestimates) plus at most eps·N-inflated borderline words.
    *
    * Rows-only (sketches have no SQL oracle); eager like its sibling —
    * the CMS build runs at call time. */
  def textHeavyHittersSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = docsScan(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
    val cms = words.stat.countMinSketch("word", cmsEps, cmsConfidence, cmsSeed)
    val threshold = math.max(1L, math.ceil(cms.totalCount() * hhFraction).toLong)
    val k = mgCounters
    val candidates = words.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        counters.get(w) match {
          case Some(c) => counters(w) = c + 1
          case None if counters.size < k => counters(w) = 1L
          case None => // decrement-all step (amortized O(1) per arrival)
            val dead = counters.collect { case (kw, 1L) => kw }
            counters.mapValuesInPlace((_, c) => c - 1)
            dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("word").distinct()
    val cmsBc = s.sparkContext.broadcast(cms)
    val est = udf((w: String) => cmsBc.value.estimateCount(w))
    candidates
      .withColumn("cms_est", est(col("word")))
      .filter(col("cms_est") >= threshold)
      .orderBy(col("cms_est").desc, col("word"))
  }

  /** Coverage curve ranks: cumulative token share of the top-k words. */
  val vocabRanks = Seq(1, 5, 10, 25, 100)

  /** Vocabulary coverage — what fraction of all token occurrences the
    * top-k most frequent words cover, for each k in [[vocabRanks]]: the
    * curve that sizes a tokenizer vocabulary. One distributed word
    * count (the only full shuffle), then a bounded top-maxRank
    * TakeOrdered; the running sum over those max(vocabRanks) rows is a
    * constant-size window (NOT a per-corpus sort — the single-task
    * window here is bounded by the rank constant, never by data).
    * Ties break by word for cross-engine determinism. */
  def textVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docsScan(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val maxRank = vocabRanks.max
    val w = Window.orderBy(col("cnt").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val top = counts.orderBy(col("cnt").desc, col("word")).limit(maxRank)
      .withColumn("rk", row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
      .withColumn("cum", sum(col("cnt")).over(w))
    top.crossJoin(broadcast(total))
      // ranks beyond the vocabulary size simply have no row, mirrored
      // exactly by the oracle's row_number filter
      .filter(col("rk").isInCollection(vocabRanks))
      .select(col("rk").cast("long").as("rank"), col("word").as("word_at_rank"),
        col("cum").as("covered_tokens"), col("total").as("total_tokens"),
        (col("cum").cast("double") / col("total").cast("double")).as("coverage"))
      .orderBy(col("rank"))
  }

  /** Posting-list head size for the inverted index — the per-term output
    * row stays bounded no matter how common the term is. */
  val invPostingsHead = 32

  /** Inverted index over the corpus: per term, document frequency, corpus
    * frequency, and the head of the sorted posting list. The serving
    * artifact of any text-search system — and the one place a naive
    * implementation melts at scale, by collecting a stopword's full
    * posting list into one aggregation buffer. Here the bound lives in
    * the AGGREGATION BUFFER: `collect_list(when(rk <= k, …))` skips the
    * beyond-head ranks, so the per-term buffer holds ≤ k elements no
    * matter the term frequency. (All (term, doc_id) rows still FLOW
    * through the window — df/cf need every row, so there is no rk<=k
    * row filter and WindowGroupLimit cannot prune map-side here; the
    * scan-once property below is what makes that single pass cheap.)
    * (A full-list index at 100 TB is stored as the (term,
    * doc_id) table itself, partitioned by term — that is exactly the
    * `tf` frame below; the head column is the bounded digest of it.) */
  def textInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docsScan(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    // ONE subtree: rank within term, then a single per-term aggregate
    // computes df/cf over ALL rows while the head collects only the
    // rank<=k ids (collect_list skips the nulls), so the aggregation
    // buffer stays <=k yet the token stream is scanned, exploded, and
    // tf-aggregated exactly once. A stats-side + heads-side split would
    // recompute that whole subtree twice (the minhash double-compute lesson).
    // The window and the groupBy both key on term — one exchange serves
    // both; the per-partition sort is by (term, doc_id), spillable.
    tf
      .withColumn("rk", row_number().over(Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("rk") <= invPostingsHead, col("doc_id")))),
          _.cast("string"))).as("postings_head"))
      .orderBy(col("term"))
  }

  /** Fixed demo phrase for positional retrieval (chosen to occur in the
    * synthetic corpus at every SF, like [[bm25Query]]). */
  val phraseQuery = Seq("window", "join")

  /** Exact-phrase retrieval — the positional-postings operator BM25's
    * bag-of-words scoring cannot express: a doc matches only where the
    * query terms occur CONSECUTIVELY. Postings shape, not a substring
    * scan: tokens explode WITH positions, non-query terms are dropped
    * before anything shuffles (at 100 TB only the query terms' postings
    * move — the same read-only-what-the-query-touches discipline as the
    * served BM25 index), per-(doc, term) position arrays aggregate
    * bounded by per-doc occurrence counts, and adjacency is an array
    * intersection per doc (`filter` + `array_contains` over
    * occurrence-sized arrays). Chains to any phrase length: term i must
    * sit at p+i for a term-0 position p. Output (doc_id, n_matches,
    * first_pos) is integer-exact ⇒ full DuckDB oracle. */
  def textPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val pos = docsScan(s, dir)
      .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(phraseQuery: _*))
    phraseHits(phraseQuery.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos").cast("long"))).as(s"pos_$i"))
    })
  }

  /** The adjacency tail shared by the in-session and served phrase
    * paths: expects one frame per query term carrying (doc_id, pos_i)
    * sorted position arrays; chains term i to position p+i. ONE
    * definition ⇒ the served path is byte-identical by construction and
    * shares the oracle. */
  private def phraseHits(byTerm: Seq[DataFrame]): DataFrame = {
    val joined = byTerm.reduce((a, b) => a.join(b, "doc_id"))
    val hits = phraseQuery.indices.tail.foldLeft(col("pos_0")) { (acc, i) =>
      filter(acc, p => array_contains(col(s"pos_$i"), p + i))
    }
    joined
      .withColumn("hit_pos", hits)
      .filter(size(col("hit_pos")) >= 1)
      .select(col("doc_id"), size(col("hit_pos")).cast("long").as("n_matches"),
        element_at(col("hit_pos"), 1).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** Exact-phrase retrieval over the PERSISTED index: the corpus is
    * never re-tokenized — the plan reads ONLY the query terms' posting
    * rows (pushed `In(term)`) and their stored position arrays. Query
    * cost is O(Σ query-term posting length), the read shape positional
    * retrieval needs at 100 TB; same tail as the scan path ⇒ shared
    * oracle. */
  def textPhraseServed(s: SparkSession, indexDir: String): DataFrame = {
    val hits = IndexMaintenance.scan(s, indexDir, "postings", "doc_id")
      .filter(col("term").isin(phraseQuery: _*))
    phraseHits(phraseQuery.zipWithIndex.map { case (t, i) =>
      hits.filter(col("term") === t).select(col("doc_id"), col("positions").as(s"pos_$i"))
    })
  }

  /** Keywords kept per document in the TF-IDF extraction. */
  val tfidfTopTerms = 5

  /** Per-document keyword extraction: the top-k terms by TF-IDF — the
    * classic corpus-statistics feature a curation pipeline attaches to
    * every document. One (doc, term) tf aggregate, one per-term df
    * aggregate off it, a shuffle join back on term (correctly NOT
    * broadcast: at corpus scale the vocabulary is itself large), and a
    * per-doc top-k that compiles to WindowGroupLimit — map-side pruned,
    * never a full per-doc sort. The score is quantized to 6 decimals in
    * both engines (ln() ulp divergence) and the rank orders by the
    * QUANTIZED score, so the kept set is engine-identical. */
  def textTfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsScan(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", round(
        col("tf").cast("double") *
          log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= tfidfTopTerms)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** BM25 parameters and the fixed demo query. */
  val bm25K1 = 1.2
  val bm25B = 0.75
  val bm25Query = Seq("spark", "join", "vector")
  val bm25TopK = 25

  /** Df-share bound for the BOUNDED served forms: a query term whose
    * document frequency exceeds this share of the corpus is dropped
    * from scoring before its posting list is ever read — the classic
    * stopword cut, justified by BM25 itself (idf = ln(1 + (N-df+0.5)/
    * (df+0.5)) ≈ 0.26 at df/N = 0.9 and → ln(1+0.5/(N+0.5)) ≈ 0 as
    * df → N, so the dropped contribution is near-noise) and by scale
    * (at 10B docs a df-share-0.9 term is a 9B-row posting list through
    * the serve join). The default sits above this synthetic demo
    * corpus's dense head (max term share ≈ 0.83, query terms ≈ 0.78)
    * so the registered bounded query is pass-through here; real web
    * corpora put stopwords at 0.3–0.6 and deployments tune the cut
    * down accordingly. */
  val bm25MaxDfShare = 0.9

  /** A LOW df-share cut the synthetic corpus's term distribution
    * actually crosses (its dense head sits at ~0.77–0.83; the fixed
    * query's 'join' lands at ~0.79, 'spark'/'vector' just under): the
    * registered `*_maxscore_lowcut` twins run the exact bounded serves
    * with this cut, so the ENGAGED-pruning plan — not just the
    * fallback arm — executes under the DuckDB oracle at every SF. The
    * results are identical to the unbounded serves by MaxScore's
    * construction at ANY cut; the cut only moves which arm does the
    * work. */
  val bm25LowDfShare = 0.78

  /** Language slice the FILTERED lexical search serves within — the
    * same serve-time-predicate semantics as the filtered ANN paths:
    * ranking is restricted to slice documents, but the BM25 corpus
    * statistics (n_docs, avgdl, per-term df) stay WHOLE-CORPUS — the
    * index's frozen statistics, the production serving semantic (a
    * per-slice re-estimate would re-score every standing document and
    * make scores incomparable across slices). */
  val bm25FilterLang = "en"

  /** BM25 ranked retrieval for a fixed conjunctive-OR query — the
    * classic lexical search scorer. Shuffle-free scoring: term
    * frequencies come from `size(filter(toks, ...))` per document (no
    * explode/groupBy of the token stream), the corpus statistics (N,
    * avgdl, per-term df) are ONE 1-row aggregate cross-joined back as a
    * broadcast, and the result is a TakeOrdered top-k. At 100 TB this is
    * a single linear scan of the documents + a k-row sort — the same
    * shape as `sim_topk_bruteforce`, for the lexical side of retrieval.
    * The per-term score sum is written in fixed query order in BOTH
    * engines, so the double arithmetic is bit-identical. */
  def textBm25Search(s: SparkSession, dir: String): DataFrame =
    textBm25SearchWhere(s, dir, None)

  /** Linear-scan BM25 with an optional ranking restriction — the
    * spec-facing reference for the filtered served path. Statistics are
    * aggregated over the WHOLE corpus BEFORE the predicate applies
    * (frozen-stats semantics, see [[bm25FilterLang]]); only the ranked
    * candidate set is sliced. */
  private[graft] def textBm25SearchWhere(s: SparkSession, dir: String,
      pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    val base = docsScan(s, dir)
      .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("dl", size(col("toks")).cast("long"))
    val withTf = bm25Query.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      df.withColumn(s"tf_$i", size(filter(col("toks"), x => x === t)).cast("long"))
    }
    val statAggs =
      Seq(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl")) ++
        bm25Query.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    val ranked = pred.fold(withTf)(withTf.filter(_))
    bm25Rank(ranked.crossJoin(broadcast(stats)))
  }

  /** The ONE BM25 idf expression — ln(1 + (n − df + 0.5)/(df + 0.5)) —
    * shared by every scorer, bound, and dictionary writer. Bit-for-bit
    * agreement across its call sites is LOAD-BEARING: the MaxScore
    * serves claim result-identity with the unbounded serves, and the
    * hybrid's ub-rescale ratio must be exactly 1.0 on a fresh index —
    * a drifted copy (operand order, a cast) would break those
    * contracts in ways the ε slack could mask on small corpora, which
    * is why the formula exists exactly once in each representation
    * (Column / scalar; the DuckDB oracles restate it in SQL). */
  private[graft] def bm25Idf(dfC: org.apache.spark.sql.Column,
      nC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    log(lit(1.0) + (nC - dfC.cast("double") + 0.5) / (dfC.cast("double") + 0.5))

  /** Scalar twin of [[bm25Idf]] for driver-side bound arithmetic. */
  private[graft] def bm25IdfAt(df: Double, n: Double): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** One term's BM25 contribution over its tf and df columns and the
    * frame's dl / n_docs / avgdl columns — the ONE expression the ranked
    * tail below and the hybrid's per-slot sums evaluate, so their double
    * arithmetic agrees bit for bit. */
  private[graft] def bm25Contrib(tf: Column, df: Column): Column = {
    val t = tf.cast("double")
    bm25Idf(df, col("n_docs").cast("double")) * (t * lit(bm25K1 + 1.0)) /
      (t + lit(bm25K1) * (lit(1.0 - bm25B) + lit(bm25B) * col("dl").cast("double") / col("avgdl")))
  }

  /** The shared BM25 scoring tail: expects tf_i / df_i / dl / n_docs /
    * avgdl columns and produces the ranked top-k. ONE definition serves
    * the linear-scan path and the persisted-index path, so the double
    * arithmetic (and its 6-decimal quantization — Java's ln() is not
    * correctly rounded, so BOTH engines sort on the rounded value) is
    * identical by construction. */
  private def bm25Rank(scored: DataFrame): DataFrame = {
    val contrib = bm25Query.indices.map(i => bm25Contrib(col(s"tf_$i"), col(s"df_$i")))
    scored
      .withColumn("score", round(contrib.reduce(_ + _), 6))
      .filter(bm25Query.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("doc_id") +: col("dl") +:
        bm25Query.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(bm25TopK)
  }

  /** Persist the text-search index: the (term, doc_id, tf) posting
    * table, the (doc_id, dl) doc-length table and the term dictionary,
    * with the corpus statistics (n_docs and the doc-length sum) as
    * `doclen.*` facts of the same log version — the artifacts every
    * lexical search engine stores. At 100 TB the posting table is
    * additionally partitioned or bucketed by term; plain parquet +
    * predicate pushdown already gives the serving read its shape (only
    * the QUERY TERMS' postings are scanned — pinned by the
    * `PlanGuardSpec` pushdown guard). */
  def textIndexWrite(s: SparkSession, corpusDir: String, indexDir: String): Unit = {
    // one tokenize feeds all three tables, which commit together
    val base = indexableDocs(Tables(s, corpusDir, "documents")).persist()
    try IndexMaintenance.transact(s, indexDir) { _ =>
      // doclen doubles as the DOC-VALUES table (lang, source alongside
      // dl): filtered serving prunes on these at the parquet scan without
      // ever touching the corpus — the stored-fields shape every lexical
      // engine persists next to its postings
      val doclen = base.select(col("doc_id"), col("dl"), col("lang"), col("source"))
      // positions ride in the postings rows (the Lucene-standard layout):
      // tf-only consumers ignore the column, phrase serving reads it —
      // the honest storage cost of positional retrieval, ~the token
      // stream itself, paid once at index time
      val postings = postingsOf(base)
      rebuild(doclen, postings, doclen, postings)
    } finally base.unpersist()
  }

  /** (term, doc_id, tf, positions) rows of a tokenized doc frame. */
  private def postingsOf(base: DataFrame): DataFrame =
    base.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))

  /** The log facts holding a text index's frozen corpus statistics. */
  private val nDocsFact = "doclen.n_docs"
  private val dlSumFact = "doclen.dl_sum"

  /** The frozen corpus statistics of a text index snapshot: n_docs and
    * avgdl = dl_sum / n_docs, the same double division a Spark
    * aggregate does. An index whose log holds no statistics fails
    * loudly, like a directory with no log. */
  private[graft] def corpusStats(snap: IndexMaintenance.Snapshot): (Long, Double) = {
    def fact(k: String): Long = snap.props.getOrElse(k, throw new IllegalStateException(
      s"${snap.root} has no corpus statistics ($k) in its index log; build the index first"))
      .toLong
    val n = fact(nDocsFact)
    (n, fact(dlSumFact).toDouble / n.toDouble)
  }

  /** `df` with [[corpusStats]] as the literal `n_docs` and `avgdl`
    * columns the scoring tails read: no table, no broadcast, no job. */
  private def withCorpusStats(snap: IndexMaintenance.Snapshot)(df: DataFrame): DataFrame = {
    val (n, avgdl) = corpusStats(snap)
    df.withColumn("n_docs", lit(n)).withColumn("avgdl", lit(avgdl))
  }

  /** The LIVE (doclen, corpus statistics) pair of a text index
    * snapshot — the dl/n_docs/avgdl source the hybrid serving family
    * shares, so its bounded and unbounded forms are consistent BY
    * CONSTRUCTION. doclen is the tombstone-masked doc-values table; the
    * second element adds `n_docs`/`avgdl` columns to a frame: the
    * committed facts when they provably equal the live aggregate (no
    * appended tail, no pending tombstones — rebuilds and compacts
    * compute them from these same doclen rows), and the live doclen
    * aggregate otherwise. The live branch is one narrow 2-column scan
    * and only engages while a tail/tombstone is actually outstanding
    * (the compaction cadence bounds that window). */
  private[graft] def textIndexDoclenStats(s: SparkSession,
      snap: IndexMaintenance.Snapshot): (DataFrame, DataFrame => DataFrame) = {
    val doclen = snap.scan(s, "doclen", "doc_id").select(col("doc_id"), col("dl"))
    val fresh = snap.appendedBatches("doclen") == 0 && snap.tombstonesOf("doclen").isEmpty
    (doclen, if (fresh) withCorpusStats(snap) else withLiveStats(doclen))
  }

  /** `df` with the live `n_docs` and `avgdl` of a (doc_id, dl) frame. */
  private[graft] def withLiveStats(doclen: DataFrame)(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(doclen.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))))

  /** A build or compaction of the text index as ONE change: `doclen`
    * and `postings` replace their tables (`doclenRows`/`postingRows`
    * hold the same rows, unsorted), the corpus statistics commit as
    * facts in the same version, and the TERM DICTIONARY is derived: one
    * (term, df, ub) row per vocabulary term, term-sorted so a query-term
    * lookup prunes to a few row groups — what lets the bounded serve
    * decide "is this query term a mega-posting stopword?" without
    * scanning the posting list it is trying to avoid. Facts and
    * dictionary stay FROZEN across appends and deletes until the next
    * compaction (Lucene's segment semantic).
    *
    * `ub` is a SCORE UPPER BOUND per term — at least the maximum BM25
    * contribution any posting of the term can make under the index's
    * frozen statistics (Lucene's per-term max score, the MaxScore/WAND
    * prerequisite). It is computed from the postings ALONE by taking
    * the tf normalization at its dl → 0 limit, idf(df) × (k1+1)·maxTf /
    * (maxTf + k1·(1−b)): sound (the true max has dl > 0 in the
    * denominator, so it can only be smaller) and slightly loose (~10%
    * on a stopword), which only ever ADMITS extra contenders — never
    * wrongly prunes. The exact per-posting max would cost a
    * postings×doclen join at every rebuild, a real tax on the
    * streaming compact cadence for a bound whose slack the idf factor
    * dwarfs anyway. */
  private def rebuild(doclen: DataFrame, postings: DataFrame, doclenRows: DataFrame,
      postingRows: DataFrame): IndexMaintenance.Change = {
    val agg = doclenRows.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = agg.getLong(0)
    val dlSum = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    val idf = bm25Idf(col("df"), lit(nDocs.toDouble))
    val mtfn = (col("_maxtf").cast("double") * lit(bm25K1 + 1.0)) /
      (col("_maxtf").cast("double") + lit(bm25K1) * lit(1.0 - bm25B))
    val dictionary = postingRows
      .groupBy(col("term")).agg(count(lit(1)).as("df"), max(col("tf")).as("_maxtf"))
      .select(col("term"), col("df"), (idf * mtfn).as("ub"))
      .repartitionByRange(1, col("term")).sortWithinPartitions(col("term"))
    val (counted, written) = countingQueryDf(postings)
    IndexMaintenance.Change(
      replace = Seq("doclen" -> doclen, "postings" -> counted, "termstats" -> dictionary),
      props = Map(nDocsFact -> nDocs.toString, dlSumFact -> dlSum.toString), written = written)
  }

  /** The tokenized per-document frame both index writers share: one
    * tokenize, doc-values columns alongside, empty docs excluded (they
    * can neither match nor shape dl). */
  private def indexableDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("dl", size(col("toks")).cast("long"))

  /** Fold a landed document batch into a persisted text index: the
    * batch is tokenized ONCE and its posting + doc-values rows appended
    * — the standing corpus is never re-read or re-tokenized, so the
    * batch pays only its own indexing cost at any index size. The
    * corpus statistics (n_docs, dl_sum) are deliberately NOT updated:
    * they stay frozen at their last rebuild and catch up at the next
    * [[textIndexCompact]] — the Lucene semantic (segment commits don't
    * re-estimate global statistics; merges do). Per-term df stays
    * current without re-reading the corpus: the write counts the query
    * terms' posting rows it appends and commits them as a fact
    * ([[countingQueryDf]]), so a serve sums facts and never derives
    * ([[queryTermDf]]). Both tables and the fact commit as ONE log
    * version, with the streaming batch `mark` when given: a compaction
    * never sees half a batch, and a retried batch lands nothing. */
  def textIndexAppendBatch(s: SparkSession, batch: DataFrame, indexDir: String,
      mark: Option[(String, Long)] = None): Unit = {
    val base = indexableDocs(batch)
    val (postings, written) = countingQueryDf(postingsOf(base))
    IndexMaintenance.transact(s, indexDir, mark)(_ => IndexMaintenance.Change(append = Seq(
      "doclen" -> base.select(col("doc_id"), col("dl"), col("lang"), col("source")),
      "postings" -> postings), written = written))
  }

  /** The fact-key prefix of the served query's df. Every write of
    * posting rows (build, compaction, append) commits one
    * `postings.query_df.<id>` fact, `term=rows,…` over [[bm25Query]]:
    * the posting rows it wrote per query term. A build or compaction
    * replaces the postings and with them every such fact, then states
    * its own. */
  private val queryDfFact = "postings.query_df."

  /** `postings` counted while it is written: the frame to stage, and
    * the [[queryDfFact]] its write commits, read off the write's
    * observed metrics (no extra Spark job). */
  private def countingQueryDf(postings: DataFrame): (DataFrame, () => Map[String, String]) = {
    val rows = org.apache.spark.sql.Observation()
    val perTerm = bm25Query.map(t => count(when(col("term") === t, 1)).as(t))
    (postings.observe(rows, perTerm.head, perTerm.tail: _*), () => {
      val n = rows.get
      Map(queryDfFact + java.util.UUID.randomUUID() -> bm25Query.map(t => s"$t=${n(t)}").mkString(","))
    })
  }

  /** The posting-read bound of a served lexical read. */
  sealed trait Bound
  object Bound {
    /** Read every query term's posting list. */
    case object Unbounded extends Bound

    /** Drop the query terms whose dictionary df-share exceeds `share`
      * before their posting lists are read — a documented semantic
      * change: a dropped term contributes 0. */
    final case class DfShare(share: Double) extends Bound

    /** EXACT bounded serving (Lucene's MaxScore): the query terms above
      * the `share` cut are read only for the provable top-k contenders.
      * `minMegaRows` is the fixed-query serve's auto-disengage floor
      * ([[maxScoreMinMegaRows]]); the hybrid decides per query in-plan
      * and reads only the cut. */
    final case class MaxScore(share: Double = bm25MaxDfShare,
        minMegaRows: Long = maxScoreMinMegaRows) extends Bound
  }

  /** The job label of a served read's construction-time actions: the
    * family's registry entry, the bound and the log version read. */
  private[graft] def serveLabel(entry: String, bound: Bound,
      snap: IndexMaintenance.Snapshot): String =
    s"$entry bound=$bound v${snap.version}"

  /** BM25 over a PERSISTED index: the corpus is never re-tokenized —
    * the serving plan reads the query terms' posting rows (predicate
    * pushed into the parquet scan), pivots them to per-doc tf columns
    * (one hash exchange on doc_id), joins the doc-values table and
    * scores through the shared [[bm25Rank]] tail under the corpus
    * statistics of the index log. Per-term df enters as literal
    * columns from [[queryTermDf]], the sum of the index log's df facts,
    * so a read scans the postings once: postings scan → exchange →
    * broadcast doc-values join → top-k. It touches O(Σ posting-list
    * length of the query terms), not every document — the
    * inverted-index read shape that makes lexical search serve at
    * 100 TB. Byte-identical to `textBm25Search` on a fresh index, so it
    * shares its DuckDB oracle. `memberPred` slices the ranked set on the
    * doc-values scan; df and the statistics stay whole-corpus (see
    * [[bm25FilterLang]]).
    *
    * `bound` picks which posting rows are read:
    *  - [[Bound.Unbounded]] reads every query term's postings.
    *    Constructing it runs no Spark job unless a delete is pending
    *    (then the first read of the generation counts the masked df).
    *  - [[Bound.DfShare]] resolves the query terms against the term
    *    dictionary FIRST ([[boundedQueryTerms]], one pruned read) and
    *    drops any above the cut, so the mega-posting term never reaches
    *    the pushed `term IN (...)` nor a df count. A dropped term's tf
    *    and df are 0, zeroing its score and candidate test — the
    *    semantics the bounded oracle restates.
    *  - [[Bound.MaxScore]] adds `doc_id IN (contenders)` to the pushed
    *    filter — [[maxScoreContenders]] proves the set, and every
    *    uncertain case serves unbounded. Its floor is not sound on a
    *    slice, so it refuses a `memberPred`.
    *
    * ONE snapshot: the postings, the doc values, the statistics, the
    * df and the MaxScore decision all come from the snapshot this call
    * takes, so a commit that lands while the read is built cannot mix
    * two versions. The frame stays pinned to it: collect it promptly
    * under concurrent ingest, or materialise it (the registered `_now`
    * form). */
  def textBm25Served(s: SparkSession, indexDir: String,
      memberPred: Option[Column] = None, bound: Bound = Bound.Unbounded): DataFrame = {
    require(memberPred.isEmpty || !bound.isInstanceOf[Bound.MaxScore],
      s"textBm25Served($indexDir): the MaxScore floor is not sound on a memberPred slice")
    val snap = IndexMaintenance.snapshot(s, indexDir)
    val label = serveLabel("text_bm25_served", bound, snap)
    val queryTerms = col("term").isin(bm25Query: _*)
    // the posting predicate, and the live df of the terms it reads
    val (postingPred, dfLive): (Column, Map[String, Long]) =
      IndexMaintenance.labeledJob(s, label) {
        bound match {
          case Bound.Unbounded => (queryTerms, queryTermDf(s, snap, bm25Query))
          case Bound.DfShare(share) =>
            val kept = boundedQueryTerms(s, snap, bm25Query, share)
            (col("term").isin(kept: _*), queryTermDf(s, snap, kept))
          case Bound.MaxScore(share, floor) =>
            val (prune, live) = maxScoreDecision(s, snap, share, floor)
            (prune.fold(queryTerms)(cand => queryTerms && col("doc_id").isin(cand: _*) &&
              col("doc_id") >= lit(cand.min) && col("doc_id") <= lit(cand.max)), live)
        }
      }
    val perDocAggs = bm25Query.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = snap.scan(s, "postings", "doc_id").filter(postingPred)
      .groupBy(col("doc_id")).agg(perDocAggs.head, perDocAggs.tail: _*)
    // the slice predicate prunes on the doc-values scan; the inner join
    // then drops out-of-slice posting hits before scoring
    val doclenAll = snap.scan(s, "doclen", "doc_id")
    val scored = withCorpusStats(snap)(
      perDoc.join(memberPred.fold(doclenAll)(doclenAll.filter(_)), "doc_id"))
    bm25Rank(scored.select(col("*") +:
      bm25Query.zipWithIndex.map { case (t, i) => lit(dfLive.getOrElse(t, 0L)).as(s"df_$i") }: _*))
  }

  /** The live df of `terms` (a subset of [[bm25Query]]) at `snap`:
    * each term's servable posting rows, the relation the oracle
    * restates. With no pending tombstone it is the sum of the
    * [[queryDfFact]] facts, read from the log with no Spark job: a
    * build or compaction states the rows it wrote, each append adds
    * its own. While a delete is pending the facts cannot see which rows
    * the sequenced mask hides, so the masked, query-term-pruned posting
    * rows are counted once per index generation (an
    * [[Artifacts.atGeneration]] entry; the maintenance alarm keeps that
    * window short). */
  private[graft] def queryTermDf(s: SparkSession, snap: IndexMaintenance.Snapshot,
      terms: Seq[String]): Map[String, Long] =
    if (snap.tombstonesOf("postings").isEmpty) liveDf(s, snap, terms)
    else Artifacts.atGeneration(s, snap, s"bm25-df|${terms.mkString(",")}")(liveDf(s, snap, terms))

  /** [[queryTermDf]] without the memo. */
  private def liveDf(s: SparkSession, snap: IndexMaintenance.Snapshot,
      terms: Seq[String]): Map[String, Long] =
    if (snap.tombstonesOf("postings").nonEmpty) {
      // one job, no exchange: each partition counts its rows per term
      // and the driver adds up the partitions' few counts
      val n = snap.scan(s, "postings", "doc_id").filter(col("term").isin(terms: _*))
        .select(col("term")).rdd
        .mapPartitions(_.map(_.getString(0)).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _).iterator)
        .collect().toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      terms.map(t => t -> n.getOrElse(t, 0L)).toMap
    } else {
      val writes = snap.props.toSeq.collect { case (k, v) if k.startsWith(queryDfFact) =>
        v.split(',').map { kv => val i = kv.lastIndexOf('='); kv.take(i) -> kv.drop(i + 1).toLong }.toMap
      }
      require(writes.nonEmpty && writes.forall(w => terms.forall(w.contains)),
        s"${snap.root} has no df facts ($queryDfFact*) for ${terms.mkString(", ")} in its " +
          "index log; rebuild the index")
      terms.map(t => t -> writes.map(_(t)).sum).toMap
    }

  /** The dictionary rows of `terms` at `snap`: (df, ub) for each term
    * the dictionary holds, frozen at the last rebuild. One
    * O(|terms|)-row pruned read of the term-sorted dictionary. */
  private def termDictionary(s: SparkSession, snap: IndexMaintenance.Snapshot,
      terms: Seq[String]): Map[String, (Long, Double)] =
    snap.read(s, "termstats").filter(col("term").isin(terms: _*))
      .select(col("term"), col("df"), col("ub")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  /** The subset of `terms` whose DICTIONARY df-share at `snap` is
    * within `maxDfShare`: one pruned read of the term dictionary and
    * the n_docs fact, never the posting lists themselves. Terms absent
    * from the dictionary are kept: they were not in the vocabulary at
    * the last rebuild, so they cannot be a standing mega-posting
    * (frozen-statistics semantics, like n_docs/avgdl). */
  private[graft] def boundedQueryTerms(s: SparkSession, snap: IndexMaintenance.Snapshot,
      terms: Seq[String], maxDfShare: Double): Seq[String] = {
    val nDocs = corpusStats(snap)._1
    val dict = termDictionary(s, snap, terms)
    terms.filter(t => dict.get(t).fold(0L)(_._1).toDouble <= maxDfShare * nDocs)
  }

  /** [[boundedQueryTerms]] at the current snapshot of `indexDir`. */
  private[graft] def boundedQueryTerms(s: SparkSession, indexDir: String,
      terms: Seq[String], maxDfShare: Double): Seq[String] =
    boundedQueryTerms(s, IndexMaintenance.snapshot(s, indexDir), terms, maxDfShare)

  /** All dictionary terms ABOVE the df-share bound at `snap` — the banned list
    * for serve paths whose query terms are dynamic (the hybrid
    * retrieval's per-query slots), where a positive pushed `IN` is not
    * available and the mega-postings are excluded by an anti-filter
    * instead. Zipf makes this list tiny (the stopword head), so the
    * collect is bounded in practice; the guard caps it loudly. */
  private[graft] def bannedTerms(s: SparkSession, snap: IndexMaintenance.Snapshot,
      maxDfShare: Double, cap: Int = 10000): Seq[String] = {
    val nDocs = corpusStats(snap)._1
    val b = snap.read(s, "termstats")
      .filter(col("df").cast("double") > lit(maxDfShare) * lit(nDocs.toDouble))
      .select(col("term")).limit(cap + 1).collect().map(_.getString(0)).toSeq
    require(b.size <= cap,
      s"bannedTerms(${snap.root}): more than $cap terms above df-share $maxDfShare — " +
      "the bound is set below the distribution's body, not its stopword head")
    b
  }

  /** Decision payload of [[maxScoreContenders]]: the provable top-k
    * contender set, plus the LIVE per-query-term document frequency
    * ([[queryTermDf]]) the exact re-score needs — the same literals
    * every other serve scores with. */
  final case class MaxScorePrune(contenders: Seq[Long], dfLive: Map[String, Long])

  /** Contender-set cap: a set too large to push as an IN filter would
    * scan the mega list anyway — serve unbounded rather than pretend. */
  private val maxScoreCandCap = 10000

  /** AUTO-DISENGAGE floor for the fixed-query MaxScore decision pass:
    * the pruning's payoff is the SKIPPED mega posting rows, a quantity
    * the term dictionary prices for free (Σ df over the mega terms),
    * while the decision pass costs a cheap-postings floor scan plus
    * ~0.3 s of flat driver actions (measured in PLANS.md: at 100k
    * skipped rows the serve paid 1.56–1.68× the unbounded time, putting
    * break-even near ~300k rows at local[32]). Below this floor the
    * serve goes unbounded DIRECTLY, paying only the dictionary read —
    * so the production default never eats the smoke-scale overhead,
    * while a Zipf corpus whose mega head is posting-mass-heavy (a
    * billion rows at 100 TB) still engages. Exactness is unaffected in
    * both directions (MaxScore is exact at any cut; disengaging just
    * serves the always-exact unbounded plan). Declared instruments (the
    * `_lowcut` rows) pass 0 to force engagement under the oracle. */
  private[graft] val maxScoreMinMegaRows = 1000000L

  /** One 6-decimal rounding quantum: the MaxScore floor/bound tests run
    * on UNROUNDED scores while the final ranking compares ROUNDED ones,
    * so every cut is slackened by this much — a doc whose true score
    * sits just under the floor could still round into a tie with the
    * k-th and win the doc_id tie-break, and must stay a contender.
    * Shared with the hybrid per-query form ([[Retrieval]]). */
  private[graft] val maxScoreRoundEps = 1e-6

  /** The cheap-term underestimate scores and their k-th-best floor, as
    * ONE lazy frame (doc_id, floor, n_top): every doc whose cheap score
    * could still reach the floor under the mega headroom. Both the
    * floor aggregate and the contender filter consume the SAME grouped
    * eScores subtree, whose aggregation exchange AQE collapses onto one
    * runtime computation (`ReusedExchange`, the text_unigram_lm shape)
    * — one scan of the cheap postings and ONE Spark action. Exposed for
    * the PlanGuardSpec reuse pin. */
  private[graft] def maxScoreCandFrame(s: SparkSession, snap: IndexMaintenance.Snapshot,
      cheap: Seq[String], idfOf: Map[String, Double], avgdl: Double,
      ubMega: Double): DataFrame = {
    val idfCol = cheap.tail.foldLeft(
      when(col("term") === cheap.head, lit(idfOf(cheap.head)))) { (acc, t) =>
      acc.when(col("term") === t, lit(idfOf(t)))
    }.otherwise(lit(0.0))
    val tfn = (col("tf").cast("double") * lit(bm25K1 + 1.0)) /
      (col("tf").cast("double") + lit(bm25K1) * (lit(1.0 - bm25B) +
        lit(bm25B) * col("dl").cast("double") / lit(avgdl)))
    // both reads TOMBSTONE-MASKED (free when none pending): a deleted
    // doc seating the floor would push it too HIGH — an unsound prune —
    // and a delete-then-reappend's duplicated doclen row would double a
    // survivor's e the same way
    val eScores = snap.scan(s, "postings", "doc_id")
      .filter(col("term").isin(cheap: _*))
      .select(col("doc_id"), col("term"), col("tf"))
      .join(snap.scan(s, "doclen", "doc_id").select(col("doc_id"), col("dl")), "doc_id")
      .groupBy(col("doc_id")).agg(sum(idfCol * tfn).as("e"))
    val floorDf = eScores.orderBy(col("e").desc, col("doc_id"))
      .limit(bm25TopK)
      .agg(min(col("e")).as("floor"), count(lit(1)).as("n_top"))
    eScores.crossJoin(floorDf)
      .filter(col("e") + lit(ubMega) >= col("floor") - lit(maxScoreRoundEps))
      .select(col("doc_id"), col("floor"), col("n_top"))
  }

  /** MaxScore pruning decision for the fixed query: Some(prune) when
    * exact top-k membership is PROVABLE from the dictionary's per-term
    * score upper bounds, None when the caller must serve unbounded
    * (exactness is never traded — None is a fallback, not a failure).
    * The batch adaptation of Lucene's MaxScore:
    *
    *  1. split the query terms at the df-share cut: CHEAP terms (small
    *     postings) vs MEGA terms (the stopword head whose O(corpus)
    *     posting lists the serve wants to avoid reading);
    *  2. score every cheap-posting doc with the cheap terms only — an
    *     UNDERESTIMATE of its true score — and take the k-th best as
    *     `floor`: the true k-th best score is ≥ floor (those same k
    *     docs can only go up);
    *  3. a doc matching ONLY mega terms scores ≤ Σ ub(mega); if that is
    *     < floor, no such doc can reach the top k (strictly below the
    *     k-th, so no tie either) — otherwise fall back;
    *  4. a cheap-matching doc can reach the top k only if its cheap
    *     score + Σ ub(mega) ≥ floor — everything below is pruned. The
    *     survivors are the CONTENDERS, typically ≈ k on a Zipf corpus
    *     (the mega head's ub ≈ idf ≈ 0 at high df-share).
    *
    * SEGMENT MODEL (Lucene's per-segment bounds): an append since the
    * last rebuild does not force the unbounded serve. The dictionary
    * exactly describes the COMPACTED segment (rebuilds and compacts
    * recompute it; appended files carry their commit's sequence in the
    * index log, rewrites a sequence below every version —
    * [[IndexMaintenance.Snapshot.tail]] tells them apart with no
    * listing). The LIVE df is [[queryTermDf]]'s, and every tail doc
    * matching a mega term joins the contenders outright (tail docs have
    * no dictionary bound;
    * tail docs matching cheap terms flow through the e-score floor like
    * base docs, since the e-score scan reads base + tail). Dictionary
    * ub stays sound for BASE docs: their tf/dl are fixed, avgdl/n_docs
    * are frozen statistics both serves share, and the final idf can
    * only shrink as live df grows. The tail is bounded by the
    * compaction cadence — ~one trigger-batch of rows, not the corpus.
    *
    * TOMBSTONES (Lucene's delete masks): a pending takedown does not
    * disable bounded serving until the next compact. The
    * e-score floor scan is tombstone-masked (a deleted doc must not
    * seat the floor), the contender re-score masks like every index
    * read, and the live df is [[queryTermDf]]'s masked posting count
    * — the relation every serve scores with. Dictionary ub is RESCALED by
    * max(1, idf_live/idf_frozen) before the bound tests: a delete
    * shrinks df under the frozen n, which RAISES the serve's idf past
    * the dictionary-time value (the append direction only shrinks it);
    * maxTf stays sound in both directions (appends are contenders by
    * inclusion, deletes only shrink it) and the bound's dl→0 limit is
    * avgdl-free.
    * Remaining fallbacks (returning None): no mega term / no cheap term / cheap floor
    * unseated, a mega-only doc that could reach the floor, or a
    * contender set too large to push as an IN filter.
    *
    * MEMOIZED per index generation ([[maxScoreDecision]]). */
  def maxScoreContenders(s: SparkSession, indexDir: String,
      maxDfShare: Double = bm25MaxDfShare,
      minMegaRows: Long = maxScoreMinMegaRows): Option[MaxScorePrune] =
    maxScoreContenders(s, IndexMaintenance.snapshot(s, indexDir), maxDfShare, minMegaRows)

  /** [[maxScoreContenders]] at the snapshot `snap`. */
  private[graft] def maxScoreContenders(s: SparkSession, snap: IndexMaintenance.Snapshot,
      maxDfShare: Double, minMegaRows: Long): Option[MaxScorePrune] = {
    val (prune, live) = maxScoreDecision(s, snap, maxDfShare, minMegaRows)
    prune.map(MaxScorePrune(_, live))
  }

  /** The MaxScore decision at `snap` — the contenders (None: serve
    * unbounded) and the live df it was derived from, which the serve
    * scores with either way. The whole decision is a pure function of
    * the snapshot and the two parameters, so it is ONE
    * [[Artifacts.atGeneration]] entry: a frozen index pays the
    * derivation and the floor scan once, and any append, compaction or
    * delete moves the generation and forces the re-derive (pinned in
    * `BoundedServeSpec`). The derivation runs inside the entry's build
    * rather than as its own lookup, so a serve costs one memo probe.
    * Byte-identical results by determinism. */
  private def maxScoreDecision(s: SparkSession, snap: IndexMaintenance.Snapshot,
      maxDfShare: Double, minMegaRows: Long): (Option[Seq[Long]], Map[String, Long]) =
    Artifacts.atGeneration(s, snap, s"bm25-maxscore|$maxDfShare|$minMegaRows") {
      val live = liveDf(s, snap, bm25Query)
      (maxScorePrune(s, snap, termDictionary(s, snap, bm25Query), live, maxDfShare, minMegaRows),
        live)
    }

  private def maxScorePrune(s: SparkSession, snap: IndexMaintenance.Snapshot,
      dict: Map[String, (Long, Double)], live: Map[String, Long],
      maxDfShare: Double, minMegaRows: Long): Option[Seq[Long]] = {
    val (nDocs, avgdl) = corpusStats(snap)
    val mega = bm25Query.filter(t => dict.get(t)
      .exists(_._1.toDouble > maxDfShare * nDocs))
    if (mega.isEmpty) return None  // no mega posting to avoid
    val cheap = bm25Query.filterNot(mega.contains)
    if (cheap.isEmpty) return None // all-stopword query: no cheap floor
    // AUTO-DISENGAGE ([[maxScoreMinMegaRows]]): if the posting mass the
    // pruning would skip can't pay for the floor scan + decision
    // actions, serve unbounded without paying them
    if (mega.map(t => dict(t)._1).sum < minMegaRows) return None
    // the appended tail's mega-matching docs: contenders by inclusion,
    // not by bound (tombstone-masked like the table reads, identity when
    // none pending: a deleted tail doc must not count toward the
    // contender cap or the inclusion list)
    val megaTail: Seq[Long] = snap.tail(s, "postings", "doc_id") match {
      case None => Seq.empty
      case Some(tail) =>
        val m = tail.filter(col("term").isin(mega: _*))
          .select(col("doc_id")).distinct()
          .limit(maxScoreCandCap + 1).collect().map(_.getLong(0)).toSeq
        if (m.size > maxScoreCandCap) return None // compaction overdue
        m
    }
    // floor idf uses the LIVE df — the exact per-term factor the final
    // serve scores with, keeping the e-scores true underestimates
    val idfOf = cheap.map(t => t -> bm25IdfAt(live(t).toDouble, nDocs.toDouble)).toMap
    // per-term bound rescaled by max(1, idf_live/idf_frozen): the
    // dictionary's ub froze idf at the rebuild's df, but the serve
    // scores with the LIVE df under the frozen n — an APPEND grows df
    // (idf shrinks, ratio < 1, frozen ub stays the sound bound) while
    // a DELETE shrinks df (idf GROWS, and the unscaled ub would
    // under-bound the surviving mega postings by the idf ratio — a mass
    // takedown would prune true top-k docs). maxTf is frozen sound in
    // both directions: appends are covered by inclusion, deletes only
    // shrink it.
    val ubMega = mega.map { t =>
      val (dictDf, ub) = dict(t)
      ub * math.max(1.0, bm25IdfAt(live(t).toDouble, nDocs.toDouble) /
        bm25IdfAt(dictDf.toDouble, nDocs.toDouble))
    }.sum
    val rows = maxScoreCandFrame(s, snap, cheap, idfOf, avgdl, ubMega)
      .limit(maxScoreCandCap + 1).collect()
    if (rows.isEmpty) return None
    if (rows.head.getLong(2) < bm25TopK) return None // cheap floor unseated
    val floor = rows.head.getDouble(1)
    // eps-slackened like every MaxScore cut: a mega-only doc strictly
    // below the floor could still ROUND into a tie with the k-th
    if (!(ubMega < floor - maxScoreRoundEps)) return None
    if (rows.length > maxScoreCandCap) return None
    val cand = (rows.map(_.getLong(0)) ++ megaTail).distinct.sorted.toSeq
    if (cand.size > maxScoreCandCap) None else Some(cand)
  }

  /** Materialize a BOUNDED result frame into a local relation with the
    * identical schema: the rows are collected here, so the returned
    * frame is pinned to the index state as of THIS call no matter how
    * late a consumer evaluates it. Only for serve outputs bounded by
    * construction (top-k rankings) — never corpus-sized frames. */
  private[graft] def materializedNow(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Compact the posting table on term — the sort that puts each
    * term's posting list into contiguous, min/max-prunable row groups,
    * which is exactly what the serve path's pushed `term IN (...)`
    * predicate skips by. Doclen compacts on doc_id. Tombstoned docs
    * ([[textIndexDelete]]) are physically dropped from both, and the
    * corpus statistics are RECOMPUTED from the surviving doclen rows —
    * the Lucene semantic made explicit: n_docs/avgdl stay frozen
    * between delete and compact (deleted docs still shape scores, but
    * never appear), and compact is where statistics catch up.
    *
    * doclen, postings, termstats and the statistics facts are rewritten
    * in ONE log commit: no reader ever sees compacted postings next to
    * stale statistics, and a batch commits to both tables or neither,
    * so there is no half-landed batch to absorb. */
  def textIndexCompact(s: SparkSession, indexDir: String): (Int, Int) = {
    var before = 0
    val after = IndexMaintenance.transact(s, indexDir) { snap =>
      before = snap.filesOf("postings").size
      rebuild(
        IndexMaintenance.rewrite(s, snap, "doclen", Seq("doc_id"), Some("doc_id")),
        IndexMaintenance.rewrite(s, snap, "postings", Seq("term", "doc_id"), Some("doc_id")),
        snap.scan(s, "doclen", "doc_id"), snap.scan(s, "postings", "doc_id"))
    }
    (before, after.map(_.filesOf("postings").size).getOrElse(0))
  }

  /** Retract documents from the lexical index (takedown): tombstoned
    * across postings and doc-values now — a deleted doc is absent from
    * the next query's ranking and term dfs immediately — physically
    * dropped (and corpus statistics recomputed) at the next
    * [[textIndexCompact]]. Idempotent. */
  def textIndexDelete(s: SparkSession, indexDir: String, docIds: Seq[Long]): Unit =
    IndexMaintenance.delete(s, indexDir, Seq("postings", "doclen"), docIds)

  /** Operational health of a persisted text index — the lexical
    * sibling of `AnnIndex.ivfIndexHealth`. One row per metric:
    * `n_terms` (vocabulary), `n_postings` (servable posting rows),
    * `n_docs_indexed` (servable doc-values rows), `stats_n_docs` (the
    * committed n_docs fact — FROZEN between appends and compaction),
    * `stats_staleness` (n_docs_indexed − stats_n_docs — the Lucene gap
    * a deployment watches to schedule compaction; 0 on a fresh or
    * just-compacted index), `max_df_share` (heaviest term's
    * document share — the boilerplate/stopword-head alarm),
    * `pending_tombstones`, `data_files` (compaction debt on the
    * posting table). Distributed aggregation; 1-row collects only. */
  def textIndexHealth(s: SparkSession, indexDir: String): DataFrame = {
    import s.implicits._
    val snap = IndexMaintenance.snapshot(s, indexDir)
    val postings = snap.scan(s, "postings", "doc_id")
    val doclen = snap.scan(s, "doclen", "doc_id")
    val pAgg = postings.agg(count(lit(1)).as("n_postings"),
      countDistinct(col("term")).as("n_terms")).head()
    val (nPostings, nTerms) = (pAgg.getLong(0), pAgg.getLong(1))
    val nDocs = doclen.count()
    val maxDf = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val statsDocs = corpusStats(snap)._1
    val pend = snap.pendingTombstones("postings")
    val files = snap.filesOf("postings").size
    Seq(
      ("data_files", files.toDouble),
      ("max_df_share", if (nDocs == 0) 0.0 else maxDf.toDouble / nDocs),
      ("n_docs_indexed", nDocs.toDouble),
      ("n_postings", nPostings.toDouble),
      ("n_terms", nTerms.toDouble),
      ("pending_tombstones", pend.toDouble),
      ("stats_n_docs", statsDocs.toDouble),
      ("stats_staleness", (nDocs - statsDocs).toDouble)
    ).toDF("metric", "value")
      .select(col("metric"), round(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  /** Registered-query form of [[textIndexHealth]] over the shared
    * per-corpus persisted index (fresh build: staleness 0, tombstones
    * 0 — both still asserted by the oracle, which recomputes every
    * metric from a SQL tokenize of the corpus). The physical file
    * count stays library-only. */
  def textIndexHealthQuery(s: SparkSession, dir: String): DataFrame =
    textIndexHealth(s, textIndexFor(s, dir)).filter(col("metric") =!= "data_files")

  /** The persisted text index for `dir`, built once per (JVM, corpus)
    * as a standing [[Artifacts]] temp dir (bench reps measure SERVING
    * only) — shared by the whole lexical serving family including the
    * hybrid retrieval's served form. */
  private[graft] def textIndexFor(s: SparkSession, dir: String): String =
    Artifacts.tempDir(s"text-index|$dir") {
      val d = java.nio.file.Files.createTempDirectory("graft-text-index").toString
      textIndexWrite(s, dir, d)
      d
    }

  /** The served lexical variants both served families register — BM25
    * ([[textBm25Served]]) and hybrid ([[Retrieval.searchHybridRrfServed]]):
    * key suffix, bound, and whether the serve materialises before
    * returning. `_bounded` documents the df-share semantic change;
    * `_maxscore` is exact and, at the default cut, takes the fallback
    * arm on the shared corpus; `_lowcut` is a DECLARED INSTRUMENT — a
    * cut the corpus DOES cross ([[bm25LowDfShare]]) with engagement
    * forced past the auto-disengage floor, so the ENGAGED pruned plan
    * runs under the oracle; `_now` materialises that engaged plan
    * ([[materializedNow]]) — the form a deployment holds across
    * concurrent ingest. Every MaxScore row is result-identical to the
    * unbounded serve, so it shares that oracle. */
  private[graft] lazy val servedVariants: Seq[(String, Bound, Boolean)] = Seq(
    ("", Bound.Unbounded, false),
    ("_bounded", Bound.DfShare(bm25MaxDfShare), false),
    ("_maxscore", Bound.MaxScore(bm25MaxDfShare), false),
    ("_maxscore_lowcut", Bound.MaxScore(bm25LowDfShare, 0L), false),
    ("_maxscore_now", Bound.MaxScore(bm25LowDfShare, 0L), true))

  /** One row of a served family's registry table. */
  private[graft] final case class ServedRow(key: String, bound: Bound, now: Boolean,
      oracle: String) {
    /** The registered query: `serve` at this row's bound, materialised
      * first when `now`. */
    def query(serve: (SparkSession, String, Bound) => DataFrame)
        : (SparkSession, String) => DataFrame = (s, dir) => {
      val df = serve(s, dir, bound)
      if (now) materializedNow(s, df) else df
    }
  }

  /** A served family's registry table: one row per [[servedVariants]]
    * entry under `entry`, its oracle chosen by bound. */
  private[graft] def servedRows(entry: String, oracle: Bound => String): Seq[ServedRow] =
    servedVariants.map { case (sfx, b, now) => ServedRow(entry + sfx, b, now, oracle(b)) }

  private lazy val bm25ServedRows: Seq[ServedRow] = servedRows("text_bm25_served", {
    case Bound.DfShare(share) => bm25BoundedOracleSql(share)
    case _ => bm25OracleSql
  })

  /** Registered-query form of [[textPhraseServed]] — shares the ONE
    * persisted index (build memo) with the BM25 serving family. */
  def textPhraseServedQuery(s: SparkSession, dir: String): DataFrame =
    textPhraseServed(s, textIndexFor(s, dir))

  /** FILTERED lexical search: the SAME persisted index as the served
    * BM25 rows (build memo shared), ranking restricted to
    * lang = [[bm25FilterLang]] via the doc-values scan, statistics
    * frozen whole-corpus. The lexical sibling of `sim_lsh_ann_filtered`
    * — full DuckDB oracle, byte-identity with the filtered linear scan
    * pinned in `OperatorSpec`. */
  def textBm25FilteredQuery(s: SparkSession, dir: String): DataFrame =
    textBm25Served(s, textIndexFor(s, dir), Some(col("lang") === bm25FilterLang))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_inverted_index" -> textInvertedIndex _,
    "text_bm25_search" -> textBm25Search _,
    "text_phrase_search" -> textPhraseSearch _,
    "text_phrase_served" -> textPhraseServedQuery _,
    "text_index_health" -> textIndexHealthQuery _,
    "text_bpe_train" -> bpeMergesDf _,
    "text_bpe_train_scaled" -> textBpeTrainScaledQuery _,
    "text_bpe_encode" -> textBpeEncode _,
    "text_bpe_encode_served" -> textBpeEncode _,
    "text_bpe_encode_scaled_served" -> textBpeEncodeScaledServedQuery _,
    "text_bpe_token_freq" -> textBpeTokenFreq _,
    "text_bm25_filtered" -> textBm25FilteredQuery _,
    "text_tfidf_topterms" -> textTfidfTopTerms _,
    "text_vocab_coverage" -> textVocabCoverage _,
    "text_heavy_hitters" -> textHeavyHitters _,
    "text_heavy_hitters_sketch" -> textHeavyHittersSketch _,
    "text_length_quantiles" -> textLengthQuantiles _,
    "text_bpe_tokens" -> textBpeTokens _,
    "text_ngram_freq" -> textNgramFreq _,
    "corpus_clean" -> corpusClean _,
    "text_token_stats" -> textTokenStats _,
    "text_quality" -> textQuality _,
    "text_lang_id" -> textLangId _,
    "text_fingerprint" -> textFingerprint _,
    "text_repetition" -> textRepetition _,
    "text_entropy" -> textEntropy _,
    "text_unigram_lm" -> textUnigramLm _,
    "text_bigram_lm" -> textBigramLm _,
    "text_pii_scrub" -> textPiiScrub _,
    "text_boilerplate" -> textBoilerplate _,
    "text_compress_ratio" -> textCompressRatio _,
  ) ++ bm25ServedRows.map(r =>
    r.key -> r.query((s, dir, b) => textBm25Served(s, textIndexFor(s, dir), bound = b)))

  private lazy val phraseOracleSql: String = {
    val pCtes = phraseQuery.zipWithIndex.map { case (t, i) =>
      s"""p$i AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos
         |  FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)
         |  WHERE toks[i] = '$t')""".stripMargin
    }.mkString(",\n")
    val joins = phraseQuery.indices.tail.map(i =>
      s"JOIN p$i ON p0.doc_id = p$i.doc_id AND p$i.pos = p0.pos + $i").mkString("\n")
    s"""WITH tk AS (SELECT doc_id, $tokSql AS toks FROM documents),
       |$pCtes,
       |m AS (SELECT p0.doc_id, p0.pos FROM p0
       |$joins)
       |SELECT doc_id, count(*) AS n_matches, min(pos) AS first_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private lazy val tokSql =
    graft.functions.TextFns.duckTokSql

  /** `q(doc_id, score)` CTE for oracles that join the quality score
    * (the same formula as `text_quality` / `corpus_clean`). */
  private[ops] def qualityScoreCteSql: String =
    s"""q AS (
       |  SELECT doc_id,
       |    (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
       |      + least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
       |      + (CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopEn)}, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.2 AS score
       |  FROM (SELECT doc_id, $tokSql AS toks FROM documents)
       |  WHERE len(toks) >= 1)""".stripMargin

  private def bm25TfSql: Seq[String] =
    bm25Query.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }

  /** WITH-body of the unrolled BPE merge chain, shared by the train,
    * encode, and token-freq oracles: `s0` (the word-frequency
    * vocabulary in split-symbol form) through `s{bpeTrainMerges}` (the
    * fully ENCODED vocabulary), with per-step pair-count/argmax CTEs
    * `p$t`/`b$t`. The apply is the padded boundary-anchored DOUBLE
    * replace [[textBpeTrain]] documents. The `coalesce(..., chr(1))`
    * guards make an exhausted step (no pairs left) a no-op replace —
    * matching the Spark loop's early stop. Every `s${t}` is
    * MATERIALIZED: each is referenced twice (next step's pair count
    * and next apply), and default CTE inlining would duplicate the
    * base scan 2^K times. */
  private lazy val bpeChainCtesSql: String = bpeChainCtesSqlWhere("TRUE")

  /** The chain with the TRAINING corpus restricted to `cond` (the
    * streaming token ledger trains its shipped model on the seed slice
    * only); the default TRUE trains on the whole table. */
  private[graft] def bpeChainCtesSqlWhere(cond: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""s0 AS MATERIALIZED (
         |  SELECT array_to_string(regexp_split_to_array(word, ''), ' ') AS w,
         |         CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($tokSql) AS word FROM documents WHERE $cond)
         |  GROUP BY word)""".stripMargin)
    (1 to bpeTrainMerges).foreach { t =>
      sb.append(
        s""",
           |p$t AS (
           |  SELECT sym[i] AS l, sym[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT string_split(w, ' ') AS sym, freq FROM s${t - 1}),
           |       unnest(generate_series(1, len(sym) - 1)) AS u(i)
           |  GROUP BY l, r),
           |b$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
           |s$t AS MATERIALIZED (
           |  SELECT trim(replace(replace(' ' || w || ' ',
           |    coalesce((SELECT ' ' || l || ' ' || r || ' ' FROM b$t), chr(1)),
           |    coalesce((SELECT ' ' || l || r || ' ' FROM b$t), chr(1))),
           |    coalesce((SELECT ' ' || l || ' ' || r || ' ' FROM b$t), chr(1)),
           |    coalesce((SELECT ' ' || l || r || ' ' FROM b$t), chr(1)))) AS w, freq
           |  FROM s${t - 1})""".stripMargin)
    }
    sb.toString
  }

  /** Apply chain over the FULL corpus vocabulary under the merge
    * argmaxes `b1..bK` of a (possibly slice-trained)
    * [[bpeChainCtesSqlWhere]] chain — `f0` (distinct full-corpus words
    * in split-symbol form) through `f{K}`, each step the same
    * boundary-anchored double replace with the step's learned pair.
    * For oracles whose model is TRAINED on a slice but APPLIED to
    * everything (the streaming token ledger's frozen shipped model). */
  private[graft] lazy val bpeForeignApplyCtesSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""f0 AS MATERIALIZED (
         |  SELECT DISTINCT array_to_string(regexp_split_to_array(word, ''), ' ') AS w
         |  FROM (SELECT unnest($tokSql) AS word FROM documents))""".stripMargin)
    (1 to bpeTrainMerges).foreach { t =>
      sb.append(
        s""",
           |f$t AS MATERIALIZED (
           |  SELECT trim(replace(replace(' ' || w || ' ',
           |    coalesce((SELECT ' ' || l || ' ' || r || ' ' FROM b$t), chr(1)),
           |    coalesce((SELECT ' ' || l || r || ' ' FROM b$t), chr(1))),
           |    coalesce((SELECT ' ' || l || ' ' || r || ' ' FROM b$t), chr(1)),
           |    coalesce((SELECT ' ' || l || r || ' ' FROM b$t), chr(1)))) AS w
           |  FROM f${t - 1})""".stripMargin)
    }
    sb.toString
  }

  /** Oracle for the BPE trainer: the merge loop unrolled into
    * [[bpeTrainMerges]] CTE triples ([[bpeChainCtesSql]]); the output
    * unions the per-step argmax rows. */
  private lazy val bpeTrainOracleSql: String = {
    val sb = new StringBuilder
    sb.append(s"WITH $bpeChainCtesSql")
    sb.append("\nSELECT * FROM (\n")
    sb.append((1 to bpeTrainMerges).map { t =>
      s"  SELECT CAST($t AS BIGINT) AS step, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM b$t"
    }.mkString("\n  UNION ALL\n"))
    sb.append("\n) ORDER BY step")
    sb.toString
  }

  /** Oracle for [[textBpeEncode]]: the same unrolled chain, whose final
    * `s{K}` IS the encoded vocabulary — the original word is recovered
    * by deleting the symbol-boundary spaces (symbols are exact
    * substrings of the word, so their concatenation is the word), then
    * per-doc counts re-derive from a SQL tokenize + vocabulary join. */
  private lazy val bpeEncodeOracleSql: String =
    s"""WITH $bpeChainCtesSql,
       |enc AS (
       |  SELECT replace(w, ' ', '') AS word,
       |         CAST(len(string_split(w, ' ')) AS BIGINT) AS n_syms
       |  FROM s$bpeTrainMerges),
       |tok AS (SELECT doc_id, unnest($tokSql) AS word FROM documents),
       |agg AS (
       |  SELECT t.doc_id,
       |         CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(e.n_syms) AS BIGINT) AS n_tokens,
       |         CAST(sum(len(t.word)) AS BIGINT) AS n_word_chars
       |  FROM tok t JOIN enc e ON t.word = e.word
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
       |       ELSE round(CAST(a.n_word_chars AS DOUBLE) / CAST(a.n_tokens AS DOUBLE), 6)
       |  END AS chars_per_token
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** WITH-body producing `bpe_doc(doc_id, n_tokens)` — per-doc token
    * counts under the trained tokenizer, every document present
    * (token-less docs as 0) — for oracles in OTHER operator files whose
    * queries consume real tokenizer lengths (the BPE-counted packing
    * twin in `Curation`). Same chain + recovery trick as
    * [[bpeEncodeOracleSql]]. */
  private[ops] lazy val bpeDocTokensCtesSql: String =
    s"""$bpeChainCtesSql,
       |enc AS (
       |  SELECT replace(w, ' ', '') AS word,
       |         CAST(len(string_split(w, ' ')) AS BIGINT) AS n_syms
       |  FROM s$bpeTrainMerges),
       |tok AS (SELECT doc_id, unnest($tokSql) AS word FROM documents),
       |bagg AS (
       |  SELECT t.doc_id, CAST(sum(e.n_syms) AS BIGINT) AS n_tokens
       |  FROM tok t JOIN enc e ON t.word = e.word
       |  GROUP BY t.doc_id),
       |bpe_doc AS (
       |  SELECT d.doc_id, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
       |  FROM documents d LEFT JOIN bagg a ON d.doc_id = a.doc_id)""".stripMargin

  /** Oracle for [[textBpeTokenFreq]]: token occurrences are the encoded
    * vocabulary's symbols weighted by word frequency — no corpus-side
    * unnest needed. */
  private lazy val bpeTokenFreqOracleSql: String =
    s"""WITH $bpeChainCtesSql,
       |tokf AS (SELECT unnest(string_split(w, ' ')) AS token, freq
       |         FROM s$bpeTrainMerges)
       |SELECT token, CAST(sum(freq) AS BIGINT) AS freq
       |FROM tokf GROUP BY token
       |ORDER BY freq DESC, token LIMIT $bpeTokenFreqTopK""".stripMargin

  private lazy val bm25OracleSql: String = bm25OracleSqlWhere("TRUE")

  /** Filtered variant: the ranked set is sliced; `cs` (the statistics)
    * still aggregates over the whole corpus — frozen-stats serving. */
  private[graft] lazy val bm25FilteredOracleSql: String =
    bm25OracleSqlWhere(s"lang = '$bm25FilterLang'")

  /** BOUNDED variant: restates the df-share cut in SQL — per-term
    * `act_i` flags from the same corpus statistics (df_i ≤ share ×
    * n_docs), a dropped term's tf reported as 0, its score contribution
    * and candidate-membership test zeroed. Adding an exact 0.0 keeps
    * the surviving terms' double arithmetic bit-identical to the
    * unbounded serve. */
  private def bm25BoundedOracleSql(share: Double): String =
    s"""WITH $bm25OracleCtes,
       |act AS (
       |  SELECT ${bm25Query.indices.map(i =>
             s"CASE WHEN CAST(df_$i AS DOUBLE) <= $share * CAST(n_docs AS DOUBLE) THEN 1 ELSE 0 END AS act_$i")
             .mkString(",\n    ")}
       |  FROM cs)
       |SELECT doc_id, dl, ${bm25Query.indices.map(i =>
           s"CAST(tf_$i * act_$i AS BIGINT) AS tf_$i").mkString(", ")},
       |  round(${bm25Query.indices.map(i =>
           s"CAST(act_$i AS DOUBLE) * (${bm25ContribSql(i)})").mkString("\n  + ")}, 6) AS score
       |FROM d, cs, act
       |WHERE (${bm25Query.indices.map(i => s"tf_$i * act_$i > 0").mkString(" OR ")})
       |ORDER BY score DESC, doc_id LIMIT $bm25TopK""".stripMargin

  private def bm25OracleSqlWhere(rankCond: String): String =
    s"""WITH $bm25OracleCtes
       |${bm25RankedSelectSql(rankCond)}""".stripMargin

  /** BM25 oracle for an index GROWN from a seed by streaming appends
    * without an intervening compaction: per-term df (postings-derived)
    * and the ranked set cover the FULL corpus, but n_docs/avgdl come
    * from the persisted 1-row stats table — frozen at the seed build
    * until the next compact recomputes them (the Lucene semantic
    * [[textIndexAppendBatch]] documents). `seedCond` restates the seed
    * slice in SQL. */
  private[graft] def bm25OracleSqlSeedStats(seedCond: String): String =
    s"""WITH base AS (SELECT doc_id, lang, $tokSql AS toks FROM documents),
       |d AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl,
       |    ${bm25TfSql.mkString(",\n    ")}
       |  FROM base WHERE len(toks) >= 1),
       |cs AS (
       |  SELECT
       |    (SELECT count(*) FROM d WHERE $seedCond) AS n_docs,
       |    (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |       FROM d WHERE $seedCond) AS avgdl,
       |    ${bm25Query.indices.map(i => s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(",\n    ")}
       |  FROM d)
       |${bm25RankedSelectSql("TRUE")}""".stripMargin

  /** The BM25 oracle's CTE chain (base → d → cs), WITHOUT the `WITH`
    * keyword or final select — composable (hybrid retrieval). */
  private[graft] lazy val bm25OracleCtes: String =
    s"""base AS (SELECT doc_id, lang, $tokSql AS toks FROM documents),
       |d AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl,
       |    ${bm25TfSql.mkString(",\n    ")}
       |  FROM base WHERE len(toks) >= 1),
       |cs AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
       |    ${bm25Query.indices.map(i => s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(",\n    ")}
       |  FROM d)""".stripMargin

  /** The ranked top-[[bm25TopK]] select over the CTEs above. */
  private[graft] def bm25RankedSelectSql(rankCond: String): String =
    s"""SELECT doc_id, dl, ${bm25Query.indices.map(i => s"tf_$i").mkString(", ")},
       |  round(${bm25Query.indices.map(bm25ContribSql).mkString("\n  + ")}, 6) AS score
       |FROM d, cs
       |WHERE (${bm25Query.indices.map(i => s"tf_$i > 0").mkString(" OR ")}) AND $rankCond
       |ORDER BY score DESC, doc_id LIMIT $bm25TopK""".stripMargin

  private def bm25ContribSql(i: Int): String =
    s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
       | * (CAST(tf_$i AS DOUBLE) * (${bm25K1} + 1.0))
       | / (CAST(tf_$i AS DOUBLE) + ${bm25K1} * (1.0 - ${bm25B} + ${bm25B} * CAST(dl AS DOUBLE) / avgdl))""".stripMargin.replace("\n", "")

  val oracles: Map[String, String] = Map(
    "text_inverted_index" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
         |stats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |          FROM tf GROUP BY term),
         |rk AS (SELECT term, doc_id,
         |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk FROM tf),
         |heads AS (SELECT term,
         |            array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ' ') AS postings_head
         |          FROM rk WHERE rk <= $invPostingsHead GROUP BY term)
         |SELECT s.term, s.df, s.cf, h.postings_head
         |FROM stats s JOIN heads h ON s.term = h.term ORDER BY s.term""".stripMargin,
    "text_tfidf_topterms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    round(CAST(tf.tf AS DOUBLE) *
         |      ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)), 6) AS score
         |  FROM tf JOIN df ON tf.term = df.term, n),
         |ranked AS (
         |  SELECT doc_id, term, tf, df, score,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, term) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT doc_id, rk, term, tf, df, score
         |FROM ranked WHERE rk <= $tfidfTopTerms ORDER BY doc_id, rk""".stripMargin,
    "text_bm25_search" -> bm25OracleSql,
    "text_bpe_train" -> bpeTrainOracleSql,
    "text_bpe_encode" -> bpeEncodeOracleSql,
    // the served encode applies the SAME demo-trained merge table, read
    // back from the persisted artifact — byte-identical by construction,
    // so it shares the oracle; what the oracle checks here is the
    // train → write → read → apply round-trip
    "text_bpe_encode_served" -> bpeEncodeOracleSql,
    "text_bpe_token_freq" -> bpeTokenFreqOracleSql,
    "text_phrase_search" -> phraseOracleSql,
    // byte-identical by construction (shared adjacency tail; stored
    // positions are the same integers the scan path derives)
    "text_phrase_served" -> phraseOracleSql,
    // health over a fresh build: staleness and tombstone debt are 0 BY
    // CONSTRUCTION and the oracle asserts exactly that; every content
    // metric recomputes from a SQL tokenize of the corpus
    "text_index_health" ->
      s"""WITH base AS (SELECT doc_id, $tokSql AS toks FROM documents),
         |d AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 1),
         |tf AS (SELECT term, doc_id
         |       FROM (SELECT doc_id, unnest(toks) AS term FROM d)
         |       GROUP BY term, doc_id),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_postings,
         |               CAST(count(DISTINCT term) AS BIGINT) AS n_terms FROM tf),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
         |m AS (
         |  SELECT 'max_df_share' AS metric,
         |    CAST((SELECT max(df) FROM dfreq) AS DOUBLE) /
         |      (SELECT CAST(n_docs AS DOUBLE) FROM nd) AS value
         |  UNION ALL SELECT 'n_docs_indexed', (SELECT CAST(n_docs AS DOUBLE) FROM nd)
         |  UNION ALL SELECT 'n_postings', (SELECT CAST(n_postings AS DOUBLE) FROM agg)
         |  UNION ALL SELECT 'n_terms', (SELECT CAST(n_terms AS DOUBLE) FROM agg)
         |  UNION ALL SELECT 'pending_tombstones', 0.0
         |  UNION ALL SELECT 'stats_n_docs', (SELECT CAST(n_docs AS DOUBLE) FROM nd)
         |  UNION ALL SELECT 'stats_staleness', 0.0)
         |SELECT metric, round(value, 6) AS value FROM m ORDER BY metric""".stripMargin,
    // filtered serving slices the ranked set only; stats stay global
    "text_bm25_filtered" -> bm25FilteredOracleSql,
    "text_vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest($tokSql) AS word FROM documents)
         |  GROUP BY word),
         |ranked AS (
         |  SELECT word, cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rk,
         |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, word
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER () AS BIGINT) AS total
         |  FROM counts)
         |SELECT rk AS rank, word AS word_at_rank, cum AS covered_tokens,
         |  total AS total_tokens,
         |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         |FROM ranked WHERE rk IN (${vocabRanks.mkString(", ")})
         |ORDER BY rank""".stripMargin,
    "text_length_quantiles" ->
      s"""WITH base AS (
         |  SELECT lang, doc_id, CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
         |ranked AS (
         |  SELECT lang, n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM base),
         |ps AS (SELECT * FROM (VALUES ${quantilePs.map(p => s"($p)").mkString(", ")}) AS t(p))
         |SELECT lang, p, n_tokens AS tokens_at_p
         |FROM ranked, ps
         |WHERE rk = GREATEST(1, (p * n + 99) // 100)
         |ORDER BY lang, p""".stripMargin,
    "text_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+')) AS BIGINT) AS n_bpe,
         |  CAST(len($tokSql) AS BIGINT) AS n_ws,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_ngram_freq" ->
      """SELECT gram, count(*) AS cnt
        |FROM (SELECT unnest(list_transform(range(1, length(text) - 1),
        |        i -> substr(text, i, 3))) AS gram
        |      FROM documents)
        |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,
    "corpus_clean" ->
      s"""${Dedup.allPairsSql},
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
         |      + least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
         |      + (CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopEn)}, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.2 AS score
         |  FROM (SELECT doc_id, $tokSql AS toks FROM documents)
         |  WHERE len(toks) >= 1)
         |SELECT doc_id, n_tokens, score FROM q
         |WHERE score >= 0.5 AND doc_id NOT IN (SELECT id_b FROM jpairs)
         |ORDER BY doc_id""".stripMargin,
    "text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr
         |FROM (SELECT doc_id, text, $tokSql AS toks FROM documents)
         |WHERE len(toks) >= 1
         |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, n_punct, score,
         |  score >= ${Dedup.ingestQualityMin} AS is_quality
         |FROM (
         |  SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, n_punct,
         |    uniq_ratio * 0.4 + least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4 + stop_ratio * 0.2 AS score
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(toks) AS BIGINT) AS n_tokens,
         |      CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
         |      CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopEn)}, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         |      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
         |    FROM (SELECT doc_id, text, $tokSql AS toks FROM documents)
         |    WHERE len(toks) >= 1))
         |ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
         |       WHEN s_fr > 0 AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
         |       WHEN s_de > 0 AND s_de >= s_es THEN 'de'
         |       WHEN s_es > 0 THEN 'es'
         |       ELSE 'und' END AS detected,
         |  s_en, s_fr, s_de, s_es
         |FROM (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopEn)}, t))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopFr)}, t))) AS BIGINT) AS s_fr,
         |    CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopDe)}, t))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(toks, t -> list_contains(${sqlList(stopEs)}, t))) AS BIGINT) AS s_es
         |  FROM (SELECT doc_id, lang, $tokSql AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH base AS (SELECT doc_id, $tokSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
         |      FROM base WHERE len(toks) >= 2),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2_total,
         |        count(*) AS n2_distinct, max(c) AS top_c
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n2_total, n2_distinct, dup2_frac, top2_share,
         |  dup2_frac > $dupFracMax OR top2_share > $topShareMax AS is_repetitive
         |FROM (
         |  SELECT doc_id, n2_total, n2_distinct,
         |    CAST(n2_total - n2_distinct AS DOUBLE) / CAST(n2_total AS DOUBLE) AS dup2_frac,
         |    CAST(top_c AS DOUBLE) / CAST(n2_total AS DOUBLE) AS top2_share
         |  FROM a)
         |ORDER BY doc_id""".stripMargin,
    // H = ln(n) − (Σ c·ln c)/n — the same single-aggregate identity as
    // the Spark side, so both engines sum the identical c·ln(c) terms
    "text_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
         |c AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS n_uniq,
         |        sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_uniq,
         |  round(ln(CAST(n_tokens AS DOUBLE)) - clnc / CAST(n_tokens AS DOUBLE), 6) AS entropy,
         |  CASE WHEN n_uniq > 1 THEN
         |    round((ln(CAST(n_tokens AS DOUBLE)) - clnc / CAST(n_tokens AS DOUBLE))
         |          / ln(CAST(n_uniq AS DOUBLE)), 6) END AS efficiency
         |FROM a ORDER BY doc_id""".stripMargin,
    "text_unigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
         |tfc AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
         |cf AS (SELECT term, sum(c) AS cf FROM tfc GROUP BY term),
         |tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total FROM cf),
         |a AS (SELECT t.doc_id, CAST(sum(t.c) AS BIGINT) AS n_tokens,
         |        -sum(CAST(t.c AS DOUBLE) * (ln(CAST(f.cf AS DOUBLE)) - ln(tot.total)))
         |          / CAST(sum(t.c) AS DOUBLE) AS xent
         |      FROM tfc t JOIN cf f ON t.term = f.term, tot
         |      GROUP BY t.doc_id)
         |SELECT doc_id, n_tokens, round(xent, 6) AS xent_nats, round(exp(xent), 4) AS ppl
         |FROM a ORDER BY doc_id""".stripMargin,
    // interpolation constants restated verbatim; ln and double division
    // agree across engines the same way the unigram form's do
    "text_bigram_lm" ->
      s"""WITH base AS (SELECT doc_id, $tokSql AS toks FROM documents),
         |pairs AS (
         |  SELECT doc_id, toks[i] AS v, toks[i+1] AS w
         |  FROM base, unnest(generate_series(1, len(toks) - 1)) AS u(i)
         |  WHERE len(toks) >= 2),
         |dbc AS (SELECT doc_id, v, w, count(*) AS c FROM pairs GROUP BY doc_id, v, w),
         |bc AS (SELECT v, w, sum(c) AS bc FROM dbc GROUP BY v, w),
         |ctx AS (SELECT v, sum(bc) AS cfx FROM bc GROUP BY v),
         |tok AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
         |tfc AS (SELECT doc_id, term, count(*) AS c1 FROM tok GROUP BY doc_id, term),
         |cf AS (SELECT term, sum(c1) AS cf FROM tfc GROUP BY term),
         |tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total FROM cf),
         |a AS (SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
         |        -sum(CAST(d.c AS DOUBLE) *
         |             ln($bigramLambda * (CAST(b.bc AS DOUBLE) / CAST(x.cfx AS DOUBLE))
         |                + ${1.0 - bigramLambda} * (CAST(f.cf AS DOUBLE) / tot.total)))
         |          / CAST(sum(d.c) AS DOUBLE) AS xent
         |      FROM dbc d
         |      JOIN bc b ON d.v = b.v AND d.w = b.w
         |      JOIN ctx x ON d.v = x.v
         |      JOIN cf f ON d.w = f.term, tot
         |      GROUP BY d.doc_id)
         |SELECT doc_id, n_bigrams, round(xent, 6) AS xent_nats, round(exp(xent), 4) AS ppl
         |FROM a ORDER BY doc_id""".stripMargin,
    // same constants, same stage order: counts taken on the PREVIOUS
    // stage's output in both engines; DuckDB regexp_replace needs the
    // explicit 'g' flag to match Spark's always-global semantics
    "text_pii_scrub" ->
      s"""WITH s1 AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$piiEmailRe')) AS BIGINT) AS n_emails,
         |    regexp_replace(text, '$piiEmailRe', '<EMAIL>', 'g') AS t1
         |  FROM documents),
         |s2 AS (
         |  SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(t1, '$piiIpRe')) AS BIGINT) AS n_ips,
         |    regexp_replace(t1, '$piiIpRe', '<IP>', 'g') AS t2
         |  FROM s1)
         |SELECT doc_id, n_emails, n_ips,
         |  CAST(len(regexp_extract_all(t2, '$piiNumRe')) AS BIGINT) AS n_nums,
         |  n_emails + n_ips + CAST(len(regexp_extract_all(t2, '$piiNumRe')) AS BIGINT) > 0 AS has_pii,
         |  regexp_replace(t2, '$piiNumRe', '<NUM>', 'g') AS scrubbed
         |FROM s2 ORDER BY doc_id""".stripMargin,
    "text_boilerplate" ->
      s"""WITH base AS (SELECT doc_id, source, $tokSql AS toks FROM documents),
         |g0 AS (SELECT doc_id, source,
         |         unnest(list_transform(range(1, len(toks) - 1),
         |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
         |       FROM base WHERE len(toks) >= 3),
         |g AS (SELECT DISTINCT doc_id, source, gram FROM g0),
         |c AS (SELECT source, gram, count(*) AS df FROM g GROUP BY source, gram),
         |a AS (SELECT g.doc_id, g.source, count(*) AS n_grams,
         |        CAST(sum(CASE WHEN c.df >= $boilMinDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
         |      FROM g JOIN c USING (source, gram) GROUP BY g.doc_id, g.source)
         |SELECT doc_id, source, n_grams, n_boiler,
         |  round(CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS boiler_frac,
         |  round(CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) >= 0.5 AS is_template
         |FROM a ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_poly,
        |  substr(md5(text), 1, 16) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
  // the served rows read postings instead of re-tokenizing, but
  // tf/df/dl and the statistics are the same integers and the scoring
  // tail is the shared bm25Rank — the linear scan's oracle (byte-identity
  // pinned in OperatorSpec); `_bounded` restates its cut
  ) ++ bm25ServedRows.map(r => r.key -> r.oracle)
}
