package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Retrieval, TextAnalysis}

/** Bounded-term lexical serving (round 9): query terms whose df-share
  * exceeds [[TextAnalysis.bm25MaxDfShare]] are dropped via the term
  * DICTIONARY (`termstats`) before their posting lists are read — the
  * serve-path mitigation for the one remaining lexical scale-killer (a
  * stopword query term at 10B docs is an O(corpus) posting list through
  * the serve join). Pins:
  *  - pass-through: on the shared corpus no query term crosses the
  *    default cut, so bounded == unbounded exactly (BM25 and hybrid)
  *  - pruning: on a crafted stopword-heavy corpus the mega term IS
  *    dropped, and the bounded result equals — double for double — an
  *    unbounded serve over a rewrite of the corpus with the stopword
  *    replaced by filler (same dl, same n_docs/avgdl, tf=0: the exact
  *    semantics the act_i oracle flags restate)
  *  - the dictionary itself: boundedQueryTerms / bannedTerms resolve
  *    the cut from O(|query|)-row reads, not posting scans
  */
class BoundedServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  test("pass-through: bounded == unbounded when no query term crosses the cut") {
    val a = TextAnalysis.textBm25ServedQuery(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = TextAnalysis.textBm25ServedBoundedQuery(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty, "vacuous comparison")
    assert(a === b, "bounded serve diverged though no term crosses the cut")
    val h0 = Retrieval.searchHybridRrfServed(spark, sf0001).collect().map(_.toSeq).toSeq
    val h1 = Retrieval.searchHybridRrfServed(spark, sf0001,
      Some(TextAnalysis.bm25MaxDfShare)).collect().map(_.toSeq).toSeq
    assert(h0.nonEmpty && h0 === h1,
      "bounded hybrid serve diverged though the banned head is empty")
  }

  test("stopword corpus: the mega term is dropped; result equals the stopword-less rewrite") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bounded-serve").toString
    // 60 docs; 'spark' in 58 of them (share 0.967 > 0.9 — a stopword);
    // 'join' / 'vector' sparse; per-doc filler varies dl
    def tokensOf(i: Long, spk: String): Seq[String] = {
      val base = Seq.newBuilder[String]
      if (i <= 58) base += spk
      if (i % 7 == 0) base += "join"
      if (i % 11 == 0) base += "vector"
      (0 until (3 + (i % 5)).toInt).foreach(w => base += s"f${i}w$w")
      if (i % 3 == 0 && i <= 58) base += spk // tf 2 for some docs
      base.result()
    }
    def writeCorpus(dir: String, spk: String): Unit =
      (1L to 60L).map(i => (i, tokensOf(i, spk).mkString(" "), "en", "s"))
        .toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeCorpus(s"$tmp/orig", "spark")
    writeCorpus(s"$tmp/nospk", "qqfiller") // same positions -> same dl
    TextAnalysis.textIndexWrite(spark, s"$tmp/orig", s"$tmp/idx")
    TextAnalysis.textIndexWrite(spark, s"$tmp/nospk", s"$tmp/idxv")
    // the dictionary resolves the cut without touching postings
    assert(TextAnalysis.boundedQueryTerms(spark, s"$tmp/idx",
      TextAnalysis.bm25Query, TextAnalysis.bm25MaxDfShare) === Seq("join", "vector"),
      "df-share cut did not drop exactly the stopword")
    val banned = TextAnalysis.bannedTerms(spark, s"$tmp/idx", TextAnalysis.bm25MaxDfShare)
    assert(banned === Seq("spark"), s"banned head was $banned — want exactly the stopword")
    val bounded = TextAnalysis.textBm25Served(spark, s"$tmp/idx",
      maxDfShare = Some(TextAnalysis.bm25MaxDfShare)).collect().map(_.toSeq).toSeq
    val reference = TextAnalysis.textBm25Served(spark, s"$tmp/idxv")
      .collect().map(_.toSeq).toSeq
    assert(bounded.nonEmpty, "vacuous comparison")
    assert(bounded === reference,
      "bounded serve != unbounded serve over the stopword-less rewrite")
    // the dropped term's slot reports tf 0 everywhere, and a doc whose
    // only query-term match is the stopword is not a candidate
    assert(bounded.forall(_(2) == 0L), "dropped term's tf slot must be 0")
    val onlySparkDocs = (1L to 58L).filter(i => i % 7 != 0 && i % 11 != 0)
    assert(bounded.map(_(0).asInstanceOf[Long]).toSet
      .intersect(onlySparkDocs.toSet).isEmpty,
      "a stopword-only doc survived as a candidate")
  }

  test("hybrid bounded serve: a banned stopword slot actually fires (act flag 0, posting excluded)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bounded-hybrid").toString
    // 60 docs; 'spark' in 58 (df-share 0.967 > 0.9); the one stride
    // query doc (50) leads with 'spark', then its own unique fillers —
    // so under the bound its ONLY lexical matches are itself
    def tokensOf(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 58) b += "spark"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 60L).map(i => (i, tokensOf(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rnd = new scala.util.Random(5)
    (1L to 60L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val unbounded = Retrieval.searchHybridRrfServed(spark, tmp).collect()
    val bounded = Retrieval.searchHybridRrfServedBounded(spark, tmp).collect()
    assert(bounded.nonEmpty && unbounded.nonEmpty, "vacuous comparison")
    // the flags name the fired slot: slot 1 ('spark') banned, the
    // query's own fillers untouched
    assert(bounded.forall(r => r.getLong(6) == 0L && r.getLong(7) == 1L && r.getLong(8) == 1L),
      "act flags must report exactly the stopword slot as banned")
    // under the bound the query's only lexical match is itself; the
    // unbounded serve ranks the whole stopword posting
    def lexDocs(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(!_.isNullAt(3)).map(_.getLong(2)).toSet
    assert(lexDocs(bounded) == Set(50L),
      s"bounded lexical candidates ${lexDocs(bounded)} — the mega posting leaked past the ban")
    // the fused output caps at hybridTopK rows per query, so "many" here
    // means several of the top-10 carry stopword-driven lexical ranks
    assert(lexDocs(unbounded).size > 3,
      "crafted corpus failed to make the stopword dominate the unbounded lexical list")
    // the semantic side is untouched by the lexical bound
    def semRanks(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(!_.isNullAt(4)).map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(semRanks(bounded) == semRanks(unbounded),
      "the lexical df-share bound changed semantic ranks")
  }

  test("maxscore serve: exact top-k, mega posting pruned to contenders, appends stay bounded (segments)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("maxscore").toString
    // 'spark' in 58/60 docs (mega, df-share 0.967); 'join'/'vector'
    // cheap with enough matching docs to seat a full top-k floor
    def tok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 58) b += "spark"
      if (i % 2 == 0) b += "join"
      if (i % 3 == 0) b += "vector"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 60L).map(i => (i, tok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    val cand = TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L)
    assert(cand.isDefined, "pruning must engage on the stopword corpus")
    assert(cand.get.contenders.size >= TextAnalysis.bm25TopK && cand.get.contenders.size < 60,
      s"contender set ${cand.get.contenders.size} — want a proper subset covering the top-k")
    val exact = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val ms = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L).collect().map(_.toSeq).toSeq
    assert(ms.nonEmpty && ms === exact,
      "MaxScore serve diverged from the unbounded serve — it must be EXACT")
    // registered-corpus arm: no query term crosses the cut -> fallback,
    // still identical (the shared oracle's contract)
    assert(TextAnalysis.maxScoreContenders(spark,
      TextAnalysis.textIndexFor(spark, sf0001)).isEmpty,
      "no mega term on the shared corpus — pruning must not engage")
    // SEGMENT MODEL (round 12): an append no longer blinds the bounds —
    // the compacted segment stays dictionary-bounded, the appended tail
    // is scanned unbounded, and the result stays EXACT. The appended doc
    // matches the mega term in the tail, so it must be a contender by
    // inclusion, and the live df must count its rows.
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((61L, "spark join vector fresh", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), s"$tmp/idx")
    val cand2 = TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L)
    assert(cand2.isDefined, "pruning must STAY engaged across an append (segment bounds)")
    assert(cand2.get.contenders.contains(61L),
      "the tail doc matching the mega term must be a contender by inclusion")
    assert(cand2.get.dfLive("spark") == 59L && cand2.get.dfLive("join") == 31L,
      s"live df must be dictionary + tail: ${cand2.get.dfLive}")
    val exact2 = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val ms2 = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L).collect().map(_.toSeq).toSeq
    assert(ms2 === exact2, "post-append pruned serve diverged from the unbounded serve")
    assert(exact2 != exact, "the appended doc must change the unbounded top-k " +
      "(otherwise the post-append identity is vacuous)")
    // compact absorbs the tail into the base segment: pruning continues,
    // dictionary df catches up to the live value
    TextAnalysis.textIndexCompact(spark, s"$tmp/idx")
    val cand3 = TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L)
    assert(cand3.isDefined, "compact must keep pruning enabled")
    assert(cand3.get.dfLive("spark") == 59L, s"post-compact df: ${cand3.get.dfLive}")
    // (scores legitimately move at compact: the frozen n_docs/avgdl
    // catch up to the absorbed tail — the Lucene semantic)
    val exact3 = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val ms3 = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L).collect().map(_.toSeq).toSeq
    assert(ms3 === exact3)
    // TOMBSTONES (round 13 — Lucene's delete masks): a takedown no
    // longer disables bounded serving until the next compact. Doc 2
    // matches 'join' (it sits in the served top-k, so the identity is
    // non-vacuous) and 'spark'; the live df must be the MASKED posting
    // count, the floor must re-seat without the deleted doc, and the
    // serve must equal the unbounded serve over the masked corpus.
    TextAnalysis.textIndexDelete(spark, s"$tmp/idx", Seq(2L))
    val cand4 = TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L)
    assert(cand4.isDefined, "pruning must STAY engaged across a takedown (delete masks)")
    assert(!cand4.get.contenders.contains(2L), "the deleted doc must not be a contender")
    assert(cand4.get.dfLive("spark") == 58L && cand4.get.dfLive("join") == 30L,
      s"live df must be the tombstone-masked posting count: ${cand4.get.dfLive}")
    val exact4 = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val ms4 = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L).collect().map(_.toSeq).toSeq
    assert(ms4 === exact4, "post-delete pruned serve diverged from the unbounded serve")
    assert(exact4 != exact3, "the takedown must change the unbounded top-k " +
      "(otherwise the post-delete identity is vacuous)")
    // MASS takedown of mega-term docs (the r13 review's soundness
    // scenario): deleting 'spark'-only docs shrinks its live df under
    // the FROZEN n, so the serve's live idf RISES well past the
    // dictionary-time value the frozen ub priced in. The bound must be
    // rescaled by the idf ratio or it silently under-bounds the
    // surviving mega postings and prunes true top-k docs.
    // Arm A — moderate inflation (8 of the 19 spark-only docs): the
    // rescaled bound still clears the floor, pruning stays engaged,
    // and the serve stays identical to the unbounded one.
    TextAnalysis.textIndexDelete(spark, s"$tmp/idx", Seq(5L, 7L, 11L, 13L, 17L, 19L, 23L, 25L))
    val cand5 = TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L)
    assert(cand5.isDefined,
      "pruning must stay engaged under moderate mega-df shrinkage")
    val exact5 = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val ms5 = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L).collect().map(_.toSeq).toSeq
    assert(ms5 === exact5, "mass-takedown pruned serve diverged from the unbounded serve")
    // Arm B — extreme inflation (all remaining spark-only docs + four
    // spark+vector docs): the rescaled bound exceeds any seatable
    // floor, so the ONLY sound decision is the unbounded fallback. The
    // unscaled frozen ub would still claim "pruned" here — this arm is
    // the regression pin for the rescale itself.
    TextAnalysis.textIndexDelete(spark, s"$tmp/idx",
      Seq(1L, 29L, 31L, 35L, 37L, 41L, 43L, 47L, 49L, 53L, 55L, 9L, 15L, 21L, 27L))
    val cand6 = TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L)
    assert(cand6.isEmpty,
      "extreme mega-idf inflation must force the sound unbounded fallback " +
      "(an unscaled frozen bound would wrongly keep pruning)")
    val exact6 = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val ms6 = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L).collect().map(_.toSeq).toSeq
    assert(ms6 === exact6)
  }

  test("maxscore snapshot race (r14): the Now form is pinned to decision-time state across a concurrent append; a fresh serve re-derives") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("maxscore-now").toString
    def tok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 58) b += "spark"
      if (i % 2 == 0) b += "join"
      if (i % 3 == 0) b += "vector"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 60L).map(i => (i, tok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    assert(TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L).isDefined,
      "pruning must engage — the arm tests the PRUNED path's snapshot")
    val want = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val now = TextAnalysis.textBm25ServedMaxScoreNow(spark, s"$tmp/idx", minMegaRows = 0L)
    // a concurrent append lands between the serve and its consumption
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((61L, "spark join vector fresh", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), s"$tmp/idx")
    // the materialized snapshot is immune to the late collect...
    assert(now.collect().map(_.toSeq).toSeq === want,
      "the Now form's late collect observed post-append state — the snapshot leaked")
    // ...while a FRESH serve re-derives and equals the fresh unbounded
    // serve over base + tail (and genuinely differs from the snapshot)
    val freshWant = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    val freshNow = TextAnalysis.textBm25ServedMaxScoreNow(spark, s"$tmp/idx", minMegaRows = 0L)
      .collect().map(_.toSeq).toSeq
    assert(freshNow === freshWant, "a fresh Now serve diverged from the fresh unbounded serve")
    assert(freshNow != want, "the append must move the top-k, or the immunity assertion is vacuous")
    // hybrid half: the Now form collects per-query-top-k rows eagerly
    // and matches the lazy served hybrid evaluated at the same moment
    val hybridWant = ops.Retrieval.searchHybridRrfServedMaxScore(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val hybridNow = ops.Retrieval.searchHybridRrfServedMaxScoreNow(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(hybridNow === hybridWant && hybridNow.nonEmpty,
      "hybrid Now serve diverged from the lazy served hybrid at the same index state")
    // the REGISTERED snapshot forms (r15): lowcut + forced engagement +
    // materialization — identical to the unbounded serves on the shared
    // corpus (the identity the per-round DuckDB oracle then re-verifies
    // at sf0.01 with the engaged plan)
    val regBm25 = TextAnalysis.textBm25ServedMaxScoreNowQuery(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(regBm25.nonEmpty &&
      regBm25 === TextAnalysis.textBm25ServedQuery(spark, sf0001).collect().map(_.toSeq).toSeq,
      "registered bm25 snapshot serve diverged from the unbounded serve")
    val regHyb = ops.Retrieval.queries("search_hybrid_rrf_served_maxscore_now")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(regHyb.nonEmpty &&
      regHyb === ops.Retrieval.searchHybridRrfServed(spark, sf0001).collect().map(_.toSeq).toSeq,
      "registered hybrid snapshot serve diverged from the unbounded serve")
  }

  test("hybrid maxscore: per-query pruning engages, fallback stays per-query, result EXACT") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hybrid-maxscore").toString
    // 120 docs. 'spark' in 116 (share 0.967 > 0.9 -> mega); 'alpha' in 90
    // (0.75, cheap, seats a deep floor); 'beta' in 30 (cheap). Mega-ONLY
    // docs exist (i%4==0, even, >60: no alpha, no beta, spark yes) — the
    // population pruning must provably exclude. Two stride queries:
    //  - doc 50  -> slots (spark, alpha, beta): floor deep, ub(spark)
    //    tiny -> PRUNED
    //  - doc 100 -> slots (spark, f100w0, f100w1): cheap slots match one
    //    doc, floor unseated -> FALLBACK (exact unbounded semantics for
    //    that one query)
    def tok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 116) b += "spark"
      if (i % 4 != 0) b += "alpha"
      if (i % 2 == 0 && i <= 60) b += "beta"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 120L).map(i => (i, tok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rnd = new scala.util.Random(13)
    (1L to 120L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val idxDir = TextAnalysis.textIndexFor(spark, tmp)
    val dec = Retrieval.hybridMaxScoreLex(spark, tmp, idxDir)
    assert(dec.isDefined, "hybrid MaxScore must engage on the stopword corpus")
    val modes = dec.get._2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(modes == Map(50L -> "pruned", 100L -> "fallback"),
      s"per-query modes $modes — want doc 50 pruned, doc 100 fallback")
    val unbounded = Retrieval.searchHybridRrfServed(spark, tmp).collect().map(_.toSeq).toSeq
    val ms = Retrieval.searchHybridRrfServedMaxScore(spark, tmp).collect().map(_.toSeq).toSeq
    assert(ms.nonEmpty && ms === unbounded,
      "hybrid MaxScore serve diverged from the unbounded serve — it must be EXACT")
    // the pruned query's lexical list is where the mega posting would
    // have flooded in: doc 50's lexical candidates must include alpha/
    // beta matchers, and the unbounded/maxscore lists agree rank by rank
    assert(ms.count(r => r(0) == 50L) > 0 && ms.count(r => r(0) == 100L) > 0,
      "both queries must produce fused rows")
  }

  test("hybrid maxscore SEGMENT MODEL: appends keep per-query pruning engaged; " +
      "a tail doc matching the mega term is a contender by inclusion") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hybrid-maxscore-seg").toString
    // 300 base docs. 'mm' in 273 (share 0.91 > 0.9 -> mega, every tf 1
    // so the frozen per-term bound is tight); 'aa' in 27 (doc 50 + docs
    // 274..299 at dl 120 — the 26 no-mega docs that seat a 25-deep
    // cheap floor). Stride queries: doc 50 -> (mm, aa, f50w0), PRUNED;
    // docs 100/150/200/250 -> (mm, filler, filler), cheap floor
    // unseated -> FALLBACK; doc 300 (no mm at all) -> PURE. The numbers
    // are chosen so that after the append below the floor sits ~11%
    // above the idf-rescaled mega bound (pruning stays engaged) and the
    // tail doc's mm-only score sits ~10% above the floor (it MUST
    // surface in the top-k, which only the inclusion path can do — a
    // dictionary bound cannot cover a tail posting's tf=150).
    def tok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i == 50) { b += "mm"; b += "aa"; (0 until 6).foreach(w => b += s"f${i}w$w") }
      else if (i <= 273) { b += "mm"; (0 until 7).foreach(w => b += s"f${i}w$w") }
      else if (i <= 299) { b += "aa"; (0 until 119).foreach(w => b += s"f${i}w$w") }
      else (0 until 8).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 300L).map(i => (i, tok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rnd = new scala.util.Random(29)
    (1L to 300L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val idxDir = TextAnalysis.textIndexFor(spark, tmp)
    def modesOf = Retrieval.hybridMaxScoreLex(spark, tmp, idxDir)
      .map(_._2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    val modes0 = modesOf
    assert(modes0.exists(_.get(50L).contains("pruned")),
      s"pre-append engagement sanity: $modes0")
    // the append: 100 filler docs (the corpus outgrows the mega term,
    // RAISING its live idf past the frozen dictionary value — the case
    // the per-slot max(1, idf_live/idf_frozen) rescale exists for) plus
    // one mm-heavy doc (tf 150) no frozen bound can cover
    val batch = ((400L to 499L).map(i =>
        (i, (0 until 8).map(w => s"f${i}w$w").mkString(" "), "en", "s")) :+
      (350L, Seq.fill(150)("mm").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    TextAnalysis.textIndexAppendBatch(spark, batch, idxDir)
    val modes1 = modesOf
    assert(modes1.isDefined, "an appended tail must no longer force the unbounded hybrid serve")
    assert(modes1.get(50L) == "pruned",
      s"per-query pruning must STAY engaged across the append: ${modes1.get}")
    assert(modes1.get(300L) == "pure" &&
      Seq(100L, 150L, 200L, 250L).forall(q => modes1.get(q) == "fallback"),
      s"mode coexistence under a tail: ${modes1.get}")
    val unbounded = Retrieval.searchHybridRrfServed(spark, tmp).collect().map(_.toSeq).toSeq
    val ms = Retrieval.searchHybridRrfServedMaxScore(spark, tmp).collect().map(_.toSeq).toSeq
    assert(ms.nonEmpty && ms === unbounded,
      "post-append hybrid MaxScore diverged from the unbounded serve — it must stay EXACT")
    // the inclusion is DECISIVE, not vacuous: the tail doc outscores the
    // cheap floor on its mega term alone, so it must surface in query
    // 50's fused lexical candidates — only the contender-by-inclusion
    // path can put it there
    assert(ms.exists(r => r(0) == 50L && r(2) == 350L && r(3) != null),
      "the mm-heavy tail doc must reach query 50's lexical top-k by inclusion")
    // TOMBSTONES on top of the live tail: take down doc 274 — the 'aa'
    // doc at lexical rank 3 of query 50's FUSED top-10, so the delete
    // is visible in the output — per-query pruning must stay engaged
    // (live df switches to the masked posting count), and the serve
    // must equal the unbounded serve over the masked corpus. (Only the
    // TEXT index takes the delete; the doc legitimately stays visible
    // to the semantic side.)
    TextAnalysis.textIndexDelete(spark, idxDir, Seq(274L))
    val modes2 = modesOf
    assert(modes2.isDefined && modes2.get(50L) == "pruned",
      s"pruning must STAY engaged across a takedown: $modes2")
    val unbounded2 = Retrieval.searchHybridRrfServed(spark, tmp).collect().map(_.toSeq).toSeq
    val ms2 = Retrieval.searchHybridRrfServedMaxScore(spark, tmp).collect().map(_.toSeq).toSeq
    assert(ms2 === unbounded2,
      "post-delete hybrid MaxScore diverged from the unbounded serve")
    assert(ms2.forall(r => !(r(2) == 274L && r(3) != null)),
      "the deleted doc resurfaced in the lexical ranking")
    assert(unbounded2 != unbounded, "the takedown must change the unbounded result " +
      "(otherwise the post-delete identity is vacuous)")
  }

  test("lowcut twins: the ENGAGED-pruning plan is what runs under the oracle (sf0.01)") {
    import TestSpark.sf001
    // the registered *_maxscore_lowcut queries exist so the PRUNED arm
    // — not just the fallback — executes under the DuckDB hash oracle.
    // This pin proves the engagement claim on the exact corpus the
    // correctness gate reads: at bm25LowDfShare the fixed query's
    // 'join' slot goes mega with a seated cheap floor, and several
    // hybrid queries decide "pruned". Identity to the unbounded serves
    // is what the shared oracle then verifies against DuckDB.
    val idx = TextAnalysis.textIndexFor(spark, sf001)
    val cand = TextAnalysis.maxScoreContenders(spark, idx, TextAnalysis.bm25LowDfShare, minMegaRows = 0L)
    assert(cand.isDefined,
      "fixed-query pruning must engage at bm25LowDfShare on the oracle corpus")
    val exact = TextAnalysis.textBm25Served(spark, idx).collect().map(_.toSeq).toSeq
    val low = TextAnalysis.textBm25ServedMaxScoreLowcutQuery(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(low.nonEmpty && low === exact,
      "lowcut MaxScore serve must stay identical to the unbounded serve")
    val dec = Retrieval.hybridMaxScoreLex(spark, sf001, idx, TextAnalysis.bm25LowDfShare)
    assert(dec.isDefined, "hybrid lowcut MaxScore must engage on the oracle corpus")
    val modeCounts = dec.get._2.groupBy("mode").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(modeCounts.getOrElse("pruned", 0L) >= 1L,
      s"at least one hybrid query must take the pruned path: $modeCounts")
  }

  test("auto-disengage (r15): below the mega-row floor the default serve skips the decision pass; forced engagement still prunes") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("maxscore-disengage").toString
    // the canonical stopword corpus: pruning is PROVABLE here (the
    // machinery arms above pin that), but the mega head is only 58
    // posting rows — paying the floor scan + decision actions to skip
    // 58 rows is the smoke-scale overhead the r14 pricing measured at
    // 1.56–1.68x. The default serve must therefore go unbounded
    // WITHOUT the decision pass.
    def tok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 58) b += "spark"
      if (i % 2 == 0) b += "join"
      if (i % 3 == 0) b += "vector"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 60L).map(i => (i, tok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    // small corpus + default floor -> no decision (unbounded plan)...
    assert(TextAnalysis.maxScoreContenders(spark, s"$tmp/idx").isEmpty,
      "the default serve must disengage below the mega-row floor")
    // ...while forced engagement (instruments, or a deployment that
    // measured its own break-even) still proves and prunes
    assert(TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 0L).isDefined,
      "forced engagement must still prove pruning on the same corpus")
    // a floor the planted head CLEARS engages without forcing — the
    // gate is the dictionary-priced mega mass, not a hardcoded off
    assert(TextAnalysis.maxScoreContenders(spark, s"$tmp/idx", minMegaRows = 50L).isDefined,
      "a cleared floor must engage: the gate reads the dictionary's mega df mass")
    // PARITY both ways: disengaged == unbounded == forced-engaged
    val exact = TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq
    assert(TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx")
      .collect().map(_.toSeq).toSeq === exact)
    assert(TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx", minMegaRows = 0L)
      .collect().map(_.toSeq).toSeq === exact)
  }

  test("decision memo (r16): the MaxScore decision is paid once per index generation; append/delete/compact each invalidate") {
    import spark.implicits._
    import graft.ops.Artifacts
    val tmp = java.nio.file.Files.createTempDirectory("maxscore-memo").toString
    def tok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 58) b += "spark"
      if (i % 2 == 0) b += "join"
      if (i % 3 == 0) b += "vector"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 60L).map(i => (i, tok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    def counters() = (Artifacts.hits.get(), Artifacts.misses.get())
    def serve() = TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx",
      minMegaRows = 0L).collect().map(_.toSeq).toSeq
    Artifacts.reset()
    val (h0, m0) = counters()
    val first = serve()
    val (h1, m1) = counters()
    assert(m1 == m0 + 1 && h1 == h0, "first serve must MISS (cold decision)")
    val second = serve()
    val (h2, m2) = counters()
    assert(h2 == h1 + 1 && m2 == m1,
      "second serve on the frozen index must HIT — the decision pass ran twice")
    assert(second === first, "memo-hit serve diverged — must be byte-identical")
    // a different cut (or floor) is a DIFFERENT decision: its own entry
    TextAnalysis.textBm25ServedMaxScore(spark, s"$tmp/idx",
      maxDfShare = 0.5, minMegaRows = 0L).collect()
    assert(counters()._2 == m2 + 1, "a different cut must not share the memo entry")
    // APPEND invalidates: the fingerprint moves with the stamped files,
    // and the re-derived serve reflects the appended doc
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((61L, "spark join vector fresh", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), s"$tmp/idx")
    val mBeforeAppend = counters()._2
    val postAppend = serve()
    assert(counters()._2 == mBeforeAppend + 1,
      "an append must move the index fingerprint and force a re-derive")
    assert(postAppend ===
      TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq,
      "post-append serve must equal the unbounded serve over base + tail")
    assert(postAppend != first, "the append must change the top-k, or the pin is vacuous")
    // DELETE invalidates (tombstone files join the fingerprint)
    TextAnalysis.textIndexDelete(spark, s"$tmp/idx", Seq(2L))
    val mBeforeDelete = counters()._2
    val postDelete = serve()
    assert(counters()._2 == mBeforeDelete + 1,
      "a takedown must move the index fingerprint and force a re-derive")
    assert(postDelete ===
      TextAnalysis.textBm25Served(spark, s"$tmp/idx").collect().map(_.toSeq).toSeq)
    // COMPACT invalidates (rewrite renames every part)
    TextAnalysis.textIndexCompact(spark, s"$tmp/idx")
    val mBeforeCompact = counters()._2
    serve()
    assert(counters()._2 == mBeforeCompact + 1,
      "a compact must move the index fingerprint and force a re-derive")

    // HYBRID half: the registered serve memoizes the materialized
    // per-query lexical ranks under the same fingerprint rule
    val tmpH = java.nio.file.Files.createTempDirectory("hybrid-memo").toString
    def htok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 116) b += "spark"
      if (i % 4 != 0) b += "alpha"
      if (i % 2 == 0 && i <= 60) b += "beta"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 120L).map(i => (i, htok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmpH/documents.parquet")
    val rnd = new scala.util.Random(41)
    (1L to 120L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmpH/embeddings.parquet")
    val hIdx = TextAnalysis.textIndexFor(spark, tmpH)
    def hserve() = Retrieval.searchHybridRrfServedMaxScore(spark, tmpH)
      .collect().map(_.toSeq).toSeq
    val hm0 = counters()._2
    val hFirst = hserve()
    val (hh1, hm1) = counters()
    assert(hm1 > hm0, "first hybrid serve must MISS")
    val hSecond = hserve()
    val (hh2, hm2) = counters()
    assert(hm2 == hm1 && hh2 > hh1,
      "second hybrid serve on the frozen index must HIT the lex-ranks memo")
    assert(hSecond === hFirst && hFirst.nonEmpty,
      "memo-hit hybrid serve diverged — must be byte-identical")
    // append to the text index → fingerprint moves → the hybrid serve
    // re-derives and reflects the appended doc
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((121L, "spark alpha beta fresh", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), hIdx)
    val hmBefore = counters()._2
    val hPost = hserve()
    assert(counters()._2 > hmBefore,
      "an append must invalidate the hybrid lex-ranks memo")
    assert(hPost ===
      Retrieval.searchHybridRrfServed(spark, tmpH).collect().map(_.toSeq).toSeq,
      "post-append hybrid serve must equal the unbounded serve over base + tail")
  }

  test("hybrid maxscore snapshot: a returned serve is pinned to its index generation across a concurrent append and compact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hybrid-snapshot").toString
    def htok(i: Long): Seq[String] = {
      val b = Seq.newBuilder[String]
      if (i <= 116) b += "spark"
      if (i % 4 != 0) b += "alpha"
      if (i % 2 == 0 && i <= 60) b += "beta"
      (0 until (3 + (i % 5)).toInt).foreach(w => b += s"f${i}w$w")
      b.result()
    }
    (1L to 120L).map(i => (i, htok(i).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rnd = new scala.util.Random(43)
    (1L to 120L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val idx = TextAnalysis.textIndexFor(spark, tmp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val want = rows(Retrieval.searchHybridRrfServed(spark, tmp))
    val served = Retrieval.searchHybridRrfServedMaxScore(spark, tmp)
    // an append and a compaction land between the serve and its consumption
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((121L, "spark alpha beta fresh", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), idx)
    TextAnalysis.textIndexCompact(spark, idx)
    assert(rows(served) === want && want.nonEmpty,
      "the late collect observed post-append index state — the served frame is not pinned")
    // a fresh serve re-derives at the new generation
    val fresh = rows(Retrieval.searchHybridRrfServedMaxScore(spark, tmp))
    assert(fresh === rows(Retrieval.searchHybridRrfServed(spark, tmp)))
    assert(fresh != want, "the append must move the top-k, or the pin is vacuous")
  }

  test("term dictionary: frozen between compacts, recomputed at compact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("termstats").toString
    (1L to 10L).map(i => (i, s"alpha beta g$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    def dfOf(term: String): Long = spark.read.parquet(s"$tmp/idx/termstats")
      .filter(col("term") === term).collect().headOption.map(_.getLong(1)).getOrElse(0L)
    assert(dfOf("alpha") == 10L)
    // an append leaves the dictionary FROZEN (the Lucene semantic)...
    val batch = Seq((11L, "alpha beta extra", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    TextAnalysis.textIndexAppendBatch(spark, batch, s"$tmp/idx")
    assert(dfOf("alpha") == 10L, "append must not re-estimate the dictionary")
    // ...and compact is where it catches up
    TextAnalysis.textIndexCompact(spark, s"$tmp/idx")
    assert(dfOf("alpha") == 11L, "compact must recompute the dictionary")
    assert(dfOf("extra") == 1L)
  }
}
