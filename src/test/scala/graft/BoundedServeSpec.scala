package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{IndexMaintenance, Retrieval, TextAnalysis}

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
    val a = SparkEntry.queries("text_bm25_served")(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("text_bm25_served_bounded")(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty, "vacuous comparison")
    assert(a === b, "bounded serve diverged though no term crosses the cut")
    val h0 = Retrieval.searchHybridRrfServed(spark, sf0001).collect().map(_.toSeq).toSeq
    val h1 = Retrieval.searchHybridRrfServed(spark, sf0001,
      TextAnalysis.Bound.DfShare(TextAnalysis.bm25MaxDfShare))
      .drop((1 to Retrieval.hybridQueryTerms).map(i => s"act_$i"): _*).collect().map(_.toSeq).toSeq
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
    val banned = TextAnalysis.bannedTerms(spark, IndexMaintenance.snapshot(spark, s"$tmp/idx"),
      TextAnalysis.bm25MaxDfShare)
    assert(banned === Seq("spark"), s"banned head was $banned — want exactly the stopword")
    val bounded = TextAnalysis.textBm25Served(spark, s"$tmp/idx",
      bound = TextAnalysis.Bound.DfShare(TextAnalysis.bm25MaxDfShare)).collect().map(_.toSeq).toSeq
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
    val bounded = Retrieval.searchHybridRrfServed(spark, tmp, TextAnalysis.Bound.DfShare(TextAnalysis.bm25MaxDfShare)).collect()
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
    val ms = TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    val ms2 = TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    val ms3 = TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    val ms4 = TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    val ms5 = TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    val ms6 = TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    val now = TextAnalysis.materializedNow(spark,
      TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)))
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
    val freshNow = TextAnalysis.materializedNow(spark,
      TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)))
      .collect().map(_.toSeq).toSeq
    assert(freshNow === freshWant, "a fresh Now serve diverged from the fresh unbounded serve")
    assert(freshNow != want, "the append must move the top-k, or the immunity assertion is vacuous")
    // hybrid half: the Now form collects per-query-top-k rows eagerly
    // and matches the lazy served hybrid evaluated at the same moment
    val hybridWant = ops.Retrieval.searchHybridRrfServed(spark, sf0001, TextAnalysis.Bound.MaxScore())
      .collect().map(_.toSeq).toSeq
    val hybridNow = TextAnalysis.materializedNow(spark,
      ops.Retrieval.searchHybridRrfServed(spark, sf0001, TextAnalysis.Bound.MaxScore()))
      .collect().map(_.toSeq).toSeq
    assert(hybridNow === hybridWant && hybridNow.nonEmpty,
      "hybrid Now serve diverged from the lazy served hybrid at the same index state")
    // the REGISTERED snapshot forms (r15): lowcut + forced engagement +
    // materialization — identical to the unbounded serves on the shared
    // corpus (the identity the per-round DuckDB oracle then re-verifies
    // at sf0.01 with the engaged plan)
    val regBm25 = SparkEntry.queries("text_bm25_served_maxscore_now")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(regBm25.nonEmpty &&
      regBm25 === SparkEntry.queries("text_bm25_served")(spark, sf0001).collect().map(_.toSeq).toSeq,
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
    val dec = Retrieval.hybridMaxScoreLex(spark, tmp, IndexMaintenance.snapshot(spark, idxDir))
    assert(dec.isDefined, "hybrid MaxScore must engage on the stopword corpus")
    val modes = dec.get._2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(modes == Map(50L -> "pruned", 100L -> "fallback"),
      s"per-query modes $modes — want doc 50 pruned, doc 100 fallback")
    val unbounded = Retrieval.searchHybridRrfServed(spark, tmp).collect().map(_.toSeq).toSeq
    val ms = Retrieval.searchHybridRrfServed(spark, tmp, TextAnalysis.Bound.MaxScore()).collect().map(_.toSeq).toSeq
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
    def modesOf = Retrieval.hybridMaxScoreLex(spark, tmp, IndexMaintenance.snapshot(spark, idxDir))
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
    val ms = Retrieval.searchHybridRrfServed(spark, tmp, TextAnalysis.Bound.MaxScore()).collect().map(_.toSeq).toSeq
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
    val ms2 = Retrieval.searchHybridRrfServed(spark, tmp, TextAnalysis.Bound.MaxScore()).collect().map(_.toSeq).toSeq
    assert(ms2 === unbounded2,
      "post-delete hybrid MaxScore diverged from the unbounded serve")
    assert(ms2.forall(r => !(r(2) == 274L && r(3) != null)),
      "the deleted doc resurfaced in the lexical ranking")
    assert(unbounded2 != unbounded, "the takedown must change the unbounded result " +
      "(otherwise the post-delete identity is vacuous)")
  }

  test("bounded serves keep the mega posting in the scan: df-share skips >= 90% of its rows, " +
      "MaxScore half, hybrid MaxScore reads fewer rows than unbounded") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bounded-scan").toString
    // 10,000 docs: 20 filler words from a 200-word vocabulary, 'spark'
    // six times in EVERY doc (a fat 10k-row posting run, the stopword
    // shape), 'join' every 250th doc, 'vector' every 241st
    val nDoc = 10000L
    def filler(i: Long): Seq[String] = (0 until 20).map(w => s"w${(i * 31 + w * 7919) % 200}")
    def corpus(ids: Seq[Long], text: Long => String, dir: String): Unit =
      ids.map(i => (i, text(i), "en", "s")).toDF("doc_id", "text", "lang", "source")
        .write.parquet(s"$dir/documents.parquet")
    def stopText(i: Long): String = (filler(i) ++ Seq.fill(6)("spark") ++
      (if (i % 250 == 0) Seq("join") else Nil) ++ (if (i % 241 == 0) Seq("vector") else Nil))
      .mkString(" ")
    corpus(1L to nDoc, stopText, s"$tmp/stop")
    // the hybrid slice: 2,000 docs whose stride query docs lead with the
    // stopword, so every query's slot 1 is mega and its other slots stay
    // organic filler
    corpus(1L to 2000L, i => (if (i % graft.ops.Similarity.queryStride == 0) "spark " else "") +
      stopText(i), s"$tmp/hyb")
    // small row groups and 20-row pages, so the skip a pushed predicate
    // earns at production scale is visible on 10k docs; compaction's
    // (term, doc_id) sort is what makes the predicates prune
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("parquet.block.size" -> (1 << 20), "parquet.page.row.count.limit" -> 20)
    val olds = keys.map { case (k, _) => k -> Option(hc.get(k)) }
    try {
      keys.foreach { case (k, v) => hc.setInt(k, v) }
      for (d <- Seq("stop", "hyb")) {
        TextAnalysis.textIndexWrite(spark, s"$tmp/$d", s"$tmp/$d-idx")
        TextAnalysis.textIndexCompact(spark, s"$tmp/$d-idx")
      }
    } finally olds.foreach { case (k, o) => o.fold(hc.unset(k))(hc.set(k, _)) }
    // rows leaving the postings scan under each serve's pushed predicate
    def scanRows(f: => Unit): Long = TestSpark.inputRead(_.recordsRead)(f)
    val idx = s"$tmp/stop-idx"
    def postingRows(pred: org.apache.spark.sql.Column): Long = scanRows {
      IndexMaintenance.read(spark, idx, "postings").filter(pred)
        .select(col("term"), col("doc_id"), col("tf"))
        .write.mode("overwrite").format("noop").save()
    }
    val unbounded = postingRows(col("term").isin(TextAnalysis.bm25Query: _*))
    val survivors = TextAnalysis.boundedQueryTerms(spark, idx,
      TextAnalysis.bm25Query, TextAnalysis.bm25MaxDfShare)
    assert(survivors == Seq("join", "vector"), s"df-share cut resolved $survivors")
    val bounded = postingRows(col("term").isin(survivors: _*))
    val cand = TextAnalysis.maxScoreContenders(spark, idx, minMegaRows = 0L)
      .getOrElse(fail("MaxScore pruning must engage on the stopword corpus")).contenders
    val maxScore = postingRows(col("term").isin(TextAnalysis.bm25Query: _*) &&
      col("doc_id").isin(cand: _*) && col("doc_id") >= lit(cand.min) && col("doc_id") <= lit(cand.max))
    val hybDir = s"$tmp/hyb"
    val (hybLex, hybModes) = graft.ops.Retrieval.hybridMaxScoreLex(spark, hybDir,
      IndexMaintenance.snapshot(spark, s"$hybDir-idx"))
      .getOrElse(fail("hybrid MaxScore must engage on the stopword corpus"))
    assert(hybModes.filter(col("mode") === "pruned").count() > 0, "no hybrid query pruned")
    def lexRows(df: org.apache.spark.sql.DataFrame): (Set[Seq[Any]], Long) = {
      var rows = Set.empty[Seq[Any]]
      val n = scanRows { rows = df.collect().map(_.toSeq).toSet }
      (rows, n)
    }
    val (hybRows, hybScan) = lexRows(hybLex)
    val (unRows, unScan) = lexRows(graft.ops.Retrieval.lexRanksOver(spark, hybDir,
      IndexMaintenance.read(spark, s"$hybDir-idx", "postings")
        .select(col("doc_id"), col("term"), col("tf"))))
    info(s"postings rows read: unbounded $unbounded, df-share $bounded, MaxScore $maxScore " +
      s"(${cand.size} contenders); hybrid lex MaxScore $hybScan vs unbounded $unScan")
    assert(unbounded - bounded >= nDoc * 9 / 10,
      s"df-share scan read $bounded rows vs $unbounded unbounded: the mega posting was not skipped")
    assert(unbounded - maxScore >= nDoc / 2,
      s"MaxScore contender scan read $maxScore rows vs $unbounded: under half the mega posting skipped")
    assert(hybRows.nonEmpty && hybRows == unRows, "hybrid MaxScore lexical ranks diverged")
    assert(hybScan < unScan, s"hybrid MaxScore read $hybScan rows vs $unScan unbounded")
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
    val low = SparkEntry.queries("text_bm25_served_maxscore_lowcut")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(low.nonEmpty && low === exact,
      "lowcut MaxScore serve must stay identical to the unbounded serve")
    val dec = Retrieval.hybridMaxScoreLex(spark, sf001, IndexMaintenance.snapshot(spark, idx),
      TextAnalysis.bm25LowDfShare)
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
    assert(TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore())
      .collect().map(_.toSeq).toSeq === exact)
    assert(TextAnalysis.textBm25Served(spark, s"$tmp/idx", bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L))
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
    def serve() = TextAnalysis.textBm25Served(spark, s"$tmp/idx",
      bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq
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
    TextAnalysis.textBm25Served(spark, s"$tmp/idx",
      bound = TextAnalysis.Bound.MaxScore(0.5, minMegaRows = 0L)).collect()
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
    def hserve() = Retrieval.searchHybridRrfServed(spark, tmpH, TextAnalysis.Bound.MaxScore())
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
    val served = Retrieval.searchHybridRrfServed(spark, tmp, TextAnalysis.Bound.MaxScore())
    // an append and a compaction land between the serve and its consumption
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((121L, "spark alpha beta fresh", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), idx)
    TextAnalysis.textIndexCompact(spark, idx)
    assert(rows(served) === want && want.nonEmpty,
      "the late collect observed post-append index state — the served frame is not pinned")
    // a fresh serve re-derives at the new generation
    val fresh = rows(Retrieval.searchHybridRrfServed(spark, tmp, TextAnalysis.Bound.MaxScore()))
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

  test("constructing a served BM25 read runs no Spark job unbounded, and exactly the termstats collect under the df-share bound; MaxScore refuses a slice") {
    val idx = TextAnalysis.textIndexFor(spark, sf0001)
    IndexMaintenance.snapshot(spark, idx) // warm the log cache outside the count
    // the zero-job health listener pattern: a labelled RDD sentinel job
    // flushes the async listener bus, so every job posted before it has
    // been counted once the sentinel is seen
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          sentinelSeen.set(true)
        else jobs.incrementAndGet()
    }
    def jobsOf(construct: => org.apache.spark.sql.DataFrame): Int = {
      jobs.set(0); sentinelSeen.set(false)
      construct
      IndexMaintenance.labeledJob(spark, "sentinel")(
        spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000L
      while (!sentinelSeen.get() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(sentinelSeen.get(), "the sentinel job never reached the listener")
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val unbounded = jobsOf(TextAnalysis.textBm25Served(spark, idx))
      assert(unbounded == 0, s"constructing the unbounded serve ran $unbounded Spark job(s) — " +
        "the statistics must come from the index log")
      val bounded = jobsOf(TextAnalysis.textBm25Served(spark, idx,
        bound = TextAnalysis.Bound.DfShare(TextAnalysis.bm25MaxDfShare)))
      assert(bounded == 1, s"constructing the df-share serve ran $bounded Spark job(s) — " +
        "want exactly the termstats collect")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the MaxScore floor is seated over the whole corpus: not sound on a slice
    intercept[IllegalArgumentException](TextAnalysis.textBm25Served(spark, idx,
      Some(col("lang") === TextAnalysis.bm25FilterLang), TextAnalysis.Bound.MaxScore()))
  }

  /** The canonical stopword corpus of the MaxScore arms: 'spark' in
    * 58 of 60 docs (df-share 0.967, mega), 'join' and 'vector' cheap. */
  private def stopwordIndex(name: String): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(name).toString
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
    s"$tmp/idx"
  }

  /** Each query term's servable posting rows at `snap`: the masked,
    * query-term-pruned count the unbounded serve's df stands for. */
  private def maskedPostingCount(snap: IndexMaintenance.Snapshot): Map[String, Long] = {
    val n = snap.scan(spark, "postings", "doc_id")
      .filter(col("term").isin(TextAnalysis.bm25Query: _*))
      .groupBy(col("term")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    TextAnalysis.bm25Query.map(t => t -> n.getOrElse(t, 0L)).toMap
  }

  test("a warm unbounded served read runs at most 3 jobs and scans the postings once, " +
      "with no single-partition exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val idx = TextAnalysis.textIndexFor(spark, sf0001)
    TextAnalysis.textBm25Served(spark, idx).collect() // the generation's df derivation
    var served: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsRun {
      served = TextAnalysis.textBm25Served(spark, idx)
      served.collect()
    }
    assert(jobs <= 3, s"a warm unbounded served read ran $jobs Spark jobs — want at most 3 " +
      "(postings exchange, doc-values broadcast, top-k)")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case r: ReusedExchangeExec => r +: nodes(r.child)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val plan = nodes(served.queryExecution.executedPlan)
    val postingScans = plan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.endsWith("/postings")) => f
    }
    assert(postingScans.size == 1, s"${postingScans.size} postings scans in the executed plan — " +
      "the df must come from the derivation, not a second scan")
    val single = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning == org.apache.spark.sql.catalyst.plans.physical.SinglePartition => e
    }
    assert(single.isEmpty, s"single-partition exchange(s) in the served read: $single")
  }

  test("the first served read after an append runs at most 3 jobs: its df is read from the " +
      "index log, not derived; with a delete pending, construction counts the masked df once") {
    import spark.implicits._
    val idx = stopwordIndex("first-read")
    TextAnalysis.textBm25Served(spark, idx).collect()
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((61L, "spark join vector fresh", "en", "s")).toDF("doc_id", "text", "lang", "source"), idx)
    val first = TestSpark.jobsRun(TextAnalysis.textBm25Served(spark, idx).collect())
    assert(first <= 3, s"the first read after an append ran $first Spark jobs — want at most 3")
    TextAnalysis.textIndexDelete(spark, idx, Seq(6L))
    val missed = TestSpark.jobsRun(TextAnalysis.textBm25Served(spark, idx))
    assert(missed >= 1 && missed <= 2,
      s"constructing the first read with a delete pending ran $missed Spark jobs — want 1 or 2")
    val hit = TestSpark.jobsRun(TextAnalysis.textBm25Served(spark, idx))
    assert(hit == 0, s"constructing the second read of the generation ran $hit Spark jobs")
  }

  test("the df literals equal the masked query-term posting-row count after an append, " +
      "a delete and a compaction") {
    import spark.implicits._
    val idx = stopwordIndex("df-literals")
    def check(stage: String): Map[String, Long] = {
      val snap = IndexMaintenance.snapshot(spark, idx)
      val live = TextAnalysis.queryTermDf(spark, snap, TextAnalysis.bm25Query)
      val want = maskedPostingCount(snap)
      assert(live == want, s"$stage: df literals $live, masked posting-row count $want")
      live
    }
    val fresh = check("fresh build")
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((61L, "spark join vector fresh", "en", "s"), (62L, "spark spark join", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), idx)
    val appended = check("after an append")
    assert(appended("spark") == fresh("spark") + 2 && appended("vector") == fresh("vector") + 1,
      s"the append must move df: $fresh -> $appended")
    // doc 6 (base: spark, join, vector) and doc 62 (tail: spark, join)
    TextAnalysis.textIndexDelete(spark, idx, Seq(6L, 62L))
    val deleted = check("after a delete")
    assert(deleted("spark") == appended("spark") - 2 && deleted("join") == appended("join") - 2,
      s"the delete must move df: $appended -> $deleted")
    // a second generation with the delete still pending
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((64L, "spark vector", "en", "s")).toDF("doc_id", "text", "lang", "source"), idx)
    val pending = check("after an append with a delete pending")
    assert(pending("spark") == deleted("spark") + 1 && pending("vector") == deleted("vector") + 1,
      s"the append must move df: $deleted -> $pending")
    TextAnalysis.textIndexCompact(spark, idx)
    assert(check("after a compaction") == pending, "a compaction must not move df")
    // the served read scores with these literals: equal to the MaxScore
    // serve, whose decision carries them
    val exact = TextAnalysis.textBm25Served(spark, idx).collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty && exact === TextAnalysis.textBm25Served(spark, idx,
      bound = TextAnalysis.Bound.MaxScore(minMegaRows = 0L)).collect().map(_.toSeq).toSeq)
  }

  test("one snapshot per served read: the df derivation and the MaxScore decision at an " +
      "old snapshot keep that version's values across an append") {
    import spark.implicits._
    val idx = stopwordIndex("one-snapshot")
    val old = IndexMaintenance.snapshot(spark, idx)
    val share = TextAnalysis.bm25MaxDfShare
    val dfOld = TextAnalysis.queryTermDf(spark, old, TextAnalysis.bm25Query)
    val decOld = TextAnalysis.maxScoreContenders(spark, old, share, 0L)
    assert(decOld.isDefined, "pruning must engage on the stopword corpus")
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((61L, "spark join vector fresh", "en", "s"), (63L, "spark vector", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"), idx)
    val now = IndexMaintenance.snapshot(spark, idx)
    assert(now.generation != old.generation)
    // the current generation's decision is derived first, so a memo that
    // ignored the generation would hand it to the old snapshot below
    val dfNow = TextAnalysis.queryTermDf(spark, now, TextAnalysis.bm25Query)
    val decNow = TextAnalysis.maxScoreContenders(spark, now, share, 0L)
    assert(dfNow != dfOld && decNow != decOld,
      "the append must move the df and the decision, or the pin is vacuous")
    assert(TextAnalysis.queryTermDf(spark, old, TextAnalysis.bm25Query) == dfOld,
      "the derivation at the old snapshot returned another version's df")
    assert(dfOld == maskedPostingCount(old))
    val decAgain = TextAnalysis.maxScoreContenders(spark, old, share, 0L)
    assert(decAgain == decOld,
      s"the MaxScore decision at the old snapshot moved: $decOld -> $decAgain")
    assert(!decAgain.get.contenders.exists(Set(61L, 63L)),
      "an appended doc is a contender of the version before its append")
  }

  test("hybrid one snapshot per serve: at snapshot v, the MaxScore decision and lex ranks keep v's " +
      "values after a delete, a compaction and an append land") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hybrid-one-snapshot").toString
    // 'spark' is the mega term (116/120); 'alpha' (90/120) sits under
    // the cut until the delete below takes 24 alpha-less docs out, after
    // which the compacted dictionary bans it too
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
    val idx = TextAnalysis.textIndexFor(spark, tmp)
    def at(snap: IndexMaintenance.Snapshot) = Retrieval.hybridMaxScoreLex(spark, tmp, snap)
      .map { case (lex, modes) =>
        (lex.collect().map(_.toSeq).toSet, modes.collect().map(_.toSeq).toSet) }
    val v = IndexMaintenance.snapshot(spark, idx)
    val before = at(v)
    assert(before.isDefined, "hybrid MaxScore must engage on the stopword corpus")
    // v's data files, kept aside: the compaction deletes the files it
    // replaces, and the arm reads v after it (as a retention window would)
    val kept = java.nio.file.Files.createTempDirectory("hybrid-one-snapshot-kept")
    v.files.values.foreach { d =>
      val to = kept.resolve(d.path)
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(java.nio.file.Paths.get(idx, d.path), to)
    }
    TextAnalysis.textIndexDelete(spark, idx, (4L to 96L by 4L).toSeq)
    TextAnalysis.textIndexCompact(spark, idx)
    TextAnalysis.textIndexAppendBatch(spark,
      Seq((121L, "spark alpha beta fresh", "en", "s")).toDF("doc_id", "text", "lang", "source"), idx)
    v.files.values.foreach { d =>
      val back = java.nio.file.Paths.get(idx, d.path)
      if (!java.nio.file.Files.exists(back)) java.nio.file.Files.copy(kept.resolve(d.path), back)
    }
    val now = IndexMaintenance.snapshot(spark, idx)
    assert(now.generation != v.generation)
    assert(TextAnalysis.bannedTerms(spark, now, TextAnalysis.bm25MaxDfShare).toSet ==
      Set("spark", "alpha"), "the compaction must move the banned head, or the pin is vacuous")
    assert(at(now) != before, "the commits must move the decision or the ranks")
    assert(at(v) == before,
      "the decision at snapshot v read another version's dictionary, statistics or postings")
  }
}
