package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFns

/** Per-operator units on tiny literal frames (SURVEY.md §5.4) plus
  * smoke-level invariants for every registered query at sf0.001. */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("text_bm25_served equals the linear-scan BM25 byte for byte") {
    // the persisted-index path reads postings + doclen + stats parquet
    // instead of re-tokenizing; tf/df/dl are the same integers and the
    // scoring tail is shared, so the ranked frame must be identical
    import TestSpark.sf0001
    val shape = (r: org.apache.spark.sql.Row) => r.toSeq
    val served = SparkEntry.queries("text_bm25_served")(spark, sf0001)
      .collect().map(shape).toSeq
    val scan = graft.ops.TextAnalysis.textBm25Search(spark, sf0001)
      .collect().map(shape).toSeq
    assert(served.nonEmpty && served === scan,
      "persisted-index BM25 diverged from the linear scan")
  }

  test("search_hybrid_rrf equals a per-query driver-side fusion over the stride set") {
    import TestSpark.sf0001
    import graft.ops.{Retrieval, Similarity}
    // semantic side: the registered stride ANN, the served LSH path
    // the operator uses
    val sem = graft.ops.AnnIndex.simLshAnnServed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    // lexical side: full driver recompute from raw text — tokenization,
    // per-query first-distinct-3 terms, tf/df/dl/avgdl, BM25 with the
    // operator's constants and 6-decimal HALF_UP quantization
    val docs = Tables(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq)
      .filter(_._2.nonEmpty).sortBy(_._1)
    val dl = docs.map { case (id, t) => id -> t.size.toLong }.toMap
    val nDocs = docs.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs.toDouble
    val tf = docs.flatMap { case (id, t) =>
      t.groupBy(identity).map { case (w, g) => (id, w) -> g.size.toLong } }.toMap
    val df = tf.keys.toSeq.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val k1 = graft.ops.TextAnalysis.bm25K1
    val b = graft.ops.TextAnalysis.bm25B
    val lex = docs.filter(_._1 % Similarity.queryStride == 0).flatMap { case (q, toks) =>
      val terms = toks.distinct.take(Retrieval.hybridQueryTerms)
      val cands = docs.filter { case (d, _) => terms.exists(t => tf.contains((d, t))) }
      cands.map { case (d, _) =>
        val score = round6(terms.map { t =>
          tf.get((d, t)).fold(0.0) { f =>
            val idf = math.log(1.0 + (nDocs.toDouble - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5))
            idf * (f.toDouble * (k1 + 1.0)) /
              (f.toDouble + k1 * ((1.0 - b) + b * dl(d).toDouble / avgdl))
          }
        }.sum)
        (q, d, score)
      }.sortBy { case (_, d, sc) => (-sc, d) }
        .take(graft.ops.TextAnalysis.bm25TopK)
        .zipWithIndex.map { case ((_, d, _), i) => (q, d) -> (i + 1).toLong }
    }.toMap
    assert(lex.nonEmpty && sem.nonEmpty, "a source ranking is empty — fusion untestable")
    val expected = (lex.keySet ++ sem.keySet).groupBy(_._1).toSeq.flatMap { case (q, keys) =>
      keys.toSeq.map { case (_, d) =>
        val rrf = lex.get((q, d)).map(r => 1.0 / (Retrieval.rrfK + r)).getOrElse(0.0) +
          sem.get((q, d)).map(r => 1.0 / (Retrieval.rrfK + r)).getOrElse(0.0)
        (q, d, lex.get((q, d)), sem.get((q, d)), rrf)
      }.sortBy { case (_, d, _, _, rrf) => (-rrf, d) }
        .take(Retrieval.hybridTopK)
        .zipWithIndex.map { case ((qq, d, l, s0, rrf), i) => (qq, (i + 1).toLong, d, l, s0, rrf) }
    }.sortBy(t => (t._1, t._2))
    val got = Retrieval.searchHybridRrf(spark, sf0001).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getDouble(5))
    }.toSeq
    assert(got.map(_._1).distinct.size > 1, "hybrid must rank MULTIPLE queries")
    assert(got === expected, "hybrid fusion diverged from the per-query driver recompute")
    // fusion must actually mix: some fused row carries both ranks
    assert(got.exists(t => t._4.nonEmpty && t._5.nonEmpty))
  }

  test("search_hybrid_rrf_served is byte-identical to the scan form") {
    import TestSpark.sf0001
    // the persisted postings hold the identical (doc_id, term, tf)
    // integers the scan derives, and both forms share the fusion tail
    val scan = graft.ops.Retrieval.searchHybridRrf(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val served = graft.ops.Retrieval.searchHybridRrfServed(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(scan.nonEmpty && served === scan,
      "served hybrid fusion diverged from the scan form")
  }

  test("text_bm25_filtered slices ranking only — statistics stay whole-corpus") {
    import TestSpark.sf0001
    import org.apache.spark.sql.functions.col
    val shape = (r: org.apache.spark.sql.Row) => r.toSeq
    val filtered = graft.ops.TextAnalysis.textBm25FilteredQuery(spark, sf0001)
      .collect().map(shape).toSeq
    // reference: the linear scan with the SAME predicate applied after
    // whole-corpus stats — byte-identical (shared scoring tail; the
    // served side additionally proves the doc-values join semantics)
    val scan = graft.ops.TextAnalysis.textBm25SearchWhere(spark, sf0001,
      Some(col("lang") === graft.ops.TextAnalysis.bm25FilterLang))
      .collect().map(shape).toSeq
    assert(filtered.nonEmpty && filtered === scan,
      "filtered served BM25 diverged from the filtered linear scan")
    // every ranked doc is in the slice
    val langOf = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(filtered.forall(r => langOf(r.head.asInstanceOf[Long]) ==
      graft.ops.TextAnalysis.bm25FilterLang), "served an out-of-slice doc")
    // frozen stats: scores must EQUAL the unfiltered run's for shared
    // docs (a per-slice df/avgdl re-estimate would change them)
    val unfScore = SparkEntry.queries("text_bm25_served")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(r.length - 1)).toMap
    val drifted = filtered.count { r =>
      val id = r.head.asInstanceOf[Long]
      unfScore.get(id).exists(_ != r.last.asInstanceOf[Double])
    }
    assert(drifted == 0, s"$drifted shared docs changed score under the slice")
    // the lang predicate reaches the doc-values parquet scan
    val plan = graft.ops.TextAnalysis.textBm25FilteredQuery(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"EqualTo(lang,${graft.ops.TextAnalysis.bm25FilterLang})"),
      "lang predicate not pushed into the doclen scan")
  }

  test("text_pii_scrub redacts emails, IPs, and digit runs; no double counting") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pii-corpus")
    Seq(
      (1L, "contact bob.smith+x@mail-host.org now", "en", "srcA", 0L),
      (2L, "server at 10.0.255.7 port open", "en", "srcA", 0L),
      (3L, "call 5551234567 or 123456 only", "en", "srcA", 0L),
      (4L, "mail 99bob@x.io from 192.168.0.1 id 98765432109", "en", "srcB", 0L),
      (5L, "clean text no identifiers here", "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.TextAnalysis.textPiiScrub(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1).getLong(1) == 1 && r(1).getString(5) == "contact <EMAIL> now")
    assert(r(2).getLong(2) == 1 && r(2).getString(5) == "server at <IP> port open")
    // 123456 is six digits — below the 7-digit floor, untouched
    assert(r(3).getLong(3) == 1 && r(3).getString(5) == "call <NUM> or 123456 only")
    // an email's digits and an IP's octets are already replaced before
    // the digit-run stage scans: each source of PII is counted ONCE
    assert(r(4).getLong(1) == 1 && r(4).getLong(2) == 1 && r(4).getLong(3) == 1 &&
      r(4).getString(5) == "mail <EMAIL> from <IP> id <NUM>")
    assert(!r(5).getBoolean(4) && r(5).getString(5) == "clean text no identifiers here")
  }

  test("text_boilerplate: per-source recurring 3-grams flagged, per-source df") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("boiler-corpus")
    val header = "terms of service apply" // two shared 3-grams
    Seq(
      (1L, s"$header alpha beta gamma", "en", "s1", 0L),
      (2L, s"$header delta epsilon zeta", "en", "s1", 0L),
      (3L, s"$header eta theta iota", "en", "s1", 0L),
      (4L, "totally original text here kappa", "en", "s1", 0L),
      (5L, s"$header lambda mu nu", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.TextAnalysis.textBoilerplate(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    // docs 1-3 share the two header 3-grams within s1 (df = 3 = boilMinDocs)
    assert((1L to 3L).forall(i => r(i).getLong(3) == 2 && r(i).getLong(2) == 5))
    assert(r(4).getLong(3) == 0 && !r(4).getBoolean(5))
    // the SAME grams in s2 appear in one doc there — df is per-source
    assert(r(5).getLong(3) == 0)
  }

  test("text_entropy: degenerate 0, uniform ln(n), mixed matches hand-computed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ent-corpus")
    Seq(
      (1L, "a a a a", "en", "s", 0L),          // one term: H = 0, efficiency undefined
      (2L, "a b c d", "en", "s", 0L),          // uniform: H = ln(4), efficiency = 1
      (3L, "a a b b b c c c", "en", "s", 0L),  // counts 2,3,3 over n=8
      (4L, "", "en", "s", 0L))                 // no tokens: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.TextAnalysis.textEntropy(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.size == 3 && !r.contains(4L))
    assert(r(1).getDouble(3) == 0.0 && r(1).isNullAt(4))
    assert(math.abs(r(2).getDouble(3) - math.log(4)) < 1e-5 &&
      math.abs(r(2).getDouble(4) - 1.0) < 1e-9)
    val h3 = math.log(8) - (2 * math.log(2) + 6 * math.log(3)) / 8.0
    assert(math.abs(r(3).getDouble(3) - h3) < 1e-5 &&
      math.abs(r(3).getDouble(4) - h3 / math.log(3)) < 1e-5)
  }

  test("text_unigram_lm: cross-entropy under corpus MLE matches hand-computed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lm-corpus")
    // corpus counts: a=2, b=4, total 6 -> p(a)=1/3, p(b)=2/3
    Seq(
      (1L, "a a b", "en", "s", 0L),
      (2L, "b b b", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.TextAnalysis.textUnigramLm(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    val x1 = -(2 * math.log(1.0 / 3) + math.log(2.0 / 3)) / 3.0
    val x2 = -math.log(2.0 / 3)
    assert(math.abs(r(1).getDouble(2) - x1) < 1e-5)
    assert(math.abs(r(2).getDouble(2) - x2) < 1e-5)
    assert(math.abs(r(2).getDouble(3) - 1.5) < 1e-3) // ppl = 1/p(b)
  }

  test("text_bigram_lm: interpolated conditional model matches hand-computed; repetition scores low") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bigram-corpus")
    // bigrams: doc1 = (a,b) (b,a) (a,b); doc2 = (b,b) (b,b)
    // bc: (a,b)=2 (b,a)=1 (b,b)=2; ctx: a·=2, b·=3; cf: a=3 b=5 total=8
    Seq(
      (1L, "a b a b", "en", "s", 0L),
      (2L, "b b b", "en", "s", 0L),
      (3L, "a", "en", "s", 0L)) // single token: no bigram positions
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val lam = graft.ops.TextAnalysis.bigramLambda
    def p(bc: Double, cfx: Double, cf: Double) = lam * bc / cfx + (1 - lam) * cf / 8.0
    val r = graft.ops.TextAnalysis.textBigramLm(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(3L), "a single-token doc has no bigram positions")
    val x1 = -(2 * math.log(p(2, 2, 5)) + math.log(p(1, 3, 3))) / 3.0
    val x2 = -(2 * math.log(p(2, 3, 5))) / 2.0
    assert(r(1).getLong(1) == 3L && r(2).getLong(1) == 2L)
    assert(math.abs(r(1).getDouble(2) - x1) < 1e-5)
    assert(math.abs(r(2).getDouble(2) - x2) < 1e-5)
    assert(math.abs(r(2).getDouble(3) - math.exp(x2)) < 1e-3)
    // the quality-signal direction on sf0.001: a doc repeated from one
    // bigram is more predictable than the corpus average
    val dir = TestSpark.sf0001
    val all = graft.ops.TextAnalysis.textBigramLm(spark, dir).collect()
    assert(all.nonEmpty)
    all.foreach(x => assert(x.getDouble(3) >= 1.0 - 1e-9, s"ppl < 1 at doc ${x.getLong(0)}"))
  }

  test("curate_source_mix: token shares sum to 1, doc counts cover the corpus") {
    import TestSpark.sf0001
    val r = graft.ops.Curation.curateSourceMix(spark, sf0001).collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(r.map(_.getLong(2)).sum == docs)
    assert(math.abs(r.map(_.getDouble(4)).sum - 1.0) < 1e-3)
  }

  test("curate_split_leakage: no near-dup cluster straddles the train/heldout cut") {
    import TestSpark.sf0001
    val rows = graft.ops.Curation.curateSplitLeakage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.length.toLong == docs) // every doc assigned exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // the leakage guarantee: one split per representative ⇒ near-dup
    // clusters (which share a rep) can never straddle the cut
    rows.groupBy(_._2).foreach { case (rep, g) =>
      assert(g.map(_._3).distinct.length == 1, s"rep $rep split across ${g.map(_._3).toSet}")
    }
    // clustered docs really do inherit the cluster label as their rep
    val clusters = graft.ops.Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (doc, rep, _) =>
      assert(rep == clusters.getOrElse(doc, doc), s"doc $doc rep $rep")
    }
    val heldout = rows.count(_._3 == "heldout").toDouble / rows.length
    info(f"heldout fraction: $heldout%.3f (target ${graft.ops.Curation.heldoutPct}%%)")
    assert(heldout > 0.02 && heldout < 0.30, f"heldout fraction $heldout%.3f implausible")
  }

  test("curate_topic_mix: shares sum to 1, kept bounded, covers the corpus") {
    import TestSpark.sf0001
    val r = graft.ops.Curation.curateTopicMix(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getLong(2) >= 1 && row.getLong(2) <= row.getLong(1),
      s"cluster ${row.getLong(0)}: kept ${row.getLong(2)} outside [1, ${row.getLong(1)}]"))
    assert(math.abs(r.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    val decisions = graft.ops.Dedup.dedupSemantic(spark, sf0001).count()
    assert(r.map(_.getLong(1)).sum == decisions)
  }

  test("text_phrase_search: matches a sliding-window recompute, incl. overlap semantics") {
    import TestSpark.sf0001
    val phrase = graft.ops.TextAnalysis.phraseQuery
    val got = graft.ops.TextAnalysis.textPhraseSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = Tables(spark, sf0001, "documents").select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).split("\\s+").filter(_.nonEmpty)
        val hits = toks.sliding(phrase.length).zipWithIndex
          .collect { case (w, i) if w.sameElements(phrase) => i.toLong }.toSeq
        if (hits.isEmpty) None else Some((r.getLong(0), hits.length.toLong, hits.head))
      }.sortBy(_._1).toSeq
    assert(got.nonEmpty, "demo phrase absent from the corpus — t1 smoke would fail")
    assert(got === expect)
    // overlap semantics on a constructed doc: 'a a a' matches 'a a' twice
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("phrase-corpus")
    Seq((1L, s"${phrase.head} ${phrase.head} ${phrase.last} x", "en", "s", 0L),
        (2L, s"${phrase.last} ${phrase.head} x", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val small = graft.ops.TextAnalysis.textPhraseSearch(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1: term0 at 0 misses (next is term0), at 1 hits; doc 2: reversed order, no match
    assert(small === Seq((1L, 1L, 1L)), s"got $small")
    // the persisted-index path serves the same integers byte for byte
    val served = graft.ops.TextAnalysis.textPhraseServedQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served === got, "persisted-index phrase serving diverged from the scan path")
  }

  test("curate_manifest: every exclusion reason fires on its constructed doc, in precedence order") {
    import spark.implicits._
    val words = (0 until 70).map(w => s"m${w}q").mkString(" ")
    val evalText = (0 until 70).map(w => s"ev${w}z").mkString(" ")
    val leak = (10 until 18).map(w => s"ev${w}z").mkString(" ") // 8 tokens of the eval doc
    val docs = Seq(
      (0L, evalText),                                    // eval slice: excluded from output
      (1L, words),                                       // clean: train or heldout by md5
      (2L, words),                                       // exact copy -> dup_exact
      (3L, words.replace("m5q", "changed")),             // near-dup -> near_dup
      (4L, s"${(0 until 62).map(w => s"c${w}x").mkString(" ")} $leak"), // -> contaminated
      (5L, "a a a"))                                     // -> low_quality
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("manifest-corpus").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.ops.Artifacts.clear()
    try {
      val m = graft.ops.Curation.curateManifest(spark, tmp).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(m.keySet == Set(1L, 2L, 3L, 4L, 5L), s"rows: ${m.keySet}") // eval doc 0 excluded
      def reason(i: Long) = m(i).getString(6)
      // doc 1 is the canonical rep: its reason is purely its split
      assert(reason(1) == m(1).getString(5), s"doc 1: ${reason(1)} vs split ${m(1).getString(5)}")
      assert(reason(2) == "dup_exact" && m(2).getLong(1) == 1L, s"doc 2: ${reason(2)}")
      assert(reason(3) == "near_dup" && m(3).getLong(2) == 1L, s"doc 3: ${reason(3)}")
      assert(reason(4) == "contaminated" && m(4).getLong(3) >= 1L, s"doc 4: ${reason(4)}")
      assert(reason(5) == "low_quality", s"doc 5: ${reason(5)}")
      m.values.foreach(r => assert(r.getLong(7) == (if (r.getString(6) == "train") 1L else 0L)))
    } finally graft.ops.Artifacts.clear()
  }

  test("ingest manifest agrees with the batch capstone on a residue-aligned corpus") {
    // On a corpus whose dup groups are residue-aligned (streaming
    // keep-first survivor == batch min-id canonical — see
    // ManifestFixture), the ingest-time manifest must reproduce the
    // batch capstone row for row: same canon/rep attribution, same
    // n_shared, bit-identical score, same split and reason. This is
    // the END of the "re-run the batch manifest to learn why" gap —
    // the streamed decision IS the capstone decision.
    val root = ManifestFixture.corpusDir(spark)
    graft.ops.Artifacts.clear()
    try {
      def key(r: org.apache.spark.sql.Row, off: Int) =
        (r.getLong(0), r.getLong(off), r.getLong(off + 1), r.getLong(off + 2),
          if (r.isNullAt(off + 3)) Double.NaN else r.getDouble(off + 3),
          r.getString(off + 4), r.getString(off + 5), r.getLong(off + 6))
      val batch = graft.ops.Curation.curateManifest(spark, root)
        .collect().map(key(_, 1)).sortBy(_._1)
      // ingest rows carry an extra `batch` column at position 1
      val ingest = graft.streaming.IngestDedup.streamIngestManifest(spark, root)
        .collect().map(key(_, 2)).sortBy(_._1)
      assert(batch.length == 14 && ingest.length == 14,
        s"row counts: batch=${batch.length} ingest=${ingest.length}")
      batch.zip(ingest).foreach { case (b, i) =>
        assert(b == i, s"batch/ingest manifest rows diverged:\n  batch  $b\n  ingest $i")
      }
    } finally graft.ops.Artifacts.clear()
  }

  test("decontaminate_report: planted eval exposure counted; clean eval doc zeroed") {
    // ManifestFixture: eval doc 0 shares a 10-token run (3 8-shingles)
    // with exactly one train doc (doc 9); no other eval docs exist, so
    // add a clean one at id 50 to pin the zero row
    import spark.implicits._
    val root = ManifestFixture.corpusDir(spark)
    val withClean = spark.read.parquet(s"$root/documents.parquet")
      .union(Seq((50L, (0 until 70).map(w => s"clean50x$w").mkString(" ")))
        .toDF("doc_id", "text"))
    val r2 = java.nio.file.Files.createTempDirectory("graft-report-spec").toString
    withClean.write.mode("overwrite").parquet(s"$r2/documents.parquet")
    val rows = graft.ops.Curation.decontaminateReport(spark, r2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(0L, 50L), s"eval rows: ${rows.keySet}")
    assert(rows(0L) == ((1L, 3L, 3L)),
      s"planted exposure (1 train doc, 3 shingles, max 3): ${rows(0L)}")
    assert(rows(50L) == ((0L, 0L, 0L)), s"clean eval doc must zero: ${rows(50L)}")
  }

  test("curate_shuffle: epochs are distinct permutations, shards balanced, rerun-identical") {
    import TestSpark.sf0001
    import graft.ops.Curation
    val rows = Curation.curateShuffle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byEpoch = rows.groupBy(_._1).map { case (e, rs) => e -> rs.map(_._3).toSeq }
    assert(byEpoch.keySet == (0L until Curation.shuffleEpochs.toLong).toSet)
    val docCount = byEpoch.values.head.size
    // every epoch is a full permutation of the corpus…
    byEpoch.values.foreach(o => assert(o.sorted == o.sorted.distinct && o.size == docCount))
    // …and no two epochs share an order (the point of the salt)
    assert(byEpoch.values.toSeq.distinct.size == Curation.shuffleEpochs,
      "two epochs produced the identical read order")
    // shard sizes stay near uniform (hash balance — the property that
    // makes the total sort and loader reads skew-free)
    val shardSizes = rows.groupBy(t => (t._1, t._4)).values.map(_.size)
    assert(shardSizes.max <= 4 * math.max(1, docCount / Curation.shuffleShards.toInt),
      s"shard skew: max ${shardSizes.max} of $docCount docs")
    val again = Curation.curateShuffle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq, "shuffle is not rerun-deterministic")
  }

  test("q_corr_stats: correlation bounded, moments positive") {
    import TestSpark.sf0001
    val r = graft.ops.Relational.qCorrStats(spark, sf0001).collect()
    assert(r.nonEmpty)
    assert(r.forall(x => math.abs(x.getDouble(2)) <= 1.0 &&
      x.getDouble(4) > 0 && x.getDouble(5) > 0 && x.getLong(1) > 0))
  }

  test("tokens splits on whitespace runs and drops empties") {
    import spark.implicits._
    val r = Seq("  a  bb\tc ", "", "x").toDF("text")
      .select(TextFns.tokens(col("text")).as("t")).as[Seq[String]].collect()
    assert(r(0) === Seq("a", "bb", "c"))
    assert(r(1) === Seq())
    assert(r(2) === Seq("x"))
  }

  test("shingles: fewer tokens than n gives empty, duplicates removed") {
    import spark.implicits._
    val r = Seq("a b", "a b c d", "a b a b a b").toDF("text")
      .select(TextFns.shingles(TextFns.tokens(col("text")), 3).as("s"))
      .as[Seq[String]].collect()
    assert(r(0) === Seq())
    assert(r(1) === Seq("a b c", "b c d"))
    assert(r(2).sorted === Seq("a b a", "b a b")) // deduped
  }

  test("polyHash and md5Int match known cross-engine values") {
    import spark.implicits._
    val r = Seq("abc").toDF("t")
      .select(TextFns.polyHash(col("t")), TextFns.md5Int(lit("hello world")))
      .as[(Long, Long)].head()
    assert(r._1 === 96354L) // == duckdb list_reduce fold
    assert(r._2 === 1589001147L) // == duckdb ('0x'||substr(md5,1,8))::BIGINT
  }

  test("custom expressions propagate null instead of failing analysis") {
    import spark.implicits._
    // NullType literal (NullPropagation folds the null-intolerant expr)
    // and a typed-but-null array (null-safe eval) both yield null — the
    // same behavior as null-tolerant builtins (round-2 ADVICE)
    val r = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
      .select(
        graft.plans.VectorFunctions.vec_dot(lit(null), col("a")).as("n1"),
        graft.plans.VectorFunctions.vec_dot(col("a"), col("b")).as("n2"),
        graft.plans.VectorFunctions.vec_dot(col("a"), col("a")).as("d"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getDouble(2) === 5.0)
  }

  test("all six custom expressions resolve by name in SQL") {
    val r = spark.sql(
      """SELECT
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  poly_hash('abc') AS ph,
        |  size(word_shingles('a b c d', 3)) AS nsh,
        |  size(word_shingle_hashes('a b c d', 3)) AS nh,
        |  sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS ic,
        |  simhash60('hello world') AS sh""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getLong(1) === 96354L)
    assert(r.getInt(2) === 2 && r.getInt(3) === 2)
    assert(r.getLong(4) === 2L)
    assert(r.getLong(5) >= 0L && r.getLong(5) <= (1L << 60) - 1)
  }

  test("textRepetition flags looping/boilerplate docs and passes varied ones") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("rep")
    Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam", "en", "s", 49L),
      (2L, ("the quick brown fox jumps over lazy dogs " +
        "while seven wizards brew unique potions quietly tonight"), "en", "s", 98L),
      (3L, "buy now " * 12 + "limited offer", "en", "s", 109L),
      (4L, "solo", "en", "s", 4L)) // <2 tokens: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = ops.TextAnalysis.textRepetition(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(rows === Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("curatePackSequences: greedy concat packing is gap-free per source") {
    val rows = ops.Curation.curatePackSequences(spark, TestSpark.sf0001)
      .orderBy(col("source"), col("doc_id")).collect()
    assert(rows.nonEmpty)
    val seqLen = ops.Curation.packSeqLen
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, docs) =>
      var expectedStart = 0L
      docs.foreach { r =>
        val start = r.getAs[Long]("bin_id") * seqLen + r.getAs[Long]("bin_off")
        assert(start === expectedStart, s"gap at doc ${r.getAs[Long]("doc_id")}")
        assert(r.getAs[Long]("bin_off") >= 0 && r.getAs[Long]("bin_off") < seqLen)
        expectedStart += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("curatePackBpe: gap-free packing in REAL tokenizer lengths, consistent with the encode") {
    val dir = TestSpark.sf0001
    val rows = ops.Curation.curatePackBpe(spark, dir)
      .orderBy(col("source"), col("doc_id")).collect()
    assert(rows.nonEmpty)
    val seqLen = ops.Curation.packSeqLen
    // gap-free greedy concat, exactly like the whitespace-counted form
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, docs) =>
      var expectedStart = 0L
      docs.foreach { r =>
        val start = r.getAs[Long]("bin_id") * seqLen + r.getAs[Long]("bin_off")
        assert(start === expectedStart, s"gap at doc ${r.getAs[Long]("doc_id")}")
        assert(r.getAs[Long]("bin_off") >= 0 && r.getAs[Long]("bin_off") < seqLen)
        expectedStart += r.getAs[Long]("n_tokens")
      }
    }
    // the lengths ARE the tokenizer's: per-doc n_tokens matches textBpeEncode
    val enc = ops.TextAnalysis.textBpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_tokens") === enc(r.getAs[Long]("doc_id"))))
    // and they differ from whitespace counts somewhere — otherwise the
    // twin adds nothing (the corpus always has multi-symbol words)
    val ws = ops.Curation.curatePackSequences(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(rows.exists(r => ws(r.getAs[Long]("doc_id")) != r.getAs[Long]("n_tokens")),
      "BPE token lengths identical to whitespace counts on every doc — encode not engaged")
  }

  test("curateMixEpochs: copies bounded by floor/ceil of the source multiplier") {
    val rows = ops.Curation.curateMixEpochs(spark, TestSpark.sf0001).collect()
    val pctOf = ops.Curation.mixEpochsPct.toMap
    val byDoc = rows.groupBy(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    byDoc.foreach { case ((id, src), copies) =>
      val pct = pctOf.getOrElse(src, ops.Curation.mixDefaultEpochsPct)
      val n = copies.length
      assert(n >= pct / 100 && n <= (pct + 99) / 100, s"doc $id of $src: $n copies for $pct%")
      // epochs are the contiguous prefix 1..n — a doc never skips an epoch
      assert(copies.map(_.getAs[Long]("epoch")).sorted === (1L to n).toSeq)
    }
    // the fractional epoch actually selects a strict subset somewhere
    val fracSrc = pctOf.collect { case (s, p) if p % 100 != 0 => s }.toSet
    val partial = byDoc.keys.filter { case (_, s) => fracSrc.contains(s) }
    assert(partial.nonEmpty)
  }

  test("dedupIncremental agrees with the symmetric simhash pair set") {
    val dir = TestSpark.sf0001
    val pairs = ops.Dedup.dedupSimhash(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val m = ops.Dedup.batchMod
    val expectDup = pairs.flatMap { case (a, b) =>
      Seq(a, b).filter(x => x % m == 0 && (if (x == a) b else a) % m != 0)
    }.toSet
    val got = ops.Dedup.dedupIncremental(spark, dir).collect()
      .filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("doc_id")).toSet
    assert(got === expectDup)
  }

  test("evFunnel stages are monotonically shrinking") {
    val rows = ops.Events.evFunnel(spark, TestSpark.sf0001)
      .orderBy(col("stage")).collect().map(_.getAs[Long]("n_users"))
    assert(rows.length === 3)
    assert(rows(0) >= rows(1) && rows(1) >= rows(2))
    assert(rows(0) > 0)
  }

  test("evRetention: day-0 activity is each cohort's maximum") {
    val rows = ops.Events.evRetention(spark, TestSpark.sf0001).collect()
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort_day"))
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_.getAs[Long]("day_offset") == 0L)
      assert(day0.isDefined, s"cohort $c lacks a day-0 row")
      assert(rs.forall(_.getAs[Long]("n_users") <= day0.get.getAs[Long]("n_users")))
    }
  }

  test("textVocabCoverage: monotone, bounded, rank-1 is the top word's share") {
    val rows = ops.TextAnalysis.textVocabCoverage(spark, TestSpark.sf0001)
      .orderBy(col("rank")).collect()
    assert(rows.nonEmpty)
    val cov = rows.map(_.getAs[Double]("coverage"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(cov.forall(c => c > 0.0 && c <= 1.0))
    assert(rows.forall(r => r.getAs[Long]("covered_tokens") <= r.getAs[Long]("total_tokens")))
  }

  test("textInvertedIndex: df/cf consistent, heads sorted and bounded") {
    val rows = ops.TextAnalysis.textInvertedIndex(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val cf = r.getAs[Long]("cf")
      assert(cf >= df, s"term ${r.getString(0)}: cf < df")
      val head = r.getAs[String]("postings_head").split(" ").map(_.toLong)
      assert(head.length <= ops.TextAnalysis.invPostingsHead)
      assert(head.length === math.min(df, ops.TextAnalysis.invPostingsHead.toLong))
      assert(head.sameElements(head.sorted), "postings head not sorted")
    }
  }

  test("textBm25Search: scored docs contain a query term, scores descend") {
    val rows = ops.TextAnalysis.textBm25Search(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty && rows.length <= ops.TextAnalysis.bm25TopK)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0))
    rows.foreach { r =>
      val anyTf = ops.TextAnalysis.bm25Query.indices.map(i => r.getAs[Long](s"tf_$i")).sum
      assert(anyTf > 0, "scored doc contains no query term")
    }
  }

  test("qMergeUpsert: action partitioning and totals reconcile with raw orders") {
    val rows = ops.Relational.qMergeUpsert(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    val byAction = rows.groupBy(_.getAs[String]("action")).view.mapValues(_.length).toMap
    assert(byAction.keySet.subsetOf(Set("update", "insert", "keep")))
    val totalOrders = rows.map(_.getAs[Long]("n_orders")).sum
    val raw = graft.Tables(spark, TestSpark.sf0001, "orders").count()
    assert(totalOrders === raw, "merged order counts must cover every order exactly once")
  }

  test("evGapFill: spine is complete per user, ffill never regresses to null") {
    val rows = ops.Events.evGapFill(spark, TestSpark.sf0001).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rs) =>
      val days = rs.map(_.getAs[java.sql.Date]("d").toLocalDate).sortBy(_.toEpochDay)
      val span = days.last.toEpochDay - days.head.toEpochDay + 1
      assert(days.length.toLong === span, "daily spine has holes")
      // first day is the user's first active day => has events and a value
      val first = rs.minBy(_.getAs[java.sql.Date]("d").toLocalDate.toEpochDay)
      assert(first.getAs[Long]("n_events") > 0)
      // once a value is seen, ff_value stays non-null
      var seen = false
      rs.sortBy(_.getAs[java.sql.Date]("d").toLocalDate.toEpochDay).foreach { r =>
        if (!r.isNullAt(r.fieldIndex("ff_value"))) seen = true
        else assert(!seen, "ff_value went back to null after being set")
      }
    }
  }

  test("dedupKeepBest: one representative per cluster with the max score") {
    val best = ops.Dedup.dedupKeepBest(spark, TestSpark.sf0001).collect()
    val clusters = ops.Dedup.dedupClusters(spark, TestSpark.sf0001).collect()
    val members = clusters.groupBy(_.getAs[Long]("cluster_id"))
    assert(best.length === members.size, "one row per cluster")
    best.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      assert(r.getAs[Long]("n_members") === members(cid).length.toLong)
      assert(members(cid).map(_.getAs[Long]("doc_id")).contains(r.getAs[Long]("best_doc")))
    }
  }

  test("textTfidfTopTerms: ranks dense, scores non-increasing within doc") {
    val rows = ops.TextAnalysis.textTfidfTopTerms(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq === (1L to sorted.length))
      assert(sorted.length <= ops.TextAnalysis.tfidfTopTerms)
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("evAnomalyZscore: zero-variance types yield null z, flags match threshold") {
    val rows = ops.Events.evAnomalyZscore(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val zIdx = r.fieldIndex("z")
      if (!r.isNullAt(zIdx)) {
        val flag = r.getAs[Boolean]("is_anomaly")
        assert(flag === (math.abs(r.getDouble(zIdx)) > ops.Events.zThreshold))
      } else assert(r.isNullAt(r.fieldIndex("is_anomaly")))
    }
    // z-scores of a distribution straddle zero unless every day is equal
    val zs = rows.filterNot(_.isNullAt(rows.head.fieldIndex("z"))).map(_.getAs[Double]("z"))
    if (zs.nonEmpty) assert(zs.exists(_ > 0) && zs.exists(_ < 0))
  }

  test("dedupSharedSpans: quoting an exact span is flagged; short docs are 0-span rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("span-corpus")
    val w = (1 to 12).map(i => s"w$i")
    Seq(
      // 12 words -> 5 distinct 8-word spans
      (1L, w.mkString(" "), "en", "s1", 0L),
      // quotes doc 1's first NINE words -> shares the spans starting at
      // w1 and w2 (2 of its 5), dissimilar tail otherwise
      (2L, (w.take(9) ++ Seq("y10", "y11", "y12")).mkString(" "), "en", "s1", 0L),
      // 10 unique words -> 3 spans, none shared
      (3L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s1", 0L),
      // below the span length -> no spans at all, still reported
      (4L, "too short for any span", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.Dedup.dedupSharedSpans(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.size == 4)
    for (id <- Seq(1L, 2L)) {
      assert(r(id).getLong(1) == 5 && r(id).getLong(2) == 2, s"doc $id span counts")
      assert(r(id).getDouble(3) == 0.4 && r(id).getBoolean(4), s"doc $id must be flagged")
    }
    assert(r(3L).getLong(1) == 3 && r(3L).getLong(2) == 0 &&
      r(3L).getDouble(3) == 0.0 && !r(3L).getBoolean(4))
    assert(r(4L).getLong(1) == 0 && r(4L).getLong(2) == 0 &&
      r(4L).isNullAt(3) && !r(4L).getBoolean(4))
  }

  test("dedupSpanRewrite: shared spans scrubbed from BOTH docs, clean docs intact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("span-rewrite")
    val w = (1 to 12).map(i => s"w$i")
    Seq(
      // doc 1: 12 words; doc 2 quotes its first NINE -> the shared
      // 8-word windows start at w1 and w2, covering w1..w9 in both
      (1L, w.mkString(" "), "en", "s1", 0L),
      (2L, (w.take(9) ++ Seq("y10", "y11", "y12")).mkString(" "), "en", "s1", 0L),
      // no shared spans: survives verbatim (single-space normalized)
      (3L, (1 to 10).map(i => s"u$i").mkString("  "), "en", "s1", 0L),
      // below span length: nothing to share, kept whole
      (4L, "too short for any span", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.Dedup.dedupSpanRewrite(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.size == 4)
    // both sharers lose exactly w1..w9 (9 words)
    assert(r(1L).getLong(1) == 12 && r(1L).getLong(2) == 9 &&
      r(1L).getString(3) == "w10 w11 w12")
    assert(r(2L).getLong(1) == 12 && r(2L).getLong(2) == 9 &&
      r(2L).getString(3) == "y10 y11 y12")
    // untouched docs come back single-space normalized, zero removed
    assert(r(3L).getLong(2) == 0 && r(3L).getString(3) == (1 to 10).map(i => s"u$i").mkString(" "))
    assert(r(4L).getLong(2) == 0 && r(4L).getString(3) == "too short for any span")
  }

  test("dedupSpanRewrite agrees with dedupSharedSpans flags on the real corpus") {
    import org.apache.spark.sql.functions._
    import TestSpark.sf0001
    val rewrite = graft.ops.Dedup.dedupSpanRewrite(spark, sf0001)
    // conservation: the clean text re-tokenizes to exactly n_words - n_removed
    val broken = rewrite.withColumn("clean_words",
        size(graft.functions.TextFns.tokens(col("text_clean"))).cast("long"))
      .filter(greatest(col("clean_words"), lit(0L)) =!= col("n_words") - col("n_removed"))
      .count()
    assert(broken == 0, s"$broken docs where clean-text word count != n_words - n_removed")
    // a doc loses words iff dedupSharedSpans saw a shared span in it,
    // and any removal covers at least one full span window
    val flags = graft.ops.Dedup.dedupSharedSpans(spark, sf0001)
      .select(col("doc_id"), col("n_shared")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rw = rewrite.select(col("doc_id"), col("n_removed")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = graft.ops.Dedup.spanShingleN
    val disagree = rw.count { case (id, removed) =>
      val shared = flags(id) > 0
      (shared && removed < n) || (!shared && removed != 0)
    }
    assert(disagree == 0, s"$disagree docs where rewrite and shared-span flags disagree")
  }

  test("textCompressRatio: repetition flags low tail, junk flags high tail, empty is null") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("compress-corpus")
    val rnd = new scala.util.Random(7)
    Seq(
      // near-constant text deflates to a few percent -> is_repetitive
      (1L, "spam " * 400, "en", "s1", 0L),
      // random printable chars (~6.6 bits/char) barely compress -> is_junk
      (2L, Seq.fill(400)(rnd.nextPrintableChar).mkString(""), "en", "s1", 0L),
      // SHORT prose measures a junk-like ratio (deflate overhead) but the
      // length gate exempts it — the length-confounding case
      (3L, "the quick brown fox jumps over the lazy dog and keeps going through the field", "en", "s1", 0L),
      // empty doc: no bytes, ratio null, neither flag
      (4L, "", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.TextAnalysis.textCompressRatio(spark, tmp.toString)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.size == 4)
    assert(r(1L).getBoolean(4) && !r(1L).getBoolean(5), "constant text must flag repetitive")
    assert(r(2L).getBoolean(5) && !r(2L).getBoolean(4), "random hex must flag junk")
    assert(!r(3L).getBoolean(4) && !r(3L).getBoolean(5), "prose must pass both tails")
    assert(r(4L).getLong(1) == 0 && r(4L).isNullAt(3) &&
      !r(4L).getBoolean(4) && !r(4L).getBoolean(5), "empty doc: null ratio, no flags")
    // the self-check passes on the real corpus (bit-exact recompute)
    val chk = SelfChecks.checks("text_compress_ratio")(spark, TestSpark.sf0001)
    assert(chk.pass, chk.detail)
  }

  test("bloom decontamination: disk-served == in-session; append is idempotent; self-check holds") {
    import TestSpark.sf0001
    val idx = java.nio.file.Files.createTempDirectory("bloom-idx").toString
    graft.ops.Curation.decontamBloomWrite(spark, sf0001, idx)
    val shape = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getBoolean(2))
    // in-session is two-tier since round 7 (bloom screen + exact
    // confirm): n_shared is the EXACT overlap, which the disk-served
    // screen-only read must bound from above with no false negatives
    val inSession = graft.ops.Curation.decontaminateBloomServed(spark, sf0001)
      .collect().map(shape).toSeq
    val fromDisk = graft.ops.Curation.decontamBloomServe(spark, idx, Seq(sf0001))
      .collect().map(shape).toSeq
    // external corpora are served UNFILTERED (round-6 advice: the
    // eval-stride exclusion only applies to the same-dir in-session
    // shape) — eval rows are present too, mostly self-flagging (their
    // own shingles are in the filter; only sub-shingle-length docs
    // don't)
    val (evalRows, trainRows) =
      fromDisk.partition(_._1 % graft.ops.Curation.evalStride == 0)
    val sessionById = inSession.map(t => t._1 -> t).toMap
    assert(inSession.nonEmpty && trainRows.map(_._1) === inSession.map(_._1),
      "persisted-bloom serving lost train docs")
    trainRows.foreach { case (id, maybe, flagged) =>
      val (_, nShared, contaminated) = sessionById(id)
      assert(maybe >= nShared, s"doc $id: screen count $maybe < exact $nShared")
      assert(flagged || !contaminated, s"doc $id: bloom false negative")
    }
    assert(evalRows.nonEmpty && evalRows.count(_._3) > evalRows.size / 2,
      "eval docs served from an external-corpus read must self-flag")
    // merging the same eval set back in flips no additional bits
    val seedTotal = spark.read.parquet(s"$idx/bloom").head().getAs[Long]("total_items")
    graft.ops.Curation.decontamBloomAppend(spark, sf0001, idx)
    val afterAppend = graft.ops.Curation.decontamBloomServe(spark, idx, Seq(sf0001))
      .collect().map(shape).toSeq
    assert(afterAppend === fromDisk, "idempotent append changed the served result")
    // the counter accumulates ACTUAL inserts (round-8 review: the write
    // path records cnt, not the 1024-floored capacity) — re-appending
    // the same eval set exactly doubles it
    val meta = spark.read.parquet(s"$idx/bloom").head()
    assert(seedTotal > 0 && meta.getAs[Long]("total_items") == 2 * seedTotal,
      s"append did not accumulate total_items: $seedTotal -> ${meta.getAs[Long]("total_items")}")
    // the saturation audit: re-appending the SAME eval set flips no new
    // bits, so the observed expectedFpp stays at the construction level
    // and well under the 100x rebuild threshold
    val observed = graft.ops.Curation.decontamBloomCompact(spark, idx)
    assert(observed <= 100 * graft.ops.Curation.contamBloomFpp,
      f"bloom audit reports saturation after an idempotent append: $observed%.2e")
    // (the former rows-only self-check is gone: decontaminate_bloom_served
    // exact-confirms its flagged slice and carries a full DuckDB oracle)
  }

  test("decontaminate_bloom_served flags every doc the exact shingle join flags") {
    import org.apache.spark.sql.functions.col
    import TestSpark.sf0001
    // the bloom screen has no false negatives, so the two-tier serve's
    // flagged set contains the exact join's, doc for doc
    val exact = graft.ops.Curation.decontaminateNgram(spark, sf0001)
      .filter(col("n_shared") > 0).select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = graft.ops.Curation.decontaminateBloomServed(spark, sf0001)
      .filter(col("is_contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "no contaminated doc on the shared corpus: the comparison is vacuous")
    assert(exact.subsetOf(bloom), s"bloom serve missed exact-flagged docs: ${exact -- bloom}")
  }

  test("text and simhash index compaction: fewer files, identical serving") {
    import TestSpark.sf0001
    val idx = java.nio.file.Files.createTempDirectory("text-idx").toString
    graft.ops.TextAnalysis.textIndexWrite(spark, sf0001, idx)
    val before = graft.ops.TextAnalysis.textBm25Served(spark, idx).collect().toSeq
    // at sf0.001 the tables may already be single-file (AQE coalesces
    // the tiny shuffle) — the compaction contract here is "no growth +
    // identical serving"; the strict reduction is asserted on the
    // genuinely multi-file append-generation tables below
    val (nb, na) = graft.ops.TextAnalysis.textIndexCompact(spark, idx)
    assert(na <= nb, s"posting compaction grew the file count ($nb -> $na)")
    assert(graft.ops.TextAnalysis.textBm25Served(spark, idx).collect().toSeq === before,
      "BM25 serving changed across compaction")

    val didx = java.nio.file.Files.createTempDirectory("sim-idx").toString
    graft.ops.Dedup.dedupIndexWrite(spark, sf0001, didx)
    graft.ops.Dedup.dedupIndexAppend(spark, sf0001, didx)
    val filesBefore = graft.ops.IndexMaintenance.snapshot(spark, didx).filesOf("simhash").size
    val (db, da) = graft.ops.Dedup.dedupIndexCompact(spark, didx)
    assert(db == filesBefore && db > da,
      s"simhash compaction did not reduce files ($db -> $da)")
  }

  test("every registered query returns rows at sf0.001 (t1 smoke)") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try {
        val n = fn(spark, TestSpark.sf0001).count()
        if (n > 0 || name.startsWith("dedup_") || name.startsWith("q_anti")) None
        else Some(s"$name: 0 rows")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("every query with an oracle is registered, and entry returns rows") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
