package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{IndexMaintenance, TextAnalysis}

/** BPE tokenizer induction against an independent in-memory reference
  * implementation of the same rules (overlap-counted pair frequencies,
  * lexicographic tie-break, boundary-anchored two-pass merge — see
  * `textBpeTrain`'s scaladoc for why two passes reach the fixed
  * point). */
class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def referenceBpe(words: Seq[String], k: Int): Seq[(Long, String, String, String, Long)] = {
    var vocab: Map[String, Long] = words.groupBy(identity)
      .map { case (w, g) => w.split("").mkString(" ") -> g.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var step = 1
    var done = false
    while (step <= k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (w, f) =>
        w.split(" ").sliding(2).foreach {
          case Array(l, r) => counts((l, r)) += f
          case _ =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.head
        out += ((step.toLong, l, r, l + r, c))
        val (pat, rep) = (s" $l $r ", s" ${l + r} ")
        vocab = vocab.map { case (w, f) =>
          (" " + w + " ").replace(pat, rep).replace(pat, rep).trim -> f
        }
        step += 1
      }
    }
    out.toSeq
  }

  test("learned merges match the reference implementation on a planted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-train").toString
    val texts = Seq(
      "low lower lowest low low lowest",
      "new newer newest new wider wide wide newer",
      "low lower newer new wide west lowest wide")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.textBpeTrain(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    val words = texts.flatMap(_.split("\\s+"))
    val want = referenceBpe(words, TextAnalysis.bpeTrainMerges)
    assert(got.nonEmpty && got === want,
      s"merge tables diverged:\n got: $got\nwant: $want")
    // the merged symbol really is the concatenation, and steps are 1..n
    got.foreach { case (_, l, r, m, _) => assert(m == l + r) }
    assert(got.map(_._1) == (1L to got.size))
  }

  /** Independent in-memory reference of the SCALE mode's rules:
    * batched non-conflicting selection (greedy by count desc, lex
    * tie-break; a pair admits only if its symbols and merged string are
    * unused this round) + CANONICAL leftmost non-overlapping apply. */
  private def referenceBpeBatched(words: Seq[String], k: Int,
      batchM: Int): Seq[(Long, String, String, String, Long)] = {
    var vocab: Map[String, Long] = words.groupBy(identity)
      .map { case (w, g) => w.split("").mkString(" ") -> g.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var done = false
    while (out.size < k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (w, f) =>
        w.split(" ").sliding(2).foreach {
          case Array(l, r) => counts((l, r)) += f
          case _ =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val want = math.min(batchM, k - out.size)
        val used = scala.collection.mutable.Set[String]()
        val admitted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.iterator
          .takeWhile(_ => admitted.size < want)
          .foreach { case ((l, r), c) =>
            if (!used(l) && !used(r) && !used(l + r)) {
              admitted += ((l, r, c)); used += l; used += r; used += (l + r)
            }
          }
        admitted.foreach { case (l, r, c) => out += ((out.size + 1L, l, r, l + r, c)) }
        val m = admitted.map { case (l, r, _) => (l, r) -> (l + r) }.toMap
        vocab = vocab.map { case (w, f) =>
          // canonical left-to-right scan, non-overlapping
          val res = scala.collection.mutable.ArrayBuffer[String]()
          var pend = ""
          w.split(" ").foreach { x =>
            m.get((pend, x)) match {
              case Some(merged) => res += merged; pend = ""
              case None => if (pend.nonEmpty) res += pend; pend = x
            }
          }
          if (pend.nonEmpty) res += pend
          res.mkString(" ") -> f
        }
      }
    }
    out.toSeq
  }

  test("scale mode matches the batched+canonical reference (incl. same-symbol runs)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-scale").toString
    // aaaaaaa forces the canonical-apply case the demo form's two-pass
    // replace resolves differently; the rest exercises batching
    val texts = Seq(
      "aaaaaaa aaaaaaa aaa low lower lowest low low",
      "new newer newest new wider wide wide newer aaaaaaa",
      "low lower newer new wide west lowest wide banana bananas")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val words = texts.flatMap(_.split("\\s+"))
    for ((k, m) <- Seq((10, 3), (17, 5), (8, 1))) {
      val got = TextAnalysis.textBpeTrainScaled(spark, tmp, k, batchM = m,
          checkpointEvery = 2).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
      val want = referenceBpeBatched(words, k, m)
      assert(got.nonEmpty && got === want,
        s"scale-mode merges diverged at k=$k m=$m:\n got: $got\nwant: $want")
    }
    // batchM=1 with canonical apply IS sequential canonical BPE — pin
    // that it differs from the demo form exactly on the planted run
    val seq1 = TextAnalysis.textBpeTrainScaled(spark, tmp, 4, batchM = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(seq1.nonEmpty, "sequential scale-mode produced nothing")
  }

  /** In-memory ENCODE reference: apply the learned merges in step order
    * with the same boundary-anchored two-pass replace the trainer (and
    * its oracle) use — the encoded form of a word is the trainer's
    * final internal state for that word. */
  private def referenceEncode(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    var w = word.split("").mkString(" ")
    merges.foreach { case (l, r) =>
      val (pat, rep) = (s" $l $r ", s" ${l + r} ")
      w = (" " + w + " ").replace(pat, rep).replace(pat, rep).trim
    }
    w.split(" ").toSeq
  }

  /** Per-doc `(doc_id, n_words, n_tokens, chars_per_token)` of the
    * corpus at `dir` under [[referenceEncode]] of `merges`, computed on
    * the driver from the raw documents — the encode queries' contract,
    * restated without Spark. */
  private def referenceDocs(dir: String,
      merges: Seq[(String, String)]): Seq[(Long, Long, Long, Double)] =
    spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id", "text").collect()
      .map { r =>
        val ws = Option(r.getString(1)).getOrElse("")
          .split(graft.functions.TextFns.WhitespaceRegex).filter(_.nonEmpty).toSeq
        val nTok = ws.map(referenceEncode(_, merges).size.toLong).sum
        val chars = ws.map(_.length.toLong).sum
        val cpt = if (nTok == 0) 0.0
          else BigDecimal(chars.toDouble / nTok.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), ws.size.toLong, nTok, cpt)
      }.sortBy(_._1).toSeq

  private def encodeRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("encode + token-freq match the in-memory reference on a planted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-encode").toString
    val texts = Seq(
      "low lower lowest low low lowest",
      "new newer newest new wider wide wide newer",
      "",
      "low lower newer new wide west lowest wide")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val words = texts.flatMap(_.split("\\s+").filter(_.nonEmpty))
    val merges = referenceBpe(words, TextAnalysis.bpeTrainMerges)
      .map { case (_, l, r, _, _) => (l, r) }
    // expected per-doc counts from the reference encode
    val wantDocs = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.split("\\s+").filter(_.nonEmpty).toSeq
      val nTok = ws.map(referenceEncode(_, merges).size.toLong).sum
      val chars = ws.map(_.length.toLong).sum
      val cpt = if (nTok == 0) 0.0
        else BigDecimal(chars.toDouble / nTok.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (i.toLong, ws.size.toLong, nTok, cpt)
    }
    val gotDocs = TextAnalysis.textBpeEncode(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(gotDocs === wantDocs, s"per-doc encode diverged:\n got: $gotDocs\nwant: $wantDocs")
    // the empty doc is present with zeros, not dropped
    assert(gotDocs.exists { case (id, nw, nt, cpt) => id == 2L && nw == 0L && nt == 0L && cpt == 0.0 })
    // expected token distribution: reference-encoded words weighted by freq
    val wantFreq = words.groupBy(identity).toSeq
      .flatMap { case (w, g) => referenceEncode(w, merges).map(_ -> g.size.toLong) }
      .groupBy(_._1).map { case (t, g) => (t, g.map(_._2).sum) }.toSeq
      .sortBy { case (t, f) => (-f, t) }
      .take(TextAnalysis.bpeTokenFreqTopK)
    val gotFreq = TextAnalysis.textBpeTokenFreq(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotFreq === wantFreq, s"token freq diverged:\n got: $gotFreq\nwant: $wantFreq")
  }

  test("encode invariants and the vocabulary-side identity hold on sf0.001") {
    val dir = TestSpark.sf0001
    val enc = TextAnalysis.textBpeEncode(spark, dir).collect()
    assert(enc.nonEmpty)
    // a merge never splits: n_words <= n_tokens <= word chars; cpt >= 1
    enc.foreach { r =>
      val (nw, nt) = (r.getLong(1), r.getLong(2))
      assert(nw <= nt, s"doc ${r.getLong(0)}: more words than tokens")
      if (nt > 0) assert(r.getDouble(3) >= 1.0 - 1e-9,
        s"doc ${r.getLong(0)}: chars_per_token ${r.getDouble(3)} < 1 — a token longer than its characters")
    }
    // Σ_word freq·|encode(word)| == Σ_doc n_tokens — the vocabulary-side
    // identity textBpeTokenFreq's scaladoc promises (full distribution,
    // not the top-k slice)
    val vocabTokens = TextAnalysis.bpeEncodedVocab(spark, dir, TextAnalysis.bpeModelFor(spark, dir))
      .selectExpr("sum(freq * size(split(w, ' ')))").collect()(0).getLong(0)
    assert(vocabTokens == enc.map(_.getLong(2)).sum,
      "vocabulary-weighted token mass != per-doc token mass")
    // deterministic rerun
    val again = TextAnalysis.textBpeEncode(spark, dir).collect()
    assert(enc.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("served encode follows the persisted artifact: identity on own model, divergence on a doctored one") {
    import spark.implicits._
    val dir = TestSpark.sf0001
    // own model: train -> write -> read -> apply equals the in-memory
    // reference encode under the trained merge table, doc for doc
    val trainedMerges = TextAnalysis.bpeMergesDf(spark, dir)
      .orderBy(org.apache.spark.sql.functions.col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val served = encodeRows(SparkEntry.queries("text_bpe_encode_served")(spark, dir))
    assert(served.nonEmpty && served == referenceDocs(dir, trainedMerges),
      "served encode diverged from the reference encode under its own model")
    // doctored model: persist a TRUNCATED merge table (first trained
    // merge only); the serve must follow the FILE (no retraining) —
    // counts match the in-memory reference under exactly that one merge,
    // and differ from the full table (merges 2..K each merged something)
    val tmp = java.nio.file.Files.createTempDirectory("bpe-doctored").toString
    val first = TextAnalysis.bpeMergesDf(spark, dir)
      .orderBy(org.apache.spark.sql.functions.col("step")).collect().head
    val mergeList = Seq((first.getString(1), first.getString(2)))
    // a hand-built model commits its merge table through the index log
    IndexMaintenance.replace(spark, tmp, Seq("merges" ->
      Seq((1L, first.getString(1), first.getString(2), first.getString(3), first.getLong(4)))
        .toDF("step", "lhs", "rhs", "merged", "pair_count")))
    val got = TextAnalysis.textBpeEncodeServed(spark, dir, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map { r =>
        val ws = Option(r.getString(1)).getOrElse("")
          .split(graft.functions.TextFns.WhitespaceRegex).filter(_.nonEmpty).toSeq
        r.getLong(0) -> ws.map(referenceEncode(_, mergeList).size.toLong).sum
      }.toMap
    assert(got == want, "served encode did not follow the doctored merge table")
    // and the doctored model genuinely changes something vs the trained one
    val trained = TextAnalysis.textBpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got != trained, "doctored model produced identical counts — the arm proves nothing")
  }

  /** Canonical SEQUENTIAL encode reference: each merge in step order,
    * one left-to-right non-overlapping pass — the scaled trainer's own
    * internal state (per-round simultaneous application of
    * symbol-disjoint batches equals per-merge sequential application). */
  private def referenceEncodeCanonical(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.split("").toSeq
    merges.foreach { case (l, r) =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
          out += (l + r); j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.toSeq
    }
    syms
  }

  test("served encode of a 500-merge scaled artifact takes the scaled path, byte-identical to the canonical reference") {
    val dir = TestSpark.sf0001
    val model = java.nio.file.Files.createTempDirectory("bpe-scaled-model").toString
    IndexMaintenance.replace(spark, model, Seq("merges" -> TextAnalysis.textBpeTrainScaled(spark, dir, 500)))
    val merges = TextAnalysis.bpeModelMerges(spark, model)
    assert(merges.size > TextAnalysis.bpeReplaceChainMax,
      s"corpus exhausted at ${merges.size} merges — below the scaled-path threshold; the arm proves nothing")
    val got = TextAnalysis.textBpeEncodeServed(spark, dir, model).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map { r =>
        val ws = Option(r.getString(1)).getOrElse("")
          .split(graft.functions.TextFns.WhitespaceRegex).filter(_.nonEmpty).toSeq
        val nTok = ws.map(referenceEncodeCanonical(_, merges).size.toLong).sum
        val chars = ws.map(_.length.toLong).sum
        val cpt = if (nTok == 0) 0.0
          else BigDecimal(chars.toDouble / nTok.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), ws.size.toLong, nTok, cpt)
      }.sortBy(_._1).toSeq
    assert(got === want,
      "served encode under the 500-merge scaled artifact diverged from the canonical sequential reference")
  }

  test("the apply dispatch is a semantics boundary: big models encode canonically, demo models keep the two-pass replace") {
    import spark.implicits._
    // one doc, five a's, merges (a,a) then (a,aa). Canonical leftmost
    // scan: [aa aa a] after merge 1, merge 2's pair (a,aa) is ABSENT ->
    // 3 tokens. Demo two-pass anchored replace: [aa a aa] after merge 1
    // (the documented odd-run divergence), where (a,aa) IS adjacent ->
    // [aa aaa], 2 tokens.
    val tmp = java.nio.file.Files.createTempDirectory("bpe-dispatch").toString
    Seq((0L, "aaaaa", "en", "s")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def modelOf(nInert: Int): String = {
      val d = java.nio.file.Files.createTempDirectory(s"bpe-dispatch-m$nInert").toString
      // the two live merges plus inert pairs of symbols absent from the
      // corpus, only there to push the table across/below the
      // bpeReplaceChainMax dispatch threshold
      IndexMaintenance.replace(spark, d, Seq("merges" ->
        (Seq((1L, "a", "a", "aa", 2L), (2L, "a", "aa", "aaa", 1L)) ++
            (1 to nInert).map(i =>
              ((i + 2).toLong, s"_$i", "_x", s"_$i" + "_x", 1L)))
          .toDF("step", "lhs", "rhs", "merged", "pair_count")))
      d
    }
    def servedTokens(model: String): Long =
      TextAnalysis.textBpeEncodeServed(spark, tmp, model).collect().head.getLong(2)
    assert(servedTokens(modelOf(TextAnalysis.bpeReplaceChainMax - 2)) == 2L,
      "a threshold-sized model with no apply form must keep the demo two-pass replace semantics (its oracle's form)")
    assert(servedTokens(modelOf(TextAnalysis.bpeReplaceChainMax - 1)) == 3L,
      "an above-threshold model with no apply form must encode through the scaled canonical path")
    // the artifact's recorded apply form beats
    // the size heuristic — a tiny CANONICAL-marked model (a scaled run
    // that exhausted a small corpus early) must encode canonically
    val marked = java.nio.file.Files.createTempDirectory("bpe-marked").toString
    TextAnalysis.bpeModelPersist(spark,
      Seq((1L, "a", "a", "aa", 2L), (2L, "a", "aa", "aaa", 1L))
        .toDF("step", "lhs", "rhs", "merged", "pair_count"),
      marked, applyForm = "canonical")
    assert(servedTokens(marked) == 3L,
      "a canonical-marked model below the size threshold was served with two-pass semantics — the apply form must win")
    // and a two_pass form past the replace-chain bound fails loudly
    // instead of silently building the per-merge expression blowup
    val tooBig = java.nio.file.Files.createTempDirectory("bpe-toobig").toString
    TextAnalysis.bpeModelPersist(spark,
      ((1L, "a", "a", "aa", 2L) +: (1 to TextAnalysis.bpeReplaceChainMax).map(i =>
          ((i + 1).toLong, s"_$i", "_x", s"_$i" + "_x", 1L)))
        .toDF("step", "lhs", "rhs", "merged", "pair_count"),
      tooBig, applyForm = "two_pass")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.textBpeEncodeServed(spark, tmp, tooBig).collect())
    assert(e.getMessage.contains("two_pass-marked"),
      s"wrong failure for an oversized two_pass model: ${e.getMessage}")
    // the two write paths stamp their own provenance
    assert(TextAnalysis.bpeModelApplyForm(spark, TextAnalysis.bpeModelFor(spark, TestSpark.sf0001))
      .contains("two_pass"), "bpeModelWrite must record the two_pass apply form")
    assert(TextAnalysis.bpeModelApplyForm(spark, TextAnalysis.scaledBpeModelFor(spark, TestSpark.sf0001))
      .contains("canonical"), "the scaled-serve artifact must record the canonical apply form")
  }

  test("crashed model persist: staged merges with no commit fail loudly; a crash before the commit leaves the old model serving") {
    import spark.implicits._
    def mergesDf(ms: (String, String)*) = ms.zipWithIndex.map { case ((l, r), i) =>
      ((i + 1).toLong, l, r, l + r, 1L) }.toDF("step", "lhs", "rhs", "merged", "pair_count")
    // a crashed persist's merge table: written into the table dir, never committed
    def stageUncommitted(model: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$model/crashed")
      new java.io.File(s"$model/crashed").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(model, "merges"))
          java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(model, "merges", s"crashed-${f.getName}"))
        }
    }
    val model = java.nio.file.Files.createTempDirectory("bpe-crash").toString
    TextAnalysis.bpeModelPersist(spark, mergesDf("a" -> "a"), model, applyForm = "canonical")
    assert(TextAnalysis.bpeModelMerges(spark, model) == Seq(("a", "a")))
    // a re-persist that crashed before its commit: the old model serves
    stageUncommitted(model, mergesDf("b" -> "b", "a" -> "b"))
    assert(TextAnalysis.bpeModelMerges(spark, model) == Seq(("a", "a")),
      "the uncommitted merge table was served")
    assert(TextAnalysis.bpeModelApplyForm(spark, model).contains("canonical"))
    // a first persist that crashed before its commit: nothing to serve
    val torn = java.nio.file.Files.createTempDirectory("bpe-torn").toString
    stageUncommitted(torn, mergesDf("a" -> "a"))
    val e1 = intercept[IllegalStateException](TextAnalysis.bpeModelMerges(spark, torn))
    assert(e1.getMessage.contains("incomplete"),
      s"wrong failure for an uncommitted model: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException](TextAnalysis.bpeModelApplyForm(spark, torn))
    assert(e2.getMessage.contains("incomplete"),
      "the apply-form reader must not fall back to the size heuristic on an uncommitted model")
    // persisting heals
    TextAnalysis.bpeModelPersist(spark, mergesDf("a" -> "a"), torn, applyForm = "canonical")
    assert(TextAnalysis.bpeModelApplyForm(spark, torn).contains("canonical"))
    assert(TextAnalysis.bpeModelMerges(spark, torn) == Seq(("a", "a")))
  }

  test("corpus swap + Artifacts.clear drops the frozen served model: served encode retrains with the scan form") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-swap").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
        .toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    write(Seq("low lower lowest low low", "new newer newest new"))
    def words(texts: Seq[String]) = texts.flatMap(_.split("\\s+"))
    def reference(texts: Seq[String]) = referenceDocs(tmp,
      referenceBpe(words(texts), TextAnalysis.bpeTrainMerges).map { case (_, l, r, _, _) => (l, r) })
    val v1 = encodeRows(SparkEntry.queries("text_bpe_encode_served")(spark, tmp))
    assert(v1 == reference(Seq("low lower lowest low low", "new newer newest new")))
    // replace the corpus files at the SAME path — the library contract
    // says call clear(); afterwards the served query must serve the
    // RETRAINED model, not the pre-swap frozen artifact (r13 advice)
    val swapped = Seq("wide wider widest wide wide", "west western wests", "ban banana bananas")
    write(swapped)
    graft.ops.Artifacts.clear()
    val v2served = encodeRows(SparkEntry.queries("text_bpe_encode_served")(spark, tmp))
    assert(v2served == reference(swapped),
      "after corpus swap + clear(), the served encode still used the stale frozen model")
    assert(v2served != v1, "swap arm proves nothing — the two corpora encode identically")
  }

  test("training reads the corpus once: merge iterations run over the cached vocabulary") {
    val dir = TestSpark.sf0001
    val docBytes = new java.io.File(s"$dir/documents.parquet").listFiles() match {
      case null => new java.io.File(s"$dir/documents.parquet").length()
      case fs => fs.filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) acc.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(TextAnalysis.textBpeTrain(spark, dir).count() > 0)
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    // one corpus read for the word-frequency aggregation (+ cache
    // materialization slack); K iterations re-scanning the parquet
    // would read >= K times the file size
    assert(acc.get() < 3 * docBytes,
      s"BPE training read ${acc.get()} B against a $docBytes B corpus — " +
        "iterations are re-reading the documents parquet instead of the cached vocab")
  }

  test("scale mode keeps the read-once contract across many batched rounds") {
    val dir = TestSpark.sf0001
    val docBytes = new java.io.File(s"$dir/documents.parquet").listFiles() match {
      case null => new java.io.File(s"$dir/documents.parquet").length()
      case fs => fs.filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) acc.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // 48 merges over 6+ rounds, several lineage truncations
      assert(TextAnalysis.textBpeTrainScaled(spark, dir, 48, batchM = 8,
        checkpointEvery = 2).count() == 48)
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(acc.get() < 3 * docBytes,
      s"scale-mode BPE read ${acc.get()} B against a $docBytes B corpus — " +
        "rounds are re-reading the documents parquet instead of the checkpointed vocab")
  }

  test("scale mode runs no more Spark jobs per batch of merges at 500 merges than at 100") {
    // what a 500-merge training costs beyond a 100-merge one is its
    // driver round-trips: one selection per BATCH of merges, with the
    // lineage truncated every few rounds. Counted exactly: the jobs per
    // batch must not grow from 100 to 500 merges, and a batch must cost
    // a bounded handful of jobs — a per-merge selection would run
    // bpeBatchMerges times as many
    import spark.implicits._
    // 400 docs of 40 words drawn from 3,000 random 4-10 letter words: a
    // vocabulary that still has merges to learn past 500 (sf0.001's
    // runs out near 90)
    val dir = java.nio.file.Files.createTempDirectory("bpe-jobs").toString
    val rnd = new scala.util.Random(17)
    val vocab = Array.fill(3000)(Seq.fill(4 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    (0L until 400L).map(i => (i, Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    def jobsFor(k: Int): (Long, Int) = {
      var learned = 0L
      val jobs = TestSpark.jobsRun { learned = TextAnalysis.textBpeTrainScaled(spark, dir, k).count() }
      (learned, jobs)
    }
    val ((m100, j100), (m500, j500)) = (jobsFor(100), jobsFor(500))
    def batches(m: Long) = math.ceil(m.toDouble / TextAnalysis.bpeBatchMerges)
    info(s"$j100 jobs for $m100 merges, $j500 jobs for $m500 merges")
    assert(m100 == 100 && m500 == 500, s"learned $m100 and $m500 merges")
    assert(j500 / batches(m500) <= j100 / batches(m100),
      s"jobs per batch grew: $j100 jobs for $m100 merges, $j500 for $m500")
    assert(j500 / batches(m500) < TextAnalysis.bpeBatchMerges / 2,
      s"$j500 jobs for $m500 merges — selection is not batched")
  }
}
