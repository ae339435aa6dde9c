package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Dedup, IndexMaintenance, Similarity}

/** Semantics checks for the sketch-based operators that have no SQL
  * oracle path (LSH ANN) plus recall properties of the ones that do. */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  test("minhash LSH candidates recover all high-jaccard pairs (recall=1 here)") {
    val exact = Dedup.dedupNgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH(16 hashes, 4x4 bands) at threshold 0.7 should not miss planted dups
    assert(exact.subsetOf(lsh) || lsh.subsetOf(exact))
    assert((exact intersect lsh).size >= (exact.size * 9) / 10,
      s"recall too low: ${lsh.size} of ${exact.size}")
  }

  test("simhash near-pairs have genuinely close signatures") {
    val rows = Dedup.dedupSimhash(spark, sf0001).collect()
    assert(rows.forall(_.getLong(2) <= Dedup.hammingThreshold))
    // pairs are distinct and ordered
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length === pairs.length)
    assert(pairs.forall(p => p._1 < p._2))
    // anti-saturation guard (round-6 fix): the 32-bit signature emitted
    // ~29x the exact Jaccard pair count at sf0.01 — birthday collisions,
    // not near-dups. At 60 bits the pair stream must stay comparable to
    // the exact near-dup population, not a multiple of it.
    val exact = Dedup.dedupNgramJaccard(spark, sf0001).count()
    assert(exact == 0 || pairs.length <= 4 * exact,
      s"simhash emitted ${pairs.length} pairs vs $exact exact near-dup pairs — signature saturating")
  }

  test("exact dedup keeps one representative per distinct text") {
    val total = graft.Tables(spark, sf0001, "documents").count()
    val groups = Dedup.dedupExact(spark, sf0001)
    assert(groups.select("keep_id").distinct().count() === groups.count())
    import org.apache.spark.sql.functions._
    val copies = groups.agg(sum("copies")).head().getLong(0)
    assert(copies === total)
  }

  test("clusters group the verified pairs; empty on a duplicate-free corpus") {
    import spark.implicits._
    // real corpus: every clustered doc appears in some verified pair
    val pairs = Dedup.dedupNgramJaccard(spark, sf0001).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val clusters = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.map(_._1).toSet === pairs)
    assert(clusters.forall { case (doc, cl) => cl <= doc })
    // duplicate-free corpus: no NPE, empty result
    val tmp = java.nio.file.Files.createTempDirectory("nodup")
    Seq((1L, "alpha beta gamma delta epsilon zeta", "en", "s", 30L),
      (2L, "one two three four five six seven", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    assert(Dedup.dedupClusters(spark, tmp.toString).count() === 0)
  }

  test("brute-force top-k: k rows per query, self excluded, descending") {
    val rows = Similarity.simTopkBruteforce(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.length === Similarity.topK)
      assert(rs.forall(_.getLong(2) != q), s"self match for $q")
      val sims = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"not descending for $q")
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("blocked embedding dedup finds a subset of the exact pairs with good recall") {
    val exact = Dedup.dedupEmbeddingCosine(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.dedupEmbeddingBlocked(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification is exact cosine, so blocked can never invent a pair
    assert(blocked.subsetOf(exact), s"blocked produced non-pairs: ${blocked -- exact}")
    if (exact.nonEmpty) {
      val recall = (exact intersect blocked).size.toDouble / exact.size
      info(f"blocked-dedup recall vs exact all-pairs: $recall%.3f (${exact.size} exact pairs)")
      assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
    }
  }

  test("exact cosine dedup REFUSES an over-limit corpus (guard survives optimization)") {
    // bound injected below the sf0.001 row count, so the raise_error arm fires.
    // Round-3 advice: with a bare drop() the guard column was pruned and the
    // over-limit corpus ran all-pairs silently — the filter consumes it now.
    val overLimit = Dedup.dedupEmbeddingCosineBounded(spark, sf0001, maxRows = 10L)
    val ex = intercept[Exception] { overLimit.collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("refuses")),
      s"expected the guard's refusal message, got: ${ex.getMessage}")
    // the optimized plan keeps the raise_error expression (not pruned)
    val optimized = Dedup.dedupEmbeddingCosineBounded(spark, sf0001, maxRows = 10L)
      .queryExecution.optimizedPlan.toString
    assert(optimized.contains("raise_error"), "guard pruned from optimized plan")
    // and the in-limit path still works
    assert(Dedup.dedupEmbeddingCosine(spark, sf0001).count() >= 0)
  }

  test("oracle-pinned PQ variants REFUSE an over-limit corpus (round-6 guard)") {
    // their fixed shortlist depths collapse recall at scale (0.03-0.09
    // recall@5 at 250k, PLANS.md) — the plan itself must refuse, same
    // unprunable raise_error shape as the exact-cosine guard above
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    for (mk <- Seq(
        () => Similarity.simPqTopkBounded(spark, sf0001, maxRows = 10L),
        () => Similarity.simPqTopkTrainedBounded(spark, sf0001, maxRows = 10L),
        () => Similarity.simPqRescoreBounded(spark, sf0001, maxRows = 10L))) {
      val ex = intercept[Exception] { mk().collect() }
      assert(messages(ex).exists(_.contains("refuses")),
        s"expected the guard's refusal message, got: ${ex.getMessage}")
      assert(mk().queryExecution.optimizedPlan.toString.contains("raise_error"),
        "PQ guard pruned from optimized plan")
    }
    // in-limit paths unchanged (the oracled sf0.001 shape)
    assert(Similarity.simPqTopk(spark, sf0001).count() > 0)
    assert(Similarity.simPqRescore(spark, sf0001).count() > 0)
  }

  test("distributed label propagation resolves a long path graph (diameter >> checkpoint interval)") {
    import spark.implicits._
    // path 0-1-2-...-40: min-label propagation needs ~40 iterations, i.e.
    // ~8 localCheckpoint truncations — without them the lineage would grow
    // by one union+join+agg per iteration
    val n = 40
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.distributedLabelPropagation(spark, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === n.toInt + 1)
    assert(labels.forall(_._2 === 0L), s"path not fully labeled 0: ${labels.filter(_._2 != 0L).take(5).toSeq}")
    assert(labels.map(_._1).toSeq === (0L to n).toSeq) // ordered output
  }

  test("large-star/small-star equals union-find on random graphs and long paths") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // random graph: 120 nodes, 150 random edges (many small components)
    val rnd = new scala.util.Random(23)
    val raw = Seq.fill(150) { val a = rnd.nextInt(120); val b = rnd.nextInt(120); (a.toLong, b.toLong) }
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val pairs = raw.toDF("id_a", "id_b")
    assert(labelsOf(Dedup.largeStarSmallStar(spark, pairs)) ===
      labelsOf(Dedup.driverUnionFind(spark, pairs)))
    // long path (worst case for propagation, O(log n) rounds here)
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = labelsOf(Dedup.largeStarSmallStar(spark, path))
    assert(got.size === 61 && got.values.forall(_ == 0L))
  }

  test("constructing the shingle-based dedup plans runs no Spark job (lazy statistics)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    // cold corpus so nothing is memoized yet (written BEFORE the listener)
    val tmp = java.nio.file.Files.createTempDirectory("lazystats")
    Seq.tabulate(50)(i => (i.toLong, s"alpha beta gamma doc $i of many tokens", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    // first construction pays parquet schema inference (one small job
    // per table read, memoized by Tables); the point under test is that
    // REPEAT construction — the steady state of a composing library —
    // runs nothing: no eager statistics, no hidden head()/count()
    Dedup.dedupNgramJaccard(spark, tmp.toString)
    @volatile var jobs = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Dedup.dedupNgramJaccard(spark, tmp.toString)
      Dedup.dedupMinhashLsh(spark, tmp.toString)
      Dedup.dedupSimhash(spark, tmp.toString)
      Thread.sleep(1000) // listener bus is async
      assert(jobs === 0, s"plan construction launched $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("trained k-means quantizer beats stride sampling: recall and block balance") {
    // recall@topK vs brute force, both quantizers at the SAME probe cost
    val exact = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val stride = SparkEntry.queries("sim_ivf_topk")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val trained = SparkEntry.queries("sim_ivf_topk_trained")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val strideRecall = (exact intersect stride).size.toDouble / exact.size
    val trainedRecall = (exact intersect trained).size.toDouble / exact.size
    info(f"IVF recall@${Similarity.topK} — stride: $strideRecall%.3f, trained: $trainedRecall%.3f")
    assert(trainedRecall >= strideRecall,
      f"training made recall WORSE: $trainedRecall%.3f < $strideRecall%.3f")
    // inverted-list balance: the sf0.001 embeddings are near-uniform, so
    // both quantizers sit near skew 1 — assert training doesn't break a
    // corpus that was already balanced (the skew-REDUCTION claim is
    // demonstrated on a corpus that actually has a hot region, below)
    val skewStride = Similarity.assignmentSkew(spark, sf0001, trained = false)
    val skewTrained = Similarity.assignmentSkew(spark, sf0001, trained = true)
    info(f"assignment skew max/mean — stride: $skewStride%.3f, trained: $skewTrained%.3f")
    assert(skewTrained <= skewStride * 1.15,
      f"training unbalanced an already-balanced corpus: $skewTrained%.3f vs $skewStride%.3f")
  }

  test("indexed incremental dedup equals the simhash pair-set recompute over the physical union") {
    import org.apache.spark.sql.functions._
    // physically split the corpus into a landing batch and an ingested
    // corpus; the reference is the symmetric dedupSimhash pair set over
    // the UNION, restricted to (batch doc, corpus doc) pairs: a batch
    // doc is a dup iff it has a corpus partner, dup_of is the smallest
    // partner id and min_hamming the smallest partner distance
    val tmp = java.nio.file.Files.createTempDirectory("landing")
    val docs = Tables(spark, sf0001, "documents")
    docs.filter(col("doc_id") % Dedup.batchMod === 0)
      .write.mode("overwrite").parquet(s"$tmp/batch/documents.parquet")
    docs.filter(col("doc_id") % Dedup.batchMod =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpus/documents.parquet")
    val shape = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getBoolean(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))
    val m = Dedup.batchMod
    val partners = Dedup.dedupSimhash(spark, sf0001).collect()
      .flatMap { r =>
        val (a, b, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
        Seq((a, b, h), (b, a, h))
      }
      .filter { case (x, y, _) => x % m == 0 && y % m != 0 }
      .groupBy(_._1)
    val want = docs.filter(col("doc_id") % m === 0).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
      .map(id => partners.get(id).fold((id, false, Option.empty[Long], Option.empty[Long])) { ps =>
        (id, true, Some(ps.map(_._2).min), Some(ps.map(_._3).min))
      })
    assert(want.exists(_._2), "no batch doc has a corpus near-dup: the comparison is vacuous")

    // the PERSISTED-signature form: corpus text never re-read — the
    // standing side is the (doc_id, simhash) parquet only. Signatures
    // are deterministic, so the result must equal the recompute. Also
    // exercises append: index built from a half-corpus then appended
    // with the rest must serve the same answer as built whole.
    Dedup.dedupIndexWrite(spark, s"$tmp/corpus", s"$tmp/index")
    val viaIndex = Dedup.dedupIncrementalIndexed(spark, s"$tmp/batch", s"$tmp/index")
      .collect().map(shape).toSeq
    assert(viaIndex === want,
      "persisted-signature check diverged from the pair-set recompute")
    docs.filter(col("doc_id") % Dedup.batchMod =!= 0)
      .filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$tmp/corpusA/documents.parquet")
    docs.filter(col("doc_id") % Dedup.batchMod =!= 0)
      .filter(col("doc_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpusB/documents.parquet")
    Dedup.dedupIndexWrite(spark, s"$tmp/corpusA", s"$tmp/index2")
    Dedup.dedupIndexAppend(spark, s"$tmp/corpusB", s"$tmp/index2")
    val viaAppended = Dedup.dedupIncrementalIndexed(spark, s"$tmp/batch", s"$tmp/index2")
      .collect().map(shape).toSeq
    assert(viaAppended === want,
      "appended signature index diverged from an index built whole")
  }

  test("tiled auto-probe IVF equals the join-path trained IVF on a small corpus") {
    // on sf0001 ivfProbesFor floors at the pinned nProbe and the trained
    // quantizer round-trips the index exactly, so the ONLY difference
    // between the served sim_ivf_topk_auto and the join-form reference
    // over the memoized trained centroids is the candidate machinery:
    // per-list tile cells + fused per-cell top-k versus the probe×assign
    // join + rescoring. Identical left-fold arithmetic → the ranked
    // results must match to the bit, cosines included. The fixed-probe
    // sim_ivf_topk_trained serve over the same index must match too.
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val auto = SparkEntry.queries("sim_ivf_topk_auto")(spark, sf0001).collect().map(shape).toSeq
    val joined = AnnReference.ivfJoin(spark, sf0001,
      Similarity.trainedCentroidsOf(spark, sf0001), Similarity.nProbe).collect().map(shape).toSeq
    val trained = SparkEntry.queries("sim_ivf_topk_trained")(spark, sf0001).collect().map(shape).toSeq
    assert(auto.nonEmpty && auto === joined && trained === joined,
      "tiled IVF probe path diverged from the join-path trained IVF")
  }

  test("k-means splits the hot block stride sampling creates on a clustered corpus") {
    import spark.implicits._
    // 941 vectors in a loose cone around e0 occupy ids where only ONE is
    // ≡1 (mod centroidStride); 59 isotropic vectors hold the other 9
    // sampled ids. Stride sampling thus spends 1 centroid on 94% of the
    // mass → one hot inverted list ≈ 9× the mean (a straggler task at
    // scale). Lloyd refinement lets isotropic centroids capture cone
    // members and migrate in, splitting the hot block.
    val rnd = new scala.util.Random(7)
    def cone(): Array[Float] =
      Array.tabulate(64)(d => ((if (d == 0) 1.0 else 0.0) + 0.35 * rnd.nextGaussian()).toFloat)
    def iso(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val stride = Similarity.centroidStride
    val rows = (0L until 1000L).map { id =>
      val sampled = id % stride == 1
      (id, if (sampled && id != 1L) iso() else if (id >= 950L) iso() else cone())
    }
    val tmp = java.nio.file.Files.createTempDirectory("hotblock")
    rows.toDF("vec_id", "embedding").write.parquet(s"$tmp/embeddings.parquet")
    val skewStride = Similarity.assignmentSkew(spark, tmp.toString, trained = false)
    val curve = Seq(2, 4, 6, 8, 12).map(i =>
      i -> Similarity.assignmentSkew(spark, tmp.toString, trained = true, iters = i))
    info(f"hot-block skew max/mean — stride: $skewStride%.3f, trained by iters: " +
      curve.map { case (i, s) => f"$i→$s%.2f" }.mkString(", "))
    val skewTrained = curve.toMap.apply(Similarity.kmeansIters)
    assert(skewStride >= 3.0, f"corpus failed to produce a hot block: $skewStride%.3f")
    assert(skewTrained <= skewStride * 0.7,
      f"training did not split the hot block: $skewTrained%.3f vs $skewStride%.3f")
  }

  test("trained blocked dedup never invents pairs and matches stride-blocked recall") {
    val exact = Dedup.dedupEmbeddingCosine(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stride = Dedup.dedupEmbeddingBlocked(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = Dedup.dedupEmbeddingBlockedTrained(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification is exact cosine either way — no false pairs possible
    assert(trained.subsetOf(exact), s"trained-blocked produced non-pairs: ${trained -- exact}")
    if (exact.nonEmpty) {
      val rs = (exact intersect stride).size.toDouble / exact.size
      val rt = (exact intersect trained).size.toDouble / exact.size
      info(f"blocked-dedup recall — stride: $rs%.3f, trained: $rt%.3f (${exact.size} exact pairs)")
      assert(rt >= rs, f"trained blocking lost pairs stride blocking found: $rt%.3f < $rs%.3f")
    }
  }

  test("dedup_semantic: keep decision matches a brute-force within-cluster recompute") {
    val rows = Dedup.dedupSemantic(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every nonzero-norm vector appears exactly once with kept in {0,1}
    val n = graft.Tables(spark, sf0001, "embeddings").collect()
      .map { r =>
        val e = r.getSeq[Float](r.fieldIndex("embedding")).toArray.map(_.toDouble)
        (r.getLong(0), e, math.sqrt(e.map(x => x * x).sum))
      }
      .filter(_._3 > 0)
    assert(rows.map(_._1).toSeq.sorted === n.map(_._1).toSeq.sorted)
    assert(rows.forall(r => r._3 == 0L || r._3 == 1L))
    // independent recompute: nearest stride centroid, then upper-triangular
    // τ-masking within each cluster (SemDeDup's rule, vec_id order)
    val cents = n.filter(_._1 % Similarity.centroidStride == 1)
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double =
      a._2.zip(b._2).map { case (x, y) => x * y }.sum / (a._3 * b._3)
    val asg = n.map { v =>
      val best = cents.map(c => (cos(v, c), c._1)).maxBy { case (s, id) => (s, -id) }
      (v._1, best._2)
    }.toMap
    val byCluster = n.groupBy(v => asg(v._1))
    val expect = n.map { v =>
      val peers = byCluster(asg(v._1)).filter(p => p._1 < v._1)
      val dropped = peers.exists(p => cos(p, v) >= Dedup.cosineThreshold)
      (v._1, asg(v._1), if (dropped) 0L else 1L)
    }.sortBy(_._1)
    assert(rows.sortBy(_._1).toSeq === expect.toSeq)
    val nDropped = rows.count(_._3 == 0L)
    info(s"semantic dedup dropped $nDropped of ${rows.length} vectors")
  }

  test("trained semantic dedup covers the corpus; every cluster keeps its first member") {
    val rows = Dedup.dedupSemanticTrained(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = graft.ops.Similarity.normed(spark, sf0001).count()
    assert(rows.length.toLong == n, s"${rows.length} decisions for $n vectors")
    assert(rows.forall(r => r._3 == 0L || r._3 == 1L))
    // the lowest-id member of a cluster has no lower-id peer to mask it
    rows.groupBy(_._2).foreach { case (c, g) =>
      assert(g.minBy(_._1)._3 == 1L, s"cluster $c dropped its first member")
    }
  }

  test("semantic dedup on CLUSTERED geometry: tauClustered and the percentile budget " +
      "catch the planted dups without flushing the clusters") {
    import spark.implicits._
    // 20 Gaussian clusters x 250 members (the topical-corpus geometry the
    // round-9 scale experiment showed breaks tau=0.45: within-cluster
    // cosine ~0.85 >> 0.45, so the default dropped 99% of the corpus),
    // with 50 planted near-dups (ids >= 4950 copy id-50 + 2% noise)
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(64)(rnd.nextGaussian()))
    val base = (0L until 4950L).map { id =>
      val c = centers((id % 20).toInt)
      id -> Array.tabulate(64)(d => (c(d) + 0.35 * rnd.nextGaussian()).toFloat)
    }
    val dups = (4950L until 5000L).map { id =>
      val src = base((id - 50L).toInt)._2
      id -> src.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat)
    }
    val tmp = java.nio.file.Files.createTempDirectory("sem-clustered")
    (base ++ dups).toDF("vec_id", "embedding").write.parquet(s"$tmp/embeddings.parquet")
    def stats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      import org.apache.spark.sql.functions.{col, lit, sum, when}
      val r = df.agg(sum(lit(1L) - col("kept")),
        sum(when(col("vec_id") >= 4950L, lit(1L) - col("kept")).otherwise(lit(0L))))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // the round-9 failure mode, reproduced: the scattered-corpus default
    // flushes most of the clustered corpus
    val (d045, _) = stats(Dedup.dedupSemantic(spark, tmp.toString))
    info(s"tau=0.45 dropped $d045 of 5000 (the mis-calibration this test pins the fix for)")
    assert(d045 > 2500L, "corpus no longer reproduces the clustered collapse")
    // the clustered-sane default: planted dups caught, clusters kept
    val (dTau, pTau) = stats(Dedup.dedupSemantic(spark, tmp.toString,
      Dedup.semanticTauClustered))
    info(s"tauClustered=${Dedup.semanticTauClustered} dropped $dTau, planted caught $pTau/50")
    assert(pTau >= 45L, s"tauClustered missed planted dups: $pTau/50")
    assert(dTau - pTau <= 50L,
      s"tauClustered false-dropped ${dTau - pTau} of 4950 non-dups (bound: 1%)")
    // the budgeted percentile form needs NO tau: drops exactly its budget,
    // and the planted dups are the most redundant so they fill the head
    val (dP, pP) = stats(Dedup.dedupSemanticPercentile(spark, tmp.toString))
    info(s"percentile(${Dedup.semanticDropFrac}) dropped $dP, planted caught $pP/50")
    assert(dP == 50L, s"percentile budget floor(0.01*5000)=50, dropped $dP")
    assert(pP >= 45L, s"percentile form missed planted dups: $pP/50")
  }

  test("percentile head: the distributed rank-threshold form is byte-identical " +
      "to the TakeOrdered form, including through a deep score tie") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (a) the real corpus at several budgets: default (TakeOrdered at
    // these K) vs headTakeOrderedMax = 0 (rank-threshold forced)
    for (frac <- Seq(0.01, 0.05, 0.2)) {
      graft.ops.Artifacts.invalidate(spark, s"$sf0001|semantic_pctl_scores")
      val take = rows(Dedup.dedupSemanticPercentile(spark, sf0001, frac))
      val rank = rows(Dedup.dedupSemanticPercentile(spark, sf0001, frac,
        headTakeOrderedMax = 0L))
      assert(take.nonEmpty && take == rank, s"forms diverge at dropFrac=$frac")
    }
    // (b) a corpus engineered so the cutoff lands INSIDE a deep tie at
    // rounded score 1.0 (identical vectors cosine to exactly 1.0): 100
    // groups x 6 identical members -> ~500 vectors tied at 1.0, budget
    // 0.5 cuts midway, so the boundary vec_id arm (residual rank r <
    // tie-group size) must pick exactly the r smallest tied ids
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 100).flatMap { g =>
      val v = Array.fill(16)((rnd.nextGaussian()).toFloat)
      (0 until 6).map(m => (g * 6L + m, v))
    }
    val tmp = java.nio.file.Files.createTempDirectory("sem-ties")
    vecs.toDF("vec_id", "embedding").write.parquet(s"$tmp/embeddings.parquet")
    val take = rows(Dedup.dedupSemanticPercentile(spark, tmp.toString, 0.5))
    val rank = rows(Dedup.dedupSemanticPercentile(spark, tmp.toString, 0.5,
      headTakeOrderedMax = 0L))
    assert(take == rank, "forms diverge through the tie group")
    assert(take.count(_._3 == 0L) == 300, "budget floor(0.5*600) not met")
    // the tie-break is real: of each group's tied tail, the SMALLER ids
    // fill the head first, so drops are not all-or-nothing per group
    val droppedIds = take.filter(_._3 == 0L).map(_._1).toSet
    assert(droppedIds.nonEmpty && droppedIds.size == 300)
    graft.ops.Artifacts.invalidate(spark, s"$sf0001|semantic_pctl_scores")
    graft.ops.Artifacts.invalidate(spark, s"$tmp|semantic_pctl_scores")
  }

  test("percentile boundary pick: adversarially packed ties recurse into the slice " +
      "instead of failing, same boundary id") {
    import spark.implicits._
    // 1000 tied ids packed into the bottom sliver of a 2^40-wide id
    // range (all land in ONE of the 4096 id-range slices), plus one far
    // outlier stretching the range. The old code require-failed once a
    // slice outgrew the sort cap; the recursive form re-slices within
    // and must return the identical rank-500 boundary (id 499).
    val ids = (0L until 1000L) :+ (1L << 40)
    val ties = ids.map(i => (i, 1.0)).toDF("vec_id", "score")
    val lo = 0L
    val hi = 1L << 40
    val expected = ids.sorted.apply(499) // rank 500, 1-based
    val viaSort = Dedup.boundaryIdOf(ties, lo, hi, 500L)
    val viaRecursion = Dedup.boundaryIdOf(ties, lo, hi, 500L, sortCap = 10L)
    assert(viaSort == expected, s"sort leg picked $viaSort, want $expected")
    assert(viaRecursion == expected,
      s"recursive leg picked $viaRecursion, want $expected — packed ties must " +
      "degrade gracefully, byte-identical to the sort leg")
  }

  test("auto-IVF never FORCES the query re-join broadcast: the size check stays in charge") {
    // Similarity.massTrimmedProbes' query re-join, through the served
    // sim_ivf_topk_auto: the query set is corpus/queryStride WITH full
    // embeddings — a forced broadcast hint grew linearly with the corpus
    // and bypassed the size check. With the hint gone, a sub-threshold
    // query frame still broadcasts (so small corpora keep their plan and
    // results), but when the size check says no, the join must NOT be
    // broadcast — a hint would override the threshold, which is exactly
    // the regression this pins out.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    def shape(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val baseline = AnnIndex.simIvfTopkServed(spark, sf0001).collect().map(shape).toSeq
    assert(baseline.nonEmpty)
    spark.conf.set(key, "1KB")
    try {
      val df = AnnIndex.simIvfTopkServed(spark, sf0001)
      val forced = df.queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec
            if (j.leftKeys ++ j.rightKeys).mkString(",").contains("vec_id") => j
      }
      assert(forced.isEmpty,
        "query re-join broadcast is hint-FORCED — it ignored the size threshold")
      // join strategy never changes results
      assert(df.collect().map(shape).toSeq === baseline,
        "auto-IVF results depend on the re-join strategy")
    } finally spark.conf.set(key, old)
  }

  test("no query-set-sized frame is hint-FORCED broadcast anywhere (r13 repo sweep)") {
    // the round-13 generalization of the pin above (JoinHints
    // .broadcastIfSmall): every broadcast-queries scan shape — range
    // search, brute-force/PQ cells, IVF re-join, hybrid act flags —
    // gates its hint on Catalyst's size estimate scaled by the known
    // stride fraction. Under a 1-BYTE threshold (1KB would still pass
    // the fraction-scaled estimate on this tiny corpus — correctly so)
    // none of them may plan a broadcast join, and the results must not
    // depend on the join strategy.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    val paths: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "sim_range_search" -> (() => Similarity.simRangeSearch(spark, sf0001)),
      "sim_topk_bruteforce" -> (() => Similarity.simTopkBruteforce(spark, sf0001)))
    // (the PQ paths share the same gated pqShortlist crossJoin but
    // carry a deliberate 1-row guard hint that stays forced — the
    // constant-bounded exception the rule documents; mm_feature_ann
    // joined that exception in round 17 when it gained the same 1-row
    // raise_error scale guard, and its strategy-independence is pinned
    // by MultimodalSpec's tiled-vs-naive equality instead)
    val baselines = paths.map { case (n, f) => n -> f().collect().map(_.toSeq).toSeq }.toMap
    spark.conf.set(key, "1")
    try paths.foreach { case (name, f) =>
      val df = f()
      val forced = df.queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec => j: Any
        case j: BroadcastNestedLoopJoinExec => j: Any
      }
      assert(forced.isEmpty,
        s"$name still hint-forces a broadcast past the size threshold: $forced")
      assert(df.collect().map(_.toSeq).toSeq === baselines(name),
        s"$name results depend on the join strategy")
    } finally spark.conf.set(key, old)
  }

  test("multi-probe LSH ANN: recall >= 0.6 at a bounded scored fraction") {
    import org.apache.spark.sql.functions._
    val exact = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val nCorpus = Tables(spark, sf0001, "embeddings").count()
    val nQueries = exact.map(_._1).size
    // fraction = SCORED-pair volume / (Q·N): a pair sharing several
    // tables/probes counts once per hit — the WORK the index pays, a
    // strictly harsher number than the old distinct-candidate fraction
    // (0.40 vs 0.31 on this corpus/config). Sub-linearity at scale comes
    // from auto depth; this ceiling just catches an index degenerating
    // to brute force at the pinned small-corpus config. Both arms serve
    // the same persisted index; the volume is counted from its bucket
    // table.
    val (tables, bits) = (Similarity.lshTables, Similarity.lshBits)
    val indexDir = AnnIndex.lshIndexFor(spark, sf0001, tables, bits)
    val buckets = IndexMaintenance.read(spark, indexDir, "buckets")
    val sizes = buckets.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("m"))
    def measure(mp: Boolean): (Double, Double) = {
      val ann = AnnIndex.lshIndexServe(spark, indexDir, Seq(sf0001),
          AnnReference.strideQueries(spark, sf0001), multiprobe = mp).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (exact intersect ann).size.toDouble / exact.size
      val scoredPairs = AnnReference.lshProbes(buckets, bits, mp)
        .join(sizes, Seq("tbl", "bucket")).agg(sum(col("m"))).head().getLong(0).toDouble
      (recall, scoredPairs / (nQueries.toDouble * nCorpus))
    }
    val (recall, frac) = measure(mp = true)
    val (r0, f0) = measure(mp = false)
    info(f"LSH ANN recall@5 — multiprobe: $recall%.3f at scored fraction $frac%.3f; " +
      f"same tables w/o multiprobe: $r0%.3f at $f0%.3f")
    assert(recall >= 0.6, f"recall $recall%.3f below 0.6")
    assert(frac <= 0.45, f"scored fraction $frac%.3f above 0.45 — the index degenerated to brute force")
    assert(recall > r0, "multiprobe failed to beat plain multi-table at the same index")
    // the auto-depth serving path clamps to the pinned (recall-asserted)
    // depth on a corpus this small — results must be identical
    val auto = SparkEntry.queries("sim_lsh_ann_auto")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val pinned = SparkEntry.queries("sim_lsh_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(auto === pinned, "auto-depth diverged from the pinned index on a small corpus")
  }

  test("auto ANN on CLUSTERED geometry: LSH and IVF keep recall; mass-budgeted IVF " +
      "scores fewer rows than brute force at recall >= 0.9") {
    import org.apache.spark.sql.functions._
    // 5,000 vectors from a mixture of 50 clusters with a linear size skew
    // (c = floor(sqrt(h)) over h uniform in [0, 2500) makes P(c) ∝ 2c+1)
    // and a 0.35 spread: the topical shape real sentence embeddings take,
    // where list-count probing pays for the hot lists
    val tmp = java.nio.file.Files.createTempDirectory("ann-clustered").toString
    import TestSpark.noise
    val c = floor(sqrt(pmod(hash(col("id")), lit(2500)).cast("double"))).cast("long")
    val n = 5000L
    spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(Similarity.embDims)), d =>
          (noise(c * 7919L + 13L, d) + noise(col("id") + 31337L, d) * lit(0.35)).cast("float"))
          .as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .write.parquet(s"$tmp/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.simTopkBruteforce(spark, tmp))
    def recall(got: Set[(Long, Long)]): Double = (exact intersect got).size.toDouble / exact.size
    // the pinned-depth index is built FIRST, so an auto serve that
    // reused it (an index memo keyed without the geometry) would read
    // 8 bits where the corpus size asks for lshBitsFor(n)
    assert(AnnIndex.simLshAnnServed(spark, tmp).count() > 0, "vacuous pinned-depth serve")
    val lshRecall = recall(pairs(AnnIndex.simLshAnnAuto(spark, tmp)))
    val autoBits = IndexMaintenance.read(spark, AnnIndex.lshIndexFor(spark, tmp,
      Similarity.lshTables, Similarity.lshBitsFor(n.toDouble)), "meta").select(col("bits")).head().getInt(0)
    assert(Similarity.lshBitsFor(n.toDouble) == 10 && autoBits == 10,
      s"sim_lsh_ann_auto read a $autoBits-bit index on $n vectors, want lshBitsFor = 10")
    val ivfRecall = recall(pairs(AnnIndex.simIvfTopkServed(spark, tmp)))
    // the work the brute-force time paid for against the auto path's
    val bruteRows = exact.map(_._1).size.toLong * n
    val ivfRows = AnnIndex.ivfServedScoredRows(spark, AnnIndex.ivfIndexFor(spark, tmp),
      Seq(tmp), AnnReference.strideQueries(spark, tmp))
    info(f"recall@5: lsh auto $lshRecall%.3f, ivf auto $ivfRecall%.3f; " +
      s"ivf auto scores $ivfRows rows vs brute force $bruteRows")
    assert(exact.nonEmpty, "vacuous ground truth")
    assert(lshRecall > 0.5 && ivfRecall > 0.5,
      "auto-tuned ANN collapsed on clustered geometry — re-derive the constants")
    assert(ivfRecall >= 0.9 && ivfRows < bruteRows,
      f"mass-budgeted auto-IVF scored $ivfRows rows vs brute force $bruteRows, " +
        f"recall $ivfRecall%.3f (want fewer rows at recall >= 0.9)")
    graft.ops.Artifacts.invalidate(spark, s"$tmp|")
  }

  test("range search returns exactly the in-radius subset of each query's neighbors") {
    import org.apache.spark.sql.functions._
    val inRange = Similarity.simRangeSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inRange.forall(_._3 >= Similarity.rangeThreshold))
    // every top-k neighbor above the radius must also be in the range set
    val topAbove = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .filter(_.getDouble(3) >= Similarity.rangeThreshold)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rangeSet = inRange.map(t => (t._1, t._2)).toSet
    assert(topAbove.subsetOf(rangeSet),
      "a top-k neighbor above the radius is missing from the range result")
  }

  test("tiled LSH scoring equals an independent equi-join reference, byte for byte") {
    // reference implementation, the join shape: expand every (q, cand)
    // candidate pair via an equi-join over the persisted index's bucket
    // table, re-attach the vectors, score with vec_dot, rank. The
    // production path never builds the pair set (per-cell fused top-k)
    // — but per-cell rank lower-bounds global rank, so the ranked result
    // must be BYTE-identical, cosines included. Together with the DuckDB
    // oracle this pins the tiling from two independent directions.
    val buckets = IndexMaintenance.read(spark, AnnIndex.lshIndexFor(spark, sf0001), "buckets")
    val reference = AnnReference.lshJoin(spark, sf0001, buckets, Similarity.lshBits)
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val tiled = SparkEntry.queries("sim_lsh_ann")(spark, sf0001).collect().map(shape).toSeq
    val ref = reference.collect().map(shape).toSeq
    assert(tiled.nonEmpty && tiled === ref,
      "tiled LSH scoring diverged from the equi-join reference")
  }

  test("PQ ADC ranking equals an independent HOF-aggregate reference, byte for byte") {
    // reference formulation: same pq_codes/pq_lut columns, but the ADC
    // sum and ranking run through Spark builtins (crossJoin + HOF
    // `aggregate`, a sequential left fold like the kernel's s-loop)
    // instead of the fused cell kernel — per-cell top-k containment and
    // the tie-break convention make the ranked results byte-identical.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val cb = Similarity.pqCodebook(spark, sf0001)
    val (m, k) = (Similarity.pqM, Similarity.pqKOf(cb))
    val n = Similarity.normed(spark, sf0001)
    val coded = n.select(col("vec_id").as("cand_id"),
      graft.plans.VectorFunctions.pq_codes(col("embedding"), col("nrm"), cb, m, k).as("codes"))
    val qs = n.filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"),
        graft.plans.VectorFunctions.pq_lut(col("embedding"), col("nrm"), cb, m, k).as("lut"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("cand_id"))
    val reference = coded.crossJoin(qs)
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("adc", expr(
        s"aggregate(sequence(0, ${m - 1}), 0D, (acc, s) -> acc + lut[s * $k + codes[s]])"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Similarity.topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("adc"))
      .orderBy(col("q_id"), col("rk"))
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val fused = Similarity.simPqTopk(spark, sf0001).collect().map(shape).toSeq
    val ref = reference.collect().map(shape).toSeq
    assert(fused.nonEmpty && fused === ref,
      "fused PQ ADC ranking diverged from the HOF-aggregate reference")
  }

  test("two-stage PQ rescoring lifts recall over pure ADC ranking") {
    val exact = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val adc = recallOf(Similarity.simPqTopk(spark, sf0001))
    val res = recallOf(Similarity.simPqRescore(spark, sf0001))
    assert(adc > 0.0, "pure ADC ranking found no true neighbors at all")
    assert(res >= adc,
      f"rescoring (recall $res%.3f) fell below pure ADC ranking ($adc%.3f)")
  }

  test("kNN label vote: one pick per query, drawn from its neighbors, flags consistent") {
    import org.apache.spark.sql.functions._
    val nn = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val labels = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.simKnnLabel(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.map(_._1).toSeq == nn.keySet.toSeq.sorted, "one pick per query, q_id-ordered")
    for ((q, truth, pred, votes, correct) <- rows) {
      assert(truth == labels(q), s"query $q true_label mismatch")
      assert(correct == (pred == truth), s"query $q correct flag inconsistent")
      val neighborLabels = nn(q).toSeq.map(labels)
      assert(neighborLabels.contains(pred), s"query $q predicted a label none of its neighbors has")
      assert(votes >= 1 && votes <= Similarity.topK, s"query $q vote count $votes out of range")
      assert(votes == neighborLabels.count(_ == pred), s"query $q vote count wrong")
      // majority property: no other label out-votes the pick
      assert(votes == neighborLabels.groupBy(identity).values.map(_.size).max,
        s"query $q pick is not a max-vote label")
    }
  }

  test("trained PQ codebook cuts quantization error vs the prefix codebook") {
    val (m, dsub) = (Similarity.pqM, Similarity.pqDsub)
    val k = Similarity.pqKOf(Similarity.pqCodebook(spark, sf0001))
    val vecs = Similarity.normed(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("embedding")
        .cast("array<double>"), org.apache.spark.sql.functions.col("nrm"))
      .collect().map { r =>
        val nr = r.getDouble(1)
        r.getSeq[Double](0).toArray.map(_ / nr)
      }
    def sqErr(cb: Array[Double]): Double = {
      var total = 0.0
      for (x <- vecs; s <- 0 until m) {
        var best = Double.PositiveInfinity
        for (j <- 0 until k) {
          val base = (s * k + j) * dsub
          var acc = 0.0
          for (d <- 0 until dsub) { val diff = x(s * dsub + d) - cb(base + d); acc += diff * diff }
          if (acc < best) best = acc
        }
        total += best
      }
      total / vecs.length
    }
    val prefix = sqErr(Similarity.pqCodebook(spark, sf0001))
    val trained = sqErr(Similarity.pqCodebookTrained(spark, sf0001))
    assert(trained <= prefix,
      f"Lloyd training RAISED quantization error: $trained%.6f vs prefix $prefix%.6f")
  }
}
