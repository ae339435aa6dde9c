package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Similarity}

/** The persisted ANN indexes: the registered keys' standing indexes
  * against fresh builds and join-form references, external-query
  * serving, and landing-zone append semantics. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  private def shape(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))

  test("persisted index serves the stride query set byte-identically to sim_lsh_ann") {
    // the registered key reads the standing (write-once) temp-dir index;
    // a FRESH lshIndexWrite of the same corpus must serve the same bytes,
    // so the build-once memo never serves a stale or differently-built
    // index
    val registered = SparkEntry.queries("sim_lsh_ann")(spark, sf0001).collect().map(shape).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("ann-fresh")
    AnnIndex.lshIndexWrite(spark, sf0001, s"$tmp/index")
    val fresh = AnnIndex.lshIndexServe(spark, s"$tmp/index", Seq(sf0001),
      AnnReference.strideQueries(spark, sf0001)).collect().map(shape).toSeq
    assert(registered.nonEmpty && registered === fresh,
      "the standing sim_lsh_ann index diverged from a fresh build")
  }

  test("append hashes a landing batch with the INDEX's thresholds, and serving sees it") {
    val tmp = java.nio.file.Files.createTempDirectory("ann-append")
    val emb = Tables(spark, sf0001, "embeddings")
    // physically split the corpus: ~90% standing corpus, ~10% landing batch
    emb.filter(col("vec_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpus/embeddings.parquet")
    emb.filter(col("vec_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$tmp/batch/embeddings.parquet")
    AnnIndex.lshIndexWrite(spark, s"$tmp/corpus", s"$tmp/index")
    AnnIndex.lshIndexAppend(spark, s"$tmp/batch", s"$tmp/index")

    // 1. the appended bucket table holds exactly corpus ∪ batch vectors,
    //    each hashed with the index's persisted thresholds
    val bucketRows = spark.read.parquet(s"$tmp/index/buckets")
    val ids = bucketRows.select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    val allIds = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids === allIds, "appended index does not cover corpus ∪ batch")
    val perVec = bucketRows.groupBy(col("vec_id")).count()
      .select(col("count")).distinct().collect().map(_.getLong(0)).toSeq
    assert(perVec === Seq(Similarity.lshTables.toLong),
      s"every vector must land in exactly one bucket per table, got $perVec")

    // 2. a batch vector queried against the appended index finds ITSELF
    //    excluded but its corpus neighbors served: recall vs brute force
    //    over the union stays at the in-session path's level
    val queries = Similarity.normed(spark, sf0001)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val served = AnnIndex.lshIndexServe(spark, s"$tmp/index",
      Seq(s"$tmp/corpus", s"$tmp/batch"), queries).collect().map(shape)
    assert(served.nonEmpty, "appended index served nothing")
    val got = served.map(t => (t._1, t._3)).toSet
    val exact = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, f"appended-index recall $recall%.3f below the 0.6 floor")
    // self-pairs never serve
    assert(served.forall(t => t._1 != t._3), "served a query to itself")
  }

  test("persisted IVF index serves byte-identically to the in-session auto path") {
    // on sf0001 the mass-budgeted probe count floors at the pinned
    // nProbe and the centroids round-trip parquet exactly, so the
    // registered sim_ivf_topk_auto serve must equal the join-form
    // reference over the memoized trained centroids byte for byte
    val served = SparkEntry.queries("sim_ivf_topk_auto")(spark, sf0001).collect().map(shape).toSeq
    val reference = AnnReference.ivfJoin(spark, sf0001,
      Similarity.trainedCentroidsOf(spark, sf0001), Similarity.nProbe).collect().map(shape).toSeq
    assert(served.nonEmpty && served === reference,
      "persisted-IVF serving diverged from the join-form trained reference")
  }

  test("IVF append assigns a landing batch with the persisted quantizer") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf-append")
    val emb = Tables(spark, sf0001, "embeddings")
    emb.filter(col("vec_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpus/embeddings.parquet")
    emb.filter(col("vec_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$tmp/batch/embeddings.parquet")
    AnnIndex.ivfIndexWrite(spark, s"$tmp/corpus", s"$tmp/index")
    AnnIndex.ivfIndexAppend(spark, s"$tmp/batch", s"$tmp/index")
    val lists = spark.read.parquet(s"$tmp/index/lists")
    val ids = lists.select(col("vec_id")).distinct().count()
    val all = Similarity.normed(spark, s"$tmp/corpus").count() +
      Similarity.normed(spark, s"$tmp/batch").count()
    assert(ids == all, s"appended IVF lists cover $ids of $all vectors")
    assert(lists.count() == all, "a vector must live in exactly ONE inverted list")
    // serving over the appended index still finds real neighbors
    val queries = Similarity.normed(spark, sf0001)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val served = AnnIndex.ivfIndexServe(spark, s"$tmp/index",
      Seq(s"$tmp/corpus", s"$tmp/batch"), queries).collect().map(shape)
    assert(served.nonEmpty && served.forall(t => t._1 != t._3),
      "appended-IVF serving empty or served a self-pair")
  }

  test("persisted IVF-PQ index serves byte-identically to the in-session composed path") {
    // centroids AND the codebook round-trip parquet exactly (doubles),
    // the persisted code rows equal an in-memory pq_codes projection,
    // probe counts agree at sf0001 (both floor at nProbe), and the ADC
    // kernel + exact rescore are shared — so the registered serve must
    // equal the composition over the memoized quantizers, computed here
    val served = SparkEntry.queries("sim_ivfpq_topk")(spark, sf0001).collect().map(shape).toSeq
    val rows = Tables(spark, sf0001, "embeddings").count().toDouble
    val n = Similarity.normed(spark, sf0001)
    val cent = Similarity.trainedCentroidsOf(spark, sf0001)
    val cb = Similarity.pqCodebook(spark, sf0001)
    val composed = Similarity.ivfPqOver(cent, cb, Similarity.ivfPqAssign(cent, cb, n),
      n.filter(col("vec_id") % Similarity.queryStride === 0), n, rows / Similarity.centroidStride)
      .collect().map(shape).toSeq
    assert(served.nonEmpty && served === composed,
      "persisted IVF-PQ serving diverged from the in-memory composition")
  }

  test("IVF-PQ append encodes a landing batch with the FROZEN quantizer and codebook") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-append")
    val emb = Tables(spark, sf0001, "embeddings")
    emb.filter(col("vec_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpus/embeddings.parquet")
    emb.filter(col("vec_id") % 10 === 0)
      .write.mode("overwrite").parquet(s"$tmp/batch/embeddings.parquet")
    AnnIndex.ivfPqIndexWrite(spark, s"$tmp/corpus", s"$tmp/index")
    val cbBefore = spark.read.parquet(s"$tmp/index/codebook").head().getSeq[Double](0)
    AnnIndex.ivfPqIndexAppend(spark, s"$tmp/batch", s"$tmp/index")
    assert(spark.read.parquet(s"$tmp/index/codebook").head().getSeq[Double](0) === cbBefore,
      "append must not retrain the codebook")
    val lists = spark.read.parquet(s"$tmp/index/lists")
    val all = Similarity.normed(spark, s"$tmp/corpus").count() +
      Similarity.normed(spark, s"$tmp/batch").count()
    assert(lists.count() == all && lists.select(col("vec_id")).distinct().count() == all,
      "a vector must live in exactly ONE inverted list after append")
    // code rows are 8 small ints, never embeddings
    val firstCodes = lists.select(col("codes")).head().getSeq[Int](0)
    assert(firstCodes.length == Similarity.pqM, "persisted codes are not pqM-wide")
    val served = AnnIndex.ivfPqIndexServe(spark, s"$tmp/index",
      Seq(s"$tmp/corpus", s"$tmp/batch"),
      Similarity.normed(spark, sf0001)
        .filter(col("vec_id") % Similarity.queryStride === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))).collect().map(shape)
    assert(served.nonEmpty && served.forall(t => t._1 != t._3),
      "appended IVF-PQ serving empty or served a self-pair")
  }

  test("compaction merges landing-zone small files; serving is identical before/after") {
    val tmp = java.nio.file.Files.createTempDirectory("ann-compact")
    val emb = Tables(spark, sf0001, "embeddings")
    // standing corpus (3/4 of ids — must include vec_id ≡ 1 (mod 100),
    // the stride quantizer's centroid seeds) + three landing batches
    emb.filter(col("vec_id") % 4 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/corpus/embeddings.parquet")
    for (b <- 1 to 3)
      emb.filter(col("vec_id") % 4 === 0 && (col("vec_id") / 4) % 3 === b - 1)
        .write.mode("overwrite").parquet(s"$tmp/b$b/embeddings.parquet")
    AnnIndex.lshIndexWrite(spark, s"$tmp/corpus", s"$tmp/index")
    for (b <- 1 to 3) AnnIndex.lshIndexAppend(spark, s"$tmp/b$b", s"$tmp/index")
    val corpusDirs = Seq(s"$tmp/corpus", s"$tmp/b1", s"$tmp/b2", s"$tmp/b3")
    val queries = Similarity.normed(spark, sf0001)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val before = AnnIndex.lshIndexServe(spark, s"$tmp/index", corpusDirs, queries)
      .collect().map(shape).toSeq
    val (nBefore, nAfter) = AnnIndex.lshIndexCompact(spark, s"$tmp/index")
    assert(nBefore > nAfter && nAfter >= 1,
      s"compaction did not reduce the file count ($nBefore -> $nAfter)")
    val after = AnnIndex.lshIndexServe(spark, s"$tmp/index", corpusDirs, queries)
      .collect().map(shape).toSeq
    assert(before.nonEmpty && after === before,
      "serving changed across compaction — content was not preserved")
    assert(spark.read.parquet(s"$tmp/index/buckets").count() ==
      emb.count() * Similarity.lshTables,
      "compaction changed the bucket row count")

    // same contract for the IVF-PQ code lists
    AnnIndex.ivfPqIndexWrite(spark, s"$tmp/corpus", s"$tmp/pqindex")
    for (b <- 1 to 3) AnnIndex.ivfPqIndexAppend(spark, s"$tmp/b$b", s"$tmp/pqindex")
    val pqBefore = AnnIndex.ivfPqIndexServe(spark, s"$tmp/pqindex", corpusDirs, queries)
      .collect().map(shape).toSeq
    val (pb, pa) = AnnIndex.ivfPqIndexCompact(spark, s"$tmp/pqindex")
    assert(pb > pa, s"IVF-PQ compaction did not reduce files ($pb -> $pa)")
    val pqAfter = AnnIndex.ivfPqIndexServe(spark, s"$tmp/pqindex", corpusDirs, queries)
      .collect().map(shape).toSeq
    assert(pqBefore.nonEmpty && pqAfter === pqBefore,
      "IVF-PQ serving changed across compaction")
  }

  test("filtered ANN equals an equi-join reference over the label slice, byte for byte") {
    // reference: expand candidate pairs via the equi-join over the
    // persisted index's bucket table (as in DedupSimilaritySpec's
    // tiled-scoring reference), restrict MEMBERS
    // to the label slice, score, rank — filtered serving must match
    // exactly, because tiling is rank-exact over whatever candidate set
    // enters the cells
    val buckets = graft.ops.IndexMaintenance.read(spark, AnnIndex.lshIndexFor(spark, sf0001), "buckets")
    val sliceIds = Tables(spark, sf0001, "embeddings")
      .filter(col("label") === Similarity.annFilterLabel).select(col("vec_id"))
    val reference = AnnReference.lshJoin(spark, sf0001, buckets, Similarity.lshBits, Some(sliceIds))
      .collect().map(shape).toSeq
    val filtered = AnnIndex.simLshAnnFiltered(spark, sf0001).collect().map(shape).toSeq
    assert(filtered.nonEmpty && filtered === reference,
      "filtered serving diverged from the label-sliced equi-join reference")

    // NOT a post-hoc filter of the unfiltered top-k: the slice ranking
    // digs past it, so some served pair must be absent from it
    val unfiltered = AnnIndex.simLshAnnServed(spark, sf0001).collect().map(shape)
      .map(t => (t._1, t._3)).toSet
    assert(filtered.exists(t => !unfiltered.contains((t._1, t._3))),
      "filtered result is a subset of the unfiltered top-k — post-filter semantics")
  }

  test("the filtered member predicate is pushed into the parquet scan") {
    val plan = AnnIndex.simLshAnnFiltered(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"EqualTo(label,${Similarity.annFilterLabel})"),
      "label predicate not pushed to the embeddings member scan:\n" +
        plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("external queries with fresh ids serve exact cosines from the index") {
    // queries NOT in the corpus (ids offset far past the id space, vectors
    // perturbed): every served cosine must bit-equal a driver recompute
    val tmp = java.nio.file.Files.createTempDirectory("ann-external")
    AnnIndex.lshIndexWrite(spark, sf0001, s"$tmp/index")
    val queries = Similarity.normed(spark, sf0001)
      .filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + lit(1000000L)).as("q_id"),
        // shift one coordinate so the query is genuinely external
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.25f)).otherwise(x)).as("embedding"))
    val served = AnnIndex.lshIndexServe(spark, s"$tmp/index", Seq(sf0001), queries)
      .collect().map(shape)
    assert(served.nonEmpty, "external queries served nothing")
    val vecs = Similarity.normed(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getDouble(2))).toMap
    val qvecs = queries.withColumn("nrm",
        sqrt(graft.plans.VectorFunctions.vec_dot(col("embedding"), col("embedding"))))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getDouble(2))).toMap
    val bad = served.count { case (q, _, c, cos) =>
      val (qv, qn) = qvecs(q)
      val (cv, cn) = vecs(c)
      var acc = 0.0
      var d = 0
      while (d < qv.length) { acc += qv(d).toDouble * cv(d).toDouble; d += 1 }
      acc / (qn * cn) != cos
    }
    assert(bad == 0, s"$bad served cosines differ from driver recompute")
  }

  test("stride twins: persisted-index serve == the oracled scan form; filter restricts members") {
    // the shared oracle made executable at spec scale: the serve
    // composition (persisted stride index, fixed probes) behind
    // sim_ivf_topk and its served twin equals the join-form reference
    // over the stride centroids, and the filtered twin's candidates all
    // come from the label slice while its queries stay unrestricted
    val servedStride = AnnIndex.simIvfTopkServedStride(spark, sf0001)
      .collect().map(shape).toSeq
    val registered = SparkEntry.queries("sim_ivf_topk")(spark, sf0001).collect().map(shape).toSeq
    val scan = AnnReference.ivfJoin(spark, sf0001,
      Similarity.centroidsOf(Similarity.normed(spark, sf0001)), Similarity.nProbe)
      .collect().map(shape).toSeq
    assert(servedStride.nonEmpty && servedStride === scan && registered === scan,
      "stride serve twin diverged from the join-form stride reference")
    val filtered = AnnIndex.simIvfTopkFilteredStride(spark, sf0001).collect()
    assert(filtered.nonEmpty, "filtered stride twin returned nothing (vacuous)")
    val slice = Tables(spark, sf0001, "embeddings")
      .filter(org.apache.spark.sql.functions.col("label") === Similarity.annFilterLabel)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(filtered.forall(r => slice.contains(r.getLong(2))),
      "filtered stride twin served an out-of-slice candidate")
  }

  test("probed-cell pushdown: c_id-sorted lists read under half the bytes of hash-scattered ones; pushed serve == full serve") {
    import graft.ops.{Artifacts, IndexMaintenance}
    val tmp = java.nio.file.Files.createTempDirectory("ivf-prune").toString
    // 200k pseudo-noise vectors in 4 files: the fresh list table is the
    // assignment output, so every row group spans the whole c_id range
    // (8 dimensions keep the stride assignment cheap; lists hold ids only)
    spark.range(200000).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(8)), d => TestSpark.noise(col("id"), d).cast("float"))
          .as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
      .repartition(4).write.parquet(s"$tmp/c/embeddings.parquet")
    val idx = s"$tmp/idx"
    // production row-group geometry: at the 128 MB default each list
    // file is ONE row group and nothing can be skipped
    val hconf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("parquet.block.size" -> 256 * 1024, "parquet.page.size" -> 64 * 1024)
    val olds = keys.map { case (k, _) => k -> Option(hconf.get(k)) }
    try {
      keys.foreach { case (k, v) => hconf.setInt(k, v) }
      AnnIndex.ivfIndexWriteStride(spark, s"$tmp/c", idx)
      // the point-lookup shape: two queries at the pinned nProbe probe a
      // handful of the 2,000 lists
      val q = Similarity.normed(spark, s"$tmp/c")
        .filter(col("vec_id") % 100000 === 7)
        .select(col("vec_id").as("q_id"), col("embedding"))
      // each query's nProbe nearest centroids by cosine (c_id tie-break)
      val cents = spark.read.parquet(s"$idx/centroids")
        .select(col("c_id"), col("c_emb").cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      def cos(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
      val cells = q.select(col("embedding").cast("array<double>")).collect().flatMap { r =>
        val e = r.getSeq[Double](0)
        cents.sortBy { case (c, v) => (-cos(e, v), c) }.take(Similarity.nProbe).map(_._1)
      }.distinct
      // the list read of the pushed serve, measured alone (the serve's
      // member join reads the whole embeddings table)
      def listBytes(): Long = TestSpark.inputRead(_.bytesRead) {
        IndexMaintenance.scan(spark, idx, "lists", "vec_id")
          .filter(col("c_id").isin(cells: _*))
          .agg(sum(col("vec_id") + col("c_id"))).collect(); ()
      }
      val scattered = listBytes()
      AnnIndex.ivfIndexCompact(spark, idx)
      val sorted = listBytes()
      info(s"${cells.length} probed lists: hash-scattered read $scattered B, c_id-sorted $sorted B")
      assert(cells.nonEmpty && sorted > 0 && sorted < scattered / 2,
        s"c_id sort did not enable pruning: sorted+push $sorted B vs unsorted+push $scattered B")
      def serve(push: Boolean) = {
        Artifacts.invalidate(spark, s"$idx|")
        AnnIndex.ivfIndexServe(spark, idx, Seq(s"$tmp/c"), q, pushProbedCells = push)
          .collect().map(shape).toSeq
      }
      val pushed = serve(push = true)
      assert(pushed.nonEmpty && pushed === serve(push = false),
        "probed-cell pushdown changed the serve result")
    } finally olds.foreach { case (k, o) => o.fold(hconf.unset(k))(hconf.set(k, _)) }
  }

  test("persisted LSH thresholds are each plane's mean projection over the corpus") {
    // the learned part of the index, recomputed independently: every
    // plane's projection as a plain left-fold HOF (not the fused
    // lsh_projections kernel), averaged over the corpus the index was
    // built from — the persisted doubles must match exactly
    val (tables, bits) = (Similarity.lshTables, Similarity.lshBits)
    val planes = Similarity.hyperplanesFor(tables, bits)
    val d = Similarity.embDims
    val want = Tables(spark, sf0001, "embeddings").select((0 until tables * bits).map { p =>
        val plane = lit(planes.slice(p * d, (p + 1) * d))
        avg(aggregate(sequence(lit(1), lit(d)), lit(0.0), (acc, i) =>
          acc + element_at(col("embedding"), i).cast("double") * element_at(plane, i)))
      }: _*).head().toSeq.map(_.asInstanceOf[Double])
    val meta = graft.ops.IndexMaintenance.read(spark, AnnIndex.lshIndexFor(spark, sf0001), "meta").head()
    val thr = meta.getSeq[Double](meta.fieldIndex("thr"))
    assert(want.exists(_ != 0.0), "vacuous: every recomputed threshold is 0")
    assert(thr === want, "persisted thresholds are not the per-plane corpus-mean projections")
  }

  test("LSH geometry is a log fact: build, append, compaction and retrain keep it; " +
      "a serve over a log without it fails loudly") {
    import graft.ops.IndexMaintenance
    val tmp = java.nio.file.Files.createTempDirectory("ann-geometry")
    val idx = s"$tmp/index"
    AnnIndex.lshIndexWrite(spark, sf0001, idx, tables = 3, bits = 5)
    def facts = {
      val p = IndexMaintenance.snapshot(spark, idx).props
      (p.get("meta.tables"), p.get("meta.bits"))
    }
    assert(facts == (Some("3"), Some("5")), s"build committed geometry facts $facts")
    val meta = IndexMaintenance.read(spark, idx, "meta").select(col("tables"), col("bits")).head()
    assert((meta.getInt(0), meta.getInt(1)) == (3, 5), "the facts must restate the meta row")
    AnnIndex.lshIndexAppend(spark, sf0001, idx)
    IndexMaintenance.compact(spark, idx, "buckets", Seq("tbl", "bucket"), Some("vec_id"))
    AnnIndex.lshIndexRetrain(spark, idx, Seq(sf0001))
    assert(facts == (Some("3"), Some("5")), s"append, compaction and retrain left $facts")
    val queries = AnnReference.strideQueries(spark, sf0001)
    assert(AnnIndex.lshIndexServe(spark, idx, Seq(sf0001), queries).count() > 0)
    // a log version that retracts the fact (an empty prop value removes it)
    IndexMaintenance.transact(spark, idx)(_ =>
      IndexMaintenance.Change(props = Map("meta.bits" -> "")))
    val e = intercept[IllegalStateException](AnnIndex.lshIndexServe(spark, idx, Seq(sf0001), queries))
    assert(e.getMessage.contains("meta.bits"), e.getMessage)
  }
}
