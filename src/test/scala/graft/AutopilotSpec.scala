package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Autopilot, Curation, Dedup, TextAnalysis}

/** The autopilot drives a drifted-then-healed lifecycle end-to-end
  * through ONE entry point: health report → threshold → maintenance op
  * → healthy report → no-op on the next pass. Thresholds are evaluated
  * against exactly the metrics the oracled health queries emit. */
class AutopilotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def decisions(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
      r.getString(4), r.getBoolean(5))).toSeq

  test("IVF drift lifecycle: skew alarm -> retrain -> balanced -> no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("autopilot-ivf").toString
    def vec(id: Long, shift: Double): Seq[Float] =
      (0 until 64).map(d =>
        (math.sin(id * 0.7 + d * 1.3) * 0.5 + (if (d == 0) shift else 0.0)).toFloat)
    // seed blob around the origin; drifted landing batch far along e0
    (0L until 1000L).map(i => (i, vec(i, 0.0), (i % 10).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/seed/embeddings.parquet")
    (2000L until 3000L).map(i => (i, vec(i, 50.0), (i % 10).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/batch/embeddings.parquet")
    AnnIndex.ivfIndexWrite(spark, s"$tmp/seed", s"$tmp/idx")
    AnnIndex.ivfIndexAppend(spark, s"$tmp/batch", s"$tmp/idx")
    def skew(): Double = AnnIndex.ivfIndexHealth(spark, s"$tmp/idx").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap.apply("hot_list_skew")
    val drifted = skew()
    assert(drifted > 3.0, s"drift staging too weak: skew $drifted")
    // ONE entry point: alarm -> retrain over the index's corpus dirs
    val d1 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx",
      Seq(s"$tmp/seed", s"$tmp/batch"), hotListSkewMax = 3.0))
    assert(d1.exists { case (f, t, v, a, p) =>
      f == "ivf" && t == "hot_list_skew" && v == drifted && a == "retrain" && p },
      s"retrain did not fire: $d1")
    val healed = skew()
    assert(healed < 3.0, s"retrain did not re-balance: skew $drifted -> $healed")
    // serving still covers the whole corpus after the autopilot pass
    assert(spark.read.parquet(s"$tmp/idx/lists").select(col("vec_id"))
      .distinct().count() == 2000L)
    // second pass on the healed index: nothing fires
    val d2 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx",
      Seq(s"$tmp/seed", s"$tmp/batch"), hotListSkewMax = 3.0))
    assert(d2.forall(!_._5), s"autopilot acted on a healthy index: $d2")
  }

  test("text staleness lifecycle: frozen stats drift -> compact -> caught up -> no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("autopilot-text").toString
    def doc(i: Long) = (i, s"alpha beta w$i t${i % 7}", "en", "s")
    (1L to 100L).map(doc).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    // 40 appended docs: staleness share 0.4 over the frozen stats
    TextAnalysis.textIndexAppendBatch(spark,
      (101L to 140L).map(doc).toDF("doc_id", "text", "lang", "source"), s"$tmp/idx")
    def health(): Map[String, Double] = TextAnalysis.textIndexHealth(spark, s"$tmp/idx")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(health()("stats_staleness") == 40.0)
    val d1 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d1.exists { case (f, t, _, a, p) =>
      f == "text" && t == "stats_staleness_share" && a == "compact" && p },
      s"staleness compact did not fire: $d1")
    val h2 = health()
    assert(h2("stats_staleness") == 0.0 && h2("stats_n_docs") == 140.0,
      s"compact did not catch the statistics up: $h2")
    val d2 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d2.forall(!_._5), s"autopilot acted on a healthy text index: $d2")
  }

  test("decontam lifecycle: bloom saturation -> rebuild at fresh geometry -> no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("autopilot-bloom").toString
    // tiny seed eval set: the bloom is sized to max(1024, 2*shingles)
    def evalDoc(i: Long, tag: String) =
      (i, (0 until 20).map(w => s"$tag${i}w$w").mkString(" "), "en", "s")
    (1L to 4L).map(i => evalDoc(i * Curation.evalStride, "seed"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/eval/documents.parquet")
    Curation.decontamIndexWrite(spark, s"$tmp/eval", s"$tmp/idx")
    def sat(): Double = {
      val m = spark.read.parquet(s"$tmp/idx/bloom")
        .select(col("n_items"), col("total_items")).head()
      m.getLong(1).toDouble / m.getLong(0).toDouble
    }
    assert(sat() < 1.0, s"seed index must start below capacity: ${sat()}")
    // stream in far more eval shingles than the seed geometry holds:
    // the capacity accounting crosses 1.0 (the append path's warning)
    Curation.decontamIndexAppendBatch(spark,
      (1L to 100L).map(i => evalDoc(1000L + i, "batch")).toDF("doc_id", "text", "lang", "source")
        .select(col("doc_id"), col("text")), s"$tmp/idx")
    val saturated = sat()
    assert(saturated > 1.0, s"staging failed to saturate the bloom: $saturated")
    // ONE entry point: saturation alarm -> compact rebuilds the bloom
    // at fresh geometry (2x the surviving distinct shingles)
    val d1 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d1.exists { case (f, t, v, a, p) =>
      f == "decontam" && t == "bloom_saturation_share" && v == saturated &&
        a == "rebuild_bloom" && p }, s"bloom rebuild did not fire: $d1")
    assert(sat() <= 0.5 + 1e-9, s"rebuild did not refresh the geometry: ${sat()}")
    val d2 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d2.forall(!_._5), s"autopilot acted on a healthy decontam index: $d2")
  }

  test("pre-upgrade bloom (no total_items): reported as 'total unknown', not measured; rebuild upgrades") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("autopilot-legacy").toString
    def evalDoc(i: Long, tag: String) =
      (i, (0 until 20).map(w => s"$tag${i}w$w").mkString(" "), "en", "s")
    (1L to 4L).map(i => evalDoc(i * Curation.evalStride, "seed"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/eval/documents.parquet")
    Curation.decontamIndexWrite(spark, s"$tmp/eval", s"$tmp/idx")
    // strip total_items — the pre-upgrade schema, committed without
    // the bloom counters
    graft.ops.IndexMaintenance.replace(spark, s"$tmp/idx", Seq("bloom" ->
      spark.read.parquet(s"$tmp/idx/bloom").drop("total_items")))
    // the r11 fix under pin: the legacy row must not throw, and the
    // saturation decision must read as a lower bound ("total unknown"),
    // not as a measured exactly-full filter; at the default threshold
    // (1.0, strict >) it must not fire
    val d1 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    val satRow = d1.find(r => r._1 == "decontam" && r._2 == "bloom_saturation_share")
    assert(satRow.exists(r => r._3 == 1.0 &&
      r._4 == "rebuild_bloom_preupgrade_total_unknown" && !r._5),
      s"legacy bloom row not surfaced as pre-upgrade: $d1")
    // a caller alarming below 1.0 fires the rebuild — which WRITES the
    // upgraded row, so the flag clears after exactly one pass
    val d2 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx",
      bloomSaturationMax = 0.9))
    assert(d2.exists(r => r._2 == "bloom_saturation_share" &&
      r._4 == "rebuild_bloom_preupgrade_total_unknown" && r._5),
      s"sub-1.0 alarm did not fire on the pre-upgrade bloom: $d2")
    assert(spark.read.parquet(s"$tmp/idx/bloom")
      .schema.fieldNames.contains("total_items"), "rebuild did not upgrade the bloom row")
    val d3 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx",
      bloomSaturationMax = 0.9))
    assert(d3.forall(!_._5), s"autopilot acted after the upgrade pass: $d3")
    assert(d3.exists(r => r._2 == "bloom_saturation_share" && r._4 == "rebuild_bloom"),
      s"upgraded row still reports as pre-upgrade: $d3")
  }

  test("signature lifecycle: tombstone debt -> ingest compact -> no-op; dual-family dirs report both") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("autopilot-sig").toString
    (1L to 80L).map(i => (i, s"sig doc w$i x${i % 9} y${i % 13} z${i % 17}"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    Dedup.dedupIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    Dedup.dedupIndexDelete(spark, s"$tmp/idx", Seq(7L, 8L, 9L))
    val d1 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d1.exists { case (f, t, v, a, p) =>
      f == "signature" && t == "pending_tombstones" && v == 3.0 &&
        a == "compact" && p }, s"signature debt compact did not fire: $d1")
    assert(spark.read.parquet(s"$tmp/idx/simhash")
      .filter(col("doc_id").isin(7L, 8L, 9L)).count() == 0L,
      "compact did not drop the tombstoned signatures")
    val d2 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d2.forall(!_._5), s"autopilot acted on a healthy signature index: $d2")
    // a manifest-ingest index carries decontam AND signature layouts in
    // one dir: the autopilot evaluates both families in one pass
    (1L to 3L).map(i => (i * Curation.evalStride,
        (0 until 20).map(w => s"ev${i}w$w").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/eval/documents.parquet")
    Curation.decontamIndexWrite(spark, s"$tmp/eval", s"$tmp/idx")
    val d3 = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d3.map(_._1).toSet == Set("decontam", "signature"),
      s"dual-family dir must report both families: $d3")
  }

  test("maintenanceDue legs: wide appends don't fire, stamp debt does, memo tracks rewrites") {
    import spark.implicits._
    import graft.ops.{Autopilot, IndexMaintenance}
    val tmp = java.nio.file.Files.createTempDirectory("alarm-legs").toString
    IndexMaintenance.replace(spark, s"$tmp/idx",
      Seq("t" -> (1L to 40L).map(i => (i, i * 3)).toDF("id", "v")))
    // (a) ONE batch landing MANY files must not fire — the +40%
    // compact-per-trigger regression class (an append lands one file
    // per shuffle partition, 32 at the bench SF)
    IndexMaintenance.append(spark, s"$tmp/idx",
      Seq("t" -> (100L to 140L).map(i => (i, i * 3)).toDF("id", "v").repartition(20)),
      Some("wide" -> 0L))
    assert(!Autopilot.maintenanceDue(spark, Seq(s"$tmp/idx"), maxAppendedBatches = 3),
      "a single wide append fired the batch-debt leg — the file-count latch is back")
    // (b) more DISTINCT append stamps than the floor DOES fire
    for (b <- 1L to 3L)
      IndexMaintenance.append(spark, s"$tmp/idx",
        Seq("t" -> Seq((200L + b, b)).toDF("id", "v")), Some("wide" -> b))
    assert(Autopilot.maintenanceDue(spark, Seq(s"$tmp/idx"), maxAppendedBatches = 3),
      "4 un-absorbed batches above a floor of 3 did not fire the backstop")
    // (c) pending tombstones fire immediately and clear at compact
    val tmp2 = java.nio.file.Files.createTempDirectory("alarm-tomb").toString
    IndexMaintenance.replace(spark, tmp2, Seq("t" -> (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")))
    assert(!Autopilot.maintenanceDue(spark, Seq(tmp2)))
    IndexMaintenance.delete(spark, tmp2, Seq("t"), Seq(3L))
    assert(Autopilot.maintenanceDue(spark, Seq(tmp2)), "pending tombstone did not fire")
    IndexMaintenance.compact(spark, tmp2, "t", Seq("id"), Some("id"))
    assert(!Autopilot.maintenanceDue(spark, Seq(tmp2)), "alarm latched after the compact")
    // (d) bloom counters ride the log: a rewrite committed by another
    // writer moves the version, and the next probe reads its (saturated)
    // counters instead of serving a stale 0.x
    val tmp3 = java.nio.file.Files.createTempDirectory("alarm-bloom").toString
    (1L to 4L).map(i => (i * graft.ops.Curation.evalStride,
        (0 until 20).map(w => s"s${i}w$w").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp3/eval/documents.parquet")
    graft.ops.Curation.decontamIndexWrite(spark, s"$tmp3/eval", s"$tmp3/idx")
    assert(!Autopilot.maintenanceDue(spark, Seq(s"$tmp3/idx")),
      "fresh bloom reported saturated")
    // fabricate an external rewrite claiming saturation 2.0
    val meta = spark.read.parquet(s"$tmp3/idx/bloom").collect()(0)
    IndexMaintenance.replace(spark, s"$tmp3/idx", Seq("bloom" ->
      Seq((meta.getAs[Array[Byte]]("bloom"), meta.getLong(1), meta.getDouble(2),
        meta.getLong(1) * 2)).toDF("bloom", "n_items", "fpp", "total_items").coalesce(1)),
      Map("bloom.n_items" -> meta.getLong(1).toString,
        "bloom.total_items" -> (meta.getLong(1) * 2).toString))
    assert(Autopilot.maintenanceDue(spark, Seq(s"$tmp3/idx")),
      "external bloom rewrite served the stale memoized saturation")
  }

  test("tombstone debt compacts; unknown layouts fail loudly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("autopilot-ts").toString
    (1L to 50L).map(i => (i, s"gamma delta w$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/c/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    TextAnalysis.textIndexDelete(spark, s"$tmp/idx", Seq(3L, 4L))
    val d = decisions(Autopilot.indexAutopilot(spark, s"$tmp/idx"))
    assert(d.exists { case (_, t, v, a, p) =>
      t == "pending_tombstones" && v == 2.0 && a == "compact" && p }, s"$d")
    assert(TextAnalysis.textIndexHealth(spark, s"$tmp/idx").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
      .apply("pending_tombstones") == 0.0, "compact did not retire the tombstones")
    intercept[IllegalArgumentException](
      Autopilot.indexAutopilot(spark, s"$tmp/nothing-here"))
  }
}
