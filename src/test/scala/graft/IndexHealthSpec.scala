package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, IndexMaintenance, TextAnalysis}

/** The index-health reports surface exactly the operational debts the
  * round-8 experiments identified: list skew (the drift alarm),
  * tombstone debt, stats staleness (the Lucene gap), file debt. */
class IndexHealthSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  private def metricsOf(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("text index health: append opens the stats-staleness gap, compact closes it; deletes show as debt") {
    val tmp = java.nio.file.Files.createTempDirectory("text-health").toString
    val docs = Tables(spark, sf0001, "documents")
    docs.filter(col("doc_id") % 3 =!= 1)
      .write.mode("overwrite").parquet(s"$tmp/seed/documents.parquet")
    TextAnalysis.textIndexWrite(spark, s"$tmp/seed", s"$tmp/idx")
    val fresh = metricsOf(TextAnalysis.textIndexHealth(spark, s"$tmp/idx"))
    assert(fresh("stats_staleness") == 0.0 && fresh("pending_tombstones") == 0.0)
    assert(fresh("n_docs_indexed") == fresh("stats_n_docs"))
    // append WITHOUT compacting: global stats stay frozen — the health
    // report is where a deployment sees the gap
    TextAnalysis.textIndexAppendBatch(spark,
      docs.filter(col("doc_id") % 3 === 1), s"$tmp/idx", mark = Some("h" -> 1L))
    val grown = metricsOf(TextAnalysis.textIndexHealth(spark, s"$tmp/idx"))
    assert(grown("stats_staleness") > 0.0, "append did not open the staleness gap")
    assert(grown("n_docs_indexed") ==
      grown("stats_n_docs") + grown("stats_staleness"))
    assert(grown("n_postings") > fresh("n_postings"))
    // a takedown shows as pending debt until the compact clears both
    val victim = spark.read.parquet(s"$tmp/idx/doclen")
      .select(col("doc_id")).head().getLong(0)
    TextAnalysis.textIndexDelete(spark, s"$tmp/idx", Seq(victim))
    val deleted = metricsOf(TextAnalysis.textIndexHealth(spark, s"$tmp/idx"))
    assert(deleted("pending_tombstones") == 1.0)
    assert(deleted("n_docs_indexed") == grown("n_docs_indexed") - 1)
    TextAnalysis.textIndexCompact(spark, s"$tmp/idx")
    val compacted = metricsOf(TextAnalysis.textIndexHealth(spark, s"$tmp/idx"))
    assert(compacted("stats_staleness") == 0.0 && compacted("pending_tombstones") == 0.0)
    assert(compacted("n_docs_indexed") == deleted("n_docs_indexed"))
  }

  test("IVF index health: a crowded corpus raises the skew alarm, a spread one stays quiet; tombstone debt is visible") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivf-health").toString
    // corpus whose mass crowds a cone around direction 0 (with
    // deterministic per-vector wobble) while the stride centroids sit
    // mostly in spread directions: one list takes nearly everything —
    // a drift geometry in miniature
    val dims = graft.ops.Similarity.embDims
    val rows = (0L until 600L).map { i =>
      val v = Array.fill(dims)(0.001f)
      if (i % 100 == 1 && i > 100) v(((i / 100) % dims).toInt) = 1.0f // spread centroids
      else {
        v(0) = 1.0f
        v(1 + (i % 7).toInt) = (0.2f + (i % 13) * 0.02f)
      }
      (i, v, i % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/c/embeddings.parquet")
    AnnIndex.ivfIndexWriteStride(spark, s"$tmp/c", s"$tmp/idx")
    val h = metricsOf(AnnIndex.ivfIndexHealth(spark, s"$tmp/idx"))
    assert(h("n_vectors") == 600.0)
    assert(h("hot_list_skew") > 2.0,
      s"crowded corpus must raise the skew alarm: ${h("hot_list_skew")}")
    assert(h("top5_list_mass") > 0.9)
    assert(h("data_files") >= 1.0)
    // ...and stays quiet on a spread corpus: the real testdata
    // embeddings are near-orthogonal, so the stride lists are balanced
    // (the retrain-restores-balance half is pinned by IndexRetrainSpec's
    // drift arm)
    val balIdx = java.nio.file.Files.createTempDirectory("ivf-health-bal").toString
    AnnIndex.ivfIndexWriteStride(spark, sf0001, balIdx)
    val hb = metricsOf(AnnIndex.ivfIndexHealth(spark, balIdx))
    assert(hb("hot_list_skew") < 2.0,
      s"balanced corpus must not alarm: ${hb("hot_list_skew")}")
    // tombstone debt is visible and consistent
    val victims = spark.read.parquet(s"$tmp/idx/lists")
      .select(col("vec_id")).limit(10).collect().map(_.getLong(0)).toSeq
    AnnIndex.ivfIndexDelete(spark, s"$tmp/idx", victims)
    val hd = metricsOf(AnnIndex.ivfIndexHealth(spark, s"$tmp/idx"))
    assert(hd("pending_tombstones") == victims.distinct.size.toDouble)
    assert(hd("n_vectors") == 600.0 - victims.distinct.size)
  }

  test("LSH index health: bucket-row accounting and takedown debt are consistent") {
    val tmp = java.nio.file.Files.createTempDirectory("lsh-health").toString
    val emb = Tables(spark, sf0001, "embeddings")
    emb.write.mode("overwrite").parquet(s"$tmp/c/embeddings.parquet")
    AnnIndex.lshIndexWrite(spark, s"$tmp/c", s"$tmp/idx")
    val h = metricsOf(AnnIndex.lshIndexHealth(spark, s"$tmp/idx"))
    // every vector lands in exactly one bucket per table
    assert(h("n_bucket_rows") == h("n_vectors") * h("n_tables"))
    assert(h("hot_bucket_skew") >= 1.0 && h("top5_bucket_mass") <= 1.0)
    val victims = spark.read.parquet(s"$tmp/idx/buckets")
      .select(col("vec_id")).distinct().limit(7).collect().map(_.getLong(0)).toSeq
    AnnIndex.lshIndexDelete(spark, s"$tmp/idx", victims)
    val hd = metricsOf(AnnIndex.lshIndexHealth(spark, s"$tmp/idx"))
    assert(hd("pending_tombstones") == victims.size.toDouble)
    assert(hd("n_vectors") == h("n_vectors") - victims.size)
    assert(hd("n_bucket_rows") == hd("n_vectors") * hd("n_tables"))
  }
}
