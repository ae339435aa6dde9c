package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Artifacts, Curation, Dedup, IndexMaintenance, Similarity, TextAnalysis}
import graft.streaming.TextIngest

/** What a crashed writer leaves behind — data files nobody committed,
  * next to the committed ones, older than the orphan retention — must
  * change no served, health or ingest result, and the next compaction
  * must delete it. Every index family, the ingest verdict sink, the
  * token ledger and the BPE model are covered; a version from another
  * writer lands in every log too. */
class OrphanFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  import scala.jdk.CollectionConverters._

  /** Every parquet data file under `dir` outside `_`/`.` entries. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.iterator().asScala.filter { p =>
      val rel = java.nio.file.Paths.get(dir).relativize(p).iterator().asScala.map(_.toString).toSeq
      java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        !rel.exists(n => n.startsWith("_") || n.startsWith("."))
    }.toList finally w.close()
  }

  /** A version from a writer in another process: a batch mark of its
    * own lineage, at the next free version. */
  private def foreignVersion(dir: String): Unit = {
    val log = java.nio.file.Paths.get(dir, "_log")
    java.nio.file.Files.createDirectories(log)
    val next = Option(log.toFile.list()).toSeq.flatten
      .filter(_.matches("""\d{20}\.json""")).map(_.take(20).toLong).maxOption.fold(0L)(_ + 1)
    java.nio.file.Files.write(log.resolve(f"$next%020d.json"),
      "{\"batch\":{\"lineage\":\"foreign\",\"id\":0}}\n".getBytes("UTF-8"))
  }

  test("orphan files: uncommitted copies change no served, health or ingest result; the next compaction deletes them") {
    val root = java.nio.file.Files.createTempDirectory("orphans").toString
    val manifestCorpus = ManifestFixture.corpusDir(spark)
    TextAnalysis.textIndexWrite(spark, sf0001, s"$root/text")
    Dedup.dedupIndexWrite(spark, sf0001, s"$root/dedup")
    AnnIndex.lshIndexWrite(spark, sf0001, s"$root/lsh")
    AnnIndex.ivfIndexWriteStride(spark, sf0001, s"$root/ivf")
    AnnIndex.ivfPqIndexWrite(spark, sf0001, s"$root/ivfpq")
    Curation.decontamIndexWrite(spark, sf0001, s"$root/decontam")
    Dedup.ingestManifestIndexInit(spark, s"$root/manifest", manifestCorpus)
    val docs = Tables(spark, manifestCorpus, "documents")
    Dedup.ingestManifestBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      s"$root/manifest", s"$root/sink", 0L)
    TextAnalysis.bpeModelWrite(spark, sf0001, s"$root/model")
    val merges = TextAnalysis.bpeModelMerges(spark, s"$root/model")
    val form = TextAnalysis.bpeModelApplyForm(spark, s"$root/model")
    val corpus = Tables(spark, sf0001, "documents")
    def ledgerRows(slice: Int) = Seq(TextIngest.ledgerTable -> TextAnalysis.bpeSourceCounts(
      corpus.filter(col("doc_id") % 2 === slice), merges, form).coalesce(1))
    IndexMaintenance.replace(spark, s"$root/ledger", ledgerRows(0))
    IndexMaintenance.append(spark, s"$root/ledger", ledgerRows(1), mark = Some("L" -> 0L))
    val dirs = Seq("text", "dedup", "lsh", "ivf", "ivfpq", "decontam", "manifest", "sink",
      "ledger", "model").map(d => s"$root/$d")
    val q = Similarity.normed(spark, sf0001).filter(col("vec_id") % 9 === 1)
      .select(col("vec_id").as("q_id"), col("embedding"))
    var probe = 0
    def results(): Seq[Seq[Row]] = {
      Artifacts.clear()
      probe += 1
      // an ingest trigger against the manifest index, into a fresh sink
      Dedup.ingestManifestBatch(spark, docs.filter(col("doc_id") % 3 === 2),
        s"$root/manifest", s"$root/probe-sink-$probe", 1L)
      Seq(
        TextAnalysis.textBm25Served(spark, s"$root/text"),
        TextAnalysis.textPhraseServed(spark, s"$root/text"),
        TextAnalysis.textIndexHealth(spark, s"$root/text"),
        Dedup.dedupIncrementalIndexed(spark, sf0001, s"$root/dedup"),
        AnnIndex.lshIndexServe(spark, s"$root/lsh", Seq(sf0001), q),
        AnnIndex.lshIndexHealth(spark, s"$root/lsh"),
        AnnIndex.ivfIndexServe(spark, s"$root/ivf", Seq(sf0001), q, probeOverride = Some(2)),
        AnnIndex.ivfIndexHealth(spark, s"$root/ivf"),
        AnnIndex.ivfPqIndexServe(spark, s"$root/ivfpq", Seq(sf0001), q),
        Curation.decontamServeTwoTier(spark, s"$root/decontam", sf0001),
        Dedup.cleanStore(spark, s"$root/manifest"),
        spark.read.parquet(s"$root/probe-sink-$probe"),
        TextIngest.ledgerTotals(spark, s"$root/ledger"),
        TextIngest.ledgerHealth(spark, s"$root/ledger"),
        TextAnalysis.textBpeEncodeServed(spark, sf0001, s"$root/model")
      ).map(_.collect().toSeq.sortBy(_.toString))
    }
    // rows of the metrics that describe a directory's layout, not its content
    def without(metrics: String*)(rs: Seq[Seq[Row]]) =
      rs.map(_.filterNot(r => metrics.contains(r.get(0))))
    val before = results()
    val sink = spark.read.parquet(s"$root/sink").collect().toSeq.sortBy(_.toString)
    dirs.foreach { d =>
      dataFiles(d).foreach(p => MaintenanceSpec.age(
        java.nio.file.Files.copy(p, p.resolveSibling(s"orphan-${p.getFileName}"))))
      foreignVersion(d)
    }
    val planted = results()
    assert(without("covered_garbage")(planted) == without("covered_garbage")(before),
      "uncommitted files changed a served, health or ingest result")
    // the ledger's garbage metric reports exactly the aged orphans its rollup deletes
    assert(planted.flatten.filter(_.get(0) == "covered_garbage").map(_.getDouble(1)) ==
      Seq(dataFiles(s"$root/ledger").count(_.getFileName.toString.startsWith("orphan-")).toDouble))
    TextAnalysis.textIndexCompact(spark, s"$root/text")
    Dedup.dedupIndexCompact(spark, s"$root/dedup")
    AnnIndex.lshIndexCompact(spark, s"$root/lsh")
    AnnIndex.ivfIndexCompact(spark, s"$root/ivf")
    AnnIndex.ivfPqIndexCompact(spark, s"$root/ivfpq")
    Curation.decontamIndexCompact(spark, s"$root/decontam")
    Dedup.ingestIndexCompact(spark, s"$root/manifest")
    Dedup.ingestSinkCompact(spark, s"$root/sink")
    TextIngest.ledgerRollup(spark, s"$root/ledger")
    TextAnalysis.bpeModelWrite(spark, sf0001, s"$root/model")
    val left = dirs.flatMap(dataFiles).filter(_.getFileName.toString.startsWith("orphan-"))
    assert(left.isEmpty, s"compaction left orphans: ${left.mkString(", ")}")
    val after = results()
    // file counts and the ledger's layout legitimately move with the
    // compactions and the rollup
    val layout = without("data_files", "live_parts", "unrolled_batches", "rollup_hwm",
      "covered_garbage") _
    assert(layout(after) == layout(before), "compaction changed a served result")
    assert(spark.read.parquet(s"$root/sink").collect().toSeq.sortBy(_.toString) == sink,
      "the compacted sink is not its committed rows")
  }
}
