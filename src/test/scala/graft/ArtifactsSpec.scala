package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.{AnnIndex, Artifacts, Curation, IndexMaintenance, Retrieval, Similarity}

/** Lifecycle pins of the one artifact and memo registry: what `clear()`
  * releases, that a corpus swap followed by `clear()` leaves no stale
  * derived state behind, and that re-building one key never grows it. */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  /** A small corpus: `documents` (eval-stride docs included) plus
    * 64-dim `embeddings`, both a pure function of `seed`. */
  private def writeCorpus(dir: String, seed: Int): Unit = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val words = (0 until 40).map(w => s"w${seed}x$w")
    (0L until 120L).map { i =>
      (i, Seq.fill(12 + (i % 7).toInt)(words(rnd.nextInt(words.size))).mkString(" "), "en", "s")
    }.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0L until 120L).map(i => (i, Array.fill(Similarity.embDims)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def near(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-9 }

  test("clear() unpersists a generation-keyed hybrid rank frame") {
    val dir = java.nio.file.Files.createTempDirectory("artifacts-leak").toString
    writeCorpus(dir, 1)
    assert(Retrieval.searchHybridRrfServed(spark, dir).count() > 0)
    // the serve's semantic ranks, fetched back through the registry
    // (a hit: the build must not run)
    val sem = Artifacts.frameAtGeneration(spark,
      IndexMaintenance.snapshot(spark, AnnIndex.lshIndexFor(spark, dir)),
      s"hybrid-sem-ranks|$dir")(fail("the hybrid serve did not memoise its semantic ranks"))
    assert(sem.storageLevel != StorageLevel.NONE,
      "the generation-keyed rank frame is not in the cache manager")
    Artifacts.clear()
    assert(sem.storageLevel == StorageLevel.NONE,
      "clear() dropped the rank frame without unpersisting it")
  }

  test("corpus swap + clear(): codebooks, eval bloom and table reads follow the new files") {
    val dir = java.nio.file.Files.createTempDirectory("artifacts-swap").toString
    val fresh = java.nio.file.Files.createTempDirectory("artifacts-fresh").toString
    def rows(d: String) = Tables(spark, d, "documents").orderBy(col("doc_id"))
      .collect().map(_.toSeq).toSeq
    // the eval bloom of the standing decontamination index built over `d`
    def indexBloom(d: String) = Curation.loadBloom(spark, Curation.decontamIndexFor(spark, d))
    writeCorpus(dir, 1)
    val before = (Similarity.pqCodebook(spark, dir),
      Similarity.pqCodebookTrained(spark, dir, iters = 2),
      indexBloom(dir),
      rows(dir))
    // replace the corpus files at the SAME path, then the swap call
    writeCorpus(dir, 2)
    writeCorpus(fresh, 2)
    Artifacts.clear()
    assert(!near(Similarity.pqCodebook(spark, dir), before._1), "the swap is vacuous")
    assert(Similarity.pqCodebook(spark, dir) sameElements Similarity.pqCodebook(spark, fresh),
      "pqCodebook still serves the pre-swap codebook")
    assert(near(Similarity.pqCodebookTrained(spark, dir, iters = 2),
        Similarity.pqCodebookTrained(spark, fresh, iters = 2)),
      "pqCodebookTrained still serves the pre-swap codebook")
    assert(!near(Similarity.pqCodebookTrained(spark, dir, iters = 2), before._2))
    assert(indexBloom(dir) == indexBloom(fresh),
      "the decontamination index still serves the pre-swap bloom")
    assert(indexBloom(dir) != before._3)
    assert(rows(dir) == rows(fresh), "Tables still reads the pre-swap file listing")
    assert(rows(dir) != before._4)
  }

  test("registry growth: five build/clear cycles of one key leave at most one entry") {
    val key = s"ArtifactsSpec.growth|$sf0001"
    val built = (1 to 5).map { _ =>
      val d = Artifacts.tempDir(key)(
        java.nio.file.Files.createTempDirectory("artifacts-growth").toString)
      assert(Artifacts.tempDir(key)(fail("a standing entry was rebuilt")) == d)
      Artifacts.clear()
      d
    }
    Artifacts.tempDir(key)(java.nio.file.Files.createTempDirectory("artifacts-growth").toString)
    assert(Artifacts.keys.count(_ == key) <= 1, s"entries of one key: ${Artifacts.keys}")
    assert(built.distinct.size == 5 && built.forall(d => !new java.io.File(d).exists),
      "clear() left a released temp dir on disk")
    Artifacts.reset()
    assert(Artifacts.keys.contains(key), "reset() dropped a standing artifact")
    Artifacts.clear()
  }
}
