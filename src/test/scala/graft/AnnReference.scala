package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Join-form ANN references: each expands the (q_id, cand_id) candidate
  * pair set with plain equi-joins, re-attaches the vectors, scores with
  * `vec_dot` and ranks with a window. The served paths never build that
  * pair set (per-cell fused top-k), but per-cell rank lower-bounds global
  * rank, so a serve over the same candidate set must match these byte for
  * byte, cosines included. */
object AnnReference {

  /** The stride query set every registered ANN key serves. */
  def strideQueries(spark: SparkSession, dir: String): DataFrame =
    Similarity.normed(spark, dir)
      .filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))

  /** Top-[[Similarity.topK]] by exact cosine over a (q_id, cand_id)
    * candidate frame. */
  def ranked(spark: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val n = Similarity.normed(spark, dir)
    val q = n.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val c = n.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))
    cand.join(q, "q_id").join(c, "cand_id")
      .withColumn("cosine", graft.plans.VectorFunctions.vec_dot(col("q_emb"), col("c_emb"))
        / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Similarity.topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The stride queries' 1-flip multi-probe (tbl, bucket) keys, read
    * from a (vec_id, tbl, bucket) bucket table. */
  def lshProbes(buckets: DataFrame, bits: Int, multiprobe: Boolean = true): DataFrame = {
    val qbase = buckets.filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    if (!multiprobe) qbase
    else qbase.select(col("q_id"), col("tbl"),
      explode(array(col("bucket") +:
        (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
  }

  /** LSH: candidates are the members of every probed bucket, optionally
    * restricted to the `members` id frame. */
  def lshJoin(spark: SparkSession, dir: String, buckets: DataFrame, bits: Int,
      members: Option[DataFrame] = None): DataFrame = {
    val pairs = buckets.join(lshProbes(buckets, bits), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
    ranked(spark, dir, members.fold(pairs)(pairs.join(_, "vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
      .distinct())
  }

  /** IVF: every vector assigned to its nearest centroid of `cent`, each
    * query's candidates the members of its `probes` nearest lists. */
  def ivfJoin(spark: SparkSession, dir: String, cent: DataFrame, probes: Int): DataFrame = {
    val n = Similarity.normed(spark, dir)
    val assign = Similarity.nearestCentroids(cent)(
      n.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id", "embedding", "nrm", 1)
    val q = n.filter(col("vec_id") % Similarity.queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val probed = Similarity.nearestCentroids(cent)(q, "q_id", "q_emb", "q_nrm", probes)
    ranked(spark, dir, probed.join(assign, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
      .distinct())
  }
}
