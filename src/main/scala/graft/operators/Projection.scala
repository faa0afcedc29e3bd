package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Random-projection (Johnson–Lindenstrauss) dimensionality reduction
  * for the embedding column, and the project→shortlist→rerank ANN path
  * built on it.
  *
  * Why this exists next to IVF/LSH/int8: projection cuts the per-vector
  * BYTES a candidate scan reads (outDim/dim of the original, before any
  * quantization), which at 100 TB is the difference between scanning a
  * 25 TB projected column and the full corpus. JL guarantees pairwise
  * inner products are preserved to ±ε with outDim = O(log n / ε²) —
  * independent of the source dimension (Johnson & Lindenstrauss 1984;
  * Achlioptas 2003 for the database-friendly variants).
  *
  * Scale shape: the outDim×dim Gaussian matrix is deterministic from a
  * seed and tiny (32×64 doubles here); it rides INSIDE the native
  * [[graft.plans.MatVec]] expression, so projecting the corpus is a
  * narrow map — no broadcast join, no shuffle, and the projected column
  * can be written once and reused by every downstream query.
  */
object Projection {

  /** Deterministic Gaussian JL matrix: outDim rows of dim N(0,1)/√outDim
    * draws. Scaling by 1/√outDim makes the projection an approximate
    * isometry (E[‖Mx‖²] = ‖x‖²), so projected dots approximate original
    * dots without rescaling.
    */
  def gaussianMatrix(outDim: Int, dim: Int, seed: Long = 31L): Array[Array[Double]] = {
    require(outDim >= 1 && dim >= 1, "outDim >= 1, dim >= 1")
    val rnd = new scala.util.Random(seed)
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    Array.fill(outDim)(Array.fill(dim)(rnd.nextGaussian() * inv))
  }

  /** Exact top-k cosine via a projected shortlist: candidates are ranked
    * by cosine in the PROJECTED space (outDim-wide dots over the narrow
    * projected corpus), the top `shortlist` per query survive, and only
    * those are re-scored against the full-width vectors. With
    * `shortlist >= corpus size` the rerank covers everything and the
    * result must equal brute force EXACTLY — the oracle-checkable
    * degenerate case (mirrors ivfQuantizedTopK's exhaustive companion).
    *
    * Same two-window shape as [[Similarity.ivfQuantizedTopK]]: approx
    * rank → cut → exact rank → cut. The full vector rides through the
    * candidate stage (at 100 TB the projected+id corpus is the scan;
    * full vectors would be fetched by id for the k·shortlist rows that
    * survive).
    */
  def projectedTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      outDim: Int = 32, shortlist: Int = 200, seed: Long = 31L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist >= k")
    val m = gaussianMatrix(outDim, dim, seed)
    def prep(df: DataFrame, id: String, v: String, n: String,
        p: String, pn: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        Similarity.l2norm(col(vecCol)).as(n),
        graft.plans.MatVec(col(vecCol), m).as(p))
        .withColumn(pn, Similarity.l2norm(col(p)))
    val c = prep(corpus, "neighbor_id", "cv", "cn", "cp", "cpn")
    val q = prep(queries, "query_id", "qv", "qn", "qp", "qpn")
    val cand = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("pcos", when(col("qpn") * col("cpn") > 0,
        Similarity.dot(col("qp"), col("cp")) / (col("qpn") * col("cpn"))))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val short = cand.withColumn("ar", row_number().over(wA))
      .filter(col("ar") <= shortlist)
    val wE = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    short
      .withColumn("cos", when(col("qn") * col("cn") > 0,
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
