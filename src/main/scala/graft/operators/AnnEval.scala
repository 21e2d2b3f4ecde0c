package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared ANN answer-quality methodology — ONE implementation of the
  * exact ground truth and the tie-robust threshold-recall metric behind
  * both the blow-up recall figures in SCALE.md §ANN recall and the CI
  * guard (`BlowupRecallSpec`). Two independent copies of this logic
  * would drift — a tie-handling or eps change in one would silently
  * unpin the other.
  *
  * Threshold recall@k: an approx neighbor is a hit when its TRUE score
  * is at least as good as the query's k-th exact score. On blown
  * corpora (factor−1 near-copies per source vector) plain id-set
  * overlap measures tie ORDERING among equal-scored copies, not index
  * quality — every family scores exactly k/copies on it by
  * construction.
  */
object AnnEval {

  /** Exact cosine top-k per query (vec_id < nQ) by brute force —
    * crossJoin against the broadcast query set, full-precision
    * `fastCosine`, ties broken by ascending nid (the same convention
    * every y-family query emits). */
  def exactCosineTopK(corpus: DataFrame, nQ: Long, k: Int): DataFrame = {
    val q = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("nid"))
    corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        SimilarityOps.fastCosine(col("qe"), col("ne")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid")
  }

  /** Per-qid k-th-best exact cosine — the recall threshold frame
    * (`qid`, `kth`). */
  def cosineThresholds(corpus: DataFrame, nQ: Long, k: Int): DataFrame = {
    val q = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("nid"))
    corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"),
        SimilarityOps.fastCosine(col("qe"), col("ne")).as("cos_sim"))
      .withColumn("rk", row_number().over(w.orderBy(col("cos_sim").desc)))
      .filter(col("rk") <= k)
      .groupBy("qid").agg(min("cos_sim").as("kth"))
  }

  /** Tie-robust threshold recall@k of an approx (qid, nid) answer set
    * against `thresholds` (from [[cosineThresholds]]): every returned
    * pair is RE-scored at full precision from the corpus, so internal
    * rounding in the approx path cannot inflate or deflate the metric.
    * `eps` admits true ties at a chosen resolution (1e-9 = strict;
    * 5e-5 = half the 4-dp rounding the contract queries emit). A qid
    * with zero hits contributes zero (the denominator is nQ·k, never
    * the surviving-group count). */
  def thresholdRecall(approx: DataFrame, corpus: DataFrame,
      thresholds: DataFrame, nQ: Long, k: Int, eps: Double): Double = {
    val scored = approx.select("qid", "nid")
      .join(corpus.select(col("vec_id").as("qid"),
        col("embedding").as("qe")), "qid")
      .join(corpus.select(col("vec_id").as("nid"),
        col("embedding").as("ne")), "nid")
      .select(col("qid"),
        SimilarityOps.fastCosine(col("qe"), col("ne")).as("true_cos"))
    val hits = scored.join(broadcast(thresholds), "qid")
      .filter(col("true_cos") >= col("kth") - lit(eps))
      .groupBy("qid").agg(least(count(lit(1)), lit(k.toLong)).as("hits"))
      .agg(coalesce(sum("hits"), lit(0L))).head().getLong(0)
    hits.toDouble / (nQ * k)
  }
}
