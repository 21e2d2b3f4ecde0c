package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-wise reconstruction-loss helpers over array columns — all
  * codegen'd higher-order expressions, no UDFs.
  *
  * Reference semantics:
  *  - F1 row L2-normalize: `F.normalize(x, p=2, dim=1)`
  *    (Evaluation_Auxiliary/model_structures.py:1470-1471).
  *  - A10 per-subject loss: row-wise L2 of the difference
  *    (Evaluation_Auxiliary/reconloss_from_retrained_models.py:45,69-72).
  *
  * The batch losses (A9 Frobenius, A11–A13 O1/O2/O3 ortho) have one
  * implementation each, in the training kernel:
  * `Kernel.frobeniusNormalizedLoss` and `OrthoO{1,2,3}Term`.
  */
object ReconLoss {

  /** Σ x² over an array column. */
  def sumSq(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x * x)

  /** F1 — row L2 normalization (zero rows stay zero, torch semantics:
    * F.normalize uses max(norm, eps) with eps=1e-12). The norm is hoisted
    * into a one-element transform binding so it's computed ONCE per row,
    * not per element (O(w) instead of O(w²) at 20k-wide features). */
  def l2NormalizeRows(c: Column): Column =
    element_at(
      transform(array(greatest(sqrt(sumSq(c)), lit(1e-12))),
        n => transform(c, x => x / n)), 1)

  /** ‖a−b‖₂ per row. */
  def rowDist(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v))

  /** A10 — per-subject recon loss of a two-view AE: rows (sample_id,
    * loss = ‖x1n−x1hatn‖ + ‖x2n−x2hatn‖) with all four matrices
    * row-normalized first (reconloss_from_retrained_models.py:45). */
  def perSubject(df: DataFrame, x1: String, x1hat: String,
      x2: String, x2hat: String, idCol: String = "sample_id"): DataFrame =
    df.select(col(idCol),
      (rowDist(l2NormalizeRows(col(x1)), l2NormalizeRows(col(x1hat))) +
       rowDist(l2NormalizeRows(col(x2)), l2NormalizeRows(col(x2hat))))
        .as("recon_loss"))

  /** F7 — elementwise mean of two embedding arrays
    * (embedding_from_retrained_models.py:81). */
  def meanOf2(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => (x + y) / 2)
}
