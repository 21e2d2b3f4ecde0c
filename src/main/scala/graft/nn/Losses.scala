package graft.nn

import breeze.linalg.{DenseMatrix, DenseVector}

/** Composite loss terms over named graph outputs. Each term returns
  * (loss, gradients per output name); the trainer sums terms — exactly
  * the reference compositions (M20/M21):
  *   CNC/X/MM/JISAE: recon only (JISAE_selection.py:330)
  *   JISAE-O1/2/3:   recon + mult·ortho (JISAE-O{1,2,3}_selection.py)
  *   MOCSS:          ortho + contrastive + mult·recon
  *                   (MOCSS_AE_model_selection.py:291, temperature 0.4)
  *   MOCSS-3V:       the three-view survival variant
  *                   (Simulation_Auxiliary/mocss_survival.py:110-137) —
  *                   same three families summed over three views /
  *                   three shared-head pairs, with the GLOBAL-MEAN
  *                   centering ACTIVE (the two-view selection scripts
  *                   keep those lines commented out; the survival file
  *                   activates them — its one novel computation).
  * Terms see the batch's views as an indexed sequence so compositions
  * over any view count share one code path. All gradients are
  * validated by finite differences in NnGraphSpec.
  */
sealed trait LossTerm extends Serializable {
  def compute(outs: Map[String, DenseMatrix[Double]],
      views: IndexedSeq[DenseMatrix[Double]])
      : (Double, Map[String, DenseMatrix[Double]])
}

object LossTerm {

  /** dL/dRaw given raw matrix, its row-normalized form + norms, and
    * dL/dNormalized (projection through row normalization). */
  private[nn] def normBackward(aHat: DenseMatrix[Double],
      norms: DenseVector[Double], g: DenseMatrix[Double])
      : DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](aHat.rows, aHat.cols)
    var r = 0
    while (r < aHat.rows) {
      var dot = 0.0; var c = 0
      while (c < aHat.cols) { dot += aHat(r, c) * g(r, c); c += 1 }
      c = 0
      while (c < aHat.cols) {
        out(r, c) = (g(r, c) - aHat(r, c) * dot) / norms(r); c += 1
      }
      r += 1
    }
    out
  }

  /** `x − mean(x)` with a GLOBAL scalar mean over every entry — the
    * torch `x - x.mean()` the survival variant applies before row
    * normalization (mocss_survival.py:40-41, 55-58, 75-78). */
  private[nn] def centerGlobal(x: DenseMatrix[Double]): DenseMatrix[Double] =
    x - (breeze.linalg.sum(x) / (x.rows.toDouble * x.cols))

  /** Backward of [[centerGlobal]]: dL/dx = g − mean(g) (the subtracted
    * scalar collects −1/N of every entry's gradient). */
  private[nn] def centerBackward(g: DenseMatrix[Double]): DenseMatrix[Double] =
    g - (breeze.linalg.sum(g) / (g.rows.toDouble * g.cols))
}

/** CustomLoss recon term: weight · ‖rownorm(out)−rownorm(target view)‖_F
  * (CNC_AE_model_selection.py:209-229). `center` additionally subtracts
  * each matrix's global mean first (mocss_survival.py:75-78). */
final case class ReconTerm(out: String, view: Int, weight: Double = 1.0,
    center: Boolean = false) extends LossTerm {
  def compute(outs: Map[String, DenseMatrix[Double]],
      views: IndexedSeq[DenseMatrix[Double]])
      : (Double, Map[String, DenseMatrix[Double]]) = {
    val target = views(view)
    val (rec, ori) =
      if (center) (LossTerm.centerGlobal(outs(out)),
        LossTerm.centerGlobal(target))
      else (outs(out), target)
    val (l, g) = Kernel.frobeniusNormalizedLoss(rec, ori)
    val gOut = if (center) LossTerm.centerBackward(g) else g
    (weight * l, Map(out -> (gOut * weight)))
  }
}

object ReconTerm {
  /** Every recon output a two-view model can name, with its target view:
    * the plain AEs' s1hat/s2hat and MOCSS's four reconstructions. Eval
    * loss and per-subject recon sum over the ones a model has, in this
    * order. */
  val Outputs: Seq[(String, Int)] = Seq("s1hat" -> 0, "s2hat" -> 1,
    "shared1_rec" -> 0, "specific1_rec" -> 0,
    "shared2_rec" -> 1, "specific2_rec" -> 1)
}

/** O1 ortho: weight · mean(rownorm(a) ⊙ rownorm(b))
  * (JISAE-O1_selection.py:266-293; model_structures.py:1466-1474).
  * `center` subtracts each matrix's global mean before normalizing
  * (mocss_survival.py:40-41). */
final case class OrthoO1Term(a: String, b: String, weight: Double,
    center: Boolean = false) extends LossTerm {
  def compute(outs: Map[String, DenseMatrix[Double]],
      views: IndexedSeq[DenseMatrix[Double]])
      : (Double, Map[String, DenseMatrix[Double]]) = {
    val rawA = if (center) LossTerm.centerGlobal(outs(a)) else outs(a)
    val rawB = if (center) LossTerm.centerGlobal(outs(b)) else outs(b)
    val (ah, an) = Kernel.rowNormalize(rawA)
    val (bh, bn) = Kernel.rowNormalize(rawB)
    val nd = ah.rows.toDouble * ah.cols
    var l = 0.0
    var r = 0
    while (r < ah.rows) {
      var c = 0
      while (c < ah.cols) { l += ah(r, c) * bh(r, c); c += 1 }
      r += 1
    }
    l /= nd
    def back(hat: DenseMatrix[Double], norms: DenseVector[Double],
        other: DenseMatrix[Double]): DenseMatrix[Double] = {
      val g = LossTerm.normBackward(hat, norms, other * (weight / nd))
      if (center) LossTerm.centerBackward(g) else g
    }
    (weight * l, Map(a -> back(ah, an, bh), b -> back(bh, bn, ah)))
  }
}

/** O2 ortho: weight · Σ_rows (rownorm(a)_i · rownorm(b)_i)²
  * (JISAE-O2_selection.py:266-305). */
final case class OrthoO2Term(a: String, b: String, weight: Double)
    extends LossTerm {
  def compute(outs: Map[String, DenseMatrix[Double]],
      views: IndexedSeq[DenseMatrix[Double]])
      : (Double, Map[String, DenseMatrix[Double]]) = {
    val (ah, an) = Kernel.rowNormalize(outs(a))
    val (bh, bn) = Kernel.rowNormalize(outs(b))
    var l = 0.0
    val gNormA = DenseMatrix.zeros[Double](ah.rows, ah.cols)
    val gNormB = DenseMatrix.zeros[Double](bh.rows, bh.cols)
    var r = 0
    while (r < ah.rows) {
      var dot = 0.0; var c = 0
      while (c < ah.cols) { dot += ah(r, c) * bh(r, c); c += 1 }
      l += dot * dot
      c = 0
      while (c < ah.cols) {
        gNormA(r, c) = 2 * dot * bh(r, c) * weight
        gNormB(r, c) = 2 * dot * ah(r, c) * weight
        c += 1
      }
      r += 1
    }
    (weight * l, Map(a -> LossTerm.normBackward(ah, an, gNormA),
      b -> LossTerm.normBackward(bh, bn, gNormB)))
  }
}

/** O3 ortho: weight · Σ_dims (column dot of rownormalized a, b)²
  * (JISAE-O3_selection.py:266-300). */
final case class OrthoO3Term(a: String, b: String, weight: Double)
    extends LossTerm {
  def compute(outs: Map[String, DenseMatrix[Double]],
      views: IndexedSeq[DenseMatrix[Double]])
      : (Double, Map[String, DenseMatrix[Double]]) = {
    val (ah, an) = Kernel.rowNormalize(outs(a))
    val (bh, bn) = Kernel.rowNormalize(outs(b))
    val colDot = DenseVector.zeros[Double](ah.cols)
    var r = 0
    while (r < ah.rows) {
      var c = 0
      while (c < ah.cols) { colDot(c) += ah(r, c) * bh(r, c); c += 1 }
      r += 1
    }
    var l = 0.0
    var c = 0
    while (c < ah.cols) { l += colDot(c) * colDot(c); c += 1 }
    val gNormA = DenseMatrix.tabulate(ah.rows, ah.cols)((r2, c2) =>
      2 * colDot(c2) * bh(r2, c2) * weight)
    val gNormB = DenseMatrix.tabulate(bh.rows, bh.cols)((r2, c2) =>
      2 * colDot(c2) * ah(r2, c2) * weight)
    (weight * l, Map(a -> LossTerm.normBackward(ah, an, gNormA),
      b -> LossTerm.normBackward(bh, bn, gNormB)))
  }
}

/** M16 — NT-Xent instance contrastive loss on two row-normalized heads
  * (Simulation_Auxiliary/contrastive_loss.py:8-67: sim = z·zᵀ/τ over the
  * 2B stacked rows, positives at ±B, self and partner masked out of the
  * negatives, CrossEntropy sum / 2B). Batch-local math (B ≤ 512).
  * `center` subtracts each head's global mean before normalizing
  * (mocss_survival.py:55-58). */
final case class NtXentTerm(a: String, b: String, temperature: Double,
    weight: Double = 1.0, center: Boolean = false) extends LossTerm {
  def compute(outs: Map[String, DenseMatrix[Double]],
      views: IndexedSeq[DenseMatrix[Double]])
      : (Double, Map[String, DenseMatrix[Double]]) = {
    val rawA = if (center) LossTerm.centerGlobal(outs(a)) else outs(a)
    val rawB = if (center) LossTerm.centerGlobal(outs(b)) else outs(b)
    val (ah, an) = Kernel.rowNormalize(rawA)
    val (bh, bn) = Kernel.rowNormalize(rawB)
    val bsz = ah.rows
    val n = 2 * bsz
    val z = DenseMatrix.vertcat(ah, bh)
    val sim = (z * z.t) / temperature

    def partner(i: Int): Int = if (i < bsz) i + bsz else i - bsz

    // softmax over allowed logits per row: {partner} ∪ {k != i, partner}
    var loss = 0.0
    val gSim = DenseMatrix.zeros[Double](n, n)
    var i = 0
    while (i < n) {
      var mx = Double.NegativeInfinity
      var k = 0
      while (k < n) {
        if (k != i && sim(i, k) > mx) mx = sim(i, k)
        k += 1
      }
      var denom = 0.0
      k = 0
      while (k < n) {
        if (k != i) denom += math.exp(sim(i, k) - mx)
        k += 1
      }
      val p = partner(i)
      loss += -(sim(i, p) - mx) + math.log(denom)
      k = 0
      while (k < n) {
        if (k != i) {
          val soft = math.exp(sim(i, k) - mx) / denom
          gSim(i, k) = (soft - (if (k == p) 1.0 else 0.0)) / n
        }
        k += 1
      }
      i += 1
    }
    loss /= n

    // dZ = (G + Gᵀ)·z / τ
    val dZ = ((gSim + gSim.t) * z) / temperature
    val gNormA = dZ(0 until bsz, ::).copy * weight
    val gNormB = dZ(bsz until n, ::).copy * weight
    val gA = LossTerm.normBackward(ah, an, gNormA)
    val gB = LossTerm.normBackward(bh, bn, gNormB)
    (weight * loss, Map(
      a -> (if (center) LossTerm.centerBackward(gA) else gA),
      b -> (if (center) LossTerm.centerBackward(gB) else gB)))
  }
}
