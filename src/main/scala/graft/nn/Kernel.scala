package graft.nn

import breeze.linalg.{DenseMatrix, DenseVector, sum}

/** Batch forward/backward math for the AE stacks — breeze on executor
  * partitions (the one place the engine goes below the DataFrame API,
  * mirroring how Spark ML implements its optimizers — SURVEY §4.3).
  *
  * Semantics replicated from the reference (torch):
  *  - Linear y = xW + b; kaiming-uniform-style init U(±1/√fan_in).
  *  - BatchNorm1d (model_structures.py:66 etc.): train mode normalizes
  *    by biased batch variance (eps 1e-5), running stats updated with
  *    momentum 0.1 and UNBIASED batch variance (torch semantics, M25).
  *  - Dropout: inverted scaling 1/(1−p) at train, identity at eval.
  *  - CustomLoss (Simulation_Models/CNC_AE_model_selection.py:209-229):
  *    ‖rownorm(s1hat)−rownorm(s1)‖_F + ‖rownorm(s2hat)−rownorm(s2)‖_F.
  */
object Kernel {

  val BnEps = 1e-5
  val BnMomentum = 0.1
  val NormEps = 1e-12

  // ---- one MLP stack ----------------------------------------------------

  /** Stateful per-batch runner for one stack. Offsets locate this stack's
    * slice inside the model-wide flat params/stats/grads arrays. */
  final class MlpRunner(mlp: Mlp, params: Array[Double], pOff: Int,
      stats: Array[Double], sOff: Int, train: Boolean,
      rng: java.util.Random) {

    private val nL = mlp.layers.length
    private val cacheIn = new Array[DenseMatrix[Double]](nL)
    private val cacheAux = new Array[DenseMatrix[Double]](nL)
    private val cacheVec = new Array[DenseVector[Double]](nL)
    /** (mean, unbiased var) per BN layer, filled during train forward. */
    val batchStats = new Array[Double](mlp.statCount)

    private def layerOffsets: (Array[Int], Array[Int]) = {
      val po = new Array[Int](nL); val so = new Array[Int](nL)
      var p = pOff; var s = sOff
      var i = 0
      while (i < nL) {
        po(i) = p; so(i) = s
        p += mlp.layers(i).paramCount; s += mlp.layers(i).statCount
        i += 1
      }
      (po, so)
    }
    private val (pOffs, sOffs) = layerOffsets

    def forward(x0: DenseMatrix[Double]): DenseMatrix[Double] = {
      var x = x0
      var i = 0
      while (i < nL) {
        val off = pOffs(i)
        mlp.layers(i) match {
          case LinearSpec(in, out) =>
            cacheIn(i) = x
            val w = DenseMatrix.tabulate(in, out)((r, c) =>
              params(off + r * out + c))
            val b = DenseVector.tabulate(out)(c => params(off + in * out + c))
            val y = x * w
            var r = 0
            while (r < y.rows) { y(r, ::) :+= b.t; r += 1 }
            x = y
          case ReluSpec =>
            cacheIn(i) = x
            x = x.map(v => if (v > 0) v else 0.0)
          case SigmoidSpec =>
            val y = x.map(v => 1.0 / (1.0 + math.exp(-v)))
            cacheAux(i) = y
            x = y
          case TanhSpec =>
            val y = x.map(math.tanh)
            cacheAux(i) = y
            x = y
          case BatchNormSpec(dim) =>
            val n = x.rows.toDouble
            val gamma = DenseVector.tabulate(dim)(c => params(off + c))
            val beta = DenseVector.tabulate(dim)(c => params(off + dim + c))
            val (mean, varB) =
              if (train) {
                val m = DenseVector.tabulate(dim)(c => sum(x(::, c)) / n)
                val v = DenseVector.tabulate(dim) { c =>
                  var acc = 0.0; var r = 0
                  while (r < x.rows) {
                    val d = x(r, c) - m(c); acc += d * d; r += 1
                  }
                  acc / n
                }
                // record (mean, unbiased var) for the driver's running update
                val so = sOffs(i) - sOff
                var c = 0
                while (c < dim) {
                  batchStats(so + c) = m(c)
                  batchStats(so + dim + c) =
                    if (n > 1) v(c) * n / (n - 1) else v(c)
                  c += 1
                }
                (m, v)
              } else {
                val so = sOffs(i)
                (DenseVector.tabulate(dim)(c => stats(so + c)),
                 DenseVector.tabulate(dim)(c => stats(so + dim + c)))
              }
            val invStd = varB.map(v => 1.0 / math.sqrt(v + BnEps))
            val xhat = DenseMatrix.tabulate(x.rows, dim)((r, c) =>
              (x(r, c) - mean(c)) * invStd(c))
            cacheAux(i) = xhat
            cacheVec(i) = invStd
            x = DenseMatrix.tabulate(x.rows, dim)((r, c) =>
              gamma(c) * xhat(r, c) + beta(c))
          case DropoutSpec(p) =>
            if (train && p > 0) {
              val keep = 1.0 - p
              val mask = DenseMatrix.tabulate(x.rows, x.cols)((_, _) =>
                if (rng.nextDouble() < keep) 1.0 / keep else 0.0)
              cacheAux(i) = mask
              x = x *:* mask
            }
        }
        i += 1
      }
      x
    }

    /** Accumulates parameter grads into `grads` (model-wide flat array,
      * same layout as params) and returns dL/dInput. */
    def backward(dyIn: DenseMatrix[Double],
        grads: Array[Double]): DenseMatrix[Double] = {
      var dy = dyIn
      var i = nL - 1
      while (i >= 0) {
        val off = pOffs(i)
        mlp.layers(i) match {
          case LinearSpec(in, out) =>
            val x = cacheIn(i)
            val w = DenseMatrix.tabulate(in, out)((r, c) =>
              params(off + r * out + c))
            val dW = x.t * dy
            var r = 0
            while (r < in) {
              var c = 0
              while (c < out) {
                grads(off + r * out + c) += dW(r, c); c += 1
              }
              r += 1
            }
            var c = 0
            while (c < out) {
              grads(off + in * out + c) += sum(dy(::, c)); c += 1
            }
            dy = dy * w.t
          case ReluSpec =>
            val x = cacheIn(i)
            dy = DenseMatrix.tabulate(dy.rows, dy.cols)((r, c) =>
              if (x(r, c) > 0) dy(r, c) else 0.0)
          case SigmoidSpec =>
            val y = cacheAux(i)
            dy = dy *:* (y *:* y.map(1.0 - _))
          case TanhSpec =>
            val y = cacheAux(i)
            dy = dy *:* y.map(v => 1.0 - v * v)
          case BatchNormSpec(dim) =>
            val xhat = cacheAux(i)
            val invStd = cacheVec(i)
            val n = dy.rows.toDouble
            val gamma = DenseVector.tabulate(dim)(c => params(off + c))
            var c = 0
            while (c < dim) {
              var dG = 0.0; var dB = 0.0; var r = 0
              while (r < dy.rows) {
                dG += dy(r, c) * xhat(r, c); dB += dy(r, c); r += 1
              }
              grads(off + c) += dG
              grads(off + dim + c) += dB
              c += 1
            }
            if (train) {
              val dx = DenseMatrix.zeros[Double](dy.rows, dim)
              c = 0
              while (c < dim) {
                var sumDy = 0.0; var sumDyXhat = 0.0; var r = 0
                while (r < dy.rows) {
                  sumDy += dy(r, c); sumDyXhat += dy(r, c) * xhat(r, c); r += 1
                }
                r = 0
                while (r < dy.rows) {
                  dx(r, c) = gamma(c) * invStd(c) / n *
                    (n * dy(r, c) - sumDy - xhat(r, c) * sumDyXhat)
                  r += 1
                }
                c += 1
              }
              dy = dx
            } else {
              dy = DenseMatrix.tabulate(dy.rows, dim)((r, c) =>
                dy(r, c) * gamma(c) * invStd(c))
            }
          case DropoutSpec(p) =>
            if (train && p > 0) dy = dy *:* cacheAux(i)
        }
        i -= 1
      }
      dy
    }
  }

  // ---- CustomLoss -------------------------------------------------------

  /** Row-L2-normalize, returning (normalized, row norms). */
  def rowNormalize(a: DenseMatrix[Double]): (DenseMatrix[Double], DenseVector[Double]) = {
    val norms = DenseVector.tabulate(a.rows) { r =>
      var acc = 0.0; var c = 0
      while (c < a.cols) { acc += a(r, c) * a(r, c); c += 1 }
      math.max(math.sqrt(acc), NormEps)
    }
    val out = DenseMatrix.tabulate(a.rows, a.cols)((r, c) => a(r, c) / norms(r))
    (out, norms)
  }

  /** ‖rownorm(out)−rownorm(target)‖_F and dL/d(out). */
  def frobeniusNormalizedLoss(out: DenseMatrix[Double],
      target: DenseMatrix[Double]): (Double, DenseMatrix[Double]) = {
    val (oHat, oNorm) = rowNormalize(out)
    val (tHat, _) = rowNormalize(target)
    val r = oHat - tHat
    var ss = 0.0
    var i = 0
    while (i < r.rows) {
      var c = 0
      while (c < r.cols) { ss += r(i, c) * r(i, c); c += 1 }
      i += 1
    }
    val loss = math.sqrt(ss)
    val grad =
      if (loss < 1e-30) DenseMatrix.zeros[Double](out.rows, out.cols)
      else {
        val g = DenseMatrix.zeros[Double](out.rows, out.cols)
        var row = 0
        while (row < out.rows) {
          var dot = 0.0; var c = 0
          while (c < out.cols) { dot += oHat(row, c) * r(row, c); c += 1 }
          c = 0
          while (c < out.cols) {
            g(row, c) = (r(row, c) - oHat(row, c) * dot) / (oNorm(row) * loss)
            c += 1
          }
          row += 1
        }
        g
      }
    (loss, grad)
  }

  /** One batch's loss, flat gradient (params layout), BN batch stats
    * (for the driver's running update) and row count. */
  final case class BatchResult(loss: Double, grads: Array[Double],
      batchStats: Array[Double], n: Int)
}
