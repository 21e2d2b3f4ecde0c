package graft.nn

/** Adam with L2 weight decay, torch semantics
  * (ref: Simulation_Models/CNC_AE_model_selection.py:366 —
  * `optim.Adam(params, lr=lr, weight_decay=l2_lambda)`): decay is added
  * to the gradient BEFORE the moment updates (classic Adam-L2, not
  * AdamW), defaults β1=0.9 β2=0.999 eps=1e-8, ε applied OUTSIDE the
  * sqrt exactly as torch does. Driver-side state — the gradient
  * arrives aggregated from the cluster (SURVEY §4.3).
  */
final class Adam(n: Int, lr: Double, weightDecay: Double = 0.0,
    beta1: Double = 0.9, beta2: Double = 0.999, eps: Double = 1e-8) {
  private val m = new Array[Double](n)
  private val v = new Array[Double](n)
  private var t = 0

  def step(params: Array[Double], grads: Array[Double]): Unit = {
    t += 1
    val bc1 = 1.0 - math.pow(beta1, t)
    val bc2 = 1.0 - math.pow(beta2, t)
    var i = 0
    while (i < n) {
      val g = grads(i) + weightDecay * params(i)
      m(i) = beta1 * m(i) + (1 - beta1) * g
      v(i) = beta2 * v(i) + (1 - beta2) * g * g
      params(i) -= lr * (m(i) / bc1) / (math.sqrt(v(i) / bc2) + eps)
      i += 1
    }
  }
}
