package graft.nn

/** Layer topology descriptors for the AE kernels (ref architectures:
  * Evaluation_Auxiliary/model_structures.py:37-1441 — stacks of
  * Linear → ReLU → BatchNorm1d → Dropout, decoders ending in sigmoid).
  *
  * A model is (specs, flat param vector, flat BN running-stats vector):
  * plain serializable data, shipped in task closures; all math lives in
  * [[Kernel]]. Parameter layout is the concatenation of each layer's
  * params in spec order (Linear: W row-major then b; BatchNorm: gamma
  * then beta). BN running stats live in a parallel buffer (mean then
  * var per BN layer) — they are torch "buffers", not parameters: no
  * gradient, updated by momentum on the driver.
  */
sealed trait LayerSpec extends Serializable {
  def paramCount: Int
  def statCount: Int = 0
}
final case class LinearSpec(in: Int, out: Int) extends LayerSpec {
  def paramCount: Int = in * out + out
}
final case class BatchNormSpec(dim: Int) extends LayerSpec {
  def paramCount: Int = 2 * dim
  override def statCount: Int = 2 * dim
}
case object ReluSpec extends LayerSpec { def paramCount = 0 }
case object SigmoidSpec extends LayerSpec { def paramCount = 0 }
case object TanhSpec extends LayerSpec { def paramCount = 0 }
final case class DropoutSpec(p: Double) extends LayerSpec { def paramCount = 0 }

/** One MLP stack. */
final case class Mlp(layers: Vector[LayerSpec]) extends Serializable {
  def paramCount: Int = layers.map(_.paramCount).sum
  def statCount: Int = layers.map(_.statCount).sum
}

object Mlp {
  /** The reference's standard block: Linear → ReLU → BN → Dropout
    * (e.g. model_structures.py:96-101). */
  def blocks(dims: Seq[Int], dropRates: Seq[Double],
      sigmoidOut: Boolean = false): Mlp = {
    require(dims.length >= 2 && dropRates.length == dims.length - 1)
    val ls = dims.sliding(2).zip(dropRates.iterator).flatMap {
      case (Seq(in, out), p) =>
        Vector(LinearSpec(in, out), ReluSpec, BatchNormSpec(out),
          DropoutSpec(p))
    }.toVector
    Mlp(if (sigmoidOut) ls :+ SigmoidSpec else ls)
  }
}
