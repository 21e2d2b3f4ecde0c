package graft.nn

import breeze.linalg.DenseMatrix

/** General AE computation graph: every reference architecture
  * (model_structures.py:37-1704 — CNC/X/MM/JISAE(SS)/SSO1-3/MOCSS) is a
  * DAG of MLP stacks over {view inputs, concatenations}. Nodes are
  * topologically ordered (deps point backwards); named outputs feed the
  * composite loss and the embedding extractors.
  */
sealed trait GNode extends Serializable
final case class GView(view: Int) extends GNode
final case class GConcat(deps: Vector[Int]) extends GNode
final case class GStack(dep: Int, mlp: Mlp) extends GNode

final case class AeGraph(nodes: Vector[GNode],
    outputs: Map[String, Int]) extends Serializable {
  def stacks: Vector[(Int, Mlp)] = nodes.zipWithIndex.collect {
    case (GStack(_, m), i) => (i, m)
  }
  def paramCount: Int = stacks.map(_._2.paramCount).sum
  def statCount: Int = stacks.map(_._2.statCount).sum
}

/** A trainable model = graph + loss terms (SURVEY M20/M21 loss
  * compositions are data, not code forks). */
trait AeModel extends Serializable {
  def paramCount: Int
  def statCount: Int
  def initParams(seed: Long): (Array[Double], Array[Double])
  def batchGradient(params: Array[Double], stats: Array[Double],
      x1: DenseMatrix[Double], x2: DenseMatrix[Double],
      rng: java.util.Random): Kernel.BatchResult
  def evalOutputs(params: Array[Double], stats: Array[Double],
      x1: DenseMatrix[Double], x2: DenseMatrix[Double])
      : Map[String, DenseMatrix[Double]]
}

final case class GraphModel(graph: AeGraph, loss: Vector[LossTerm])
    extends AeModel {

  def paramCount: Int = graph.paramCount
  def statCount: Int = graph.statCount

  /** (paramOffset, statOffset) per node index (stacks only advance). */
  private def offsets: (Array[Int], Array[Int]) = {
    val po = new Array[Int](graph.nodes.length)
    val so = new Array[Int](graph.nodes.length)
    var p = 0; var s = 0
    graph.nodes.zipWithIndex.foreach { case (n, i) =>
      po(i) = p; so(i) = s
      n match {
        case GStack(_, m) => p += m.paramCount; s += m.statCount
        case _ =>
      }
    }
    (po, so)
  }

  def initParams(seed: Long): (Array[Double], Array[Double]) = {
    val rng = new java.util.Random(seed)
    val params = new Array[Double](paramCount)
    val stats = new Array[Double](statCount)
    var p = 0; var s = 0
    for ((_, mlp) <- graph.stacks; l <- mlp.layers) l match {
      case LinearSpec(in, out) =>
        val bound = 1.0 / math.sqrt(in)
        var i = 0
        while (i < in * out + out) {
          params(p + i) = (rng.nextDouble() * 2 - 1) * bound; i += 1
        }
        p += in * out + out
      case BatchNormSpec(dim) =>
        java.util.Arrays.fill(params, p, p + dim, 1.0)
        java.util.Arrays.fill(stats, s + dim, s + 2 * dim, 1.0)
        p += 2 * dim; s += 2 * dim
      case _ =>
    }
    (params, stats)
  }

  private def runForward(params: Array[Double], stats: Array[Double],
      views: IndexedSeq[DenseMatrix[Double]], train: Boolean,
      rng: java.util.Random)
      : (Array[DenseMatrix[Double]], Array[Kernel.MlpRunner]) = {
    val (po, so) = offsets
    val vals = new Array[DenseMatrix[Double]](graph.nodes.length)
    val runners = new Array[Kernel.MlpRunner](graph.nodes.length)
    graph.nodes.zipWithIndex.foreach { case (n, i) =>
      n match {
        case GView(v) =>
          // graphs may reference fewer views than supplied, never more
          require(v < views.length,
            s"graph references view $v but only ${views.length} supplied")
          vals(i) = views(v)
        case GConcat(deps) =>
          vals(i) = deps.map(vals).reduce(DenseMatrix.horzcat(_, _))
        case GStack(dep, mlp) =>
          val r = new Kernel.MlpRunner(mlp, params, po(i), stats, so(i),
            train, rng)
          runners(i) = r
          vals(i) = r.forward(vals(dep))
      }
    }
    (vals, runners)
  }

  def evalOutputs(params: Array[Double], stats: Array[Double],
      x1: DenseMatrix[Double], x2: DenseMatrix[Double])
      : Map[String, DenseMatrix[Double]] =
    evalOutputsViews(params, stats, IndexedSeq(x1, x2))

  /** N-view forward (the two-view [[AeModel]] surface delegates here;
    * the three-view MOCSS survival arch calls it directly). */
  def evalOutputsViews(params: Array[Double], stats: Array[Double],
      views: IndexedSeq[DenseMatrix[Double]])
      : Map[String, DenseMatrix[Double]] = {
    val (vals, _) = runForward(params, stats, views, train = false,
      new java.util.Random(0))
    graph.outputs.map { case (k, i) => k -> vals(i) }
  }

  def batchGradient(params: Array[Double], stats: Array[Double],
      x1: DenseMatrix[Double], x2: DenseMatrix[Double],
      rng: java.util.Random): Kernel.BatchResult =
    batchGradientViews(params, stats, IndexedSeq(x1, x2), rng)

  /** N-view loss + gradient (see [[evalOutputsViews]]). */
  def batchGradientViews(params: Array[Double], stats: Array[Double],
      views: IndexedSeq[DenseMatrix[Double]],
      rng: java.util.Random): Kernel.BatchResult = {
    val (vals, runners) = runForward(params, stats, views, train = true, rng)
    val outs = graph.outputs.map { case (k, i) => k -> vals(i) }

    var total = 0.0
    val outGrads = scala.collection.mutable.Map[String, DenseMatrix[Double]]()
    loss.foreach { term =>
      val (l, gs) = term.compute(outs, views)
      total += l
      gs.foreach { case (k, g) =>
        outGrads(k) = outGrads.get(k).map(_ + g).getOrElse(g)
      }
    }

    // reverse accumulation over the DAG
    val grads = new Array[Double](paramCount)
    val nodeGrads = new Array[DenseMatrix[Double]](graph.nodes.length)
    graph.outputs.foreach { case (k, i) =>
      outGrads.get(k).foreach { g =>
        nodeGrads(i) =
          if (nodeGrads(i) == null) g.copy else nodeGrads(i) + g
      }
    }
    for (i <- graph.nodes.length - 1 to 0 by -1) {
      val g = nodeGrads(i)
      if (g != null) graph.nodes(i) match {
        case GView(_) =>
        case GConcat(deps) =>
          var off = 0
          deps.foreach { d =>
            val w = vals(d).cols
            val slice = g(::, off until (off + w)).copy
            nodeGrads(d) =
              if (nodeGrads(d) == null) slice else nodeGrads(d) + slice
            off += w
          }
        case GStack(dep, _) =>
          val dIn = runners(i).backward(g, grads)
          nodeGrads(dep) =
            if (nodeGrads(dep) == null) dIn else nodeGrads(dep) + dIn
      }
    }

    // collect BN batch stats in stack order
    val bs = new Array[Double](statCount)
    var sOff = 0
    graph.nodes.zipWithIndex.foreach {
      case (GStack(_, mlp), i) if mlp.statCount > 0 =>
        System.arraycopy(runners(i).batchStats, 0, bs, sOff, mlp.statCount)
        sOff += mlp.statCount
      case _ =>
    }
    Kernel.BatchResult(total, grads, bs, views.head.rows)
  }
}
