package graft.nn

import breeze.linalg.DenseMatrix
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Distributed mini-batch AE training (M15/M25, SURVEY §3.1/§4.3).
  *
  * Faithful to the reference's sequential DataLoader semantics
  * (Simulation_Models/CNC_AE_model_selection.py:233-316): per epoch the
  * rows are re-shuffled by a seeded hash and dealt into batches; each
  * batch is ONE gradient step. The data never moves to the driver:
  * each epoch repartitions rows so batch b lives in partition b, and
  * each step is a single-partition Spark job computing (loss, grad, BN
  * batch stats) where the rows are; the driver holds only Adam moments
  * and BN running stats. [[train]] is the only fit loop: search
  * trials, retrains and specs all go through it.
  */
object Trainer {

  final case class Config(lr: Double, weightDecay: Double = 0.0,
      batchSize: Int = 128, epochs: Int = 30, seed: Long = 21)

  final case class Trained(model: AeModel, params: Array[Double],
      stats: Array[Double], epochLosses: Seq[Double])

  private final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  private def mat(rows: Seq[Array[Double]]): DenseMatrix[Double] = {
    val m = DenseMatrix.zeros[Double](rows.length, rows.head.length)
    var r = 0
    while (r < rows.length) {
      var c = 0
      while (c < rows(r).length) { m(r, c) = rows(r)(c); c += 1 }
      r += 1
    }
    m
  }

  /** Train any [[AeModel]] on (x1, x2) array columns. */
  def train(df: DataFrame, model: AeModel, cfg: Config,
      x1Col: String = "x1", x2Col: String = "x2"): Trained = {
    val sc = df.sparkSession.sparkContext
    val base: RDD[(Long, (Array[Double], Array[Double]))] = df
      .select(x1Col, x2Col).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .zipWithIndex().map(_.swap)
      .cache()
    val n = base.count().toInt
    val nBatches = math.max(1, (n + cfg.batchSize - 1) / cfg.batchSize)

    val (params, stats) = model.initParams(cfg.seed)
    val adam = new Adam(model.paramCount, cfg.lr, cfg.weightDecay)
    val losses = new scala.collection.mutable.ArrayBuffer[Double]

    for (epoch <- 0 until cfg.epochs) {
      // epoch-seeded global shuffle; batch b == partition b.
      // productHash is deprecated in favor of caseClassHash, which
      // mixes in the class name and CHANGES the hash values — this
      // hash IS the seeded shuffle order every trained model and
      // quality log depends on, so it stays pinned.
      val epochRdd = base
        .sortBy { case (i, _) =>
          (scala.util.hashing.MurmurHash3.productHash(
            (i, epoch.toLong, cfg.seed)): @annotation.nowarn("cat=deprecation"))
        }
        .zipWithIndex()
        .map { case ((_, row), rank) =>
          ((rank / cfg.batchSize).toInt, row) }
        .partitionBy(new IdPartitioner(nBatches))
        .map(_._2)
        .persist()

      var epochLoss = 0.0
      var seen = 0L
      for (b <- 0 until nBatches) {
        val snapshot = params.clone() // immutable copy shipped in closure
        val statsSnap = stats.clone()
        val modelRef = model
        val dropSeed = cfg.seed * 1000003L + epoch * 1009L + b
        val res = sc.runJob(
          epochRdd,
          (it: Iterator[(Array[Double], Array[Double])]) => {
            val rows = it.toArray
            if (rows.isEmpty) null
            else modelRef.batchGradient(snapshot, statsSnap,
              mat(rows.map(_._1).toIndexedSeq), mat(rows.map(_._2).toIndexedSeq),
              new java.util.Random(dropSeed))
          },
          Seq(b)).head
        if (res != null) {
          adam.step(params, res.grads)
          // BN running-stats momentum update (torch: 0.1 toward batch)
          var i = 0
          while (i < stats.length) {
            stats(i) = (1 - Kernel.BnMomentum) * stats(i) +
              Kernel.BnMomentum * res.batchStats(i)
            i += 1
          }
          epochLoss += res.loss * res.n
          seen += res.n
        }
      }
      epochRdd.unpersist(false)
      losses += (if (seen > 0) epochLoss / seen else 0.0)
    }
    base.unpersist(false)
    Trained(model, params, stats, losses.toSeq)
  }

  /** Eval-mode CustomLoss over a full dataset, computed distributed:
    * ‖·‖_F decomposes into per-partition sums of squares
    * (reference evaluates the val fold as one full batch —
    * reconloss_from_retrained_models.py:19). The partials come back in
    * partition order and merge on the driver, so the float sums do not
    * depend on which task finishes first. */
  def evaluateLoss(df: DataFrame, model: AeModel, params: Array[Double],
      stats: Array[Double], x1Col: String = "x1",
      x2Col: String = "x2"): Double = {
    val partials = df.select(x1Col, x2Col).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val x1 = mat(rows.map(_._1).toIndexedSeq)
          val x2 = mat(rows.map(_._2).toIndexedSeq)
          val outs = model.evalOutputs(params, stats, x1, x2)
          def ssOf(out: DenseMatrix[Double], tgt: DenseMatrix[Double]): Double = {
            val (oh, _) = Kernel.rowNormalize(out)
            val (th, _) = Kernel.rowNormalize(tgt)
            var acc = 0.0
            var r = 0
            while (r < oh.rows) {
              var c = 0
              while (c < oh.cols) {
                val d = oh(r, c) - th(r, c); acc += d * d; c += 1
              }
              r += 1
            }
            acc
          }
          // one sum of squares per recon output the model has, in
          // ReconTerm.Outputs order (the same for every partition)
          Iterator(ReconTerm.Outputs.collect {
            case (k, v) if outs.contains(k) =>
              ssOf(outs(k), if (v == 0) x1 else x2)
          }.toArray)
        }
      }
      .collect()
    if (partials.isEmpty) 0.0
    else partials.head.indices.foldLeft(0.0) { (acc, j) =>
      acc + math.sqrt(partials.foldLeft(0.0)(_ + _(j)))
    }
  }
}
