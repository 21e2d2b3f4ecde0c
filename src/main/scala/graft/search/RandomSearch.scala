package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Splits
import graft.nn.{AeModel, Trainer}

/** M22 — hyperparameter search with median pruning, driver-side loop
  * (ref: Simulation_Models/CNC_AE_model_selection.py:528-534 — Optuna
  * TPE + MedianPruner(n_warmup_steps=2); each trial = k-fold CV, one
  * val-loss report per fold). TPE is replaced by seeded random search
  * over the SAME published space (:331-340 — lr 1e-5..1e-2 log,
  * λ2 1e-8..1e-5 log, batch {32..512}, epochs {30..150}; ortho
  * multiplier 1e-3..1e3 log for the O-variants/MOCSS —
  * JISAE-O1_selection.py:415). Every trial is a sequence of Spark
  * training jobs; no Catalyst involvement (SURVEY §4.3).
  */
object RandomSearch {

  final case class Hypers(lr: Double, l2: Double, batchSize: Int,
      epochs: Int, orthoMultiplier: Double)

  final case class TrialResult(trial: Int, hypers: Hypers,
      foldLosses: Seq[Double], avgLoss: Double, pruned: Boolean)

  final case class SearchResult(trials: Seq[TrialResult],
      best: TrialResult) {
    /** S8-shaped trials table. */
    def trialsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      trials.map(t => (t.trial, t.hypers.lr, t.hypers.l2,
        t.hypers.batchSize, t.hypers.epochs, t.hypers.orthoMultiplier,
        t.avgLoss, t.pruned))
        .toDF("trial", "lr", "l2_lambda", "batch_size", "epoch",
          "ortho_multiplier", "recon_loss", "pruned")
    }
    /** S7-shaped per-trial fold-loss lines. */
    def valLossDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      trials.map(t => (s"trial${t.trial}", t.foldLosses.mkString("\t")))
        .toDF("trial", "fold_losses")
    }
  }

  // Published search space (CNC_AE_model_selection.py:331-340; ortho
  // multiplier JISAE-O1_selection.py:415).
  private val LrLo = 1e-5; private val LrHi = 1e-2
  private val L2Lo = 1e-8; private val L2Hi = 1e-5
  private val OrthoLo = 1e-3; private val OrthoHi = 1e3
  private val BatchGrid = Seq(32, 64, 128, 256, 512)
  private val EpochGrid = Seq(30, 60, 90, 120, 150)

  def sample(rng: scala.util.Random): Hypers = {
    def logUniform(lo: Double, hi: Double): Double =
      math.exp(math.log(lo) + rng.nextDouble() * (math.log(hi) - math.log(lo)))
    Hypers(
      lr = logUniform(LrLo, LrHi),
      l2 = logUniform(L2Lo, L2Hi),
      batchSize = BatchGrid(rng.nextInt(5)),
      epochs = EpochGrid(rng.nextInt(5)),
      orthoMultiplier = logUniform(OrthoLo, OrthoHi))
  }

  /** The hyper sequence a `search(seed=…)` run draws — trial t's hypers
    * depend only on the seed and t (5 rng draws per trial, pruning never
    * touches the rng), so workers can re-derive any trial's hypers
    * without running the preceding trials. */
  def hyperSequence(nTrials: Int, seed: Long = 42): Seq[Hypers] = {
    val rng = new scala.util.Random(seed)
    Vector.fill(nTrials)(sample(rng))
  }

  /** One trial's fold loop + MedianPruner bookkeeping, shared verbatim
    * by the live `search` (lossAt trains a fold) and `replay` (lossAt
    * reads a precomputed loss) so the two can never drift. */
  private def runTrial(t: Int, h: Hypers, cv: Int, warmupSteps: Int,
      history: Array[scala.collection.mutable.ArrayBuffer[Double]],
      lossAt: Int => Double): TrialResult = {
    val foldLosses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pruned = false
    var f = 0
    while (f < cv && !pruned) {
      foldLosses += lossAt(f)
      // MedianPruner: prune when the running mean at this step is
      // worse than the median of prior trials at the same step
      val step = foldLosses.length - 1
      if (step >= warmupSteps && history(step).nonEmpty) {
        val sorted = history(step).sorted
        val median = sorted(sorted.length / 2)
        if (foldLosses.sum / foldLosses.length > median) pruned = true
      }
      f += 1
    }
    foldLosses.zipWithIndex.foreach { case (l, i) =>
      if (!pruned || i < foldLosses.length - 1)
        history(i) += foldLosses.take(i + 1).sum / (i + 1)
    }
    TrialResult(t, h, foldLosses.toSeq,
      foldLosses.sum / foldLosses.length, pruned)
  }

  private def finish(results: Seq[TrialResult]): SearchResult = {
    val completed = results.filter(!_.pruned)
    val best = (if (completed.nonEmpty) completed else results)
      .minBy(_.avgLoss)
    SearchResult(results, best)
  }

  /** Runs nTrials; each trial: k-fold CV (KFold shuffle, seed 21 —
    * CNC_AE_model_selection.py:346-348), training on k−1 folds,
    * recon val loss on the held-out fold; median-pruned after
    * `warmupSteps` fold reports. `epochScale` shrinks the sampled epoch
    * counts for CI-scale runs (1.0 = reference semantics). */
  def search(df: DataFrame, mkModel: Hypers => AeModel, nTrials: Int,
      cv: Int = 5, seed: Long = 42, warmupSteps: Int = 2,
      epochScale: Double = 1.0, keyCol: String = "sample_id"): SearchResult = {
    val folded = Splits.kFoldColumn(df, keyCol, cv, 21).cache()
    folded.count()

    // foldLossHistory(f) = completed trials' loss at fold index f
    val history = Array.fill(cv)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    val results = hyperSequence(nTrials, seed).zipWithIndex.map {
      case (h, t) =>
        val epochs = math.max(1, math.round(h.epochs * epochScale).toInt)
        val model = mkModel(h)
        runTrial(t, h, cv, warmupSteps, history, { f =>
          val trainDf = folded.filter(col("fold") =!= f)
          val valDf = folded.filter(col("fold") === f)
          val trained = Trainer.train(trainDf, model,
            Trainer.Config(lr = h.lr, weightDecay = h.l2,
              batchSize = h.batchSize, epochs = epochs, seed = 21))
          Trainer.evaluateLoss(valDf, model, trained.params, trained.stats)
        })
    }
    folded.unpersist()
    finish(results)
  }

  /** Replays the sequential search bookkeeping over precomputed
    * per-trial fold losses. Each trial's fold training is a pure
    * function of (dataset, model, hypers, seed) — no trial reads
    * another trial's state — so fold losses can be computed on parallel
    * workers and the only sequential parts (pruning history, best
    * selection) replayed here, bit-identically to a live `search` of
    * the same prefix (`BreadthReplaySpec`). */
  def replay(hypers: Seq[Hypers], foldLosses: Seq[Seq[Double]],
      cv: Int, warmupSteps: Int = 2): SearchResult = {
    require(hypers.length == foldLosses.length,
      s"${hypers.length} hypers vs ${foldLosses.length} loss rows")
    val history = Array.fill(cv)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    finish(hypers.indices.map { t =>
      runTrial(t, hypers(t), cv, warmupSteps, history, foldLosses(t))
    })
  }
}
