package graft.search

import org.apache.spark.sql.DataFrame
import graft.nn.{AeModel, ModelIO, Trainer}

/** M23 — retraining with the selected hyperparameters on the full
  * training set, then persisting the model (ref:
  * Simulation_Models/CNC_AE_retraining.py:168-258 — same loop as
  * selection but single split, best `epoch` hyper, torch.save at
  * :250-252 → ModelIO parquet here).
  */
object Retrain {

  final case class RetrainedModel(model: AeModel, params: Array[Double],
      stats: Array[Double], epochLosses: Seq[Double])

  def run(trainDf: DataFrame, mkModel: RandomSearch.Hypers => AeModel,
      best: RandomSearch.Hypers, epochScale: Double = 1.0,
      savePath: Option[String] = None): RetrainedModel = {
    val epochs = math.max(1, math.round(best.epochs * epochScale).toInt)
    val model = mkModel(best)
    val trained = Trainer.train(trainDf, model,
      Trainer.Config(lr = best.lr, weightDecay = best.l2,
        batchSize = best.batchSize, epochs = epochs, seed = 21))
    savePath.foreach(p => ModelIO.save(trainDf.sparkSession, p, model,
      trained.params, trained.stats))
    RetrainedModel(model, trained.params, trained.stats,
      trained.epochLosses)
  }
}
