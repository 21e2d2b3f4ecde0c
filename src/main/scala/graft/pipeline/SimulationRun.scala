package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{LabelCodec, OmicsReader, Scalers, Splits}
import graft.ml.GaussianNB
import graft.nn.{ArchZoo, Inference, Trainer}
import graft.search.{RandomSearch, Retrain}

/** The full reference flow wired end-to-end (SURVEY §3.1 → §3.2 → §3.3):
  * model selection (random search + median pruning over the published
  * space, k-fold CV per trial) → retraining with the best trial on the
  * full training split → evaluation (per-subject recon loss, embedding
  * extraction, NB CV) → S7/S8-shaped trial tables. [[compare]] builds
  * the cross-architecture table from the same preparation and
  * evaluation.
  *
  * `trialBudget`/`epochScale` shrink the search for CI-scale runs; the
  * composition and semantics are the reference's
  * (Simulation_Models/CNC_AE_model_selection.py:557-582 outer loop,
  * CNC_AE_retraining.py, Evaluation_Auxiliary/AE_results.ipynb).
  */
object SimulationRun {

  final case class RunResult(trials: DataFrame, bestTrial: Int,
      retrainLosses: Seq[Double], reconStats: (Double, Double),
      nbCv: DataFrame, testReconStats: (Double, Double))

  /** §3.1 prep output: `paired` is cached; caller unpersists. */
  final case class Prepared(paired: DataFrame, flagged: DataFrame,
      width: Int, splitAt: Int) {
    def d2: Int = width - splitAt
  }

  /** §3.2+§3.3 output for one (hypers, arch) choice. */
  final case class EvalResult(retrainLosses: Seq[Double],
      reconStats: (Double, Double), nbCv: DataFrame,
      testReconStats: (Double, Double))

  /** §3.1 data prep: scan → derived labels → stratified 80/20 →
    * per-column min-max on the train split → positional x1/x2 pair. */
  def prepare(spark: SparkSession, path: String,
      splitAt: Int = 846): Prepared = {
    val m = OmicsReader.readTransposed(spark, path)
    val labeled = LabelCodec.withDerivedLabel(
      m.data, LabelCodec.simulationLabelMap)
    val flagged = Splits
      .stratifiedFlag(labeled, "label", "sample_id", 0.8, 42)
    val train = flagged.filter(col("is_train"))
    // the fitted (mn, mx) frame is local: reading the width runs no job
    val fitted = Scalers.fit(train)
    val width = fitted.head().getSeq[Double](0).length
    val scaled = Scalers.transformWith(train, fitted)
    val paired = scaled.select(
      col("sample_id"), col("label"), col("label_idx"),
      slice(col("features"), 1, splitAt).as("x1"),
      slice(col("features"), splitAt + 1, width - splitAt).as("x2"))
      .cache()
    Prepared(paired, flagged, width, splitAt)
  }

  /** §3.3 scores of one trained model; see [[evaluate]]. The held-out
    * test recon runs on first use: [[compare]] never reads it. */
  final class Scores(val reconStats: (Double, Double), val nbCv: DataFrame,
      testRecon: () => (Double, Double)) {
    lazy val testReconStats: (Double, Double) = testRecon()
  }

  /** The raw-feature NB inputs (AE_results.ipynb cell 124's Gene, miRNA
    * and Gene+miRNA rows) as (name, frame of sample_id, label_idx,
    * features). `raw_concat` is the scaled train matrix itself. */
  def rawFeatures(prep: Prepared): Seq[(String, DataFrame)] = {
    def rows(features: Column) = prep.paired.select(col("sample_id"),
      col("label_idx"), features.as("features"))
    Seq("raw_x1" -> rows(col("x1")), "raw_x2" -> rows(col("x2")),
      "raw_concat" -> rows(concat(col("x1"), col("x2"))))
  }

  /** §3.3 evaluation of trained weights: per-subject recon mean/std on
    * the train split, NB 5-fold CV on the extracted embeddings, and
    * (on first use) recon mean/std on the held-out test split. */
  def evaluate(prep: Prepared, arch: ArchZoo.Arch, params: Array[Double],
      stats: Array[Double]): Scores = {
    val inferred = Inference.embedAndRecon(prep.paired, arch.model,
      params, stats, arch.embed).cache()
    val st = inferred.agg(avg("recon_loss"), stddev_pop("recon_loss"))
      .head()
    val nb = GaussianNB.crossValidate(
      inferred.select(col("sample_id"), col("label_idx"),
        col("embedding").as("features")), k = 5, seed = 2023)
    inferred.unpersist()
    new Scores((st.getDouble(0), st.getDouble(1)), nb, () => {
      // held-out 20%: the trained model applied to the test split
      // (reconloss_from_retrained_models.py:61-83; the published test
      // aggregate is AE_results.ipynb cell 30). The scaler REFITS on the
      // split it transforms — the reference's cell-81 quirk that
      // Scalers.fitTransform reproduces for both splits. The test rows
      // are cached so the fit and the transform read the input once.
      val test = prep.flagged.filter(!col("is_train")).cache()
      try {
        val pairedTest = Scalers.fitTransform(test).select(
          col("sample_id"), col("label"), col("label_idx"),
          slice(col("features"), 1, prep.splitAt).as("x1"),
          slice(col("features"), prep.splitAt + 1, prep.d2).as("x2"))
        val tst = Inference
          .embedAndRecon(pairedTest, arch.model, params, stats, arch.embed)
          .agg(avg("recon_loss"), stddev_pop("recon_loss")).head()
        (tst.getDouble(0), tst.getDouble(1))
      } finally test.unpersist()
    })
  }

  /** §3.2 retrain with the given hypers + §3.3 [[evaluate]]. */
  def evalBest(prep: Prepared, mkArch: (Int, Int, Double) => ArchZoo.Arch,
      best: RandomSearch.Hypers, epochScale: Double,
      modelDir: Option[String] = None): EvalResult = {
    val arch = mkArch(prep.splitAt, prep.d2, best.orthoMultiplier)
    val retrained = Retrain.run(prep.paired, _ => arch.model,
      best, epochScale = epochScale, savePath = modelDir)
    val s = evaluate(prep, arch, retrained.params, retrained.stats)
    EvalResult(retrained.epochLosses, s.reconStats, s.nbCv,
      s.testReconStats)
  }

  /** The AE_results comparison table (cells 78-79 recon, 121/124 NB):
    * the three [[rawFeatures]] baselines, then each arch trained for
    * `epochs` on the prepared train split (lr 1e-3, batch 128). Columns
    * model, recon_mean, recon_std (NaN for the raw rows) and nb_acc
    * (mean of the 5 NB folds), rounded to 4 places. */
  def compare(prep: Prepared, archs: Seq[ArchZoo.Arch],
      epochs: Int = 2): DataFrame = {
    def meanAcc(cv: DataFrame): Double = {
      val accs = cv.collect().map(_.getDouble(1))
      accs.sum / accs.length
    }
    val rawRows = rawFeatures(prep).map { case (name, df) =>
      (name, Double.NaN, Double.NaN,
        meanAcc(GaussianNB.crossValidate(df, k = 5, seed = 2023)))
    }
    val archRows = archs.map { arch =>
      val t = Trainer.train(prep.paired, arch.model,
        Trainer.Config(lr = 1e-3, weightDecay = 1e-6, batchSize = 128,
          epochs = epochs, seed = 21))
      val s = evaluate(prep, arch, t.params, t.stats)
      (arch.name, s.reconStats._1, s.reconStats._2, meanAcc(s.nbCv))
    }
    val spark = prep.paired.sparkSession
    import spark.implicits._
    (rawRows ++ archRows)
      .toDF("model", "recon_mean", "recon_std", "nb_acc")
      .select(col("model"), round(col("recon_mean"), 4).as("recon_mean"),
        round(col("recon_std"), 4).as("recon_std"),
        round(col("nb_acc"), 4).as("nb_acc"))
  }

  def run(spark: SparkSession, path: String,
      mkArch: (Int, Int, Double) => ArchZoo.Arch,
      nTrials: Int = 3, cv: Int = 3, epochScale: Double = 0.02,
      splitAt: Int = 846, modelDir: Option[String] = None): RunResult = {

    // §3.1 data prep
    val prep = prepare(spark, path, splitAt)

    // §3.1 model selection
    val search = RandomSearch.search(prep.paired,
      h => mkArch(splitAt, prep.d2, h.orthoMultiplier).model,
      nTrials = nTrials, cv = cv, seed = 42, epochScale = epochScale)

    // §3.2 retraining + §3.3 evaluation
    val ev = evalBest(prep, mkArch, search.best.hypers, epochScale,
      modelDir)
    prep.paired.unpersist()
    RunResult(search.trialsDf(spark), search.best.trial,
      ev.retrainLosses, ev.reconStats, ev.nbCv, ev.testReconStats)
  }
}
