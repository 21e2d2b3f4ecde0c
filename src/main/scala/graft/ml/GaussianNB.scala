package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Gaussian Naive Bayes with sklearn semantics
  * (ref: Evaluation_Auxiliary/nb_classification.py:1-38 uses
  * `sklearn.naive_bayes.GaussianNB`).
  *
  * sklearn parity points implemented exactly:
  *  - per-(class, feature) mean and POPULATION variance;
  *  - variance smoothing: var += var_smoothing * max(var over all
  *    features of the pooled data) with var_smoothing = 1e-9;
  *  - priors from class frequencies;
  *  - argmax over Σ log N(x|θ) + log prior, ties → first class in
  *    sorted order.
  *
  * Scale: [[crossValidate]] runs a fixed number of jobs whatever `k`
  * is. One long-form (fold, class, dim) aggregation over the cached,
  * folded frame returns the mergeable moments (count, mean, population
  * variance) of folds × classes × width cells, independent of the row
  * count. The driver builds model i by merging every other fold's cells
  * (Chan, Golub & LeVeque 1979, the merge `var_pop` does inside Spark).
  * One scoring pass broadcasts the k models and scores each row with
  * its own fold's model, partition-locally (the MLlib pattern): no
  * shuffle, no per-row joins against the cells.
  */
object GaussianNB {

  final case class Model(
      classes: Array[Long],
      priors: Array[Double],        // log priors, per class
      means: Array[Array[Double]],  // [class][dim]
      vars: Array[Array[Double]])   // smoothed, [class][dim]

  /** Count, mean and sum of squared deviations (M2) of one sample. */
  private[ml] final case class Moments(n: Double, mean: Double, m2: Double) {
    def variance: Double = m2 / n

    /** The moments of the union of both samples. */
    def merge(o: Moments): Moments =
      if (n == 0) o
      else if (o.n == 0) this
      else {
        val n2 = n + o.n
        val delta = o.mean - mean
        Moments(n2, mean + delta * o.n / n2,
          m2 + o.m2 + delta * delta * n * o.n / n2)
      }
  }

  private[ml] object Moments { val Empty: Moments = Moments(0, 0, 0) }

  /** Moments of one (fold, class, dim) cell. */
  private[ml] final case class Cell(fold: Int, cls: Long, dim: Int, m: Moments)

  /** One aggregation over (fold, class, dim), sorted fold → class → dim
    * so every merge runs in a fixed order. */
  private[ml] def cells(df: DataFrame, fold: Column, featuresCol: String,
      labelCol: String): Array[Cell] =
    df.select(fold.cast("int").as("fold"), col(labelCol).cast("long").as("cls"),
        posexplode(col(featuresCol)).as(Seq("dim", "v")))
      .groupBy("fold", "cls", "dim")
      .agg(count(lit(1)), avg("v"), var_pop("v"))
      .collect()
      .map { r =>
        val n = r.getLong(3).toDouble
        Cell(r.getInt(0), r.getLong(1), r.getInt(2),
          Moments(n, r.getDouble(4), r.getDouble(5) * n))
      }
      .sortBy(c => (c.fold, c.cls, c.dim))

  /** The model of the training cells `train` (in fold → class → dim
    * order): per-(class, dim) moments merged over folds, classes and log
    * priors from the training counts, the smoothing epsilon from the
    * per-dim moments merged over classes. */
  private[ml] def model(train: Seq[Cell], varSmoothing: Double = 1e-9): Model = {
    val classes = train.map(_.cls).distinct.sorted.toArray
    val cIdx = classes.zipWithIndex.toMap
    val w = train.map(_.dim).max + 1
    val merged = Array.fill(classes.length, w)(Moments.Empty)
    train.foreach { c =>
      val i = cIdx(c.cls)
      merged(i)(c.dim) = merged(i)(c.dim).merge(c.m)
    }
    // sklearn: smoothing epsilon = var_smoothing * max variance of the
    // POOLED data (all classes together)
    val pooledMaxVar = (0 until w)
      .map(j => merged.map(_(j)).reduce(_ merge _).variance).max
    val epsilon = varSmoothing * pooledMaxVar
    val counts = merged.map(_.map(_.n).max)
    val n = counts.sum
    Model(classes, counts.map(c => math.log(c / n)),
      merged.map(_.map(_.mean)), merged.map(_.map(_.variance + epsilon)))
  }

  def fit(df: DataFrame, featuresCol: String = "features",
      labelCol: String = "label_idx", varSmoothing: Double = 1e-9): Model =
    model(cells(df, lit(0), featuresCol, labelCol).toSeq, varSmoothing)

  /** Index into `m.classes` of the most likely class of `x`. */
  private def classify(m: Model, x: collection.Seq[Double]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < m.classes.length) {
      var s = m.priors(c)
      var j = 0
      while (j < x.length) {
        val d = x(j) - m.means(c)(j)
        s += -0.5 * (math.log(2 * math.Pi * m.vars(c)(j)) +
          d * d / m.vars(c)(j))
        j += 1
      }
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  /** Adds `pred` (the argmax class) to df. Stats are broadcast; scoring
    * is per-partition local arithmetic. */
  def predict(df: DataFrame, model: Model,
      featuresCol: String = "features"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val outSchema = StructType(df.schema.fields :+ StructField("pred", LongType))
    val fIdx = df.schema.fieldIndex(featuresCol)
    val rdd = df.rdd.mapPartitions { it =>
      val m = bc.value
      it.map(row => Row.fromSeq(row.toSeq :+
        m.classes(classify(m, row.getSeq[Double](fIdx)))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** M1+SP3 — stratified k-fold CV accuracy: returns (fold, accuracy)
    * rows, one per non-empty fold (nb_classification.py:20 —
    * cross_validate(GaussianNB(), cv=5) over stratified folds). Fold i
    * is scored by the model of every other fold's cells. */
  def crossValidate(df: DataFrame, k: Int = 5, seed: Long = 2023,
      featuresCol: String = "features", labelCol: String = "label_idx",
      keyCol: String = "sample_id"): DataFrame = {
    import graft.etl.Splits
    val spark = df.sparkSession
    val folded = Splits.stratifiedKFold(df, labelCol, keyCol, k, seed)
      .select(col("fold"), col(labelCol).cast("long").as("cls"),
        col(featuresCol).as("x"))
      .cache()
    try {
      val all = cells(folded, col("fold"), "x", "cls")
      // tiny strata can leave trailing folds empty: they get no model
      val folds = all.map(_.fold).distinct.sorted
      val models = new Array[Model](k)
      folds.foreach(i => models(i) = model(all.filter(_.fold != i).toSeq))
      val bc = spark.sparkContext.broadcast(models)
      val (hits, totals) = folded.rdd.mapPartitions { it =>
        val ms = bc.value
        val hits = new Array[Long](k); val totals = new Array[Long](k)
        it.foreach { row =>
          val f = row.getInt(0); val m = ms(f)
          if (m.classes(classify(m, row.getSeq[Double](2))) == row.getLong(1))
            hits(f) += 1
          totals(f) += 1
        }
        Iterator((hits, totals))
      }.fold((new Array[Long](k), new Array[Long](k))) {
        case ((h1, t1), (h2, t2)) =>
          (h1.zip(h2).map(p => p._1 + p._2), t1.zip(t2).map(p => p._1 + p._2))
      }
      bc.destroy()
      spark.createDataFrame(folds.toSeq.map(i =>
          (i, hits(i).toDouble / totals(i)))).toDF("fold", "accuracy")
    } finally folded.unpersist()
  }
}
