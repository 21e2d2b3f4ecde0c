package graft.etl

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-feature min-max scaling over the array `features` column
  * (ref: TCGA_Auxiliary/Data_prep.py:72-76 — sklearn MinMaxScaler).
  *
  * Fit is a single pass with a custom `Aggregator` (SURVEY §4.3): the
  * buffer is one (min[], max[]) pair per partition, merged pairwise —
  * map-side combine, no shuffle of the data itself, driver receives one
  * width-sized pair. Transform is a codegen'd `arrays_zip`+`transform`
  * expression; constant features rescale to 0.0 (sklearn semantics:
  * zero range → scale 1, x − min = 0).
  *
  * The reference REFITS the scaler on whichever split it transforms
  * (AE_results.ipynb cell 81 — train and test each scaled by their own
  * min/max); `fitTransform` reproduces that quirk.
  */
object Scalers {

  final case class MinMaxState(min: Array[Double], max: Array[Double])

  /** Single-pass elementwise (min, max) over Array[Double] rows. Typed
    * on Array, not Seq: Spark deserializes a Seq column as a List, whose
    * `length` and `apply(i)` are O(width), making each row O(width²). */
  object MinMaxAgg extends Aggregator[Array[Double], MinMaxState, MinMaxState] {
    override def zero: MinMaxState = MinMaxState(Array.empty, Array.empty)

    override def reduce(b: MinMaxState, a: Array[Double]): MinMaxState =
      if (b.min.isEmpty) MinMaxState(a.clone(), a.clone())
      else {
        var i = 0
        while (i < a.length) {
          val v = a(i)
          if (v < b.min(i)) b.min(i) = v
          if (v > b.max(i)) b.max(i) = v
          i += 1
        }
        b
      }

    override def merge(x: MinMaxState, y: MinMaxState): MinMaxState =
      if (x.min.isEmpty) y
      else if (y.min.isEmpty) x
      else {
        var i = 0
        while (i < x.min.length) {
          if (y.min(i) < x.min(i)) x.min(i) = y.min(i)
          if (y.max(i) > x.max(i)) x.max(i) = y.max(i)
          i += 1
        }
        x
      }

    override def finish(r: MinMaxState): MinMaxState = r
    override def bufferEncoder: Encoder[MinMaxState] = Encoders.product[MinMaxState]
    override def outputEncoder: Encoder[MinMaxState] = Encoders.product[MinMaxState]
  }

  /** One-row DataFrame (mn: array, mx: array) fitted on `featuresCol`.
    * The aggregation is distributed (map-side combined); only the final
    * width-sized (min[], max[]) pair reaches the driver. */
  def fit(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    import df.sparkSession.implicits._
    val st = df.select(col(featuresCol)).as[Array[Double]]
      .select(MinMaxAgg.toColumn)
      .head()
    df.sparkSession.createDataFrame(Seq((st.min.toSeq, st.max.toSeq)))
      .toDF("mn", "mx")
  }

  /** Rescale `featuresCol` with a fitted (mn, mx) one-row frame
    * (broadcast — the stats never shuffle the data side). */
  def transformWith(df: DataFrame, fitted: DataFrame,
      featuresCol: String = "features"): DataFrame = {
    val zipped = arrays_zip(col(featuresCol), col("mn"), col("mx"))
    df.crossJoin(broadcast(fitted))
      .withColumn(featuresCol,
        transform(zipped, s =>
          when(s.getField("mx") === s.getField("mn"), 0.0)
            .otherwise((s.getField(featuresCol) - s.getField("mn"))
              / (s.getField("mx") - s.getField("mn")))))
      .drop("mn", "mx")
  }

  /** Fit on df, transform df — the reference's per-split refit quirk. */
  def fitTransform(df: DataFrame, featuresCol: String = "features"): DataFrame =
    transformWith(df, fit(df, featuresCol), featuresCol)
}
