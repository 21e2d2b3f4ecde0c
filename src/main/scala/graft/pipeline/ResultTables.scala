package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Result-table plumbing around the evaluation notebook
  * (Evaluation_Auxiliary/AE_results.ipynb):
  *  - S11: JSON result maps {key: [per-fold/per-subject doubles]}
  *    (cell 22) → long form (key, value).
  *  - A16/A3: mean/std per key with key truncation F5 (cell 28:
  *    '_'.join(key.split('_')[:2])).
  *  - A5/O1/W3: best trial per model by loss.
  *  - F10: wide→long unpivot of per-fold columns (cell 130).
  */
object ResultTables {

  /** S11 — read a {name: [doubles]} JSON object into (key, value) rows. */
  def readResultJson(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", true).json(path)
    val cols = raw.columns.sorted
    val stacked = cols.map(c =>
      s"'${c.replace("'", "''")}', `$c`").mkString(", ")
    raw.select(expr(
        s"stack(${cols.length}, $stacked) AS (key, values)"))
      .select(col("key"), explode(col("values")).as("value"))
  }

  /** P6 — dict-style key filter: keep entries whose key contains the
    * setting substring (AE_results.ipynb cell 28:
    * `{k: v for k, v in d.items() if setting in k}`). */
  def filterKeys(df: DataFrame, setting: String): DataFrame =
    df.filter(col("key").contains(setting))

  /** F5 — '_'.join(key.split('_')[:n]). */
  def truncateKey(n: Int): org.apache.spark.sql.Column =
    concat_ws("_", slice(split(col("key"), "_"), 1, n))

  /** A16/A3 — mean/std (population, NumPy semantics) per truncated key. */
  def meanStdByKey(df: DataFrame, keyParts: Int = 2): DataFrame =
    df.withColumn("key", truncateKey(keyParts))
      .groupBy("key")
      .agg(avg("value").as("mean"), stddev_pop("value").as("std"),
        count(lit(1)).as("n"))
      .orderBy("key")

  /** A5/W3 — lowest-loss row per model from a trials table. */
  def bestTrialPerModel(trials: DataFrame, modelCol: String = "model",
      lossCol: String = "recon_loss"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(modelCol).orderBy(col(lossCol), col("trial"))
    trials.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Sinks (S7/S8/S12/S13): TSV writers matching the reference's
    * to_csv(sep='\t') outputs; append mode for per-trial logs. */
  def writeTsv(df: DataFrame, path: String, append: Boolean = false): Unit =
    df.coalesce(1).write
      .mode(if (append) "append" else "overwrite")
      .option("sep", "\t").option("header", true)
      .csv(path)
}
