package graft.ml

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Spark ML wrappers for the reference's clustering / projection calls.
  *
  *  - M2: `KMeans(n_clusters=k).fit_predict` (Simulation_Auxiliary/
  *    mocss.py:409,531,604) → ml.clustering.KMeans (k-means‖ init,
  *    seeded — same family as sklearn's k-means++, distributed).
  *  - M13: `PCA(n_components=d)` (Evaluation_Auxiliary/
  *    tsn_visulization.py:9, t-SNE init) → ml.feature.PCA.
  *  - M3 (DBSCAN/Birch) is instantiated but never applied in the
  *    reference (mocss.py:410-411) — documented dormant, not ported.
  */
object Clustering {

  /** Adds `pred` cluster assignments over the array features column. */
  def kmeansPredict(df: DataFrame, k: Int, seed: Long = 21,
      featuresCol: String = "features", maxIter: Int = 50): DataFrame = {
    val prepared = df.withColumn("__vec", array_to_vector(col(featuresCol)))
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__vec").setPredictionCol("pred")
      .fit(prepared)
    model.transform(prepared).drop("__vec")
      .withColumn("pred", col("pred").cast("long"))
  }

  private val modelCache = TrieMap.empty[String, KMeansModel]

  private[graft] def clearModelCacheForTest(): Unit = modelCache.clear()

  /** Fit-once quantizer: the IVF coarse index is built one time per
    * `key` (dataset + k) and reused by every subsequent query — never
    * re-fit inside a query body.
    *
    * Durability: with `persistPath` set, the fitted model (k centroids ≪
    * data) is saved on first fit and LOADED on a cache miss in a fresh
    * JVM — the "fit once per dataset" guarantee survives driver
    * restarts. Staleness: keys embed the dataset path and dataset dirs
    * are immutable (driver-generated parquet), so entries never go
    * stale; the cache is bounded by the number of distinct datasets ×
    * k values seen in one JVM (a handful). `getOrElseUpdate` may fit
    * concurrently on a first-use race — harmless duplicated work, one
    * winner. */
  def kmeansModelCached(key: String, df: DataFrame, k: Int, seed: Long = 21,
      featuresCol: String = "features", maxIter: Int = 50,
      persistPath: Option[String] = None): KMeansModel =
    modelCache.getOrElseUpdate(key, {
      def fit(): KMeansModel = {
        val prepared = df.withColumn("__vec", array_to_vector(col(featuresCol)))
        new KMeans()
          .setK(k).setSeed(seed).setMaxIter(maxIter)
          .setFeaturesCol("__vec").setPredictionCol("pred")
          .fit(prepared)
      }
      persistPath match {
        case Some(p) if new java.io.File(p.stripPrefix("file:")).exists() =>
          KMeansModel.load(p)
        case Some(p) =>
          val m = fit(); m.write.overwrite().save(p); m
        case None => fit()
      }
    })

  /** Adds `pca` (array column) of the first d principal components. */
  def pca(df: DataFrame, d: Int,
      featuresCol: String = "features"): DataFrame = {
    val prepared = df.withColumn("__vec", array_to_vector(col(featuresCol)))
    val model = new PCA().setK(d)
      .setInputCol("__vec").setOutputCol("__pca").fit(prepared)
    model.transform(prepared)
      .withColumn("pca", vector_to_array(col("__pca")))
      .drop("__vec", "__pca")
  }
}
