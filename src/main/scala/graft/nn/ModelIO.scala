package graft.nn

import org.apache.spark.sql.SparkSession

/** S10 — model persistence: weights + BN stats as parquet (kind, idx,
  * value) plus the java-serialized model (ref: torch.save/load whole
  * modules — Simulation_Models/CNC_AE_retraining.py:250-252).
  */
object ModelIO {

  def save(spark: SparkSession, path: String, model: AeModel,
      params: Array[Double], stats: Array[Double]): Unit = {
    import spark.implicits._
    val rows =
      params.iterator.zipWithIndex.map { case (v, i) => ("param", i, v) } ++
      stats.iterator.zipWithIndex.map { case (v, i) => ("stat", i, v) }
    rows.toSeq.toDF("kind", "idx", "value")
      .repartition(1).write.mode("overwrite").parquet(s"$path/weights")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(model); oos.close()
    Seq(bos.toByteArray).toDF("spec")
      .repartition(1).write.mode("overwrite").parquet(s"$path/spec")
  }

  def load(spark: SparkSession, path: String)
      : (AeModel, Array[Double], Array[Double]) = {
    val specBytes = spark.read.parquet(s"$path/spec")
      .head().getAs[Array[Byte]](0)
    val model = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(specBytes))
      .readObject().asInstanceOf[AeModel]
    val w = spark.read.parquet(s"$path/weights").collect()
    val params = new Array[Double](model.paramCount)
    val stats = new Array[Double](model.statCount)
    w.foreach { r =>
      val arr = if (r.getString(0) == "param") params else stats
      arr(r.getInt(1)) = r.getDouble(2)
    }
    (model, params, stats)
  }
}
