package graft.nn

import breeze.linalg.DenseMatrix
import graft.nn.ArchZoo.{ConcatEmbed, EmbedSpec, MocssEmbed}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** M14/M24/A10 — eval-mode AE inference as a distributed operator:
  * broadcast weights, per-partition breeze GEMM over row blocks, one
  * output row per input row. Embedding extraction per architecture
  * (ref: embedding_from_retrained_models.py:36-91 — z12 for plain
  * archs, z1‖z2‖z12 for the SS family at :71, specific1‖specific2‖
  * avg(shared) for MOCSS at :81-84) and per-subject reconstruction
  * loss (reconloss_from_retrained_models.py:8-95).
  */
object Inference {

  private val BlockSize = 256

  /** Adds `embedding: Array[Double]` and `recon_loss: Double` columns. */
  def embedAndRecon(df: DataFrame, model: AeModel, params: Array[Double],
      stats: Array[Double], embed: EmbedSpec,
      x1Col: String = "x1", x2Col: String = "x2"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast((params, stats))
    val i1 = df.schema.fieldIndex(x1Col)
    val i2 = df.schema.fieldIndex(x2Col)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("embedding", ArrayType(DoubleType)),
      StructField("recon_loss", DoubleType)))
    val rdd = df.rdd.mapPartitions { it =>
      val (p, s) = bc.value
      it.grouped(BlockSize).flatMap { block =>
        val x1 = DenseMatrix.tabulate(block.size,
          block.head.getSeq[Double](i1).length)((r, c) =>
          block(r).getSeq[Double](i1)(c))
        val x2 = DenseMatrix.tabulate(block.size,
          block.head.getSeq[Double](i2).length)((r, c) =>
          block(r).getSeq[Double](i2)(c))
        val outs = model.evalOutputs(p, s, x1, x2)

        val embMat: DenseMatrix[Double] = embed match {
          case ConcatEmbed(names) =>
            names.map(outs).reduce(DenseMatrix.horzcat(_, _))
          case MocssEmbed =>
            val sharedMean = (outs("shared1") + outs("shared2")) * 0.5
            DenseMatrix.horzcat(
              DenseMatrix.horzcat(outs("specific1"), outs("specific2")),
              sharedMean)
        }
        // per-row recon loss: Σ over present recon outputs of
        // ‖rownorm(out)_r − rownorm(target)_r‖₂
        val normPairs = ReconTerm.Outputs.collect {
          case (k, v) if outs.contains(k) =>
            (Kernel.rowNormalize(outs(k))._1,
             Kernel.rowNormalize(if (v == 0) x1 else x2)._1)
        }
        block.indices.map { r =>
          var lossR = 0.0
          normPairs.foreach { case (o, t) =>
            var acc = 0.0; var c = 0
            while (c < o.cols) {
              val d = o(r, c) - t(r, c); acc += d * d; c += 1
            }
            lossR += math.sqrt(acc)
          }
          val emb = Array.tabulate(embMat.cols)(c => embMat(r, c))
          Row.fromSeq(block(r).toSeq ++ Seq(emb.toSeq, lossR))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
