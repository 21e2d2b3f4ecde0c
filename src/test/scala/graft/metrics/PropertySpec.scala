package graft.metrics

import graft.SparkSpec
import graft.etl.{Scalers, Splits}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.2.3) — metric invariants and split laws on
  * scalacheck-generated inputs. Deterministic seeds; few cases per
  * property (each case runs Spark jobs).
  */
class PropertySpec extends SparkSpec {

  private val P = Gen.Parameters.default
  private def sampled[A](g: Gen[A], seed: Long): A =
    g.pureApply(P, Seed(seed))

  private def labelGen(n: Int, k: Int): Gen[List[(Int, Int)]] =
    Gen.listOfN(n, for {
      a <- Gen.choose(0, k - 1); b <- Gen.choose(0, k - 1)
    } yield (a, b))

  describe("clustering metric invariants") {
    it("NMI/acc in [0,1], ARI in [-1,1], ARI symmetric, =1 on identical") {
      import spark.implicits._
      for (s <- 1 to 5) {
        val pairs = sampled(labelGen(24, 3), s)
        val df = pairs.toDF("label", "pred")
        val nmi = ClusteringMetrics.nmi(df)
        val ari = ClusteringMetrics.ari(df)
        val acc = ClusteringMetrics.accuracy(df)
        assert(nmi >= -1e-9 && nmi <= 1 + 1e-9, s"nmi=$nmi seed=$s")
        assert(ari >= -1 - 1e-9 && ari <= 1 + 1e-9, s"ari=$ari seed=$s")
        assert(acc >= 0 && acc <= 1)
        val swapped = pairs.map(_.swap).toDF("label", "pred")
        assert(math.abs(ari - ClusteringMetrics.ari(swapped)) < 1e-9,
          s"ARI not symmetric at seed=$s")
        val ident = pairs.map { case (a, _) => (a, a) }.toDF("label", "pred")
        assert(math.abs(ClusteringMetrics.ari(ident) - 1.0) < 1e-9)
        assert(math.abs(ClusteringMetrics.nmi(ident) - 1.0) < 1e-9)
      }
    }

    it("Hungarian-remapped accuracy >= identity accuracy") {
      import spark.implicits._
      for (s <- 10 to 13) {
        val df = sampled(labelGen(30, 4), s).toDF("label", "pred")
        val plain = ClusteringMetrics.accuracy(df)
        val (_, remapped) = Hungarian.remap(df)
        assert(remapped >= plain - 1e-9,
          s"remap $remapped < plain $plain at seed=$s")
      }
    }
  }

  describe("split laws (SP1)") {
    it("stratified split is an exact partition for random class sizes") {
      import spark.implicits._
      for (s <- 20 to 22) {
        val rows = sampled(Gen.listOfN(40, Gen.choose(0, 2)), s)
          .zipWithIndex.map { case (c, i) => (s"k$i", s"c$c") }
        val df = rows.toDF("sample_id", "label")
        val split = Splits.stratifiedFlag(df, "label", "sample_id", 0.8, 42)
        val byClass = split.groupBy("label")
          .agg(sum(when(col("is_train"), 1).otherwise(0)).as("tr"),
            count(lit(1)).as("n")).collect()
        byClass.foreach { r =>
          assert(r.getLong(1) == math.round(r.getLong(2) * 0.8))
        }
        assert(split.count() == rows.length)
        assert(split.filter(col("is_train")).count() +
          split.filter(!col("is_train")).count() == rows.length)
      }
    }
  }

  describe("min-max scaling laws (A1)") {
    it("outputs lie in [0,1]; non-constant features hit both bounds") {
      import spark.implicits._
      for (s <- 30 to 32) {
        val vals = sampled(Gen.listOfN(8,
          Gen.listOfN(3, Gen.choose(-50.0, 50.0))), s)
        val df = vals.map(v => Tuple1(v)).toDF("features")
        val out = Scalers.fitTransform(df).collect()
          .map(_.getSeq[Double](0))
        out.foreach(r => r.foreach(v =>
          assert(v >= -1e-12 && v <= 1 + 1e-12)))
        for (c <- 0 until 3) {
          val col_ = out.map(_(c))
          if (col_.distinct.length > 1) {
            assert(math.abs(col_.min) < 1e-12 &&
              math.abs(col_.max - 1.0) < 1e-12)
          }
        }
      }
    }
  }

  describe("recon-loss norm laws (A9)") {
    it("frobenius loss is symmetric-ish bounded: 0 on identical, >0 else") {
      import breeze.linalg.DenseMatrix
      import graft.nn.Kernel.frobeniusNormalizedLoss
      for (s <- 40 to 42) {
        val vals = sampled(Gen.listOfN(5,
          Gen.listOfN(4, Gen.choose(0.1, 10.0))), s)
        val a = DenseMatrix(vals.map(_.toArray): _*)
        assert(frobeniusNormalizedLoss(a, a)._1 < 1e-12)
        val shifted = DenseMatrix(vals.map(_.map(_ * 2 + 1).toArray): _*)
        assert(frobeniusNormalizedLoss(a, shifted)._1 >= 0)
      }
    }
  }
}
