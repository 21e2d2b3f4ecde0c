package graft.metrics

import breeze.linalg.DenseMatrix
import graft.SparkSpec
import graft.nn.{Kernel, LossTerm, OrthoO1Term, OrthoO2Term, OrthoO3Term}
import org.apache.spark.sql.DataFrame

/** Golden-value tests: expected numbers computed independently with
  * NumPy from the published metric formulas (FIXTURES.md §1.3) and
  * frozen here. Tolerance 1e-9 unless noted.
  */
class MetricsSpec extends SparkSpec {

  private def eps(a: Double, b: Double, tol: Double = 1e-9) =
    assert(math.abs(a - b) <= tol, s"$a vs $b")

  private def labelDf(yt: Seq[Int], yp: Seq[Int]): DataFrame = {
    import spark.implicits._
    yt.zip(yp).toDF("label", "pred")
  }

  /** Array columns `a` and `b` of `df` as row-aligned matrices. */
  private def mats(df: DataFrame): (DenseMatrix[Double], DenseMatrix[Double]) = {
    val rows = df.select("a", "b").collect()
    def m(i: Int) = DenseMatrix(rows.map(_.getSeq[Double](i).toArray).toSeq: _*)
    (m(0), m(1))
  }

  describe("ClusteringMetrics (M4/M5/M6/A6/A8)") {
    val perfectRelabeled = labelDf(
      Seq(0, 0, 1, 1, 2, 2), Seq(1, 1, 0, 0, 2, 2))
    val eight = labelDf(
      Seq(0, 0, 0, 1, 1, 1, 2, 2), Seq(0, 0, 1, 1, 1, 2, 2, 2))

    it("NMI: 1.0 on relabeled-identical; golden on 8-point") {
      eps(ClusteringMetrics.nmi(perfectRelabeled), 1.0)
      eps(ClusteringMetrics.nmi(eight), 0.5588730382170326)
    }
    it("ARI: 1.0 on relabeled-identical; golden on 8-point") {
      eps(ClusteringMetrics.ari(perfectRelabeled), 1.0)
      eps(ClusteringMetrics.ari(eight), 0.23809523809523808)
    }
    it("Fowlkes-Mallows: 1.0 on relabeled-identical; golden on 8-point") {
      eps(ClusteringMetrics.fowlkesMallows(perfectRelabeled), 1.0)
      eps(ClusteringMetrics.fowlkesMallows(eight), 0.42857142857142855)
    }
    it("accuracy") {
      eps(ClusteringMetrics.accuracy(eight), 0.75)
      eps(ClusteringMetrics.accuracy(perfectRelabeled), 1.0 / 3.0)
    }
    it("v-measure (M8): 1.0 on relabeled-identical; goldens incl. " +
        "asymmetric homogeneity/completeness") {
      eps(ClusteringMetrics.vMeasure(perfectRelabeled), 1.0)
      eps(ClusteringMetrics.vMeasure(eight), 0.5588730382170324, 1e-9)
      // each true class pure in its clusters, but classes split → hom=1, com=2/3
      val asym = labelDf(Seq(0, 0, 1, 1), Seq(0, 1, 2, 2))
      val a = ClusteringMetrics.agreement(asym)
      eps(a.homogeneity, 1.0)
      eps(a.completeness, 2.0 / 3.0)
      eps(a.vMeasure, 0.8)
    }
    it("agreement() single-pass equals the individual metrics") {
      val a = ClusteringMetrics.agreement(eight)
      eps(a.nmi, 0.5588730382170326, 1e-12)
      eps(a.ari, 0.23809523809523808, 1e-12)
      eps(a.fowlkesMallows, 0.42857142857142855, 1e-12)
    }
  }

  describe("Hungarian (M7/A7)") {
    it("solves a known 3x3 assignment") {
      // min-cost: (0,1),(1,0),(2,2) → cost 1+2+2 = 5
      val cost = Array(
        Array(4.0, 1.0, 3.0),
        Array(2.0, 0.0, 5.0),
        Array(3.0, 2.0, 2.0))
      val a = Hungarian.solve(cost)
      val total = a.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum
      assert(total == 5.0)
    }
    it("matches exhaustive search on fixed 4x4 matrices") {
      val rnd = new scala.util.Random(7)
      for (_ <- 1 to 20) {
        val cost = Array.fill(4, 4)(rnd.nextInt(50).toDouble)
        val a = Hungarian.solve(cost)
        val mine = a.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum
        val best = (0 until 4).permutations
          .map(p => p.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum).min
        assert(mine == best, cost.map(_.mkString(",")).mkString(";"))
      }
    }
    it("remaps clusters to labels with best accuracy (golden 0.75)") {
      val (_, acc) = Hungarian.remap(labelDf(
        Seq(0, 0, 0, 1, 1, 1, 2, 2), Seq(0, 0, 1, 1, 1, 2, 2, 2)))
      eps(acc, 0.75)
      val (mapping, acc2) = Hungarian.remap(labelDf(
        Seq(0, 0, 1, 1, 2, 2), Seq(1, 1, 0, 0, 2, 2)))
      eps(acc2, 1.0)
      assert(mapping(1) == 0 && mapping(0) == 1 && mapping(2) == 2)
    }
  }

  describe("ReconLoss (F1/A9/A10/A11-A13)") {
    import spark.implicits._
    // FIXTURES.md §1.3 matrices; goldens from NumPy. A9 and A11–A13
    // check the training kernel's loss terms, their one implementation.
    val ab = Seq(
      ("r1", Seq(1.0, 2, 3, 4), Seq(4.0, 3, 2, 1)),
      ("r2", Seq(0.0, 1, 0, 1), Seq(1.0, 1, 1, 1)),
      ("r3", Seq(2.0, 2, 2, 2), Seq(2.0, 0, 0, 2))
    ).toDF("sample_id", "a", "b")

    it("per-subject loss (two identical views doubled)") {
      val out = ReconLoss.perSubject(ab, "a", "b", "a", "b")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      eps(out("r1"), 2 * 0.8164965809277261, 1e-9)
      eps(out("r2"), 2 * 0.7653668647301796, 1e-9)
      eps(out("r3"), 2 * 0.7653668647301795, 1e-9)
    }
    it("frobenius batch loss") {
      val (a, b) = mats(ab)
      eps(Kernel.frobeniusNormalizedLoss(a, b)._1, 1.3558169278779773, 1e-9)
    }
    it("ortho losses O1/O2/O3") {
      val s = Seq(
        (Seq(1.0, 0, 1, 0), Seq(1.0, 2, 0, 1)),
        (Seq(0.0, 1, 0, 1), Seq(2.0, 0, 1, 0)),
        (Seq(1.0, 1, 1, 1), Seq(0.0, 1, 2, 1))
      ).toDF("a", "b")
      val (a, b) = mats(s)
      def loss(t: LossTerm) =
        t.compute(Map("a" -> a, "b" -> b), IndexedSeq.empty)._1
      eps(loss(OrthoO1Term("a", "b", 1.0)), 0.0920976429602116, 1e-9)
      eps(loss(OrthoO2Term("a", "b", 1.0)), 0.75, 1e-9)
      eps(loss(OrthoO3Term("a", "b", 1.0)), 1.0 / 3.0, 1e-9)
    }
  }

  describe("ClusterQuality (M9/M10/M11)") {
    import spark.implicits._
    val blobs = Seq(
      (Seq(0.0, 0.0), 0), (Seq(0.0, 1.0), 0), (Seq(1.0, 0.0), 0),
      (Seq(10.0, 10.0), 1), (Seq(10.0, 11.0), 1), (Seq(11.0, 10.0), 1)
    ).toDF("features", "pred")

    it("Calinski-Harabasz golden (450.0)") {
      eps(ClusterQuality.calinskiHarabasz(blobs), 450.0, 1e-8)
    }
    it("Davies-Bouldin golden (0.0924950591…)") {
      eps(ClusterQuality.daviesBouldin(blobs), 0.09249505911485287, 1e-9)
    }
    it("silhouette is high on separated blobs, in [-1,1]") {
      val s = ClusterQuality.silhouette(blobs, distance = "squaredEuclidean")
      assert(s > 0.8 && s <= 1.0)
    }
  }
}
