package graft.ml

import graft.SparkSpec
import graft.metrics.{ClusteringMetrics, Hungarian}
import graft.pipeline.SimulationRun
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  describe("GaussianNB (M1)") {
    import spark.implicits._
    // FIXTURES.md §1.3: 12 points, 2 features, 3 classes; golden
    // predictions computed with NumPy per sklearn's documented algorithm
    // (population variance + 1e-9 * max pooled variance smoothing).
    val train = Seq(
      ("a1", 0, Seq(1.0, 2.0)), ("a2", 0, Seq(1.5, 1.8)),
      ("a3", 0, Seq(0.8, 2.2)), ("a4", 0, Seq(1.2, 2.1)),
      ("b1", 1, Seq(5.0, 6.0)), ("b2", 1, Seq(5.5, 5.8)),
      ("b3", 1, Seq(4.8, 6.2)), ("b4", 1, Seq(5.2, 6.1)),
      ("c1", 2, Seq(9.0, 1.0)), ("c2", 2, Seq(9.5, 0.8)),
      ("c3", 2, Seq(8.8, 1.2)), ("c4", 2, Seq(9.2, 1.1))
    ).toDF("sample_id", "label_idx", "features")

    it("reproduces sklearn predictions on the golden fixture") {
      val model = GaussianNB.fit(train)
      val test = Seq(
        (Seq(1.1, 2.0), 0L), (Seq(5.1, 6.0), 1L), (Seq(9.1, 1.0), 2L),
        (Seq(3.0, 4.0), 0L), (Seq(7.0, 3.5), 1L), (Seq(0.0, 0.0), 0L)
      ).toDF("features", "expected")
      val scored = GaussianNB.predict(test, model)
      assert(scored.filter(col("pred") =!= col("expected")).count() == 0)
    }

    it("cross-validates with perfect accuracy on separable blobs") {
      val cv = GaussianNB.crossValidate(train, k = 4, seed = 2023)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(cv.size == 4)
      assert(cv.values.forall(_ == 1.0))
    }
  }

  describe("GaussianNB.crossValidate (moment merge, one scoring pass)") {
    import spark.implicits._
    import graft.etl.Splits
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

    // seeded, overlapping classes (NB cannot separate them), three
    // classes of unequal size and a constant last feature
    val rnd = new scala.util.Random(11)
    val noisy = (0 until 90).map { i =>
      val cls = if (i < 84) i % 3 else 0
      (f"s$i%03d", cls,
        Seq(rnd.nextGaussian() + 0.6 * cls, rnd.nextGaussian() * (1 + cls),
          rnd.nextGaussian() - 0.3 * cls, 0.5))
    }.toDF("sample_id", "label_idx", "features").cache()

    /** The per-fold algorithm: `fit` on the other folds, `predict` on
      * the fold, accuracy as the mean hit rate. */
    def perFoldOracle(df: org.apache.spark.sql.DataFrame, k: Int): Map[Int, Double] = {
      val folded = Splits.stratifiedKFold(df, "label_idx", "sample_id", k, 2023)
      (0 until k).flatMap { i =>
        val test = folded.filter(col("fold") === i)
        if (test.isEmpty) None
        else {
          val m = GaussianNB.fit(folded.filter(col("fold") =!= i))
          Some(i -> GaussianNB.predict(test, m)
            .agg(avg(when(col("pred") === col("label_idx").cast("long"), 1.0)
              .otherwise(0.0))).head().getDouble(0))
        }
      }.toMap
    }

    def accuracies(df: org.apache.spark.sql.DataFrame, k: Int): Map[Int, Double] =
      GaussianNB.crossValidate(df, k = k, seed = 2023).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap

    it("scores every fold exactly as fit + predict on the other folds") {
      val got = accuracies(noisy, 5)
      assert(got == perFoldOracle(noisy, 5))
      assert(got.size == 5)
      assert(got.values.exists(_ < 1.0), s"fixture is separable: $got")
    }

    it("merged fold moments agree with fit on the same training rows") {
      val folded = Splits.stratifiedKFold(noisy, "label_idx", "sample_id", 5, 2023)
      val cells = GaussianNB.cells(folded, col("fold"), "features", "label_idx")
      def close(a: Double, b: Double) =
        math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
      (0 until 5).foreach { i =>
        val merged = GaussianNB.model(cells.filter(_.fold != i).toSeq)
        val direct = GaussianNB.fit(folded.filter(col("fold") =!= i))
        assert(merged.classes.sameElements(direct.classes))
        assert(merged.priors.sameElements(direct.priors))
        for (c <- direct.classes.indices; j <- direct.means(c).indices) {
          assert(close(merged.means(c)(j), direct.means(c)(j)), s"mean $i/$c/$j")
          assert(close(merged.vars(c)(j), direct.vars(c)(j)), s"var $i/$c/$j")
        }
      }
    }

    it("returns only the non-empty folds when strata are smaller than k") {
      val tiny = noisy.filter(col("sample_id") < "s009")
      assert(tiny.groupBy("label_idx").count().collect().forall(_.getLong(1) == 3))
      val got = accuracies(tiny, 5)
      assert(got.keySet == Set(0, 1, 2))
      assert(got == perFoldOracle(tiny, 5))
    }

    it("submits the same small number of jobs whatever k is") {
      val sc = spark.sparkContext
      def jobsOf(k: Int): Int = {
        val group = s"nb-cv-jobs-$k"
        val jobs = new java.util.concurrent.atomic.AtomicInteger()
        val l = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (e.properties.getProperty("spark.jobGroup.id") == group)
              jobs.incrementAndGet()
        }
        sc.addSparkListener(l)
        sc.setJobGroup(group, "job count")
        try GaussianNB.crossValidate(noisy, k = k, seed = 2023).collect()
        finally {
          sc.clearJobGroup()
          org.apache.spark.graftbridge.ListenerBridge.drain(sc)
          sc.removeSparkListener(l)
        }
        jobs.get()
      }
      val (k4, k10) = (jobsOf(4), jobsOf(10))
      assert(k4 == k10, s"k=4: $k4 jobs, k=10: $k10 jobs")
      assert(k4 <= 5, s"$k4 jobs")
      info(s"one crossValidate call submits $k4 jobs")
    }
  }

  describe("Clustering (M2/M13)") {
    import spark.implicits._
    val blobs = Seq(
      ("p1", Seq(0.0, 0.0)), ("p2", Seq(0.2, 0.1)), ("p3", Seq(0.1, 0.2)),
      ("p4", Seq(10.0, 10.0)), ("p5", Seq(10.2, 10.1)), ("p6", Seq(10.1, 9.9)),
      ("p7", Seq(0.0, 10.0)), ("p8", Seq(0.1, 10.2)), ("p9", Seq(0.2, 9.9))
    ).toDF("sample_id", "features")
      .withColumn("label", (monotonically_increasing_id() / 3).cast("long"))

    it("kmeans recovers separated blobs (ARI=1 after remap)") {
      val labeled = Seq(
        ("p1", 0L), ("p2", 0L), ("p3", 0L),
        ("p4", 1L), ("p5", 1L), ("p6", 1L),
        ("p7", 2L), ("p8", 2L), ("p9", 2L)).toDF("sample_id", "label")
      val pred = Clustering.kmeansPredict(blobs.drop("label"), k = 3)
        .join(labeled, "sample_id")
      assert(ClusteringMetrics.ari(pred) == 1.0)
      val (_, acc) = Hungarian.remap(pred)
      assert(acc == 1.0)
    }

    it("IVF quantizer survives a cache drop via persisted centroids (no re-fit)") {
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf")
        .resolve("model").toString
      val m1 = Clustering.kmeansModelCached("test-ivf-persist", blobs,
        k = 3, seed = 7, maxIter = 5, persistPath = Some(dir))
      Clustering.clearModelCacheForTest()
      // a re-fit on this 1-row frame could not reproduce m1; the load
      // path must win (uid is preserved by ML persistence, a fresh fit
      // would mint a new one)
      val m2 = Clustering.kmeansModelCached("test-ivf-persist",
        blobs.limit(1), k = 3, seed = 7, maxIter = 5,
        persistPath = Some(dir))
      assert(m2.uid == m1.uid, "quantizer was re-fit instead of loaded")
      assert(m2.clusterCenters.toSeq == m1.clusterCenters.toSeq)
    }

    it("pca projects to d dims and is deterministic") {
      val p = Clustering.pca(blobs, 2)
      val arr = p.select("pca").collect().map(_.getSeq[Double](0))
      assert(arr.forall(_.length == 2))
      val p2 = Clustering.pca(blobs, 2).select("pca")
        .collect().map(_.getSeq[Double](0))
      assert(arr.zip(p2).forall { case (a, b) => a == b })
    }
  }

  describe("Raw-feature NB end-to-end (SURVEY §7.3)") {
    /** prepare (ingest -> label -> split -> scale) then NB 5-fold CV on
      * the raw concat view, as (fold, accuracy) by fold. */
    def rawConcatCv(): Array[(Int, Double)] = {
      val prep = SimulationRun.prepare(spark, graft.SimFixture.path)
      try GaussianNB.crossValidate(
          SimulationRun.rawFeatures(prep).toMap.apply("raw_concat"),
          k = 5, seed = 2023).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
      finally prep.paired.unpersist()
    }

    it("runs ingest->split->scale->NB-CV and is seed-deterministic") {
      val cv1 = rawConcatCv()
      val cv2 = rawConcatCv()
      assert(cv1.length == 5)
      assert(cv1.sameElements(cv2))
      // 2 groups at max differential expression: NB on raw features
      // should beat chance clearly
      val mean = cv1.map(_._2).sum / 5
      assert(mean > 0.6, s"mean CV accuracy $mean")
      info(s"miRNA 2-group NB 5-fold accuracies: ${cv1.map(_._2).mkString(", ")}")
    }
  }
}
