package graft.nn

import breeze.linalg.DenseMatrix
import graft.SparkSpec

class NnSpec extends SparkSpec {

  private def randMat(rows: Int, cols: Int, seed: Int): DenseMatrix[Double] = {
    val rng = new java.util.Random(seed)
    DenseMatrix.tabulate(rows, cols)((_, _) => rng.nextDouble())
  }

  describe("Kernel gradient correctness (M15, FIXTURES §1.3 gradient check)") {
    it("analytic gradients match central finite differences") {
      // 5→3→5 two-view AE (views 3+2 wide), all layer types in play:
      // Linear, ReLU, BatchNorm (train mode), Sigmoid. Dropout = 0 so
      // the loss is deterministic.
      val model = ArchZoo.concatAe(
        trunk = Mlp.blocks(Seq(5, 4, 3), Seq(0.0, 0.0)),
        dec1 = Mlp.blocks(Seq(3, 4, 3), Seq(0.0, 0.0), sigmoidOut = true),
        dec2 = Mlp.blocks(Seq(3, 4, 2), Seq(0.0, 0.0), sigmoidOut = true))
        .model
      val (params, stats) = model.initParams(seed = 5)
      val x1 = randMat(8, 3, 11)
      val x2 = randMat(8, 2, 13)
      def loss(p: Array[Double]): Double =
        model.batchGradient(p, stats, x1, x2, new java.util.Random(0)).loss
      val analytic = model.batchGradient(params, stats, x1, x2,
        new java.util.Random(0)).grads
      val h = 1e-6
      val rng = new java.util.Random(3)
      val idxs = Seq.fill(60)(rng.nextInt(model.paramCount)).distinct
      for (i <- idxs) {
        val pPlus = params.clone(); pPlus(i) += h
        val pMinus = params.clone(); pMinus(i) -= h
        val numeric = (loss(pPlus) - loss(pMinus)) / (2 * h)
        val diff = math.abs(numeric - analytic(i))
        val scale = math.max(1e-4, math.abs(numeric) + math.abs(analytic(i)))
        assert(diff / scale < 1e-4,
          s"param $i: numeric=$numeric analytic=${analytic(i)}")
      }
    }

    it("frobeniusNormalizedLoss matches the golden fixture") {
      val a = DenseMatrix((1.0, 2.0, 3.0, 4.0), (0.0, 1.0, 0.0, 1.0),
        (2.0, 2.0, 2.0, 2.0))
      val b = DenseMatrix((4.0, 3.0, 2.0, 1.0), (1.0, 1.0, 1.0, 1.0),
        (2.0, 0.0, 0.0, 2.0))
      val (l, _) = Kernel.frobeniusNormalizedLoss(a, b)
      assert(math.abs(l - 1.3558169278779773) < 1e-12)
    }
  }

  describe("Trainer (distributed mini-batch Adam)") {
    lazy val data: org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val rng = new java.util.Random(42)
      // 64 samples, two views correlated through a shared 2-d factor
      (0 until 64).map { i =>
        val f = Array(rng.nextDouble(), rng.nextDouble())
        val x1 = Array.tabulate(6)(j => f(j % 2) * (j + 1) / 6.0 +
          rng.nextGaussian() * 0.01)
        val x2 = Array.tabulate(4)(j => f((j + 1) % 2) * (j + 1) / 4.0 +
          rng.nextGaussian() * 0.01)
        (s"s$i", x1.toSeq, x2.toSeq)
      }.toDF("sample_id", "x1", "x2")
    }

    it("loss decreases and training is seed-deterministic") {
      val model = TestNets.cncSized(6, 4, hidden = Seq(8), embed = 3).model
      val cfg = Trainer.Config(lr = 1e-2, weightDecay = 1e-6,
        batchSize = 16, epochs = 12, seed = 21)
      val t1 = Trainer.train(data, model, cfg)
      assert(t1.epochLosses.length == 12)
      val first3 = t1.epochLosses.take(3).sum / 3
      val last3 = t1.epochLosses.takeRight(3).sum / 3
      assert(last3 < first3 * 0.8,
        s"loss did not fall: ${t1.epochLosses.mkString(", ")}")
      val t2 = Trainer.train(data, model, cfg)
      assert(t1.epochLosses == t2.epochLosses)
      assert(t1.params.sameElements(t2.params))
    }

    it("evaluateLoss + Inference round-trip with persisted model") {
      val arch = TestNets.cncSized(6, 4, hidden = Seq(8), embed = 3)
      val cfg = Trainer.Config(lr = 1e-2, batchSize = 32, epochs = 4)
      val t = Trainer.train(data, arch.model, cfg)
      val evalLoss = Trainer.evaluateLoss(data, arch.model, t.params,
        t.stats)
      assert(evalLoss > 0)

      val dir = java.nio.file.Files.createTempDirectory("graft-model")
        .toString
      ModelIO.save(spark, dir, arch.model, t.params, t.stats)
      val (m2, p2, s2) = ModelIO.load(spark, dir)
      assert(m2 == arch.model && p2.sameElements(t.params) &&
        s2.sameElements(t.stats))

      val inf = Inference.embedAndRecon(data, m2, p2, s2, arch.embed)
      val rows = inf.select("embedding", "recon_loss").collect()
      assert(rows.length == 64)
      assert(rows.forall(_.getSeq[Double](0).length == 3))
      // Frobenius eval loss ≤ Σ per-subject row losses (triangle-ish
      // sanity: sqrt(Σ s²) ≤ Σ s for nonneg s), and both positive
      val sumPerSubject = rows.map(_.getDouble(1)).sum
      assert(evalLoss <= sumPerSubject + 1e-9)
    }

    it("evaluateLoss merges per-partition partials in partition order") {
      import spark.implicits._
      val model = TestNets.cncSized(6, 4, hidden = Seq(8), embed = 3).model
      val (params, stats) = model.initParams(seed = 21)
      val rows = data.select("x1", "x2").collect()
        .map(r => (r.getSeq[Double](0), r.getSeq[Double](1)))
      val df8 = spark.sparkContext.parallelize(rows.toSeq, 8).toDF("x1", "x2")
      // driver-side reference: each glom() partition's sum of squares per
      // recon output (s1hat, s2hat), merged in partition order
      val partials = df8.rdd.glom().collect().filter(_.nonEmpty).map { rs =>
        def m(i: Int) = DenseMatrix.tabulate(rs.length,
          rs.head.getSeq[Double](i).length)((r, c) => rs(r).getSeq[Double](i)(c))
        val (x1, x2) = (m(0), m(1))
        val outs = model.evalOutputs(params, stats, x1, x2)
        Seq(outs("s1hat") -> x1, outs("s2hat") -> x2).map { case (o, x) =>
          val d = Kernel.rowNormalize(o)._1 - Kernel.rowNormalize(x)._1
          var acc = 0.0
          for (r <- 0 until d.rows; c <- 0 until d.cols) acc += d(r, c) * d(r, c)
          acc
        }
      }
      assert(partials.length == 8)
      val want = (0 until 2).foldLeft(0.0) { (acc, j) =>
        acc + math.sqrt(partials.foldLeft(0.0)(_ + _(j)))
      }
      for (_ <- 0 until 3)
        assert(Trainer.evaluateLoss(df8, model, params, stats) == want)
    }
  }
}
