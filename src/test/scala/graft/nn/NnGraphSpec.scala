package graft.nn

import breeze.linalg.DenseMatrix
import graft.SparkSpec

/** Finite-difference validation of the graph engine across ALL 8
  * reference architectures (at the published hidden dims, small input
  * widths) — every loss term (recon, O1/O2/O3 ortho, NT-Xent) and every
  * layer type goes through the check, dropout masks active.
  */
class NnGraphSpec extends SparkSpec {

  private def randMat(rows: Int, cols: Int, seed: Int): DenseMatrix[Double] = {
    val rng = new java.util.Random(seed)
    DenseMatrix.tabulate(rows, cols)((_, _) => rng.nextDouble())
  }

  private def gradCheck(name: String, model: GraphModel,
      nProbes: Int = 12): Unit = {
    val (params, stats) = model.initParams(seed = 5)
    val x1 = randMat(6, 6, 11)
    val x2 = randMat(6, 4, 13)
    def loss(p: Array[Double]): Double =
      model.batchGradient(p, stats, x1, x2, new java.util.Random(7)).loss
    val analytic = model.batchGradient(params, stats, x1, x2,
      new java.util.Random(7)).grads
    val h = 1e-6
    val rng = new java.util.Random(3)
    var checked = 0
    var failures = List.empty[String]
    while (checked < nProbes) {
      val i = rng.nextInt(model.paramCount)
      val pPlus = params.clone(); pPlus(i) += h
      val pMinus = params.clone(); pMinus(i) -= h
      val numeric = (loss(pPlus) - loss(pMinus)) / (2 * h)
      val scale = math.abs(numeric) + math.abs(analytic(i))
      if (scale > 1e-7) { // skip dead units (dropout/relu zeroed paths)
        checked += 1
        val rel = math.abs(numeric - analytic(i)) / math.max(scale, 1e-4)
        if (rel > 1e-4)
          failures ::= f"$name param $i: num=$numeric%.8g ana=${analytic(i)}%.8g"
      } else checked += 1
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  describe("ArchZoo gradient checks (M14/M15/M16/M20/M21)") {
    it("CNC_AE")    { gradCheck("cnc", ArchZoo.cnc(6, 4).model) }
    it("X_AE")      { gradCheck("xae", ArchZoo.xae(6, 4).model) }
    it("MM_AE")     { gradCheck("mm", ArchZoo.mm(6, 4).model) }
    it("JISAE")     { gradCheck("jisae", ArchZoo.jisae(6, 4).model) }
    it("JISAE-O1")  { gradCheck("o1", ArchZoo.jisaeO1(6, 4, 0.5).model) }
    it("JISAE-O2")  { gradCheck("o2", ArchZoo.jisaeO2(6, 4, 0.5).model) }
    it("JISAE-O3")  { gradCheck("o3", ArchZoo.jisaeO3(6, 4, 0.5).model) }
    it("MOCSS (incl. NT-Xent)") { gradCheck("mocss",
      ArchZoo.mocss(6, 4, 0.7).model) }

    it("MOCSS-3V: the three-view survival composition (centered " +
        "ortho/NT-Xent/recon over three views) passes the same check") {
      // mocss_survival.py:110-137 — every constituent family was
      // already gradient-validated two-view; this pins the three-view
      // wiring AND the activated global-mean centering's backward
      val model = ArchZoo.mocss3(6, 4, 5).model
      val (params, stats) = model.initParams(seed = 5)
      val views = IndexedSeq(randMat(6, 6, 11), randMat(6, 4, 13),
        randMat(6, 5, 17))
      def loss(p: Array[Double]): Double = model.batchGradientViews(
        p, stats, views, new java.util.Random(7)).loss
      val analytic = model.batchGradientViews(params, stats, views,
        new java.util.Random(7)).grads
      val h = 1e-6
      val rng = new java.util.Random(3)
      var checked = 0
      var failures = List.empty[String]
      while (checked < 18) {
        val i = rng.nextInt(model.paramCount)
        val pPlus = params.clone(); pPlus(i) += h
        val pMinus = params.clone(); pMinus(i) -= h
        val numeric = (loss(pPlus) - loss(pMinus)) / (2 * h)
        val scale = math.abs(numeric) + math.abs(analytic(i))
        if (scale > 1e-7) {
          checked += 1
          val rel = math.abs(numeric - analytic(i)) / math.max(scale, 1e-4)
          if (rel > 1e-4)
            failures ::= f"mocss3 param $i: num=$numeric%.8g " +
              f"ana=${analytic(i)}%.8g"
        } else checked += 1
      }
      assert(failures.isEmpty, failures.mkString("; "))
    }

    it("MOCSS-3V structure: published view_size [1000,1000,503] " +
        "parameter count and per-view output wiring") {
      val arch = ArchZoo.mocss3(1000, 1000, 503)
      // per view d: 2 tanh encoders (d->512->256->128->64), 2 mirrored
      // decoders (64->128->256->512->d + sigmoid head), one 64->64->16
      // mlp: enc = 512d+172992, dec = 513d+172928, mlp = 5200
      // => 2050d + 697040 per view; d = {1000, 1000, 503}
      assert(arch.model.paramCount == 7222270L,
        s"paramCount=${arch.model.paramCount}")
      val g = arch.model.asInstanceOf[GraphModel].graph
      assert(g.outputs.keySet == (1 to 3).flatMap(v => Seq(s"shared$v",
        s"specific$v", s"shared${v}_rec", s"specific${v}_rec",
        s"mlp$v")).toSet)
    }

    it("MOCSS-3V centering: the survival variant's activated global-" +
        "mean centering makes each term shift-invariant (the uncentered " +
        "two-view terms are not)") {
      val outs = Map("s" -> randMat(5, 4, 21), "p" -> randMat(5, 4, 22))
      val shifted = outs.map { case (k, m) => k -> (m + 3.7) }
      val views = IndexedSeq(randMat(5, 3, 23))
      def l(t: LossTerm, o: Map[String, DenseMatrix[Double]]) =
        t.compute(o, views)._1
      val cOrtho = OrthoO1Term("s", "p", 1.0, center = true)
      val pOrtho = OrthoO1Term("s", "p", 1.0)
      assert(math.abs(l(cOrtho, outs) - l(cOrtho, shifted)) < 1e-12,
        "centered ortho must be invariant to a global shift")
      assert(math.abs(l(pOrtho, outs) - l(pOrtho, shifted)) > 1e-6,
        "uncentered ortho must NOT be (the two variants really differ)")
      val cNt = NtXentTerm("s", "p", 0.4, center = true)
      val pNt = NtXentTerm("s", "p", 0.4)
      assert(math.abs(l(cNt, outs) - l(cNt, shifted)) < 1e-10)
      assert(math.abs(l(pNt, outs) - l(pNt, shifted)) > 1e-8)
      // recon centering: invariant when rec AND ori shift alike (each
      // matrix is centered independently); the uncentered term is not
      val rViews = IndexedSeq(randMat(5, 4, 24))
      val rShifted = IndexedSeq(rViews(0) + 3.7)
      val cRec = ReconTerm("s", 0, 0.7, center = true)
      val pRec = ReconTerm("s", 0, 0.7)
      assert(math.abs(cRec.compute(outs, rViews)._1 -
        cRec.compute(shifted, rShifted)._1) < 1e-12,
        "centered recon must be invariant to shifting rec and ori alike")
      assert(math.abs(pRec.compute(outs, rViews)._1 -
        pRec.compute(shifted, rShifted)._1) > 1e-8,
        "uncentered recon must NOT be")
    }
  }

  describe("Graph training end-to-end") {
    lazy val data: org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val rng = new java.util.Random(42)
      (0 until 48).map { i =>
        val f = Array(rng.nextDouble(), rng.nextDouble())
        val x1 = Array.tabulate(6)(j => f(j % 2) * (j + 1) / 6.0 +
          rng.nextGaussian() * 0.01)
        val x2 = Array.tabulate(4)(j => f((j + 1) % 2) * (j + 1) / 4.0 +
          rng.nextGaussian() * 0.01)
        (s"s$i", x1.toSeq, x2.toSeq)
      }.toDF("sample_id", "x1", "x2")
    }

    it("JISAE-O1 graph model trains, embeds (z1||z2||z12), evaluates") {
      val arch = ArchZoo.jisaeO1(6, 4, orthoMultiplier = 0.1)
      val t = Trainer.train(data, arch.model,
        Trainer.Config(lr = 1e-3, batchSize = 24, epochs = 3, seed = 21))
      assert(t.epochLosses.forall(l => !l.isNaN && !l.isInfinite))
      val inf = Inference.embedAndRecon(data, arch.model, t.params,
        t.stats, arch.embed)
      val rows = inf.select("embedding", "recon_loss").collect()
      // SS embed = z1(1024) ‖ z2(1024) ‖ z12(1024)
      assert(rows.forall(_.getSeq[Double](0).length == 3072))
      assert(rows.forall(_.getDouble(1) >= 0))
      val l = Trainer.evaluateLoss(data, arch.model, t.params, t.stats)
      assert(l > 0 && !l.isNaN)
    }

    it("MOCSS graph model trains and embeds (spec1||spec2||avg shared)") {
      val arch = ArchZoo.mocss(6, 4, reconMultiplier = 0.7)
      val t = Trainer.train(data, arch.model,
        Trainer.Config(lr = 1e-3, batchSize = 24, epochs = 2, seed = 21))
      assert(t.epochLosses.forall(l => !l.isNaN))
      val inf = Inference.embedAndRecon(data, arch.model, t.params,
        t.stats, arch.embed)
      val rows = inf.select("embedding", "recon_loss").collect()
      assert(rows.forall(_.getSeq[Double](0).length == 96)) // 32+32+32
      assert(rows.forall(_.getDouble(1) >= 0))
      // the widest family at the exact TCGA widths (20531, 1046)
      val mocss = graft.nn.ArchZoo.mocss(20531, 1046, 1.0).model
      assert(mocss.paramCount == 97_169_042L, s"=${mocss.paramCount}")
    }
  }
}
