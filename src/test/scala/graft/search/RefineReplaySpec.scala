package graft.search

import graft.SparkSpec
import graft.nn.TestNets

/** Pins the determinism and replay-soundness of the in-basin
  * refinement stage (`RandomSearch.refineSequence` / `searchRefined` /
  * `replayRefined`), the replay-compatible counterpart of the
  * reference's Optuna TPE basin exploitation
  * (CNC_AE_model_selection.py:528-534). Mirrors `BreadthReplaySpec`:
  * the QUALITY_r11 measurement runs refine trials on parallel workers
  * and replays the sequential bookkeeping, so live == replay is the
  * soundness anchor. */
class RefineReplaySpec extends SparkSpec {

  import RandomSearch._

  private lazy val data = {
    import spark.implicits._
    val rng = new java.util.Random(11)
    (0 until 60).map { i =>
      val f = Array(rng.nextDouble(), rng.nextDouble())
      val x1 = Array.tabulate(6)(j => f(j % 2) * (j + 1) / 6.0 +
        rng.nextGaussian() * 0.01)
      val x2 = Array.tabulate(4)(j => f((j + 1) % 2) * (j + 1) / 4.0 +
        rng.nextGaussian() * 0.01)
      (s"s$i", x1.toSeq, x2.toSeq)
    }.toDF("sample_id", "x1", "x2")
  }

  private def mkModel(h: Hypers) =
    TestNets.cncSized(6, 4, Seq(8), 3).model

  it("refineSequence is a pure function of (center, seed)") {
    val c = Hypers(7e-3, 3e-6, 32, 150, 0.16)
    assert(refineSequence(c, 8, 7) == refineSequence(c, 8, 7))
    assert(refineSequence(c, 8, 7) != refineSequence(c, 8, 8))
  }

  it("refined draws stay in the published space, near the center") {
    // centers ON the bounds exercise the clips
    for (c <- Seq(Hypers(7e-3, 3e-6, 32, 150, 0.16),
                  Hypers(1e-5, 1e-8, 32, 30, 1e-3),
                  Hypers(1e-2, 1e-5, 512, 150, 1e3))) {
      val hs = refineSequence(c, 100, 42)
      hs.foreach { h =>
        assert(h.lr >= 1e-5 && h.lr <= 1e-2)
        assert(h.l2 >= 1e-8 && h.l2 <= 1e-5)
        assert(h.orthoMultiplier >= 1e-3 && h.orthoMultiplier <= 1e3)
        // grid hypers move at most one step from the center
        val bi = BatchGrid.indexOf(c.batchSize)
        assert((BatchGrid.indexOf(h.batchSize) - bi).abs <= 1)
        val ei = EpochGrid.indexOf(c.epochs)
        assert((EpochGrid.indexOf(h.epochs) - ei).abs <= 1)
        // continuous hypers move at most span/shrink in log space
        assert((math.log(h.lr) - math.log(c.lr)).abs <=
          (math.log(1e-2) - math.log(1e-5)) / 8.0 + 1e-12)
      }
      // local, not degenerate: the draws actually spread
      assert(hs.map(_.lr).distinct.length > 50)
    }
  }

  it("live searchRefined == replayRefined over its fold losses") {
    val live = searchRefined(data, mkModel, nTrials = 4, rounds = 2,
      perRound = 3, cv = 3, seed = 42, epochScale = 0.02)
    assert(live.trials.length == 4 + 2 * 3)
    // trial numbering runs straight through the refine rounds
    assert(live.trials.map(_.trial) == (0 until 10))
    val rep = replayRefined(hyperSequence(4, 42),
      live.trials.map(_.foldLosses), rounds = 2, perRound = 3, cv = 3,
      seed = 42)
    assert(rep.trials.map(_.hypers) == live.trials.map(_.hypers))
    assert(rep.trials.map(_.avgLoss) == live.trials.map(_.avgLoss))
    assert(rep.trials.map(_.pruned) == live.trials.map(_.pruned))
    assert(rep.best.trial == live.best.trial)
  }

  it("refineRoundPlan derives each round's hypers from prior losses only") {
    val live = searchRefined(data, mkModel, nTrials = 4, rounds = 2,
      perRound = 3, cv = 3, seed = 42, epochScale = 0.02)
    val losses = live.trials.map(_.foldLosses)
    for (r <- 0 until 2) {
      val plan = refineRoundPlan(hyperSequence(4, 42),
        losses.take(4 + r * 3), round = r, perRound = 3, cv = 3,
        seed = 42)
      assert(plan == live.trials.slice(4 + r * 3, 4 + (r + 1) * 3)
        .map(_.hypers))
    }
  }

  it("refinement can only improve or hold the base best") {
    val base = search(data, mkModel, nTrials = 4, cv = 3, seed = 42,
      epochScale = 0.02)
    val refined = searchRefined(data, mkModel, nTrials = 4, rounds = 2,
      perRound = 3, cv = 3, seed = 42, epochScale = 0.02)
    assert(refined.best.avgLoss <= base.best.avgLoss)
    // base prefix is bit-identical (refinement never perturbs it)
    assert(refined.trials.take(4).map(_.avgLoss) ==
      base.trials.map(_.avgLoss))
  }
}
