package graft.pipeline

import graft.SparkSpec

class SimulationRunSpec extends SparkSpec {

  describe("SimulationRun (§3.1→§3.2→§3.3 composition)") {
    it("selection -> retrain -> eval on the simulation fixture") {
      val res = SimulationRun.run(spark, graft.SimFixture.path,
        (d1, d2, mult) => graft.nn.ArchZoo.jisaeO3(d1, d2, mult),
        nTrials = 2, cv = 2, epochScale = 0.01)
      assert(res.trials.count() == 2)
      assert(res.retrainLosses.nonEmpty &&
        res.retrainLosses.forall(l => !l.isNaN))
      val (mean, std) = res.reconStats
      assert(mean > 0 && std >= 0)
      val nb = res.nbCv.collect()
      assert(nb.length == 5)
      assert(nb.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
    }
  }
}
