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

    it("compare: raw baselines then the 8 archs, on a small fixture") {
      val prep = SimulationRun.prepare(spark, graft.SimFixture.smallPath,
        splitAt = 16)
      val all = graft.nn.ArchZoo.all(prep.splitAt, prep.d2, 0.1)
      val rows = try SimulationRun.compare(prep, all, epochs = 1).collect()
        finally prep.paired.unpersist()
      assert(rows.map(_.getString(0)).toSeq == Seq("raw_x1", "raw_x2",
        "raw_concat", "CNC_AE", "X_AE", "MM_AE", "JISAE", "JISAE-O1",
        "JISAE-O2", "JISAE-O3", "MOCSS"))
      val (raw, archs) = rows.splitAt(3)
      assert(raw.forall(r => r.getDouble(1).isNaN && r.getDouble(2).isNaN))
      assert(archs.forall(r => java.lang.Double.isFinite(r.getDouble(1)) &&
        java.lang.Double.isFinite(r.getDouble(2))), rows.mkString("; "))
      assert(rows.forall(r => r.getDouble(3) >= 0 && r.getDouble(3) <= 1),
        rows.mkString("; "))
    }
  }
}
