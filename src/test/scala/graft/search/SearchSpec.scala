package graft.search

import graft.SparkSpec
import graft.nn.{ArchZoo, ModelIO, TestNets}
import graft.pipeline.ResultTables
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {

  private lazy val data = {
    import spark.implicits._
    val rng = new java.util.Random(42)
    (0 until 60).map { i =>
      val f = Array(rng.nextDouble(), rng.nextDouble())
      val x1 = Array.tabulate(6)(j => f(j % 2) * (j + 1) / 6.0 +
        rng.nextGaussian() * 0.01)
      val x2 = Array.tabulate(4)(j => f((j + 1) % 2) * (j + 1) / 4.0 +
        rng.nextGaussian() * 0.01)
      (s"s$i", x1.toSeq, x2.toSeq)
    }.toDF("sample_id", "x1", "x2")
  }

  private def mkModel(h: RandomSearch.Hypers) =
    TestNets.cncSized(6, 4, Seq(8), 3).model

  describe("RandomSearch (M22)") {
    it("runs trials over the published space, prunes, finds the min") {
      val res = RandomSearch.search(data, mkModel, nTrials = 4, cv = 3,
        seed = 7, epochScale = 0.02) // epochs 30..150 -> 1..3
      assert(res.trials.length == 4)
      // hypers stay inside the published bounds
      res.trials.foreach { t =>
        assert(t.hypers.lr >= 1e-5 && t.hypers.lr <= 1e-2)
        assert(t.hypers.l2 >= 1e-8 && t.hypers.l2 <= 1e-5)
        assert(Seq(32, 64, 128, 256, 512).contains(t.hypers.batchSize))
        assert(Seq(30, 60, 90, 120, 150).contains(t.hypers.epochs))
      }
      val completed = res.trials.filter(!_.pruned)
      assert(completed.nonEmpty)
      assert(res.best.avgLoss == completed.map(_.avgLoss).min)
      // S7/S8 sink shapes
      assert(res.trialsDf(spark).columns.contains("recon_loss"))
      assert(res.valLossDf(spark).count() == 4)
    }

    it("is deterministic in the seed") {
      val a = RandomSearch.search(data, mkModel, nTrials = 2, cv = 2,
        seed = 9, epochScale = 0.02)
      val b = RandomSearch.search(data, mkModel, nTrials = 2, cv = 2,
        seed = 9, epochScale = 0.02)
      assert(a.trials.map(_.avgLoss) == b.trials.map(_.avgLoss))
    }
  }

  describe("Retrain (M23) + ModelIO (S10)") {
    it("retrains with best hypers and round-trips the saved graph model") {
      val h = RandomSearch.Hypers(1e-3, 1e-7, 32, 30, 0.1)
      val dir = java.nio.file.Files.createTempDirectory("graft-retrain")
        .toString
      val arch = ArchZoo.jisaeO3(6, 4, h.orthoMultiplier)
      val re = Retrain.run(data, _ => arch.model, h, epochScale = 0.05,
        savePath = Some(dir))
      assert(re.epochLosses.length == 2) // 30 * 0.05 = 1.5 -> 2
      val (m2, p2, s2) = ModelIO.load(spark, dir)
      assert(m2.paramCount == arch.model.paramCount)
      assert(p2.sameElements(re.params) && s2.sameElements(re.stats))
    }
  }

  describe("ResultTables (S11/A16/F5/sinks)") {
    it("reads JSON result maps and aggregates mean/std by truncated key") {
      val dir = java.nio.file.Files.createTempDirectory("graft-results")
      val json = """{"CNC_2_groups": [1.0, 2.0, 3.0],
                     "CNC_3_groups": [2.0, 4.0],
                     "XAE_2_groups": [5.0, 5.0]}"""
      val f = dir.resolve("res.json")
      java.nio.file.Files.writeString(f, json)
      val long = ResultTables.readResultJson(spark, f.toString)
      assert(long.count() == 7)
      val agg = ResultTables.meanStdByKey(long, keyParts = 1)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2))).toMap
      assert(agg("CNC")._1 == 2.4) // mean of 1,2,3,2,4
      assert(agg("XAE")._1 == 5.0 && agg("XAE")._2 == 0.0)
    }

    it("selects the best trial per model") {
      import spark.implicits._
      val trials = Seq(
        ("CNC", 0, 2.0), ("CNC", 1, 1.5), ("X", 0, 3.0), ("X", 1, 3.5)
      ).toDF("model", "trial", "recon_loss")
      val best = ResultTables.bestTrialPerModel(trials)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(best == Map("CNC" -> 1, "X" -> 0))
    }
  }
}
