package graft.search

import graft.SparkSpec
import graft.nn.TestNets

/** Pins the soundness of the parallel full-breadth search
  * (per-trial workers + `RandomSearch.replay` combine):
  * a replay of worker-computed per-trial fold losses must reproduce a
  * live sequential `search` bit-for-bit — same pruning decisions, same
  * avg losses, same best trial — and a PREFIX replay must equal a
  * standalone search of that prefix length (that equality is what lets
  * one 50-trial run yield the whole 8/16/32/50 breadth level curve). */
class BreadthReplaySpec extends SparkSpec {

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

  private def mkModel(h: RandomSearch.Hypers) =
    TestNets.cncSized(6, 4, Seq(8), 3).model

  it("hyperSequence matches what search draws") {
    val live = RandomSearch.search(data, mkModel, nTrials = 3, cv = 2,
      seed = 5, epochScale = 0.02)
    assert(live.trials.map(_.hypers) ==
      RandomSearch.hyperSequence(3, 5))
  }

  it("replay over a live run's fold losses reproduces it exactly") {
    val live = RandomSearch.search(data, mkModel, nTrials = 6, cv = 3,
      seed = 42, epochScale = 0.02)
    // a pruned trial reports fewer folds than cv; replay must cope with
    // full per-trial loss vectors too, so pad with what a worker would
    // compute — the replay only reads the folds the sequential walk
    // visits, and at cv=3/warmup=2 every fold is visited anyway.
    val losses = live.trials.map(_.foldLosses)
    val rep = RandomSearch.replay(
      RandomSearch.hyperSequence(6, 42), losses, cv = 3)
    assert(rep.trials.map(_.avgLoss) == live.trials.map(_.avgLoss))
    assert(rep.trials.map(_.pruned) == live.trials.map(_.pruned))
    assert(rep.best.trial == live.best.trial)
  }

  it("cv=5 replay over FULL worker loss vectors reproduces a live " +
      "search that prunes mid-CV (QUALITY_r11 cv=5 confirmation)") {
    // At cv=3/warmup=2 pruning only fires after the LAST fold, so the
    // cases above never exercise truncation. At cv=5 the live walk can
    // stop after fold 3 or 4 while a per-trial worker computes all
    // 5 — the replay must read exactly the folds the sequential walk
    // visits and no more. Pad the truncated live vectors with NaN: if
    // the replay ever reads a fold the live search skipped, avgLoss
    // goes NaN and the equality fails loudly.
    val live = RandomSearch.search(data, mkModel, nTrials = 8, cv = 5,
      seed = 42, epochScale = 0.02)
    assert(live.trials.exists(t => t.pruned && t.foldLosses.length < 5),
      "fixture must contain a mid-CV prune or the case is vacuous")
    val workerFull = live.trials.map(t =>
      t.foldLosses ++ Seq.fill(5 - t.foldLosses.length)(Double.NaN))
    val rep = RandomSearch.replay(
      RandomSearch.hyperSequence(8, 42), workerFull, cv = 5)
    assert(rep.trials.map(_.avgLoss) == live.trials.map(_.avgLoss))
    assert(rep.trials.map(_.pruned) == live.trials.map(_.pruned))
    assert(rep.trials.map(_.foldLosses) ==
      live.trials.map(_.foldLosses))
    assert(rep.best.trial == live.best.trial)
  }

  it("a prefix replay equals a standalone search of that length") {
    val full = RandomSearch.search(data, mkModel, nTrials = 6, cv = 3,
      seed = 42, epochScale = 0.02)
    for (p <- Seq(2, 4)) {
      val standalone = RandomSearch.search(data, mkModel, nTrials = p,
        cv = 3, seed = 42, epochScale = 0.02)
      val rep = RandomSearch.replay(RandomSearch.hyperSequence(p, 42),
        full.trials.take(p).map(_.foldLosses), cv = 3)
      assert(rep.trials.map(_.avgLoss) ==
        standalone.trials.map(_.avgLoss))
      assert(rep.trials.map(_.pruned) ==
        standalone.trials.map(_.pruned))
      assert(rep.best.trial == standalone.best.trial)
    }
  }
}
