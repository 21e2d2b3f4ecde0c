package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.metrics.ClusteringMetrics
import graft.ml.Clustering
import graft.nn.ArchZoo
import graft.operators.{ExtensionOps, MetricOps, RelationalOps, SimilarityOps, TextOps}
import graft.pipeline.SimulationRun
import graft.search.RandomSearch

/** What one closed-loop pass produced: quality outputs, per-query
  * checksums, and the names of calls whose output check failed. */
final case class Pass(quality: Map[String, Double] = Map.empty,
    checksums: Map[String, String] = Map.empty,
    failures: Seq[String] = Seq.empty)

trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** Writes or locates this run's inputs and builds what the timed
    * passes should find built; called once per set-up, on a fresh session. */
  def setup(spark: SparkSession, seed: Long, dir: File): Unit
  /** One pass of the workload, every engine call wrapped in `calls`. */
  def pass(spark: SparkSession, calls: Trace.Calls): Pass
  /** The untimed pass before the measured one: the same calls, so their
    * classes, generated code and JIT state are warm; it may do less work. */
  def warmUp(spark: SparkSession, calls: Trace.Calls): Pass = pass(spark, calls)
  /** Parameters shipped per training step (0 when nothing trains). */
  def trainerParams: Long = 0L
}

object Workloads {
  def apply(name: String, checkout: File): Workload = name match {
    case "sim_search" => new SimSearch
    case "queries" => new Queries(new File(checkout, "perfbench/data/sf0.01"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's simulation flow for CNC_AE, as the engine wires it:
  * `SimulationRun.prepare` (read, label, stratified split, min-max scale,
  * x1/x2 pair), `RandomSearch.search`, `SimulationRun.evalBest` (retrain,
  * embed + recon, NB CV on the embeddings, test-split recon), then the
  * raw-feature k-means baseline on the scaled training split scored by
  * NMI/ARI against the groups. Each is one call; the shape and split
  * checks run on the returned frames after the calls. */
final class SimSearch extends Workload {
  val shape = Inputs.Sim(groups = 5, perGroup = 25, features = 262)
  val splitAt = 212
  val (trials, folds, epochScale) = (2, 3, 0.02)
  /** Rows per split: the stratified 80/20 rounds per group. */
  val (trainRows, testRows) = {
    val perGroup = math.round(shape.perGroup * 0.8)
    (shape.groups * perGroup, shape.groups * (shape.perGroup - perGroup))
  }
  private var path = ""
  val setupReps = 5
  private val mkArch = (d1: Int, d2: Int, _: Double) => ArchZoo.cnc(d1, d2)

  override def trainerParams: Long =
    mkArch(splitAt, shape.features - splitAt, 1.0).model.paramCount.toLong

  def setup(spark: SparkSession, seed: Long, dir: File): Unit = {
    val f = new File(dir, "sim.tsv")
    Inputs.writeSim(f, shape, seed)
    path = f.getPath
  }

  def pass(spark: SparkSession, calls: Trace.Calls): Pass =
    run(spark, calls, trials, folds, epochScale)

  /** One trial, two folds, a quarter of the epochs: every call and code
    * path of a pass in about two thirds of a cold pass's time. */
  override def warmUp(spark: SparkSession, calls: Trace.Calls): Pass =
    run(spark, calls, 1, 2, epochScale / 4)

  private def run(spark: SparkSession, calls: Trace.Calls,
      trials: Int, folds: Int, epochScale: Double): Pass = {
    val prep = calls.releasing("SimulationRun.prepare", "etl.align",
        (p: SimulationRun.Prepared) => p.paired.unpersist(true)) {
      SimulationRun.prepare(spark, path, splitAt)
    }
    try {
      val best = calls("RandomSearch.search", "search.search") {
        RandomSearch.search(prep.paired,
          h => mkArch(splitAt, prep.d2, h.orthoMultiplier).model,
          nTrials = trials, cv = folds, seed = 42, epochScale = epochScale)
          .best.hypers
      }
      val (ev, nbAccs) = calls("SimulationRun.evalBest", "nn.embed") {
        val ev = SimulationRun.evalBest(prep, mkArch, best, epochScale)
        (ev, ev.nbCv.collect().map(_.getAs[Double]("accuracy")))
      }
      val raw = prep.paired.select(col("label"), concat(col("x1"), col("x2")).as("features"))
      val predicted = calls.releasing("Clustering.kmeansPredict", "ml.kmeans",
          (p: DataFrame) => p.unpersist(true)) {
        val p = Clustering.kmeansPredict(raw, k = shape.groups).cache()
        p.count()
        p
      }
      val agreement = calls("ClusteringMetrics.agreement", "metrics.agreement") {
        ClusteringMetrics.agreement(predicted, "label", "pred")
      }
      predicted.unpersist(true)

      val split = prep.flagged.groupBy("is_train").count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val failures = Seq(
        s"prepare: width ${prep.width}" -> (prep.width == shape.features),
        s"prepare: split $split" -> (split == Map(true -> trainRows, false -> testRows)),
        s"evalBest: ${nbAccs.length} NB folds" -> (nbAccs.length == 5))
        .collect { case (what, false) => what }
      Pass(quality = Map("recon_loss" -> ev.reconStats._1,
        "nb_acc" -> nbAccs.sum / nbAccs.length,
        "nmi" -> agreement.nmi, "ari" -> agreement.ari,
        "test_recon_loss" -> ev.testReconStats._1), failures = failures)
    } finally prep.paired.unpersist(true)
  }
}

/** A fixed-order slice of the 126 contract queries (`SparkEntry.queries`)
  * over a committed copy of the seed-42 sf0.01 tables. The seed does not
  * apply: the inputs are the contract's own. */
final class Queries(dir: File) extends Workload {
  /** Two queries per operator module and two streaming ones. x18 and y4
    * build persisted fixtures on first use; z4 and z23 keep window and
    * sketch state across micro-batches. */
  val Selected: Seq[String] = Seq(
    "j1_equi_join", "a1_minmax_rescale",
    "x10_langid", "x18_bm25",
    "y3_knn_join", "y4_lsh_ann",
    "m4_cluster_agreement", "m11_davies_bouldin",
    "z3_events_hourly", "z6_asof_join",
    "z4_stream_windowed", "z23_stream_hll")

  private val layerOf: Map[String, String] = (
    RelationalOps.defs.map(_.name -> "operators.relational") ++
    TextOps.defs.map(_.name -> "operators.text") ++
    SimilarityOps.defs.map(_.name -> "operators.similarity") ++
    MetricOps.defs.map(_.name -> "operators.metric") ++
    ExtensionOps.defs.map(q => q.name ->
      (if (q.name.matches("z\\d+_stream_.*")) "streaming.stream"
       else "operators.extension"))).toMap

  /** The queries that persist session fixtures on first use. */
  val FixtureQueries: Seq[String] = Seq("x18_bm25", "y4_lsh_ann")
  /** Each set-up builds the fixtures, a few seconds of real work. */
  val setupReps = 3

  /** Checks the tables, then builds the session's persisted fixtures
    * (x18's tokens, y4's embeddings) by running the queries that own them. */
  def setup(spark: SparkSession, seed: Long, ignored: File): Unit = {
    val missing = Selected.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: $missing")
    require(new File(dir, "lineitem.parquet").isFile, s"no tables under $dir")
    val built = run(spark, new Trace.Calls, FixtureQueries)
    require(built.failures.isEmpty, s"fixture build failed: ${built.failures}")
  }

  def pass(spark: SparkSession, calls: Trace.Calls): Pass = run(spark, calls, Selected)

  /** The fixture queries ran warm in every set-up already. */
  override def warmUp(spark: SparkSession, calls: Trace.Calls): Pass =
    run(spark, calls, Selected.filterNot(FixtureQueries.contains))

  private def run(spark: SparkSession, calls: Trace.Calls, names: Seq[String]): Pass = {
    val sums = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    val all = SparkEntry.queries
    names.foreach { name =>
      val layer = layerOf(name)
      try {
        val (df, rows) = calls(name, layer) {
          val df = all(name)(spark, dir.getPath)
          (df, df.collect())
        }
        calls.plan(layer, df.queryExecution.tracker.phases.values
          .map(_.durationMs).sum / 1e3)
        sums(name) = Checksum(rows)
      } catch {
        case t: Throwable =>
          System.err.println(s"query $name failed: $t")
          failures += name
      }
    }
    Pass(checksums = sums.toMap, failures = failures.toSeq)
  }
}
