package perfbench

import java.io.File
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: a single client driving one workload in
  * a closed loop (each call starts when the previous one returns) on a
  * `local[<cores>]` master.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <checkout> <workdir>
  *
  * Set-up (fresh session + the workload's own set-up) runs the workload's
  * `setupReps` times; its median is `setup_s`. Then, on the last session,
  * an untimed warm-up pass and one measured pass. In the measured pass a
  * call the hypervisor stole CPU from runs again while its repeat fits in
  * `seconds` (see [[Trace.Calls]]); each call's latency is the faster of
  * its runs, `wall_s` their sum and `call_geomean_s` their geometric mean,
  * so the output checks between calls are not timed. A traced run traces
  * the measured pass instead, without repeats, then runs it once more
  * untraced and fails unless both give the same quality outputs and
  * checksums. The last stdout line is the JSON report.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Shuffle and default parallelism are pinned, not derived from the
    * core count, so the recorded quality outputs and checksums (k-means
    * initialisation, summation order) do not depend on the box. */
  val Partitions = 4

  def session(work: File): SparkSession = {
    // Half the cores run tasks, so the driver, scheduler and GC threads
    // need not queue behind them.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = graft.Sessions.builder(s"local[$cores]", Partitions.toString)
      .config("spark.default.parallelism", Partitions.toLong)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, checkoutArg, workArg) = args
    val (seed, seconds, traced) = (seedArg.toLong, secondsArg.toDouble, traceArg == "1")
    val work = new File(workArg)
    val workload = Workloads(name, new File(checkoutArg))

    var spark: SparkSession = null
    val setups = (0 until workload.setupReps).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      workload.setup(spark, seed, new File(work, s"inputs/$k"))
      since(t0)
    }

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val qualities = mutable.ArrayBuffer.empty[Map[String, Double]]
    val checksums = mutable.ArrayBuffer.empty[Map[String, String]]
    def pass(calls: Trace.Calls, run: Trace.Calls => Pass): Unit =
      try {
        val pass = run(calls)
        failures ++= pass.failures
        qualities += pass.quality
        checksums += pass.checksums
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          failures += s"pass aborted: $t"
      } finally {
        attempted += calls.samples.length
      }

    // Untimed: its outputs are checked, not compared, as it may do less work.
    pass(new Trace.Calls, workload.warmUp(spark, _))
    qualities.clear()
    checksums.clear()
    val calls = if (traced) new Tracer(spark, () => workload.trainerParams) else new Trace.Calls
    if (!traced) calls.retryUntil = System.nanoTime() + (seconds * 1e9).toLong
    pass(calls, workload.pass(spark, _))
    val metrics: Map[String, Double] = calls match {
      case tracer: Tracer =>
        tracer.drain()
        tracer.detach()
        pass(new Trace.Calls, workload.pass(spark, _))
        tracer.layerMetrics()
      case _ =>
        val perCall = Trace.callLatencies(calls.samples.toSeq)
        Map(
          "setup_s" -> Trace.median(setups),
          "wall_s" -> perCall.values.sum,
          "call_geomean_s" -> math.exp(perCall.values.map(math.log).sum / perCall.size))
    }

    if (qualities.distinct.size > 1) failures += s"quality differs between passes: ${qualities.distinct}"
    if (checksums.distinct.size > 1) {
      val bad = checksums.flatMap(_.keys).distinct.filter(k => checksums.map(_.get(k)).distinct.size > 1)
      failures += s"checksums differ between passes: ${bad.mkString(",")}"
    }
    spark.stop()
    println(json(Map(
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "metrics" -> metrics,
      "quality" -> qualities.headOption.getOrElse(Map.empty),
      "checksums" -> checksums.headOption.getOrElse(Map.empty),
      "setup_reps_s" -> setups,
      "calls" -> calls.samples.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(c => Seq(c.seconds, c.steal)) },
      "peak_rss_mb" -> peakRssMb())))
    System.out.flush()
    sys.exit(0)
  }
}
