package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's calls into the engine and the layer each piece of
  * their work belongs to.
  *
  * A call is one public function the harness invokes (a pipeline stage or
  * a query); it is timed and tags its jobs with a job group. Work inside a
  * call is charged to a layer by the engine module that did it: for a job,
  * the outermost module frame in its call-site stack (Spark records that
  * stack in the stage details), or in that of the SQL execution that
  * submitted it; for driver time, the same rule applied to the client
  * thread's stack, sampled every [[Tracer.SampleMs]]. Work with no module
  * frame (a pipeline's own materialising actions, streaming micro-batches)
  * goes to the layer of the call that was open, and so does all the work
  * of a query call ([[WholeCallSpans]]). Everything stays in memory until
  * [[Tracer.layerMetrics]].
  */
object Trace {

  /** Layer names, fixed so every traced run reports the same keys. */
  val Spans: Seq[String] = Seq(
    "etl.read", "etl.align", "etl.split", "etl.scale",
    "search.search", "search.retrain", "nn.embed",
    "ml.nb_cv", "ml.kmeans", "metrics.agreement",
    "operators.relational", "operators.text", "operators.similarity",
    "operators.metric", "operators.extension", "streaming.stream")

  /** Engine modules whose frames name a layer. `Trainer` is absent on
    * purpose: its steps belong to the search or retrain that drives them. */
  val ModuleLayers: Seq[(String, String)] = Seq(
    "graft.etl.OmicsReader" -> "etl.read",
    "graft.etl.Align" -> "etl.align",
    "graft.etl.LabelCodec" -> "etl.split",
    "graft.etl.Splits" -> "etl.split",
    "graft.etl.Scalers" -> "etl.scale",
    "graft.search.RandomSearch" -> "search.search",
    "graft.search.Retrain" -> "search.retrain",
    "graft.nn.Inference" -> "nn.embed",
    "graft.ml.GaussianNB" -> "ml.nb_cv",
    "graft.ml.Clustering" -> "ml.kmeans",
    "graft.metrics.ClusteringMetrics" -> "metrics.agreement")

  val SpanCounters: Seq[String] =
    Seq("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "idle_s")

  val PlanSpans: Seq[String] = Spans.filter(_.startsWith("operators."))

  /** Layers that own all the work inside their calls: a query is charged
    * whole to its module, even where it calls a pipeline module such as
    * `ClusteringMetrics`. */
  val WholeCallSpans: Set[String] = (PlanSpans :+ "streaming.stream").toSet

  /** Every per-layer metric name, in report order. */
  val MetricNames: Seq[String] =
    Spans.flatMap(s => SpanCounters.map(c => s"$s.$c")) ++
      Seq("nn.steps", "nn.step_ms_p50", "nn.step_idle_frac", "nn.param_ship_mb") ++
      PlanSpans.map(_ + ".plan_s") ++
      Seq("streaming.batches", "streaming.batch_ms_p50", "streaming.state_rows",
        "spark.gc_s", "spark.spill_mb", "trace_overhead_s")

  /** The layer of a class, matching `graft.etl.Scalers` and its
    * companion, lambdas and inner classes (`graft.etl.Scalers$...`). */
  def moduleLayer(className: String): Option[String] =
    ModuleLayers.collectFirst {
      case (c, layer) if className == c || className.startsWith(c + "$") => layer
    }

  /** The layer of the outermost module among class names given innermost
    * first, as stack traces list them. */
  def outermostLayer(classes: Iterator[String]): Option[String] =
    classes.flatMap(moduleLayer).foldLeft(Option.empty[String])((_, l) => Some(l))

  /** Class names of a stage's call-site stack, one frame a line
    * (`graft.etl.OmicsReader$.readTransposed(OmicsReader.scala:54)`). */
  def detailClasses(details: String): Iterator[String] =
    details.linesIterator.map { line =>
      val method = line.trim.takeWhile(_ != '(')
      method.substring(0, math.max(0, method.lastIndexOf('.')))
    }

  /** One timed call: its latency and the share of the host's CPU time
    * the hypervisor stole while it ran. */
  final case class Sample(name: String, seconds: Double, steal: Double)

  /** Calls whose steal share is at most this count as quiet. */
  val QuietSteal = 0.02

  /** Host CPU time as (total, steal) jiffies from /proc/stat; (0, 0)
    * where it is unavailable, which reads as no steal. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val fields = try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (fields.take(8).sum, if (fields.length > 7) fields(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** The benchmark's calls into the engine. Each call is timed; the
    * untraced runs stop there, [[Tracer]] also charges its work to layers.
    * Until `retryUntil` (a `System.nanoTime` deadline, off by default) a
    * call that was not quiet runs once more if the repeat would end in
    * time; the repeat's result is kept and the earlier one goes to
    * `release`. */
  class Calls {
    val samples = mutable.ArrayBuffer.empty[Sample]
    var retryUntil = Long.MinValue
    /** Runs `body` as the call `name`; `layer` takes the call's work that
      * no engine module frame claims. */
    def apply[T](name: String, layer: String)(body: => T): T =
      releasing(name, layer, (_: T) => ())(body)
    def releasing[T](name: String, layer: String, release: T => Unit)(body: => T): T = {
      require(Spans.contains(layer), s"unknown layer $layer")
      val first = once(name, layer)(body)
      val last = samples.last
      if (last.steal > QuietSteal &&
          System.nanoTime() + (last.seconds * 1e9).toLong <= retryUntil) {
        release(first)
        once(name, layer)(body)
      } else first
    }
    private def once[T](name: String, layer: String)(body: => T): T = {
      val token = open(layer)
      val (total0, steal0) = cpuJiffies()
      val t0 = System.nanoTime()
      try body
      finally {
        val s = (System.nanoTime() - t0) / 1e9
        val (total1, steal1) = cpuJiffies()
        val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
        samples += Sample(name, s, steal)
        close(token)
        System.err.println(f"[perfbench] call $name ($layer) $s%.3f s, steal ${100 * steal}%.1f%%")
      }
    }
    protected def open(layer: String): Int = -1
    protected def close(token: Int): Unit = ()
    /** Adds Catalyst planning time to a layer. */
    def plan(layer: String, seconds: Double): Unit = ()
  }

  /** Each call's latency: the faster of its runs (it runs twice only
    * when the first was not quiet). */
  def callLatencies(samples: Seq[Sample]): Map[String, Double] =
    samples.groupBy(_.name).map { case (name, ss) => name -> ss.map(_.seconds).min }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else if (e > ce) ce = e
    }
    if (ce > cs) total += ce - cs
    total
  }
}

object Tracer {
  /** Interval between samples of the client thread's stack. */
  val SampleMs = 25L
  /** Call-site frames Spark keeps per stage while tracing (default 20),
    * enough to reach the outermost module below a deep Trainer stack. */
  val CallStackDepth = 64
}

/** Traces the calls made on the thread that constructs it. */
final class Tracer(spark: SparkSession, trainerParams: () => Long)
    extends Trace.Calls {
  import Trace._

  private final case class Span(layer: String, start: Long,
      var end: Long = Long.MaxValue)
  /** Work charged to a layer; a job's own work until it is charged. */
  private final class Acc {
    var jobs, tasks = 0L
    var cpuNs, shuffleBytes, gcMs, spillBytes, sampledNs = 0L
    val taskIv = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
      shuffleBytes += o.shuffleBytes; gcMs += o.gcMs; spillBytes += o.spillBytes
      taskIv ++= o.taskIv
    }
  }
  /** `moduleLayer` is the layer its call-site stack names, if any;
    * `execution` the SQL execution that submitted it, if any. */
  private final class Job(val start: Long, val finalStage: Int,
      val trainerStep: Boolean, val moduleLayer: Option[String],
      val execution: Option[String], val callLayer: Option[String]) {
    var end: Long = -1L
    val finalTasks = mutable.ArrayBuffer.empty[(Long, Long)]
    val work = new Acc
  }

  private val GroupPrefix = "perfbench-span-"
  private val sc: SparkContext = spark.sparkContext
  private val client = Thread.currentThread()
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var openSpan = -1
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executionLayer = mutable.HashMap.empty[String, String]
  private val acc = mutable.HashMap.empty[String, Acc]
  private val planS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val lastState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]
  private def accOf(layer: String): Acc = acc.getOrElseUpdate(layer, new Acc)

  /** Nanoseconds spent in the tracer's own code, on any thread. */
  private val selfNs = new java.util.concurrent.atomic.AtomicLong()
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  private val jobsListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed(jobStart(e))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Tracer.this.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(taskEnd(e))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => timed {
        Tracer.this.synchronized {
          outermostLayer(detailClasses(x.details))
            .foreach(executionLayer(x.executionId.toString) = _)
        }
      }
      case _ =>
    }
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      Tracer.this.synchronized {
        val p = e.progress
        Option(p.durationMs.get("triggerExecution")).foreach(ms => batchMs += ms.toDouble)
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        if (lastState.get(p.id).forall(_._1 <= p.batchId)) lastState(p.id) = (p.batchId, rows)
      }
    }
  }

  /** Charges the time between samples to the layer the client thread's
    * stack is in, while a call is open. */
  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (!Thread.currentThread().isInterrupted) {
      try Thread.sleep(Tracer.SampleMs)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      val now = System.nanoTime()
      timed {
        val span = openSpan
        if (span >= 0) {
          val callLayer = synchronized(spans(span).layer)
          val layer = if (WholeCallSpans(callLayer)) callLayer
            else outermostLayer(client.getStackTrace.iterator.map(_.getClassName))
              .getOrElse(callLayer)
          synchronized(accOf(layer).sampledNs += now - last)
        }
      }
      last = now
    }
  }, "perfbench-sampler")

  private val depthBefore = Option(System.getProperty("spark.callstack.depth"))
  System.setProperty("spark.callstack.depth", Tracer.CallStackDepth.toString)
  sc.addSparkListener(jobsListener)
  spark.streams.addListener(streams)
  sampler.setDaemon(true)
  sampler.start()

  def detach(): Unit = {
    sampler.interrupt()
    sampler.join()
    sc.removeSparkListener(jobsListener)
    spark.streams.removeListener(streams)
    depthBefore match {
      case Some(d) => System.setProperty("spark.callstack.depth", d)
      case None => System.clearProperty("spark.callstack.depth")
    }
  }

  override protected def open(layer: String): Int = timed {
    val id = synchronized {
      spans += Span(layer, System.currentTimeMillis())
      spans.length - 1
    }
    sc.setJobGroup(GroupPrefix + id, layer)
    openSpan = id
    id
  }

  override protected def close(id: Int): Unit = timed {
    openSpan = -1
    sc.clearJobGroup()
    synchronized { spans(id).end = System.currentTimeMillis() }
  }

  override def plan(layer: String, seconds: Double): Unit = synchronized {
    planS(layer) += seconds
  }

  /** The layer of the call open at `time`, for jobs outside its group. */
  private def layerAt(time: Long): Option[String] =
    spans.reverseIterator.find(s => s.start <= time && time <= s.end).map(_.layer)

  private def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    def property(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
    val callLayer = property("spark.jobGroup.id").filter(_.startsWith(GroupPrefix))
      .map(g => spans(g.stripPrefix(GroupPrefix).toInt).layer)
      .orElse(layerAt(e.time))
    val last = e.stageInfos.maxBy(_.stageId)
    val step = last.numTasks == 1 && last.name.contains("Trainer.scala")
    val job = new Job(e.time, last.stageId, step,
      outermostLayer(detailClasses(last.details)),
      property("spark.sql.execution.id"), callLayer)
    job.work.jobs = 1
    jobs(e.jobId) = job
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  private def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val iv = (info.launchTime, info.finishTime)
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      if (j.finalStage == e.stageId) j.finalTasks += iv
      val a = j.work
      a.tasks += 1
      a.taskIv += iv
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Charges every job to a layer: a query's call layer, else the one its
    * call site names, else the one its SQL execution's call site names
    * (adaptive execution submits every stage of a query from a pool
    * thread, whose stack shows no engine frame), else the open call's.
    * Jobs outside every call (the output checks) are not charged. */
  private def chargeJobs(): Unit = jobs.values.foreach { j =>
    j.callLayer.filter(WholeCallSpans)
      .orElse(j.moduleLayer).orElse(j.execution.flatMap(executionLayer.get))
      .orElse(j.callLayer).foreach(l => accOf(l).add(j.work))
  }

  /** Waits until the listener has seen the end of every job it saw start
    * and the scheduler reports none active, so counts are complete. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietPolls = 0
    while (quietPolls < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val done = synchronized(jobs.values.forall(_.end >= 0)) &&
        sc.statusTracker.getActiveJobIds().isEmpty
      quietPolls = if (done) quietPolls + 1 else 0
    }
  }

  /** Per-layer metrics of the traced pass. A layer's wall is its sampled
    * driver time; its idle time is that wall minus the union of its tasks'
    * run intervals. */
  def layerMetrics(): Map[String, Double] = synchronized {
    chargeJobs()
    val out = mutable.LinkedHashMap.empty[String, Double]
    Spans.foreach { name =>
      val a = acc.getOrElse(name, new Acc)
      val wallS = a.sampledNs / 1e9
      out(s"$name.wall_s") = wallS
      out(s"$name.jobs") = a.jobs
      out(s"$name.tasks") = a.tasks
      out(s"$name.cpu_s") = a.cpuNs / 1e9
      out(s"$name.shuffle_mb") = a.shuffleBytes / 1e6
      out(s"$name.idle_s") = math.max(0.0, wallS - covered(a.taskIv.toSeq) / 1e3)
    }
    val stepJobs = jobs.values.filter(j => j.trainerStep && j.end >= 0).toSeq
    val stepMs = stepJobs.map(j => (j.end - j.start).toDouble)
    val stepBusy = stepJobs.map(j => covered(j.finalTasks.toSeq).toDouble).sum
    out("nn.steps") = stepJobs.size
    out("nn.step_ms_p50") = median(stepMs)
    out("nn.step_idle_frac") =
      if (stepMs.isEmpty) 0.0 else math.max(0.0, 1 - stepBusy / stepMs.sum)
    out("nn.param_ship_mb") = stepJobs.size * trainerParams() * 8 / 1e6
    PlanSpans.foreach(s => out(s"$s.plan_s") = planS(s))
    out("streaming.batches") = batchMs.size
    out("streaming.batch_ms_p50") = median(batchMs.toSeq)
    out("streaming.state_rows") = lastState.values.map(_._2).sum
    val all = acc.values
    out("spark.gc_s") = all.map(_.gcMs).sum / 1e3
    out("spark.spill_mb") = all.map(_.spillBytes).sum / 1e6
    out("trace_overhead_s") = selfNs.get / 1e9
    require(out.keySet == MetricNames.toSet, "per-layer metric set drifted")
    out.toMap
  }
}
