package graft

import org.apache.spark.sql.SparkSession

/** Session construction shared by the dev/bench/proof mains.
  *
  * `SPARK_GRAFT_MASTER` overrides the default `local[n]` master. The
  * cluster-evidence path (SCALE.md §separate-JVM) sets it to e.g.
  * `local-cluster[2,8,4096]`, which launches REAL separate worker JVMs:
  * driver and executors stop sharing a heap, so broadcast, shuffle,
  * task-result and closure serialization cross genuine process
  * boundaries — the layer a 1000-executor deployment exercises on every
  * stage and that plain `local[n]` cannot.
  *
  * local-cluster notes (all from the public Spark source —
  * core/src/main/scala/org/apache/spark/deploy/LocalSparkCluster.scala):
  *  - workers are forked from SPARK_HOME, so the application classes of
  *    a bare `java -cp` main are NOT on their classpath (nothing submits
  *    a jar). The driver's own `java.class.path` is forwarded through
  *    `spark.executor.extraClassPath`, which is correct when the main is
  *    launched via `java -cp <full classpath>` and NOT through sbt's
  *    in-process classloader.
  *  - executor memory comes from the third bracket field (MiB).
  */
object Sessions {

  /** The resolved master for this process. */
  def master(defaultMaster: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster)

  /** Parses the value `raw` of the variable `name` (absent → `default`).
    * A malformed or non-positive value fails with a message naming the
    * variable and the value, not a bare NumberFormatException. */
  private[graft] def positiveInt(name: String, raw: Option[String],
      default: Int): Int =
    raw.fold(default) { v =>
      val n = v.toIntOption
      require(n.exists(_ > 0), s"$name must be a positive integer, got '$v'")
      n.get
    }

  /** Builder with the graft defaults; forwards the driver classpath to
    * the forked workers when the master is local-cluster.
    *
    * `SPARK_GRAFT_SHUFFLE` decouples shuffle width from thread count
    * for blow-up probes: at ×1000 data on 16 threads, 16 partitions
    * put ~800 MB per sort and 16 concurrent sorts exhaust the
    * execution pool (UNABLE_TO_ACQUIRE_MEMORY) — exactly the knob a
    * real deployment turns (partitions sized to data, cores fixed). */
  def builder(defaultMaster: String, shuffleParts: String): SparkSession.Builder = {
    val m = master(defaultMaster)
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", shuffleParts))
      // r15 optimization (guide §6): let the bucketed+sortBy fixture
      // layout (j6/j7) actually pay off — since SPARK-28595 the scan
      // only REPORTS its bucket sort order behind this conf, so without
      // it every read of the sorted fixture re-pays both SortMergeJoin
      // sorts. Safe by construction: Spark still verifies one file per
      // bucket before claiming the order (multi-file buckets report
      // none), and ScaleUtils.bucketedPair now writes exactly one file
      // per bucket. Plan diff: j7's two Sort nodes above the scans drop
      // (plans/r15/j7_bucketed_join_{before,after}.txt).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // r16 optimization (guide §2.1/§2.4): let AQE coalesce INSIDE a
      // plan that is about to be persisted, so cached fixtures land at
      // a byte-derived partition count instead of freezing the session's
      // shuffle width (= core count in local mode) into every cached
      // frame. Spark's default forbids it only to keep a cached frame's
      // output partitioning stable for downstream co-partitioning
      // consumers — no fixture consumer here relies on that (every
      // contract query declares its own ORDER BY, and joins replan via
      // AQE). Measured at sf0.1/32 cores: the kB-sized sketch fixtures
      // were cached at 32 partitions and every read paid a 32-task scan
      // (x34 warm-pass summed executor time 5.5 s -> 0.3 s, x36 3.9 ->
      // 0.3, x35 2.7 -> 0.1; wall min-of-legs x36 0.73 -> 0.52, x35
      // 0.59 -> 0.45, y4 1.90 -> 1.48, zero regressions across the
      // 8-query interleaved A/B, plans/r16/cached_part_ab.csv). At
      // 100 TB the same rule grows cached width with the bytes — the
      // data-derived discipline, not a core-count tune.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
    if (m.startsWith("local-cluster")) {
      b.config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        // surface serialization errors loudly instead of retrying 4x
        .config("spark.task.maxFailures", "2")
    } else b
  }
}
