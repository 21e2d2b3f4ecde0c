package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.util.LongAccumulator

/** Structured Streaming over the `events` table (driver-provided
  * showcase — the reference itself is batch-only, SURVEY §2.10; this is
  * the engine's streaming surface for pipelines that need it).
  *
  * Patterns covered: file-source streaming read, event-time windowed
  * aggregation with watermark, and custom sessionization state via
  * mapGroupsWithState — the three building blocks of production
  * streaming ETL. Tested with Trigger.AvailableNow against the parquet
  * events so results are deterministic and batch-checkable.
  */
object EventStream {

  /** The events parquet stores TIMESTAMP(NANOS) which Spark's reader
    * rejects by default — read nanos as long and convert to a proper
    * timestamp column. Truncation nanos→micros must be integer `div`:
    * the raw values carry true sub-microsecond jitter and a double
    * division at ~1.7e18 has a 256 ns ulp, so `(ts / 1000).cast(long)`
    * can land ±1 µs off exact floor. DuckDB oracles mirror this with
    * `epoch_ns(ts) // 1000`. */
  private def nanosConf(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Default state-store shard count for the bounded AvailableNow
    * runners: sized to the tiny test-corpus state. Every runner takes
    * a `stateShards` override — the per-query dial a deployment turns
    * up with state volume. `SPARK_GRAFT_STATE_SHARDS` overrides the
    * default process-wide (r16): the experimentation/deployment knob
    * for sizing shards to live state × available cores without a
    * rebuild, same pattern as `SPARK_GRAFT_SHUFFLE`. Local default
    * stays 8 so the driver's bench is comparable round over round. */
  val DefaultStateShards: Int =
    stateShardsFrom(sys.env.get("SPARK_GRAFT_STATE_SHARDS"))

  /** Parses a `SPARK_GRAFT_STATE_SHARDS` value (absent → 8). */
  private[graft] def stateShardsFrom(raw: Option[String]): Int =
    graft.Sessions.positiveInt("SPARK_GRAFT_STATE_SHARDS", raw, 8)

  /** Live-key estimate feeding `StateStores.configure` (the measured
    * in-heap/RocksDB rule) for the engine's BOUNDED AvailableNow
    * runners. A bounded replay typically lands the whole table in one
    * micro-batch, so the watermark never evicts anything mid-run and
    * live state approaches the total keyed population — NOT the
    * steady-state events-within-horizon a continuous deployment would
    * hold (measured: z16's state at ×100 is 5.66 M rows ≈ the distinct
    * (user, 6 h-bucket) session population, 38× the 148 k a
    * horizon-scaled estimate gave — the r10 first-cut estimator was
    * exactly that mistake). Worst case across the stateful query
    * classes is total EVENTS (z18 dedup keys every event id; the z13
    * join buffers every in-window row); session/window state is
    * strictly smaller. So the bounded-replay planning number is the
    * event count — one cheap count job, conservative in the direction
    * that matters (the failure mode, GC collapse, is one-sided; the
    * flip's cost is only the measured 2–6× RocksDB per-op factor). A
    * continuous deployment would instead feed the rule its own
    * steady-state horizon population. */
  def liveKeyEstimate(spark: SparkSession, sfDir: String): Long =
    readEvents(spark, sfDir).count()

  /** Run a bounded streaming execution with its state-store shard count
    * sized to the STATE, not to the session's batch shuffle width.
    * Stateful operators shard their stores by `shuffle.partitions` at
    * query start, and every micro-batch pays a ~fixed commit cost per
    * (store × shard): a stream-stream join carries FOUR stores per
    * shard, so at the batch-sized 32 shards a tiny-state AvailableNow
    * run is commit-bound (measured: interval join 8.9 s at 32 shards;
    * see SCALE.md). A production deployment with real state volume
    * raises the width back — it is one conf, fixed per query at first
    * start. The session conf is restored after the run (the shard
    * count is captured at query START, so the restore cannot race the
    * batches).
    *
    * Precondition: one stream per session at a time. The width is set
    * on the shared session conf, so any other query that starts on the
    * same session inside `body` plans with `n` shuffle partitions, and
    * two overlapping calls can restore each other's value. */
  private[graft] def withStateShards[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** r15 optimization (guide §1.2: don't run work whose output is
    * discarded): disable the trailing NO-DATA micro-batch for the two
    * stateful shapes where it cannot emit anything — the stream-stream
    * INNER join (matches emit on arrival; the watermark batch only
    * evicts buffered state) and watermark dedup (first occurrence
    * emits on arrival; ditto). For those, the extra batch is a full
    * planning + WAL-commit + per-shard state-store load/commit cycle
    * (4 stores × shards for the join) that produces zero rows; in a
    * continuous deployment the eviction it performs happens on the
    * next DATA batch anyway, so skipping it trades only transient
    * state-retention latency — the documented purpose of the conf.
    * NOT applied to any query whose semantics NEED the watermark
    * batch: append-mode window/session aggregations emit their final
    * windows in it, and mapGroups/flatMapGroups timeouts fire in it.
    * Conf is read at query start; restore cannot race the batches. */
  private[graft] def withoutNoDataBatches[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Run an append-mode stream to completion through a FILE sink and
    * read the result back. The memory sink serializes every output row
    * through the driver (a collect in disguise) — at the ×1000 blow-up
    * probe's scale, 56 M session rows broke `spark.driver.maxResultSize`
    * (BENCH_SCALES.md §beyond-sf0.1). A parquet sink keeps the output
    * distributed end to end, which is also the production shape; the
    * AvailableNow run against the `_spark_metadata` commit log is
    * exactly-once. Fresh temp sink+checkpoint per run keeps the bounded
    * runners deterministic. Only append mode has file-sink support —
    * the complete-mode (z4, output bounded by the time span) and
    * update-mode (z9, no file sink exists in Spark; production
    * consumers use foreachBatch, demonstrated by
    * [[runWindowedToJdbcOnce]]) runners keep the memory sink. */
  /** Delete a temp sink directory tree when the JVM exits. One shutdown
    * hook draining a queue (not one hook per sink) — bench runs create
    * dozens of sinks. */
  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var d = exitDirs.poll()
    while (d != null) {
      try {
        java.nio.file.Files.walk(d)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () } })
      } catch { case _: Exception => () }
      d = exitDirs.poll()
    }
  }, "graft-sink-reaper"))

  private def registerExitCleanup(dir: java.nio.file.Path): Unit = {
    exitHook
    exitDirs.add(dir)
  }

  private def runAppendToParquet(spark: SparkSession,
      df: org.apache.spark.sql.Dataset[_], queryName: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sink_$queryName")
    // The returned DataFrame reads the sink lazily, so the directory
    // cannot be deleted inline; without cleanup, repeated test/bench
    // runs accumulate parquet output in the system temp dir. Reap it at
    // JVM exit instead (after any consumer of the lazy read has run).
    registerExitCleanup(dir)
    val out = dir.resolve("out").toString
    val q = df.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .queryName(queryName).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    try spark.read.parquet(out)
    catch { // zero emitted rows → no part files to infer a schema from
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
    }
  }

  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType.typeName match {
      case "long" => df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")))
      // micros stored without UTC adjustment read back as TIMESTAMP_NTZ
      // (spark.sql.parquet.inferTimestampNTZ default); watermarks and
      // unix_micros require TIMESTAMP. Session tz is pinned to UTC, so
      // the cast re-labels the same instant DuckDB sees.
      case "timestamp_ntz" => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    nanosConf(spark)
    normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Streaming read of `$sfDir/events.parquet`, handling BOTH layouts
    * the table arrives in. The driver test data is a single parquet
    * FILE directly under sfDir — the file-stream source wants a
    * directory, so stream sfDir with a leaf-name glob pinned to that
    * file. Any Spark-written copy (the production layout, e.g. the
    * blow-up probe corpora) is a DIRECTORY of part files — there the
    * glob matches zero leaves (pathGlobFilter tests LEAF names, and
    * none is literally "events.parquet"), silently yielding an empty
    * stream, so stream the directory itself. Layout is probed through
    * the Hadoop FileSystem of the path, not java.io.File, so object
    * stores resolve the same way. */
  private[graft] def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    nanosConf(spark)
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    val isDir = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).isDirectory
    normalizeTs(
      if (isDir) spark.readStream.schema(schema).parquet(path)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
  }

  /** Windowed event counts: 1-hour tumbling windows per event_type,
    * 2-hour watermark for late data. */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    eventsStream(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
  }

  /** Run an UPDATE-mode streaming aggregation to completion
    * (AvailableNow → memory sink) and return the sink table. Update
    * mode re-emits a group's row whenever a batch changes it, so the
    * caller folds re-emissions with an idempotent reduce (z23 re-takes
    * max over the emitted register rows). Generic on purpose: the
    * stateful work is declarative (a streaming groupBy.agg with map-
    * side partial aggregation), not a custom state machine. */
  def runUpdateAggOnce(spark: SparkSession,
      df: org.apache.spark.sql.Dataset[_], queryName: String,
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      val q = df.writeStream.format("memory").queryName(queryName)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(queryName)
    }

  /** Run an APPEND-mode streaming aggregation to completion
    * (AvailableNow → memory sink) and return the sink table. Append
    * mode emits each group exactly once — when the watermark passes
    * its window — so the caller needs no re-emission fold; groups
    * still open at the end of the bounded run stay unemitted (the z8
    * closure semantics). Memory sink is safe here by contract: the
    * callers' outputs are sketch-sized (closed windows × types × m
    * register rows), never event volume. */
  def runAppendAggOnce(spark: SparkSession,
      df: org.apache.spark.sql.Dataset[_], queryName: String,
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      val q = df.writeStream.format("memory").queryName(queryName)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(queryName)
    }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  final case class SessionState(count: Long, start: Long, last: Long)
  final case class SessionOut(user_id: Long, n_events: Long,
      duration_ms: Long, closed: Boolean)

  /** Per-user sessionization with a gap timeout (custom state —
    * KeyValueGroupedDataset.mapGroupsWithState).
    *
    * State is EVICTED by event time: each update arms an
    * `EventTimeTimeout` at `last + gapMs`; when the watermark passes it
    * with no new events, the group fires once more (`hasTimedOut`), the
    * closed session is emitted, and `state.remove()` drops the per-user
    * entry — so on an unbounded feed state size tracks ACTIVE users, not
    * all users ever seen (the NoTimeout formulation leaked state
    * forever). Streaming callers must set `withWatermark` on `ts`.
    * Batch execution has no timeouts by definition (every group is seen
    * exactly once), so the arm-timeout call degrades to a no-op there. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
      guards: StreamGuards): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: close + evict
            val st = state.get
            state.remove()
            SessionOut(uid, st.count, st.last - st.start, closed = true)
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(
              SessionState(0, sorted.head.ts.getTime, sorted.head.ts.getTime))
            var closed = false
            sorted.foreach { e =>
              val t = e.ts.getTime
              // cross-batch out-of-order arrival: time went backwards
              // relative to restored state (within-batch order is sorted
              // above, so only a late delivery can trip this). `last`
              // must not REGRESS on it (r14): a regressed last shrinks
              // the duration and re-arms the eviction timeout EARLIER
              // than the session's true tail — max() keeps the in-order
              // result identical and the disordered result sane.
              if (t < st.last) guards.outOfOrder.add(1)
              if (t - st.last > gapMs) { closed = true; st = SessionState(0, t, t) }
              st = st.copy(count = st.count + 1, last = math.max(st.last, t))
            }
            state.update(st)
            // arm eviction at session-gap expiry; Spark requires the
            // timeout strictly above the current watermark, so clamp
            // (a group whose gap already expired fires next batch).
            // Batch execution: no watermark exists and timeouts cannot
            // fire — fall through without arming.
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            try state.setTimeoutTimestamp(math.max(st.last + gapMs, wm + 1))
            catch { case _: UnsupportedOperationException => () }
            SessionOut(uid, st.count, st.last - st.start, closed)
          }
      }
  }

  def sessionize(events: Dataset[SessionEvent],
      gapMs: Long): Dataset[SessionOut] =
    sessionize(events, gapMs,
      StreamGuards(events.sparkSession, "sessionize"))

  /** Contract-breach detectors for the stateful operators (VERDICT r13
    * ask #2 / ADVICE r13). The funnel/retention/session state machines
    * are exact only under per-user in-order delivery ACROSS micro-
    * batches; a cross-batch late arrival that would retract an
    * already-fixed anchor is dropped by design (the ClickHouse
    * windowFunnel trade). These named `LongAccumulator`s make the drop
    * OBSERVABLE instead of silent: zero means no task saw a breach, so
    * stream ≡ batch holds; nonzero quantifies exactly how far the
    * stream may have diverged from its batch twin. Named accumulators
    * surface in the Spark UI per stage; the bounded runners also log
    * nonzero counts to stderr after the run. (Accumulator semantics:
    * task retries can overcount — fine for a detection signal whose
    * healthy reading is exactly zero.) */
  final case class StreamGuards(
      /** events whose acceptance would retract an already-fixed chain
        * field or re-open a finalized (tombstoned) chain — each one is
        * a potential stream-vs-batch divergence */
      anchorViolations: LongAccumulator,
      /** events that arrived with a timestamp below the group's max
        * seen event time (cross-batch out-of-order delivery — the
        * PRECONDITION for an anchor violation; can be nonzero while
        * violations stay zero if no fixed field was contradicted) */
      outOfOrder: LongAccumulator,
      /** retention week offsets >= [[MaskWeeks]] dropped by the bitmask
        * bound — nonzero means the corpus outgrew the documented
        * ~15-month mask and z22 under-reports vs z20 */
      maskOverflow: LongAccumulator,
      /** state entries dropped at the opt-in lateness horizon (VERDICT
        * r14 ask #1): each eviction bounds state lifetime at the cost
        * of breach DETECTION for that key — a post-horizon arrival
        * re-anchors a fresh chain instead of being counted against the
        * old one (the accepted, documented trade). The count therefore
        * upper-bounds how many keys could possibly have re-anchored
        * silently; zero with a horizon set means the bound never bit. */
      horizonEvictions: LongAccumulator)

  object StreamGuards {
    def apply(spark: SparkSession, tag: String): StreamGuards = {
      val sc = spark.sparkContext
      StreamGuards(
        sc.longAccumulator(s"graft.$tag.anchor_violations"),
        sc.longAccumulator(s"graft.$tag.out_of_order"),
        sc.longAccumulator(s"graft.$tag.mask_overflow"),
        sc.longAccumulator(s"graft.$tag.horizon_evictions"))
    }

    /** Log nonzero guard counts after a bounded run — the harness-side
      * face of the breach signal. */
    def report(g: StreamGuards, tag: String): Unit = {
      if (g.anchorViolations.value > 0 || g.outOfOrder.value > 0 ||
          g.maskOverflow.value > 0 || g.horizonEvictions.value > 0)
        System.err.println(s"stream guard [$tag]: " +
          s"anchor_violations=${g.anchorViolations.value} " +
          s"out_of_order=${g.outOfOrder.value} " +
          s"mask_overflow=${g.maskOverflow.value} " +
          s"horizon_evictions=${g.horizonEvictions.value}")
    }
  }

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  /** Step-completion times in exact micros; −1 = step not reached.
    * `maxUs` tracks the max event time seen for the user (out-of-order
    * detection); `closed` marks a FINALIZED chain kept as a tombstone —
    * the timeout path emits the final triple and flips the flag instead
    * of removing state, so a returning user can never RE-ANCHOR a new
    * chain whose max()-reduced merge with the old one would diverge
    * from the batch twin (ADVICE r13: eviction + re-entry merged fields
    * from two distinct chains). Tombstones are 4 longs + a bool per
    * user-ever-seen BY DEFAULT; the opt-in `horizonUs` on
    * [[funnelChain]] re-arms a second timeout at the lateness horizon
    * and drops the tombstone there (counted in
    * `guards.horizonEvictions`), accepting re-anchor beyond the
    * horizon — see the funnelChain docstring for the exact trade. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long,
      maxUs: Long = Long.MinValue, closed: Boolean = false)
  final case class FunnelUser(user_id: Long, t1: Option[Long],
      t2: Option[Long], t3: Option[Long])

  /** Epoch micros of a Timestamp (getTime is ms but getNanos carries the
    * full fractional second, so the sub-ms digits survive). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private def stepOpt(v: Long): Option[Long] = if (v >= 0) Some(v) else None

  /** Streaming ordered-funnel state machine (z21, the streaming twin of
    * the batch z19): per user, the greedy min-after-previous chain —
    * first 'view', first 'click' strictly after it, first 'purchase'
    * strictly after that — carried as three longs of state, O(1) per
    * user. Each field is written at most once and never changes, so
    * every emission of a user's triple is monotone (None → Some(v),
    * v final) and consumers can reduce re-emissions with max().
    * Eviction is armed at t1 + window once the anchor exists: beyond it
    * the chain can no longer change the windowed step counts.
    *
    * Exactness contract: exact under per-user in-order delivery —
    * guaranteed here by the AvailableNow source (events sorted within
    * each group call), and in production by per-key ordered ingest
    * (e.g. a log partitioned by user). A cross-batch late arrival that
    * would retract an anchor is NOT replayed — the standard streaming-
    * funnel trade (ClickHouse windowFunnel makes the same one) — but it
    * is COUNTED: `guards.anchorViolations` increments for every event
    * whose acceptance would have changed an already-fixed field or
    * re-opened a finalized chain, and `guards.outOfOrder` for every
    * event below the user's max seen time, so a breach of the contract
    * is observable rather than a silent divergence from the batch twin.
    * Finalized chains are kept as `closed` tombstones (never removed by
    * default), so a returning user cannot re-anchor — the emitted
    * triple stays monotone and final across the stream's whole
    * lifetime.
    *
    * State-lifetime bound (VERDICT r14 ask #1, opt-in): with
    * `horizonUs` set, a SECOND `EventTimeTimeout` re-arms when the
    * chain closes, at `t1 + winUs + horizonUs` — once the watermark
    * passes the lateness horizon, the tombstone is DROPPED (counted in
    * `guards.horizonEvictions`), so on an unbounded feed state tracks
    * only users within the horizon of their own funnel window, never
    * users-ever-seen. The trade, stated exactly: between close and
    * horizon the tombstone still counts post-close breaches; beyond
    * the horizon a returning user re-anchors a FRESH chain (Spark's
    * watermark filter guarantees any event reaching an evicted group
    * is above the watermark, hence > t1 + winUs + horizonUs — outside
    * the original window by more than the declared lateness, the same
    * class of event every lateness-bounded system re-keys). Anchor-less
    * state (a user with no 'view' yet, carried only for out-of-order
    * detection) is likewise dropped `horizonUs` past its max seen
    * event time. Default `Long.MaxValue` keeps the unbounded tombstone
    * semantics bit-for-bit. */
  def funnelChain(events: Dataset[FunnelEvent], winUs: Long,
      guards: StreamGuards,
      horizonUs: Long = Long.MaxValue): Dataset[FunnelUser] = {
    import events.sparkSession.implicits._
    val bounded = horizonUs != Long.MaxValue
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelUser](
        GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[FunnelState]) =>
          // timeout timestamps must sit strictly above the current
          // watermark (clamped; a past-due arm fires next batch); batch
          // execution has no watermark and no timeouts — both calls
          // degrade to no-ops there
          def armAt(ms: Long): Unit = {
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            try state.setTimeoutTimestamp(math.max(ms, wm + 1))
            catch { case _: UnsupportedOperationException => () }
          }
          if (state.hasTimedOut) {
            val st = state.get
            if (st.closed || st.t1 < 0) {
              // horizon expiry (bounded mode only — unbounded never
              // arms on a tombstone or anchor-less state): drop the
              // entry; the re-emitted triple is final, so max()-reduce
              // consumers are unaffected
              guards.horizonEvictions.add(1)
              state.remove()
              FunnelUser(uid, stepOpt(st.t1), stepOpt(st.t2), stepOpt(st.t3))
            } else {
              // watermark passed t1 + window: counts are final — keep a
              // closed tombstone (not remove) so re-entry cannot
              // re-anchor; bounded mode re-arms the horizon drop
              state.update(st.copy(closed = true))
              if (bounded) armAt((st.t1 + winUs + horizonUs) / 1000)
              FunnelUser(uid, stepOpt(st.t1), stepOpt(st.t2), stepOpt(st.t3))
            }
          } else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            evs.toSeq.sortBy(e => tsMicros(e.ts)).foreach { e =>
              val us = tsMicros(e.ts)
              if (us < st.maxUs) guards.outOfOrder.add(1)
              if (st.closed) {
                // finalized chain: an event that would have set or
                // retracted a field is a contract breach — count it
                val breach = e.event_type match {
                  case "view" => st.t1 < 0 || us < st.t1
                  case "click" => st.t1 >= 0 && us > st.t1 &&
                    (st.t2 < 0 || us < st.t2)
                  case "purchase" => st.t2 >= 0 && us > st.t2 &&
                    (st.t3 < 0 || us < st.t3)
                  case _ => false
                }
                if (breach) guards.anchorViolations.add(1)
              } else e.event_type match {
                case "view" if st.t1 < 0 => st = st.copy(t1 = us)
                case "view" if us < st.t1 =>
                  // late view below the fixed anchor — would retract t1
                  guards.anchorViolations.add(1)
                case "click" if st.t1 >= 0 && us > st.t1 && st.t2 < 0 =>
                  st = st.copy(t2 = us)
                case "click" if st.t2 >= 0 && us > st.t1 && us < st.t2 =>
                  guards.anchorViolations.add(1) // would retract t2
                case "purchase" if st.t2 >= 0 && us > st.t2 && st.t3 < 0 =>
                  st = st.copy(t3 = us)
                case "purchase" if st.t3 >= 0 && us > st.t2 && us < st.t3 =>
                  guards.anchorViolations.add(1) // would retract t3
                case _ => ()
              }
              if (us > st.maxUs) st = st.copy(maxUs = us)
            }
            state.update(st)
            // the timeout RESETS on every invocation (GroupState
            // contract), so each phase re-arms its own clock (MILLIS):
            // open chain → close at t1+win; tombstone / anchor-less
            // (bounded mode) → horizon drop
            if (st.t1 >= 0 && !st.closed) armAt((st.t1 + winUs) / 1000)
            else if (bounded && st.closed)
              armAt((st.t1 + winUs + horizonUs) / 1000)
            else if (bounded && st.t1 < 0)
              armAt((st.maxUs + horizonUs) / 1000)
            FunnelUser(uid, stepOpt(st.t1), stepOpt(st.t2), stepOpt(st.t3))
          }
      }
  }

  def funnelChain(events: Dataset[FunnelEvent],
      winUs: Long): Dataset[FunnelUser] =
    funnelChain(events, winUs,
      StreamGuards(events.sparkSession, "funnel"))

  /** Run [[funnelChain]] to completion (AvailableNow → update-mode
    * memory sink). Update mode re-emits a user's triple as it advances
    * (and once more if the eviction timeout fires in the flush batch);
    * the triple is monotone with final field values, so the caller
    * reduces with max() per user. */
  def runFunnelOnce(spark: SparkSession, sfDir: String, winUs: Long,
      queryName: String = "event_funnel",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      import spark.implicits._
      val evs = eventsStream(spark, sfDir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[FunnelEvent]
      val guards = StreamGuards(spark, "funnel")
      val q = funnelChain(evs, winUs, guards).writeStream
        .format("memory").queryName(queryName)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StreamGuards.report(guards, queryName)
      spark.table(queryName)
    }

  /** Run [[funnelChain]] through the PRODUCTION terminal: update-mode
    * `foreachBatch` upserting each batch's per-user triples into a JDBC
    * (Derby) table keyed on user_id — the warehouse shape of a live
    * funnel dashboard. foreachBatch delivery is at-least-once under
    * restart recovery; the triple is MONOTONE with final field values,
    * so a replayed batch's upsert overwrites identical-or-older rows
    * and the TABLE converges to exactly-once state. Source, checkpoint,
    * and warehouse paths are explicit so a caller (the restart spec)
    * can stop the query, append late files to the source, and restart
    * the SAME checkpoint — proving state + sink survive a kill/restart
    * and still reproduce the batch z19 frame. Returns the table read
    * back as (user_id, t1, t2, t3) with −1 = step not reached (JDBC
    * NULLs round-trip awkwardly through Derby MERGE; the sentinel is
    * decoded by the caller). */
  def runFunnelToJdbc(spark: SparkSession, srcDir: String,
      srcSchema: org.apache.spark.sql.types.StructType, winUs: Long,
      ckpt: String, dbDir: String, table: String = "funnel_jdbc",
      queryName: String = "event_funnel_jdbc",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      import graft.sources.Jdbc
      import spark.implicits._
      val url = Jdbc.derbyUrl(dbDir)
      val guards = StreamGuards(spark, "funnel_jdbc")
      val evs = normalizeTs(
          spark.readStream.schema(srcSchema).parquet(srcDir))
        .filter(col("event_type").isin("view", "click", "purchase"))
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[FunnelEvent]
      val q = funnelChain(evs, winUs, guards)
        .select(col("user_id"), coalesce(col("t1"), lit(-1L)).as("t1"),
          coalesce(col("t2"), lit(-1L)).as("t2"),
          coalesce(col("t3"), lit(-1L)).as("t3"))
        .writeStream
        .queryName(queryName)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch((batch: DataFrame, _: Long) =>
          Jdbc.upsertBatch(batch, url, table, Seq("user_id")))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StreamGuards.report(guards, queryName)
      Jdbc.readAll(spark, url, table)
    }

  /** Width of the retention bitmask: week offsets 0 to 63 (≈15 months
    * of rolling weeks). Offsets past it are counted drops
    * (`guards.maskOverflow`); a deployment tracking longer horizons
    * shards the epoch or widens to an array. The mask also defines the
    * state's INERT point — past `firstUs + MaskWeeks·weekUs` every
    * further event is a counted drop, which is why the horizon
    * eviction anchors there. */
  val MaskWeeks: Int = 64

  /** Retention state: the user's first-event anchor (micros; −1 = none
    * yet) and a bitmask of week offsets already emitted — two longs per
    * user. */
  final case class RetentionState(firstUs: Long, mask: Long)
  final case class RetentionHit(user_id: Long, first_us: Long,
      week_offset: Long)

  /** Streaming cohort-retention hits (z22, the streaming twin of the
    * batch z20): per user, emit (first_us, week_offset) the FIRST time
    * any event lands in that rolling week — append-only output (each
    * pair emits exactly once across the stream's lifetime, state
    * remembers the emitted set as a bitmask), so the downstream
    * roll-up needs no dedupe. Same per-user in-order delivery contract
    * as [[funnelChain]] (a cross-batch late arrival that would move
    * the anchor is not replayed) — and the same breach counters: a late
    * event BELOW the fixed anchor increments `guards.anchorViolations`
    * (its week bucket is computed against an anchor the batch twin
    * would have moved), and a week offset >= [[MaskWeeks]] — past the
    * bitmask — is dropped LOUDLY via `guards.maskOverflow` instead of
    * silently under-reporting vs batch z20 (ADVICE r13).
    *
    * State-lifetime bound (VERDICT r14 ask #1, opt-in): with
    * `horizonUs` set, an `EventTimeTimeout` arms at
    * `firstUs + MaskWeeks·weekUs + horizonUs` — the mask makes any
    * older state permanently INERT (every further event is already a
    * counted mask-overflow drop), so dropping it loses nothing but the
    * drop COUNTER for that user; `horizonUs` is how much longer past
    * inertness the counter stays live. Evictions are counted in
    * `guards.horizonEvictions`. Beyond the horizon a returning user
    * re-anchors a fresh cohort (above the watermark by Spark's own
    * late-row filter, hence ≥ MaskWeeks weeks past the old anchor).
    * Default `Long.MaxValue` never arms — state is two longs per
    * user-ever-seen, the pre-r15 semantics. */
  def retentionHits(events: Dataset[FunnelEvent], weekUs: Long,
      guards: StreamGuards,
      horizonUs: Long = Long.MaxValue): Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val bounded = horizonUs != Long.MaxValue
    // the timeout CONF follows the mode: EventTimeTimeout requires a
    // watermark at query-analysis time even if no timeout is ever
    // armed, so unbounded mode keeps NoTimeout — a caller without a
    // watermark keeps working exactly as pre-r15 (review r15)
    val timeoutConf =
      if (bounded) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionHit](
        OutputMode.Append, timeoutConf) {
        case (uid, evs, state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the inert point + horizon: drop (bounded
            // mode only — unbounded never arms). Nothing to emit: every
            // emittable week was either emitted or counted as overflow.
            guards.horizonEvictions.add(1)
            state.remove()
            Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(e => tsMicros(e.ts))
            var st = state.getOption.getOrElse(RetentionState(-1L, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[RetentionHit]
            sorted.foreach { e =>
              val us = tsMicros(e.ts)
              if (st.firstUs < 0) st = st.copy(firstUs = us)
              else if (us < st.firstUs) guards.anchorViolations.add(1)
              val off = (us - st.firstUs) / weekUs
              if (off >= MaskWeeks) guards.maskOverflow.add(1)
              else if (off >= 0 && (st.mask & (1L << off)) == 0) {
                st = st.copy(mask = st.mask | (1L << off))
                out += RetentionHit(uid, st.firstUs, off)
              }
            }
            state.update(st)
            if (bounded) {
              // timeout resets every invocation — re-arm (MILLIS,
              // clamped strictly above the watermark; batch execution
              // throws on both calls and degrades to a no-op)
              val wm = try state.getCurrentWatermarkMs()
                catch { case _: UnsupportedOperationException => Long.MinValue }
              try state.setTimeoutTimestamp(math.max(
                (st.firstUs + MaskWeeks * weekUs + horizonUs) / 1000, wm + 1))
              catch { case _: UnsupportedOperationException => () }
            }
            out.iterator
          }
      }
  }

  def retentionHits(events: Dataset[FunnelEvent],
      weekUs: Long): Dataset[RetentionHit] =
    retentionHits(events, weekUs,
      StreamGuards(events.sparkSession, "retention"))

  /** Run [[retentionHits]] to completion (AvailableNow → append-mode
    * memory sink). */
  def runRetentionOnce(spark: SparkSession, sfDir: String, weekUs: Long,
      queryName: String = "event_retention",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      import spark.implicits._
      val evs = eventsStream(spark, sfDir)
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[FunnelEvent]
      val guards = StreamGuards(spark, "retention")
      val q = retentionHits(evs, weekUs, guards).writeStream
        .format("memory").queryName(queryName)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StreamGuards.report(guards, queryName)
      spark.table(queryName)
    }

  final case class SessionRow(user_id: Long, s_ms: Long, n_events: Long,
      duration_ms: Long)

  /** FULL-history sessionization: `flatMapGroupsWithState` in append
    * mode emits EVERY session, not just each group's latest state —
    * gap-closed sessions emit the moment a later event opens the next
    * one, and the still-open final session emits (and its state drops)
    * when the watermark passes `last + gap`. This is the production
    * shape of streaming sessionization: output is append-only (safe
    * for exactly-once file sinks), state tracks only OPEN sessions,
    * and a session within the watermark horizon of the stream's head
    * stays unemitted until it provably cannot reopen — the same
    * closed-only discipline as the z8 append windows. */
  def sessionizeAll(events: Dataset[SessionEvent], gapMs: Long,
      guards: StreamGuards): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session can never
            // reopen — emit it closed and drop the state
            val st = state.get
            state.remove()
            Iterator(SessionRow(uid, st.start, st.count, st.last - st.start))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
            var st = state.getOption.getOrElse(
              SessionState(0, sorted.head.ts.getTime, sorted.head.ts.getTime))
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (t < st.last) guards.outOfOrder.add(1) // late delivery
              if (t - st.last > gapMs) {
                out += SessionRow(uid, st.start, st.count, st.last - st.start)
                st = SessionState(0, t, t)
              }
              // same no-regress rule as sessionize (r14)
              st = st.copy(count = st.count + 1, last = math.max(st.last, t))
            }
            state.update(st)
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            try state.setTimeoutTimestamp(math.max(st.last + gapMs, wm + 1))
            catch { case _: UnsupportedOperationException => () }
            out.iterator
          }
      }
  }

  def sessionizeAll(events: Dataset[SessionEvent],
      gapMs: Long): Dataset[SessionRow] =
    sessionizeAll(events, gapMs,
      StreamGuards(events.sparkSession, "sessionize_all"))

  /** Run [[sessionizeAll]] to completion (AvailableNow → append-mode
    * parquet sink). Single-batch source ⇒ one data batch emits every
    * gap-closed session; the timeout batch then flushes open sessions
    * whose `last + gap` the final watermark (max event time − 2 h)
    * passed. Deterministic, fully DuckDB-oracled (z15). */
  def runSessionizeAllOnce(spark: SparkSession, sfDir: String, gapMs: Long,
      queryName: String = "event_sessions_all",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      import spark.implicits._
      val evs = eventsStream(spark, sfDir)
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[SessionEvent]
      runAppendToParquet(spark, sessionizeAll(evs, gapMs), queryName)
    }

  /** Run the sessionizer as a REAL stream to completion (AvailableNow →
    * update-mode memory sink): file-source read with watermark, custom
    * mapGroupsWithState state, event-time timeout eviction armed. The
    * single-file events source processes as one data batch, so each
    * user's output row is the FINAL session of its (ts-sorted) events —
    * deterministic relational semantics; a user idle > gap before the
    * watermark additionally re-emits the same session once from the
    * timeout path (no-data batch) as its state is evicted, which is why
    * consumers project (user, n_events, duration) and de-duplicate. */
  def runSessionizeOnce(spark: SparkSession, sfDir: String, gapMs: Long,
      queryName: String = "event_sessions",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      import spark.implicits._
      val evs = eventsStream(spark, sfDir)
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[SessionEvent]
      val q = sessionize(evs, gapMs).writeStream
        .format("memory").queryName(queryName)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(queryName)
    }

  /** Streaming dedup-at-ingest: drop duplicate (user_id, event_type, ts)
    * arrivals inside the watermark horizon — the training-data-pipeline
    * pattern of deduplicating documents as they stream in, with state
    * bounded by the watermark instead of growing forever
    * (dropDuplicatesWithinWatermark: two rows of the same key admitted
    * only if they are further apart than the delay threshold). */
  def dedupStream(spark: SparkSession, sfDir: String,
      keys: Seq[String] = Seq("user_id", "event_type", "ts")): DataFrame = {
    eventsStream(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keys)
  }

  /** Run the streaming dedup to completion (AvailableNow) through a
    * parquet sink; returns the deduplicated rows. Exactly one row per
    * distinct key survives a single-batch run (the events corpus is one
    * file, and AvailableNow admits it in one micro-batch, so no state
    * expires mid-run and within-batch state checks drop every duplicate
    * after the first); WHICH physical row survives per key follows state
    * store input order, so deterministic consumers must project the key
    * columns only. */
  def runDedupOnce(spark: SparkSession, sfDir: String,
      queryName: String = "event_dedup",
      stateShards: Int = DefaultStateShards,
      keys: Seq[String] = Seq("user_id", "event_type", "ts")): DataFrame =
    withStateShards(spark, stateShards) {
      // first occurrence emits on arrival; the no-data batch could only
      // evict state, never emit (see withoutNoDataBatches)
      withoutNoDataBatches(spark) {
        runAppendToParquet(spark, dedupStream(spark, sfDir, keys), queryName)
      }
    }

  /** Run the windowed-count stream to completion (AvailableNow) into an
    * in-memory table; returns the materialized result. */
  def runWindowedOnce(spark: SparkSession, sfDir: String,
      queryName: String = "event_counts",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      val q = windowedCounts(spark, sfDir).writeStream
        .format("memory").queryName(queryName)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(queryName)
    }

  /** Append-mode windowed counts: a window emits exactly ONCE, when the
    * watermark passes its end, and its state is then EVICTED — the
    * unbounded-feed deployment shape (complete mode re-outputs and
    * retains every window forever; see SCALE.md §z4). Over a finite
    * AvailableNow run the trailing windows — those within the 2-hour
    * watermark horizon of the max event time — remain open and
    * unemitted, which is exactly the semantics the z8 oracle replays. */
  def runWindowedAppendOnce(spark: SparkSession, sfDir: String,
      queryName: String = "event_counts_append",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      runAppendToParquet(spark, windowedCounts(spark, sfDir), queryName)
    }

  /** The BUILT-IN `session_window` as a real append-mode stream: gap-
    * merged per-user sessions, each emitted exactly once when the
    * watermark passes its END (last event + gap) and its state evicted
    * — the declarative twin of [[sessionizeAll]] with Spark's merge
    * rule (a gap of exactly `gap` merges; see z10). Sessions ending
    * inside the final watermark horizon stay open and unemitted. */
  def runSessionWindowOnce(spark: SparkSession, sfDir: String,
      queryName: String = "event_session_windows",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      runAppendToParquet(spark,
        eventsStream(spark, sfDir)
          .withWatermark("ts", "2 hours")
          .groupBy(col("user_id"),
            session_window(col("ts"), "6 hours").as("sw"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), unix_micros(col("sw.start")).as("s_us"),
            col("n")),
        queryName)
    }

  /** Stream the append-mode windowed counts into a JDBC (Derby) table
    * through `foreachBatch` + [[graft.sources.Jdbc.upsertBatch]] — the
    * warehouse terminal of a streaming pipeline. foreachBatch delivery
    * is at-least-once under restart recovery; the key-upsert makes the
    * TABLE state exactly-once (a replayed batch overwrites identical
    * rows). Returns the table read back. */
  def runWindowedToJdbcOnce(spark: SparkSession, sfDir: String,
      dbDir: String, table: String = "event_counts_jdbc",
      queryName: String = "event_counts_jdbc_sink",
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      import graft.sources.Jdbc
      val url = Jdbc.derbyUrl(dbDir)
      val q = windowedCounts(spark, sfDir)
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), round(col("total_value"), 4).as("total_value"))
        .writeStream
        .queryName(queryName)
        .outputMode("append")
        .foreachBatch((batch: DataFrame, _: Long) =>
          Jdbc.upsertBatch(batch, url, table, Seq("ws", "event_type")))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Jdbc.readAll(spark, url, table)
    }

  /** Stream-stream interval join: purchases joined to same-user clicks
    * from the preceding `windowHours` (the streaming face of the z7
    * batch range join). Both sides carry watermarks, so join state is
    * bounded: a buffered click is dropped once the purchase watermark
    * passes click_ts + window — the only formulation that survives an
    * unbounded feed. State shards by user_id (`shuffle.partitions`). */
  def streamIntervalJoin(spark: SparkSession, sfDir: String,
      windowHours: Int = 6): DataFrame = {
    def side(tpe: String) =
      eventsStream(spark, sfDir).filter(col("event_type") === tpe)
    val purchases = side("purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = side("click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", s"${windowHours + 2} hours")
    purchases.join(clicks,
      expr(s"""p_user = c_user AND
               c_ts <= p_ts AND c_ts > p_ts - INTERVAL $windowHours HOURS"""))
  }

  /** Run the stream-stream join to completion (AvailableNow). */
  def runIntervalJoinOnce(spark: SparkSession, sfDir: String,
      queryName: String = "event_join", windowHours: Int = 6,
      stateShards: Int = DefaultStateShards): DataFrame =
    withStateShards(spark, stateShards) {
      // inner-join matches emit on arrival; the no-data batch could
      // only evict the four stores' state (see withoutNoDataBatches)
      withoutNoDataBatches(spark) {
        runAppendToParquet(spark,
          streamIntervalJoin(spark, sfDir, windowHours), queryName)
      }
    }
}
