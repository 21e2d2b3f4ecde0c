package graft.extensions

import graft.SparkSpec
import graft.streaming.{EventStream, StateStores}

/** Pins the executable sizing rule to the SCALE.md measured points and
  * proves configure() actually routes a stateful stream through the
  * chosen provider. */
class StateStoresSpec extends SparkSpec {

  describe("SPARK_GRAFT_STATE_SHARDS parsing") {

    it("takes a positive integer and defaults to 8 when unset") {
      assert(EventStream.stateShardsFrom(None) == 8)
      assert(EventStream.stateShardsFrom(Some("32")) == 32)
    }

    it("rejects a malformed or non-positive value, naming both") {
      Seq("eight", "", "0", "-4", "2.5").foreach { bad =>
        val e = intercept[IllegalArgumentException](
          EventStream.stateShardsFrom(Some(bad)))
        assert(e.getMessage.contains("SPARK_GRAFT_STATE_SHARDS") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }

  describe("StateStores sizing rule") {

    it("reproduces the measured single-box verdicts") {
      // 15 M windowed keys on one 24 GiB JVM: measured GC death → RocksDB
      assert(StateStores.provider(15000000L, 1, 24.0)
        .contains(StateStores.RocksDbProvider))
      // 7.5 M dedup keys on one 24 GiB JVM sat ON the envelope edge
      // (completed, GC-pressured) — the rule's headroom must already
      // call RocksDB there
      assert(StateStores.provider(7500000L, 1, 24.0)
        .contains(StateStores.RocksDbProvider))
      // 1.5 M keys on one 24 GiB JVM: measured in-heap 2x FASTER
      assert(StateStores.provider(1500000L, 1, 24.0).isEmpty)
    }

    it("keys per EXECUTOR decide, not total keys") {
      // the same 15 M keys over 32 balanced 16 GiB executors is ~470 k
      // each — comfortably in-heap (SCALE.md's closing point)
      assert(StateStores.provider(15000000L, 32, 16.0).isEmpty)
      // shrink the fleet until the per-executor share crosses the line
      assert(StateStores.provider(15000000L, 2, 16.0)
        .contains(StateStores.RocksDbProvider))
    }

    it("liveKeyEstimate feeds the rule the bounded-replay worst case") {
      // r10 ask #6: the probe harness derives the rule's input from the
      // event table itself. A bounded AvailableNow replay lands the
      // whole table in ~one batch, so nothing is evicted mid-run and
      // the worst-case live state across the stateful query classes is
      // the total event count (z18 keys every event id; the z13 join
      // buffers every in-window row; session/window state is strictly
      // smaller — measured at ×100: z16 state 5.66 M rows < 10 M
      // events). A horizon-scaled steady-state estimate was measured
      // 38× low against real bounded-replay state.
      val sf = "/root/testdata/sf0.001"
      val est = EventStream.liveKeyEstimate(spark, sf)
      assert(est == EventStream.readEvents(spark, sf).count(),
        "bounded-replay live keys = the total keyed population")
      // and the composition picks in-heap for this tiny deployment
      assert(StateStores.provider(est, 1, 4.0).isEmpty)
    }

    it("configure() routes a real stateful stream through the choice") {
      val sf = "/root/testdata/sf0.001"
      val prev = spark.conf.getOption(StateStores.ProviderConf)
      try {
        // force the RocksDB branch with a deployment that needs it,
        // then run a real sessionization to completion under it
        val chosen = StateStores.configure(spark, 15000000L, 1, 24.0)
        assert(chosen == StateStores.RocksDbProvider)
        assert(spark.conf.get(StateStores.ProviderConf) == chosen)
        val out = EventStream.runSessionizeAllOnce(spark, sf,
          gapMs = 6L * 3600 * 1000, queryName = "t_sizing_rocks")
        assert(out.count() > 0)
        // and the in-heap branch must restore the default provider
        // (unset falls back to the conf's built-in default, the
        // HDFS-backed in-heap store — not to an absent key)
        val back = StateStores.configure(spark, 1000L, 1, 4.0)
        assert(back == "in-heap (default)")
        assert(!spark.conf.get(StateStores.ProviderConf).contains("RocksDB"))
      } finally prev match {
        case Some(v) => spark.conf.set(StateStores.ProviderConf, v)
        case None => spark.conf.unset(StateStores.ProviderConf)
      }
    }

    it("the streaming funnel state machine is provider-agnostic") {
      import org.apache.spark.sql.functions.{col, max}
      val sf = "/root/testdata/sf0.001"
      val winUs = 7L * 86400 * 1000000
      def triples(queryName: String) =
        EventStream.runFunnelOnce(spark, sf, winUs, queryName = queryName)
          .groupBy("user_id")
          .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
          .collect()
          .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))).toSet
      val prev = spark.conf.getOption(StateStores.ProviderConf)
      try {
        assert(StateStores.configure(spark, 15000000L, 1, 24.0) ==
          StateStores.RocksDbProvider)
        val viaRocks = triples("t_funnel_rocks")
        StateStores.configure(spark, 1000L, 1, 4.0)
        assert(!spark.conf.get(StateStores.ProviderConf).contains("RocksDB"))
        val viaHeap = triples("t_funnel_heap")
        assert(viaRocks.nonEmpty && viaRocks == viaHeap,
          "funnel state diverged across state-store providers")
      } finally prev match {
        case Some(v) => spark.conf.set(StateStores.ProviderConf, v)
        case None => spark.conf.unset(StateStores.ProviderConf)
      }
    }
  }
}
