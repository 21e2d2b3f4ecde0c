package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Physical-plan regression guards: the properties that make these
  * queries scale must stay in the plan — pushdown reaching the parquet
  * scan, broadcast for small join sides, TakeOrderedAndProject for
  * top-k (no global sort), map-side partial aggregation.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  it("s1_scan_project pushes the filter and prunes columns at the scan") {
    val p = planOf("s1_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"), p)
  }

  it("j1_equi_join broadcasts the dimension side") {
    assert(planOf("j1_equi_join").contains("BroadcastHashJoin"))
  }

  it("p1_semi_join stays a broadcast semi join") {
    val p = planOf("p1_semi_join")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("Broadcast"), p)
  }

  it("o1_topk uses TakeOrderedAndProject (no global sort)") {
    assert(planOf("o1_topk").contains("TakeOrderedAndProject"))
  }

  it("a2_group_count partial-aggregates map-side") {
    assert(planOf("a2_group_count").contains("partial_count"))
  }

  it("y1_cosine_topk broadcasts the query vector and take-orders") {
    val p = planOf("y1_cosine_topk")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  it("x4_dedup_exact is a single hash-aggregate pipeline (no join)") {
    val p = planOf("x4_dedup_exact")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  it("sp2_fold_assign is a pure per-row expression (no Window at all)") {
    // a global-ORDER-BY row_number would funnel every row through ONE
    // task; the hash-fold formulation must keep the plan window-free
    val p = planOf("sp2_fold_assign")
    assert(!p.contains("Window"), p)
  }

  it("j7_bucketed_join joins and aggregates with zero hash exchanges") {
    // both sides bucketed+sorted on the join key: SMJ without shuffle,
    // agg on the bucket key without shuffle; only the final presentation
    // sort may range-partition
    val p = planOf("j7_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  it("y4_lsh_ann hyperplanes are plan-time constants (no per-row hash chains)") {
    // the bucket ids must come from the literal-plane LshSignBits
    // expression — a per-row xxhash64 hyperplane derivation in the plan
    // is the 12x regression this guards against
    val p = planOf("y4_lsh_ann")
    assert(!p.toLowerCase.contains("xxhash64"), p)
    // the per-query top-k must plan as a WindowGroupLimit (top-k per
    // qid held incrementally — never a full candidate sort per query)
    assert(p.contains("WindowGroupLimit"), p)
    // the r9 skew guard splits candidates into an exact arm (buckets
    // <= cap, all-pairs) and a chain arm (over-cap buckets, rank-
    // adjacency equi-join) — the Union of the two arms must be in the
    // plan; its absence means the guard was optimized away or removed
    assert(p.contains("Union"), p)
  }

  it("x13_simhash_neardup reads the persisted fingerprint frame (no re-tokenize)") {
    // both join sides must come from the cached banded frame — a raw
    // split() above the cache means the fingerprint chain is being
    // re-evaluated per side (the measured 17s failure mode)
    val p = planOf("x13_simhash_neardup")
    assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"), p)
  }

  it("a1_minmax_rescale broadcasts the per-group fit (no window shuffle)") {
    // window PARTITION BY a 3-value key = whole table into <=3 partitions;
    // the fit/broadcast-join shape must survive in the plan
    val p = planOf("a1_minmax_rescale")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  it("z5_sessionize windows are partitioned by user (never global)") {
    // every Window node must carry the user_id partitioning — a global
    // ORDER BY window would funnel 100 TB of events through one task
    val p = planOf("z5_sessionize")
    assert(p.contains("Window"), p)
    assert(!p.contains("Window [") ||
      p.linesIterator.filter(_.contains("windowspecdefinition"))
        .forall(_.contains("user_id")), p)
  }

  it("x22_token_pack prefix sum is hierarchical — every window partitioned") {
    // the running token total must never run as one task per source: the
    // cross-bucket offset window rides the 4096×-smaller aggregate frame
    // and the intra-bucket window is partitioned by (source, bucket)
    val p = planOf("x22_token_pack")
    assert(p.contains("Window"), p)
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(l => l.contains("source") &&
        (l.contains("bkt") || l.contains("bsum"))), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("z6_asof_join is window-composed, not an inequality join") {
    // the as-of match must come from the per-user running window —
    // any nested-loop/cartesian materialization is the O(n*m) shape
    val p = planOf("z6_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("z7_range_join hash-joins on (user, bucket) equality keys") {
    // the range predicate must ride on an equality join via the coarse
    // time buckets — a pure-inequality join degenerates to nested loops
    val p = planOf("z7_range_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("x15_top_bigrams takes top-k without a global sort") {
    val p = planOf("x15_top_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    // r12: the bigram counting moved into the shared gram-count
    // fixture — at query time only a vocab-sized partial SUM over the
    // cached counts remains; no InMemory scan in the plan means the
    // corpus counts are being recomputed per execution again
    assert(p.contains("partial_sum"), p)
    assert(p.contains("InMemoryTableScan"), p)
    // structural: the optimized logical plan treats the cached relation
    // as a LEAF, so any Generate found here is query-time work (the
    // formatted string also prints the fixture's build lineage, whose
    // Generate is the pay-once cost, not a per-execution one)
    val gens = SparkEntry.queries("x15_top_bigrams")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
    assert(gens.isEmpty,
      s"x15 must not re-explode the corpus at query time:\n$p")
  }

  it("x21_lm_xent reads uni+bigram counts from the gram fixture, explodes only for scoring") {
    // r12 (VERDICT r11 ask #2): the unigram and bigram count walks are
    // filtered sums over the shared gram-count fixture; the ONE
    // remaining Generate is the per-doc scoring explode (inherent).
    val q = graft.SparkEntry.queries("x21_lm_xent")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // structural on the optimized logical plan: cached relations are
    // leaves there, so fixture-BUILD explodes don't count
    val gens = q.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.size == 1,
      s"expected exactly the scoring explode, got ${gens.size}:\n$p")
    // uni, bi (gram fixture) + the scoring walk (token fixture)
    val cachedRels = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedRels.size >= 3,
      s"expected three cached-fixture reads, got ${cachedRels.size}:\n$p")
  }

  it("x31_vocab_coverage is a vocab-sized window over the gram fixture (no corpus work)") {
    val q = graft.SparkEntry.queries("x31_vocab_coverage")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // zero query-time Generates beyond the 5-literal threshold explode;
    // the corpus never appears (optimized plan: cached leaf only)
    val gens = q.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.size <= 1, s"only the 5-row threshold explode allowed:\n$p")
    val cachedRels = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedRels.nonEmpty, s"must read the gram-count fixture:\n$p")
    // structural corpus-leak check (the formatted string prints the
    // fixture's build lineage, which legitimately scans parquet)
    val fileScans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(fileScans.isEmpty,
      s"corpus scan leaked into the vocab query:\n$p")
  }

  it("y8_semdedup equi-joins on cell and reads the persisted assignment frame") {
    // the pair work must ride equality joins on the cell id (plus the
    // window-lag chain arm) — an all-pairs cosine sweep is the O(n²)
    // plan cluster scoping exists to avoid. BroadcastNestedLoopJoin
    // appears ONLY if Spark loses the cell equi-key.
    val q = graft.SparkEntry.queries("y8_semdedup")(spark, sf)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    // all four walks (triangle lhs/rhs, chain arm, verdict projection)
    // must read the ONE persisted assignment frame — a missing cached
    // read means the scan+argmin+double-window build re-runs per walk
    val cachedRels = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedRels.size >= 3,
      s"expected the assignment-fixture reads, got ${cachedRels.size}:\n$p")
  }

  it("x17_contamination joins by shingle hash (no nested loop, partial agg)") {
    // the benchmark-overlap check must stay an equality join on the
    // shingle hash with map-side partial counts — a nested-loop
    // containment probe would be O(docs × benchmark)
    val p = planOf("x17_contamination")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("partial_count"), p)
  }

  it("x30_bloom_decontam prefilters with the native bloom BEFORE the confirm join") {
    // the bloom probe must sit on the join's streamed side (a Filter on
    // bloom_might_contain below the hash join), so only candidate
    // shingles reach the exchange; denominators must partial-aggregate
    val p = planOf("x30_bloom_decontam")
    assert(p.contains("bloom_might_contain"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("partial_count"), p)
    // the probe is a codegen'd scalar predicate, not a join in itself:
    // exactly the x17 join count + the doc-width denominator join
    val joins = "Join".r.findAllIn(p).size
    assert(joins >= 2, s"expected confirm + denominator joins, plan:\n$p")
  }

  it("x18_bm25 broadcasts corpus stats and df, takes top-k without global sort") {
    // N/avgdl and per-term df are tiny aggregate frames — they must ride
    // in as broadcasts; the final top-10 must be TakeOrdered
    val p = planOf("x18_bm25")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // both walks (doc-length frame, term-frequency explode) must read
    // the shared token fixture (r11) — x18 used to tokenize TWICE.
    // Structural count (ADVICE r11): collect the cached-relation nodes
    // from the optimized logical plan instead of grepping the formatted
    // physical string, which explain versions may dedup/collapse (and
    // which AQE wraps before execution).
    val cachedRels = SparkEntry.queries("x18_bm25")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
    assert(cachedRels.size >= 2,
      s"expected both walks on the token fixture, got ${cachedRels.size}:\n$p")
  }

  it("x23_dup_spans joins by span hash (never all-pairs, partial agg)") {
    // the duplicated-span count must flow through equality joins on the
    // span hash — a nested-loop doc×doc span compare is the O(n²) plan
    // this query exists to avoid
    val p = planOf("x23_dup_spans")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("partial_count"), p)
  }

  it("x24_pii_scrub is scan-shaped (no shuffle before the final sort)") {
    // redaction is per-row regex codegen; the ONLY exchange allowed is
    // the presentation ORDER BY
    val p = planOf("x24_pii_scrub")
    assert(!p.contains("Join"), p)
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1, p)
  }

  it("x27_oov_rate broadcasts the by-construction-tiny vocabulary") {
    // at most 100 tokens can each hold >=1% of corpus mass, so the
    // vocab side must ride in as a broadcast at ANY corpus size
    val p = planOf("x27_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  it("y5_ivf_ann assigns cells via the native fused argmin, probes broadcast") {
    // cell assignment must be the codegen'd NearestCentroid expression
    // (no interpreted HOF lambdas, no MLlib transform stage in the query
    // path); the k-row centroid routing table rides in as a broadcast
    val p = planOf("y5_ivf_ann")
    assert(p.toLowerCase.contains("nearestcentroid"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("ArrayTransform"), p)
  }

  it("y7_ivfpq_ann composes native cell-argmin with native PQ encode") {
    val p = planOf("y7_ivfpq_ann")
    assert(p.toLowerCase.contains("nearestcentroid"), p)
    assert(p.toLowerCase.contains("pqencode"), p)
  }

  it("j8_jdbc_roundtrip pushes the filter into the JDBC scan and partitions it") {
    // the acctbal predicate must reach the remote WHERE clause (one
    // filtered cursor per range slice), not run as a post-scan Filter
    // over a full-table pull; the parquet orders side joins by hash
    val p = planOf("j8_jdbc_roundtrip")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(C_ACCTBAL,0.0)") ||
      p.contains("GreaterThan(c_acctbal,0.0)"), p)
    assert(p.contains("numPartitions=8"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("z10_session_window plans as a user-partitioned aggregate (no window fns)") {
    // the built-in session_window must stay ONE gap-merge aggregation
    // sharded by user — no window-function pass over the raw events and
    // nothing quadratic
    val p = planOf("z10_session_window")
    assert(p.contains("SessionWindow") || p.contains("session_window"), p)
    assert(!p.contains("Window ["), p) // no window-function exec node
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("x28_quantile_sketch partial-aggregates the GK sketch map-side") {
    // the sketch's whole point at 100 TB: per-group state is a bounded
    // summary built map-side, merged once — not buffered raw values
    val p = planOf("x28_quantile_sketch")
    assert(p.contains("partial_approx_percentile"), p)
  }

  it("z14_json_props parses with a declared schema and partial-aggregates") {
    // one from_json per row with a DECLARED schema (no inference pass —
    // the only shape that works on a 100 TB feed), then map-side
    // partials into a single 5-key merge exchange
    val p = planOf("z14_json_props")
    assert(p.contains("from_json"), p)
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("z11/z12 codec round trips stay shuffle-free scans before the sort") {
    // the distributed-codec shape: encode+decode is partition-local CPU;
    // the only exchange allowed is the final presentation ORDER BY
    for (name <- Seq("z11_image_roundtrip", "z12_audio_roundtrip")) {
      val p = planOf(name)
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 2, s"$name: $exchanges exchanges\n$p") // rangepartition + AQE read
      assert(!p.contains("HashAggregate"), s"$name buffered an aggregate\n$p")
    }
  }

  it("f1/f7 per-row kernels shuffle only for the presentation sort") {
    // row L2-normalize and elementwise mean are pure per-row HOF
    // expressions: no hash exchange may appear, and the scan must prune
    // to (vec_id, embedding) — label and any other column stay unread
    for (name <- Seq("f1_l2_normalize", "f7_elementwise_mean")) {
      val p = planOf(name)
      assert(!p.contains("hashpartitioning"), s"$name shuffled\n$p")
      assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding"),
        s"$name did not prune the scan\n$p")
    }
  }

  it("a11/a12 ortho costs partial-aggregate with one label exchange") {
    // the dot product stays inside the row (codegen'd HOFs); only the
    // per-label rollup may exchange, with map-side partials — and no
    // Generate: exploding 64-wide arrays here would multiply the scan
    for (name <- Seq("a11_ortho_o1", "a12_ortho_o2")) {
      val p = planOf(name)
      assert(p.contains("partial_sum"), s"$name missing map-side partials\n$p")
      assert(!p.contains("Generate"), s"$name exploded the arrays\n$p")
      val hashEx = "hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"$name: $hashEx hash exchanges\n$p")
    }
  }

  it("f8/f9 scalar casts and activations shuffle only for the " +
      "presentation sort") {
    // pure per-row expressions over lineitem: no hash exchange, and the
    // scan must prune to the three columns each query reads
    for ((name, c) <- Seq("f8_activations" -> "l_quantity",
        "f9_float32_cast" -> "l_extendedprice")) {
      val p = planOf(name)
      assert(!p.contains("hashpartitioning"), s"$name shuffled\n$p")
      assert(p.contains(
        s"ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,$c"),
        s"$name did not prune the scan\n$p")
    }
  }

  it("a14_usage_entropy aggregates to k·2 rows before its tiny window") {
    // the only row-volume exchange is the (view,label) count rollup
    // with map-side partials; the per-view window and the log-k cross
    // join run over k·2 rows, and the 1-row k frame must broadcast
    val p = planOf("a14_usage_entropy")
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  it("a15_cca_cov computes all 16 covariances in ONE partial+final agg") {
    // one scan, sixteen covar_samp aggregates sharing a single
    // partial/final pair (no per-pair passes), stack()ed plan-time —
    // a Generate-free, join-free plan
    val p = planOf("a15_cca_cov")
    assert(p.contains("partial_covar_samp"), p)
    assert(!p.contains("Join"), p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"$scans scans\n$p")
  }

  it("a14_usage_entropy equals log k + Σ p log p of the one-hot usage matrix") {
    val q = SparkEntry.queries("a14_usage_entropy")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // rebuild each view's one-hot assignment matrix from the same table
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id % 2 AS view", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val labels = rows.map(_._2).distinct.sorted
    val k = labels.length
    for (view <- Seq(0L, 1L)) {
      val onehot = rows.filter(_._1 == view)
        .map(r => labels.map(l => if (r._2 == l) 1.0 else 0.0))
      val mass = Array.tabulate(k)(c => onehot.map(_(c)).sum)
      val p = mass.map(_ / mass.sum)
      val expected = math.log(k) + p.map(v => v * math.log(v)).sum
      assert(math.abs(q(view) - (math.rint(expected * 1e6) / 1e6)) < 2e-6,
        s"view=$view query=${q(view)} local=$expected")
    }
  }

  it("a15_cca_cov equals the local centred sample covariance of its 8 columns") {
    val q = SparkEntry.queries("a15_cca_cov")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // (a1..a4, b1..b4): the first 4 dims of each embedding half
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr((1 to 4).map(i => s"CAST(embedding[${i - 1}] AS DOUBLE)") ++
        (1 to 4).map(j => s"CAST(embedding[${32 + j - 1}] AS DOUBLE)"): _*)
      .collect().map(r => Array.tabulate(8)(r.getDouble))
    val m = raw.length.toDouble
    val means = Array.tabulate(8)(c => raw.map(_(c)).sum / m)
    for (i <- 1 to 4; j <- 1 to 4) {
      val (a, b) = (i - 1, 4 + j - 1)
      val cov = raw.map(r => (r(a) - means(a)) * (r(b) - means(b))).sum / (m - 1)
      assert(math.abs(q((i, j)) - (math.rint(cov * 1e6) / 1e6)) < 2e-6,
        s"($i,$j) query=${q((i, j))} local=$cov")
    }
  }

  it("p6_key_filter pushes the substring predicate to the scan") {
    val p = planOf("p6_key_filter")
    assert(p.contains("StringContains(source,1)"), p)
  }

  it("z19_funnel shares ONE user_id exchange across all three step windows") {
    // the greedy min-after-previous chain must ride a single natural-key
    // shuffle: three whole-partition window mins + the per-user roll-up
    // all reuse the user_id partitioning, and the step filter reaches
    // the parquet scan. A second data exchange or a global window here
    // would not survive a 100 TB event log.
    val p = planOf("z19_funnel")
    assert(p.contains("PushedFilters: [In(event_type"), p)
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("user_id")), p)
    val dataExchanges = p.split("hashpartitioning\\(").drop(1)
      .count(_.startsWith("user_id"))
    assert(dataExchanges == 1, s"expected 1 user_id exchange:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("z20_retention touches the corpus once: user window then keyed aggs") {
    // one user_id exchange stamps first_us; the exact distinct count's
    // partial dedupe reuses that partitioning (its keys include
    // user_id), so the only other hash exchanges ride the tiny
    // post-aggregation frames (cohort keys)
    val p = planOf("z20_retention")
    val parts = p.split("hashpartitioning\\(").drop(1)
    assert(parts.count(_.startsWith("user_id")) == 1, p)
    assert(parts.forall(s =>
      s.startsWith("user_id") || s.startsWith("cohort")), p)
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(l => l.contains("user_id") || l.contains("cohort")), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("x32_canonical_docs ranks inside components only (no global window)") {
    // the keep-longest window and the roll-up both ride the component
    // partitioning; an unpartitioned rank here would funnel every dup
    // doc through one task
    val p = planOf("x32_canonical_docs")
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("component")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  it("x34_hll_distinct partial-aggregates the registers map-side") {
    // the sketch's 100 TB contract: the token stream collapses to
    // <= 256 register rows per source BEFORE any exchange (partial max
    // of rho per (source, bucket)); losing the partial agg would
    // shuffle every token
    val p = planOf("x34_hll_distinct")
    assert(p.contains("partial_max"), p)
    assert(p.contains("polyhash64"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  it("a13_ortho_o3 explodes long-form with map-side-combined dim sums") {
    // per-DIMENSION dots need the long form: posexplode (Generate),
    // then (label, dim) partial sums BEFORE the exchange so only
    // labels x dims combined rows cross the wire, not rows x dims
    val p = planOf("a13_ortho_o3")
    assert(p.contains("Generate"), p)
    assert(p.contains("partial_sum"), p)
  }

  it("x26 semanticPairs shuffles only on the bucket key, equi-joins " +
      "both branches, and prunes the rank window from the all-pairs side") {
    val emb = SimilarityOps.checkedEmbeddings(spark, sf)
    val e = SimilarityOps.bucketedFrame(emb,
      SimilarityOps.scaledLshBits(emb.count()), Seq(42L),
      SimilarityOps.EmbeddingDim)
    val p = TextOps.semanticPairs(e, 0.25)
      .queryExecution.executedPlan.toString
    // every exchange is the bucket hash partitioning the windows and
    // joins share — any other key would be a second data shuffle
    val parts = p.split("hashpartitioning\\(").drop(1)
    assert(parts.nonEmpty, p)
    parts.foreach(s => assert(s.startsWith("bucket"), s.take(60) + "\n" + p))
    // the small branch is an equi-join on bucket — a nested-loop/
    // cartesian here is the O(m²) shape the cap removes
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    // the over-cap branch is an unordered-window hub STAR, not a join
    // and not a sorted chain: the r8 rank self-join streamed m²
    // intermediate pairs per over-cap bucket, and the r9 lead() chain
    // sorted every over-cap bucket and left the component loop
    // O(log m) rounds. min/min_by over the unordered bucket partition
    // emit O(m) hub spokes with no sort; no rank column (row_number)
    // and no lead() should survive.
    assert(p.contains("min_by("), p)
    assert(!p.contains("lead("), p)
    assert(!p.contains("row_number()"), p)
  }
}
